package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Streaming LSH near-dup screen == batch q79 on closed batches: the corpus
 * (doc_id < 400) arrives as micro-batch 1, the new documents (>= 400) as
 * micro-batch 2, and the per-document streaming verdicts must reproduce
 * q79_incremental_dedup's (exact_dup, near_dup, admitted) flags exactly —
 * the property that lets one dedup definition serve the daily batch
 * backfill and the live ingest tail.
 */
class DedupStreamsSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read
    .parquet(s"$Sf/documents.parquet").select("doc_id", "text")

  /** Run `f` over a two-micro-batch stream: docs < 400, then docs >= 400. */
  private def twoBatchStream(f: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = docs.as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val name = s"dedup_stream_${System.nanoTime()}"
    val q = f(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(rows.filter(_._1 < 400).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(_._1 >= 400).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  test("streaming band + hash screen verdicts equal batch q79 on closed batches") {
    val bandVerdicts = twoBatchStream(df =>
      DedupStreams.bandMembershipScreen(spark, df).toDF())
    val hashVerdicts = twoBatchStream(df =>
      DedupStreams.exactHashScreen(spark, df).toDF())

    // per-document streaming flags for the incoming batch
    val nearStreamed = bandVerdicts.filter(col("doc_id") >= 400)
      .groupBy("doc_id").agg(max(when(!col("novel"), true).otherwise(false)).as("near_dup"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exactStreamed = hashVerdicts.filter(col("doc_id") >= 400)
      .collect().map(r => r.getLong(0) -> !r.getBoolean(2)).toMap

    val batch = graft.SparkEntry.queries("q79_incremental_dedup")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(batch.nonEmpty)
    // the fixture has no exact dups across the 400 boundary (the synthetic
    // same-batch test below exercises that path); near dups it must have,
    // or this equality proves nothing
    assert(batch.exists(_._3), "fixture must contain near dups")
    assert(batch.exists(_._4), "fixture must admit some docs")

    batch.foreach { case (id, exactDup, nearDup, admitted) =>
      assert(exactStreamed.getOrElse(id, false) === exactDup,
        s"doc $id exact_dup: streaming != batch")
      assert(nearStreamed.getOrElse(id, false) === nearDup,
        s"doc $id near_dup: streaming != batch")
      val streamedAdmitted =
        !(exactStreamed.getOrElse(id, false) || nearStreamed.getOrElse(id, false))
      assert(streamedAdmitted === admitted, s"doc $id admitted: streaming != batch")
    }
  }

  test("verdicts reflect state at batch open: same-batch collisions do not flag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val name = s"dedup_samebatch_${System.nanoTime()}"
    val q = DedupStreams.exactHashScreen(spark, mem.toDF().toDF("doc_id", "text"))
      .toDF()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1: two identical texts arrive TOGETHER -> both novel
      mem.addData(Seq((1L, "same text here"), (2L, "same text here")))
      q.processAllAvailable()
      // batch 2: the same text arrives again -> not novel
      mem.addData(Seq((3L, "same text here")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && out(2L), "same-batch arrivals screen against prior state only")
    assert(!out(3L), "next batch must see the claimed hash")
  }

  test("band derivation is the exact batch spelling (doc with <3 tokens emits no bands)") {
    import spark.implicits._
    val tiny = Seq((1L, "only two"), (2L, "a b c d")).toDF("doc_id", "text")
    val bands = DedupStreams.minhashBands(spark, tiny).collect()
    assert(!bands.exists(_.getLong(0) == 1L), "sub-3-token docs have no shingles")
    assert(bands.count(_.getLong(0) == 2L) === 2, "one claim per band")
  }

  test("streaming keep-first segment election equals batch q233 under monotone ingest") {
    val verdicts = twoBatchStream(df =>
      DedupStreams.keepFirstSegmentScreen(spark, df, w = 10).toDF())
    // reassemble streamed survivors into per-doc clean text + counters,
    // compare against the batch operator on the full corpus
    val streamed = verdicts
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN " +
            "struct(seg_no, seg) END)), x -> x.seg)")).as("clean_text"),
        count(lit(1)).as("n_seg"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_seg_removed"))
    val batch = graft.operators.Dedup
      .keepFirstSegments(docs, "doc_id", "text", w = 10)
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "streaming election must reproduce the batch keep-first result exactly")
    assert(batch.filter(col("n_seg_removed") > 0).count() > 0,
      "fixture must actually contain duplicated segments or parity proves nothing")
  }

  test("keep-first segment screen: intra-batch election + loud monotone contract") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val name = s"segfirst_${System.nanoTime()}"
    val q = DedupStreams.keepFirstSegmentScreen(
        spark, mem.toDF().toDF("doc_id", "text"), w = 2)
      .toDF()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // batch 1: docs 5 and 7 share "a b" -> FULL election inside the
      // batch (unlike the screens): doc 5 keeps, doc 7 does not
      mem.addData(Seq((5L, "a b x y"), (7L, "a b z w")))
      q.processAllAvailable()
      // batch 2: doc 9 brings "a b" again -> not kept
      mem.addData(Seq((9L, "a b q r")))
      q.processAllAvailable()
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(2)) -> r.getBoolean(3)).toMap
      assert(out((5L, "a b")) && !out((7L, "a b")),
        "intra-batch duplicates elect exactly one keeper")
      assert(!out((9L, "a b")), "later batches lose to the stored owner")
      assert(out((5L, "x y")) && out((7L, "z w")) && out((9L, "q r")),
        "unique segments keep")
      // batch 3: doc 1 (ordered BEFORE owner 5) re-claims "a b" -> the
      // monotone contract must fail the query loudly, not emit kept=false
      mem.addData(Seq((1L, "a b early")))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def rootChain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => String.valueOf(e.getMessage)).toSeq
      assert(rootChain(ex).exists(_.contains("monotone-ingest contract")),
        s"expected the loud contract failure, got: ${rootChain(ex).mkString(" <- ")}")
    } finally q.stop()
  }
}
