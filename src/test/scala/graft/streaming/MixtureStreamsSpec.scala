package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Streaming weighted reservoir == batch weightedSamplePerGroup under ANY
  * ingest order — the content-derived-race property, plus contracts. */
class MixtureStreamsSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read
    .parquet(s"$Sf/documents.parquet")
    .select("doc_id", "source", "n_chars")

  /** Final (max-version) reservoir per group from a stream ingesting
    * `rows` in the given batch slices. */
  private def streamedFinal(slices: Seq[Seq[(Long, String, Long)]]): Map[String, Seq[(Long, Double)]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val name = s"res_${System.nanoTime()}"
    val q = MixtureStreams.weightedReservoirPerGroup(
        spark, mem.toDF().toDF("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", k = 5, salt = "res1")
      .toDF()
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      slices.foreach { s0 => mem.addData(s0.toIndexedSeq); q.processAllAvailable() }
    } finally q.stop()
    val rows = spark.table(name).collect()
    rows.groupBy(_.getString(0)).map { case (g, rs) =>
      val last = rs.maxBy(_.getLong(1))
      g -> last.getSeq[Long](2).zip(last.getSeq[Double](3)).toSeq
    }
  }

  test("final reservoir equals the batch sample under two different ingest orders") {
    import spark.implicits._
    val rows = docs.as[(Long, String, Long)].collect().toSeq
    val batch = graft.operators.Mixture
      .weightedSamplePerGroup(docs, "source", "doc_id", "n_chars", k = 5, salt = "res1")
      .collect()
      .groupBy(_.getString(0))
      .map { case (g, rs) =>
        g -> rs.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
      }
    val sortedIngest = streamedFinal(rows.sortBy(_._1).grouped(120).toSeq)
    val shuffledIngest = streamedFinal(
      rows.sortBy(r => (r._1 % 7, -r._1)).grouped(97).toSeq)
    assert(sortedIngest === batch, "sorted ingest must equal the batch race")
    assert(shuffledIngest === batch,
      "ANY ingest order must converge to the same reservoir (content-derived keys)")
    assert(batch.values.forall(_.size === 5))
  }

  test("version is monotone per stratum and the reservoir only improves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val name = s"resmono_${System.nanoTime()}"
    val q = MixtureStreams.weightedReservoirPerGroup(
        spark, mem.toDF().toDF("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", k = 3, salt = "res2")
      .toDF()
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      mem.addData(Seq((1L, "s", 10L), (2L, "s", 10L))); q.processAllAvailable()
      mem.addData(Seq((3L, "s", 10L), (4L, "s", 10L), (5L, "s", 10L))); q.processAllAvailable()
    } finally q.stop()
    val emits = spark.table(name).collect().sortBy(_.getLong(1))
    assert(emits.map(_.getLong(1)).toSeq === Seq(1L, 2L), "one emit per touched batch")
    val w1 = emits(0).getSeq[Double](3)
    val w2 = emits(1).getSeq[Double](3)
    assert(w2.size === 3 && w1.size === 2)
    assert(w2.max <= (w1 ++ w2).max + 1e-12, "keys only get smaller or equal")
  }
}
