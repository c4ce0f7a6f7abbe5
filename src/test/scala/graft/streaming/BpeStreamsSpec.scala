package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Streaming tokenization under a trained model: Bpe.fit runs on the BATCH
 * corpus (training is inherently a multi-pass batch job), and the trained
 * merge table then prices documents arriving on a STREAM — the production
 * split (train once offline, tokenize the live ingest tail with the frozen
 * model). Bpe.tokenCounts is a map-only stream-static broadcast, so it
 * applies to a streaming frame unchanged; per-document counts must equal
 * the batch counts exactly.
 */
class BpeStreamsSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def docs: DataFrame = spark.read
    .parquet(s"$Sf/documents.parquet").select("doc_id", "text")

  test("streaming trained-model token counts equal batch exactly (two micro-batches)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train once, batch-side, and PIN the model (the frozen artifact a
    // production job ships; localCheckpoint so each micro-batch reuses it
    // instead of re-deriving the plan against live state)
    val merges = graft.operators.Bpe.fitOnText(spark, docs, "text", nMerges = 8)
      .localCheckpoint(true)
    val batch = graft.operators.Bpe.tokenCounts(docs, "text", merges, "n_bpe")
      .select("doc_id", "n_bpe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val rows = docs.as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val name = s"bpe_stream_${System.nanoTime()}"
    val q = graft.operators.Bpe
      .tokenCounts(mem.toDF().toDF("doc_id", "text"), "text", merges, "n_bpe")
      .select("doc_id", "n_bpe")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(rows.filter(_._1 < 250).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(_._1 >= 250).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(streamed.size === batch.size, "every streamed doc must be priced once")
    assert(streamed === batch, "streaming token counts must equal batch exactly")
    assert(batch.values.sum > 0, "fixture must produce non-zero symbol counts")
  }

  test("streaming int-BPE encode equals batch exactly (frozen 512-merge spec)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train the INT-SYMBOL model batch-side at a real merge count; the
    // frozen spec string is the shipped artifact — bpe_encode is a
    // stateless foldable-constant expression, so the streaming plan IS
    // the batch plan (no stream-static join even needed)
    graft.functions.NativeFunctions.register(spark)
    val units = graft.operators.BpeInt.fourgramCounts(docs, "text")
    val merges = graft.operators.BpeInt.fitBlocked(
      spark, units, "w", "wcnt", nMerges = 512, maxRounds = 64)
    val spec = graft.operators.BpeInt.specOf(merges)
    val batch = docs
      .selectExpr("doc_id", s"size(bpe_encode(text, '$spec')) as n_sym",
        s"md5(array_join(transform(bpe_encode(text, '$spec'), x -> cast(x as string)), ',')) as h")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap

    val rows = docs.as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val name = s"bpeint_stream_${System.nanoTime()}"
    val q = mem.toDF().toDF("doc_id", "text")
      .selectExpr("doc_id", s"size(bpe_encode(text, '$spec')) as n_sym",
        s"md5(array_join(transform(bpe_encode(text, '$spec'), x -> cast(x as string)), ',')) as h")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(rows.filter(_._1 < 250).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(_._1 >= 250).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(streamed === batch,
      "streaming int-BPE encodings must equal batch symbol-for-symbol")
    assert(batch.values.map(_._1.toLong).sum > 0)
  }
}
