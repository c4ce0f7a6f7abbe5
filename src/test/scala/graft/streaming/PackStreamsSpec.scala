package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Streaming continuation packing == batch packing, bit for bit: the
 * frozen-tokenizer ingest tail ([[PackStreams]]) must produce EXACTLY
 * the windows one batch run over the concatenated corpus would — same
 * seq numbers, same ids, same partial tail — under any batching of the
 * arrival, with the ordering contract enforced loudly.
 */
class PackStreamsSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"
  private val Ctx = 96

  private def docs: DataFrame = spark.read
    .parquet(s"$Sf/documents.parquet")
    .filter(col("doc_id") < 200)
    .select(col("doc_id"), col("text"))

  private def keyed(df: DataFrame): Map[Long, (Int, Seq[Int])] = df
    .select("seq", "n_ids", "ids").collect()
    .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap

  test("frozen-model stream packing equals batch exactly across three micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train once, batch-side — the frozen production artifact; the
    // stream encodes under the spec STRING (stateless expression)
    graft.functions.NativeFunctions.register(spark)
    val units = graft.operators.BpeByte.pretokenCounts(
      docs.withColumnRenamed("text", "t"), "t").localCheckpoint(true)
    val m = graft.operators.BpeByte.fitBlocked(spark, units, "w", "wcnt",
      64, 8, 512, 64)
    val spec = graft.operators.BpeByte.specOf(m)
    val eos = graft.functions.BpeByteKit.IdBase +
      (if (spec.isEmpty) 0 else spec.split(";", -1).length)
    def encode(df: DataFrame): DataFrame = df
      .withColumn("ids", expr(s"bpe_encode_gpt2(text, '$spec')"))
      .select("doc_id", "ids")

    // the offline truth: one batch pack over the whole corpus
    val batchWin = graft.operators.Packer
      .packTokenIds(encode(docs), "doc_id", "ids", Ctx, eos)
      .localCheckpoint(true)
    val batchAll = keyed(batchWin)
    val batchFull = batchAll.filter(_._2._1 == Ctx)
    val batchTail = batchAll.filter(_._2._1 < Ctx)
    assert(batchFull.nonEmpty, "fixture must fill at least one window")

    // the live tail: the same docs arrive in three ordered batches
    val rows = docs.as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val delivered = scala.collection.mutable.Map[Long, (Int, Seq[Int])]()
    val (q, position) = PackStreams.packStream(
      encode(mem.toDF().toDF("doc_id", "text")),
      "doc_id", "ids", Ctx, eos) { (full, _) =>
      delivered.synchronized { delivered ++= keyed(full) }
    }
    try {
      mem.addData(rows.filter(_._1 < 70).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(r => r._1 >= 70 && r._1 < 140).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(_._1 >= 140).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    // parity law: delivered full windows are bit-identical to batch
    assert(delivered.toMap === batchFull,
      "streamed full windows must equal the batch pack exactly")
    // and the committed position carries exactly the batch partial tail
    val pos = position()
    batchTail.toSeq match {
      case Seq((seq, (n, ids))) =>
        assert(pos.nextSeq === seq && pos.carry === ids && pos.carry.length === n,
          "final position must carry the batch run's partial tail")
      case Seq() =>
        assert(pos.carry.isEmpty && pos.nextSeq === batchFull.size.toLong)
      case other => fail(s"batch pack produced ${other.size} partial windows")
    }
    assert(pos.carry.length < Ctx)
  }

  test("packClosedBatch is batching-invariant: one slice vs three slices") {
    val enc = docs.selectExpr("doc_id",
      "transform(split(text, ' '), w -> cast(length(w) as int)) as ids")
      .localCheckpoint(true)
    val eos = 777
    def run(cuts: Seq[Long]): (Map[Long, (Int, Seq[Int])], PackStreams.PackPosition) = {
      val bounds = (Seq(Long.MinValue) ++ cuts ++ Seq(Long.MaxValue)).sliding(2).toSeq
      var pos = PackStreams.Start
      val out = scala.collection.mutable.Map[Long, (Int, Seq[Int])]()
      bounds.foreach { case Seq(a, b) =>
        val (full, next) = PackStreams.packClosedBatch(
          enc.filter(col("doc_id") >= a && col("doc_id") < b),
          "doc_id", "ids", Ctx, eos, pos)
        out ++= keyed(full)
        pos = next
      }
      (out.toMap, pos)
    }
    val (one, posOne) = run(Nil)
    val (three, posThree) = run(Seq(50L, 130L))
    assert(three === one, "batch boundaries must not change any window")
    assert(posThree.nextSeq === posOne.nextSeq && posThree.carry === posOne.carry)
    // and both equal the plain batch packer's full windows
    val plain = keyed(graft.operators.Packer
      .packTokenIds(enc, "doc_id", "ids", Ctx, eosId = eos))
    assert(one === plain.filter(_._2._1 == Ctx))
  }

  test("empty micro-batches advance nothing; out-of-order ingest fails loudly") {
    val enc = docs.selectExpr("doc_id",
      "transform(split(text, ' '), w -> cast(length(w) as int)) as ids")
      .localCheckpoint(true)
    val eos = 777
    val (_, p1) = PackStreams.packClosedBatch(
      enc.filter(col("doc_id") < 100), "doc_id", "ids", Ctx, eos, PackStreams.Start)
    val (e, p2) = PackStreams.packClosedBatch(
      enc.filter(col("doc_id") < 0), "doc_id", "ids", Ctx, eos, p1)
    assert(e.isEmpty && p2 === p1, "an empty batch is a no-op")
    val ex = intercept[IllegalArgumentException] {
      PackStreams.packClosedBatch(
        enc.filter(col("doc_id") < 100), "doc_id", "ids", Ctx, eos, p1)
    }
    assert(ex.getMessage.contains("append-only"),
      s"re-delivered keys must name the contract: ${ex.getMessage}")
  }
}
