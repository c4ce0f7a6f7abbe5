package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Quantize (SQ8 scalar quantization): code correctness vs a driver-side
  * reference, reconstruction-error bound, degenerate dims, plan shape. */
class QuantizeSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    .select("vec_id", "embedding")

  test("codes match a driver-side reference implementation on real vectors") {
    val raw = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = 64
    val lo = Array.tabulate(dim)(j => raw.values.map(v => v(j).toDouble).min)
    val hi = Array.tabulate(dim)(j => raw.values.map(v => v(j).toDouble).max)
    def ref(v: Array[Float]): Seq[Long] =
      Array.tabulate(dim) { j =>
        if (hi(j) == lo(j)) 0L
        else math.floor((v(j).toDouble - lo(j)) / (hi(j) - lo(j)) * 255.0 + 0.5).toLong
      }.toSeq
    val got = Quantize.sq8(emb, "embedding", dim)
      .select("vec_id", "sq8_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got.keySet === raw.keySet)
    got.foreach { case (id, codes) =>
      assert(codes === ref(raw(id)), s"codes diverge from reference at vec $id")
    }
  }

  test("every dimension reconstructs within half a quantization step") {
    val bad = Quantize.sq8(emb, "embedding", 64)
      .selectExpr(
        """size(filter(sequence(1, 64), j ->
             abs(element_at(lo_a, j)
                 + cast(element_at(sq8_codes, j) as double) / 255.0d
                   * (element_at(hi_a, j) - element_at(lo_a, j))
                 - cast(element_at(embedding, j) as double)) * 510.0d
             > (element_at(hi_a, j) - element_at(lo_a, j)) * 1.0000001d)) as n_bad""")
      .agg(sum("n_bad")).first().getLong(0)
    assert(bad === 0L, s"$bad dimension(s) exceed the half-step error bound")
  }

  test("degenerate (constant) dimensions code to 0 and reconstruct exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 7.5f)), (2L, Array(3.0f, 7.5f)), (3L, Array(2.0f, 7.5f)))
      .toDF("id", "v")
    val out = Quantize.sq8(df, "v", 2)
      .select("id", "sq8_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(1L) === Seq(0L, 0L), "min value codes 0; constant dim codes 0")
    assert(out(2L) === Seq(255L, 0L), "max value codes 255")
    assert(out(3L) === Seq(128L, 0L), "midpoint rounds up to 128")
  }

  test("coding pass is broadcast + map-only over the corpus") {
    val plan = Quantize.sq8(emb, "embedding", 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"bounds must broadcast:\n$plan")
    // the only shuffle allowed is the tiny 64-row dimension aggregate —
    // it must sit under the broadcast side, never over the corpus scan
    val corpusShuffles = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("pos#")).toSeq
    assert(corpusShuffles.isEmpty,
      s"the corpus side must not shuffle:\n${corpusShuffles.mkString("\n")}")
  }
}
