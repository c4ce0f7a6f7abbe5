package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Property tests for the two-phase/fold operators against their naive
 * single-machine spellings, over adversarial random shapes a fixed corpus
 * can't produce: duplicate-heavy order keys, zero-token runs, skewed
 * histories, tiny inputs vs large bucket counts.
 */
class OperatorPropertySpec extends AnyFunSuite with SparkSuite {

  test("Packer: two-phase offsets equal the naive global window on random data") {
    import spark.implicits._
    // skewed token counts (many zeros, occasional huge) + dense unique keys
    val rowGen = Gen.zip(Gen.chooseNum(0L, 1000000L),
      Gen.frequency(3 -> Gen.const(0L), 5 -> Gen.chooseNum(1L, 50L),
        1 -> Gen.chooseNum(1000L, 100000L)))
    for (i <- 0 until 6) {
      val n = 1 + (i * 137) % 400
      val listGen = Gen.listOfN(n, rowGen)
      val rows = listGen.apply(Gen.Parameters.default, Seed(7L + i)).get
        .distinctBy(_._1) // unique order keys (the operator contract)
      val df = rows.toDF("id", "n_tok").repartition(7)
      val nBuckets = Seq(2, 8, 64)(i % 3)
      val got = Packer.withSequenceOffsets(df, "id", "n_tok", ctxLen = 16, nBuckets)
        .select("id", "tok_offset", "first_seq", "last_seq")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
      val naive = df
        .withColumn("off", coalesce(sum("n_tok").over(w), lit(0L)))
        .selectExpr("id", "off", "off div 16 as fs",
          "(off + greatest(n_tok, 1L) - 1L) div 16 as ls")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === naive, s"iteration $i (n=$n, buckets=$nBuckets) diverged")
    }
  }

  test("Ewma: distributed fold equals the driver fold on random histories") {
    import spark.implicits._
    val rowGen = Gen.zip(Gen.chooseNum(1L, 20L), Gen.chooseNum(0L, 500L),
      Gen.chooseNum(-1000.0, 1000.0))
    for (i <- 0 until 6) {
      val rows = Gen.listOfN(300, rowGen)
        .apply(Gen.Parameters.default, Seed(99L + i)).get
        .zipWithIndex.map { case ((k, ord, v), idx) => (k, ord * 1000 + idx, v) }
      val df = rows.toDF("k", "ord", "v").repartition(7)
      val alpha = Seq(0.1, 0.5, 0.9)(i % 3)
      val got = Ewma.perKey(df, "k", Seq("ord"), "v", alpha)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val naive = rows.groupBy(_._1).map { case (k, rs) =>
        val vs = rs.sortBy(_._2).map(_._3)
        k -> vs.tail.foldLeft(vs.head)((acc, x) => alpha * x + (1.0 - alpha) * acc)
      }
      assert(got === naive, s"iteration $i (alpha=$alpha) diverged")
    }
  }

  test("Mixture: keep rate converges to the target over random rate tables") {
    import spark.implicits._
    for (i <- 0 until 3) {
      val rate = Seq(0.25, 0.5, 0.75)(i)
      val ids = spark.range(0, 20000).toDF("id").withColumn("src", lit("only"))
      val kept = Mixture.sampleByRates(ids, "src", "id",
        Map("only" -> rate), 1.0, s"prop$i").count()
      assert(math.abs(kept - 20000 * rate) < 20000 * 0.03,
        s"rate $rate produced $kept of 20000")
    }
  }
}
