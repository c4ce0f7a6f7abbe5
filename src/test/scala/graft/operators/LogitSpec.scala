package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Logit.fit — the Elliott-link batch-GD trainer. The load-bearing claims:
  * weights are bit-identical under any partitioning (exact-DECIMAL gradient
  * sums), and the descent actually learns a separable boundary. */
class LogitSpec extends AnyFunSuite with SparkSuite {

  private def sepData = {
    import spark.implicits._
    // y = 1 iff x1 > 0.5; x2 is noise-ish but deterministic
    (0 until 400).map { i =>
      val x1 = (i % 100) / 99.0
      val x2 = ((i * 37) % 100) / 99.0
      (i.toLong, x1, x2, if (x1 > 0.5) 1.0 else 0.0)
    }.toDF("id", "x1", "x2", "y")
  }

  test("weights are bit-identical across partition counts") {
    val d = sepData
    val w1 = Logit.fit(d.repartition(1), Seq("x1", "x2"), "y", iters = 6, lr = 2.0)
    val w8 = Logit.fit(d.repartition(8), Seq("x1", "x2"), "y", iters = 6, lr = 2.0)
    assert(w1.toSeq === w8.toSeq,
      "exact-DECIMAL gradient sums must make the fit partitioning-invariant")
  }

  test("descent learns a separable boundary well above base rate") {
    val d = sepData
    val w = Logit.fit(d, Seq("x1", "x2"), "y", iters = 25, lr = 4.0)
    val p = Logit.prob(w, Seq("x1", "x2"))
    val acc = d.agg(
      (sum(when((p >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("acc"))
      .head().getAs[Double]("acc")
    assert(w(1) > 0.0, "weight on the separating feature must be positive")
    assert(acc > 0.9, s"separable data should fit well, got $acc")
  }

  test("zero iterations returns the zero vector and p=0.5 everywhere") {
    val d = sepData
    val w = Logit.fit(d, Seq("x1", "x2"), "y", iters = 0, lr = 1.0)
    assert(w.toSeq === Seq(0.0, 0.0, 0.0))
    val distinctP = d.select(Logit.prob(w, Seq("x1", "x2")).as("p"))
      .distinct().collect().map(_.getDouble(0)).toSeq
    assert(distinctP === Seq(0.5), "zero weights put every point at the midpoint")
  }
}
