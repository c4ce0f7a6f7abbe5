package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Locks the r12 size-adaptive Logit dispatch: the driver-local gradient
 * loop must produce BIT-IDENTICAL weights to the distributed per-round
 * loop on real corpus-shaped feature frames (same Elliott link, same
 * round(,9)-then-DECIMAL exact sums, same update arithmetic). Each path
 * is forced through [[Logit.fitWith]]'s cell threshold (0 = always
 * distributed, huge = always local).
 */
class LogitLocalFitSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  /** q234's real feature frame (min-max-scaled signals + mean-split label). */
  private def feats234 = {
    val raw = graft.queries.Tables.table(spark, Sf, "documents").select(
      col("doc_id"),
      expr("cast(size(tokenize_text(text)) as double)").as("ntok"),
      expr("cast(size(array_distinct(tokenize_text(text))) as double) " +
        "/ cast(size(tokenize_text(text)) as double)").as("uniq"),
      expr("cast(size(filter(tokenize_text(text), t -> t = 'spark')) as double) " +
        "/ cast(size(tokenize_text(text)) as double)").as("rate"))
    val stats = raw.agg(
      min("ntok").as("ntok_min"), max("ntok").as("ntok_max"),
      min("uniq").as("uniq_min"), max("uniq").as("uniq_max"),
      min("rate").as("rate_min"), max("rate").as("rate_max"),
      expr("cast(sum(cast(round(rate, 9) as decimal(28,12))) as double) " +
        "/ cast(count(1) as double)").as("rate_mean"))
    raw.crossJoin(broadcast(stats))
      .select(
        col("doc_id"),
        ((col("ntok") - col("ntok_min")) / (col("ntok_max") - col("ntok_min"))).as("x1"),
        ((col("uniq") - col("uniq_min")) / (col("uniq_max") - col("uniq_min"))).as("x2"),
        ((col("rate") - col("rate_min")) / (col("rate_max") - col("rate_min"))).as("x3"),
        when(col("rate") > col("rate_mean"), 1.0).otherwise(0.0).as("y"))
      .localCheckpoint(true)
  }

  private def both(f: org.apache.spark.sql.DataFrame, xs: Seq[String],
      iters: Int, lr: Double): (Array[Double], Array[Double]) = {
    (Logit.fitWith(f, xs, "y", iters, lr, 0L),
      Logit.fitWith(f, xs, "y", iters, lr, Long.MaxValue))
  }

  test("local gradient loop == distributed on the real q234 feature frame (bit-identical)") {
    val f = feats234
    val (dist, local) = both(f, Seq("x1", "x2", "x3"), iters = 8, lr = 0.5)
    assert(local.toSeq == dist.toSeq) // exact double equality, every weight
  }

  test("local == distributed across iteration counts and learning rates") {
    val f = feats234
    for ((it, lr) <- Seq((1, 0.1), (3, 1.5), (12, 0.25))) {
      val (dist, local) = both(f, Seq("x1", "x2"), it, lr)
      assert(local.toSeq == dist.toSeq, s"iters=$it lr=$lr")
    }
  }

  test("null feature cells fall back to the distributed path") {
    import spark.implicits._
    val f = Seq((1.0, 0.5), (0.0, Double.NaN), (1.0, 0.25))
      .toDF("y", "x1")
      .withColumn("x1", when(col("x1").isNaN, lit(null)).otherwise(col("x1")))
    val (dist, viaDispatch) = both(f, Seq("x1"), 2, 0.5)
    assert(viaDispatch.toSeq == dist.toSeq)
  }
}
