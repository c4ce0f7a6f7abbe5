package graft.operators

import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Partial}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** GlobalRank (two-phase bucketed ranking) against the naive
  * Window.partitionBy spelling it replaces at scale. */
class GlobalRankSpec extends AnyFunSuite with SparkSuite with AdaptiveSparkPlanHelper {

  private val Sf = "/root/testdata/sf0.001"

  test("withGlobalRank equals the naive per-segment window rank on real data") {
    val c = spark.read.parquet(s"$Sf/customer.parquet")
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
    val naive = c.select(
      col("c_custkey"),
      row_number().over(w).cast("long").as("rn"),
      count(lit(1)).over(Window.partitionBy("c_mktsegment")).as("n_seg"))
    val got = GlobalRank.withGlobalRank(c, "c_mktsegment", "c_acctbal", "c_custkey")
      .select(col("c_custkey"), col("rn"), col("n_seg"))
    assert(got.exceptAll(naive).count() === 0 && naive.exceptAll(got).count() === 0,
      "two-phase rank must reproduce the window rank exactly")
  }

  test("segments smaller than the bucket count still rank exactly") {
    import spark.implicits._
    // 3-row and 1-row segments under nBuckets=8: most buckets are empty and
    // the sketch boundaries collapse to repeated values — ranks must survive
    val df = Seq(
      ("a", 5.0, 1L), ("a", 1.0, 2L), ("a", 5.0, 3L), // tie on value -> tie col
      ("b", 9.0, 4L))
      .toDF("seg", "v", "id")
    val out = GlobalRank.withGlobalRank(df, "seg", "v", "id", nBuckets = 8)
      .collect().map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("rn"), r.getAs[Long]("n_seg")))).toMap
    assert(out(2L) === ((1L, 3L)))
    assert(out(1L) === ((2L, 3L)), "equal values must break ties by the tie column")
    assert(out(3L) === ((3L, 3L)))
    assert(out(4L) === ((1L, 1L)))
  }

  test("a null value column fails loudly instead of silently dropping rows") {
    import spark.implicits._
    // nulls would land in no bucket and vanish through the equi-joins —
    // the operator must raise, like its reserved-name guard does
    val df = Seq(("a", Some(1.0), 1L), ("a", None, 2L), ("a", Some(3.0), 3L))
      .toDF("seg", "v", "id")
    val ex = intercept[Exception] {
      GlobalRank.withGlobalRank(df, "seg", "v", "id").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("GlobalRank.withGlobalRank: v is null")),
      s"expected the loud null-contract error, got: $ex")
  }

  test("recoverable (lineage-kept persist) mode ranks identically to the checkpoint default") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), length(col("text")).as("v"))
    val base = GlobalRank
      .withGlobalRank(docs, "lang", "v", "doc_id", nBuckets = 8)
      .select("doc_id", "rn", "n_seg")
    val rec = GlobalRank
      .withGlobalRank(docs, "lang", "v", "doc_id", nBuckets = 8, recoverable = true)
      .select("doc_id", "rn", "n_seg")
    assert(rec.exceptAll(base).count() === 0 && base.exceptAll(rec).count() === 0,
      "recoverable mode must produce bit-identical ranks")
    spark.catalog.clearCache() // the documented unpersist point for recoverable pins
  }

  test("ntileExpr reproduces ntile() across n and k") {
    for (n <- Seq(1, 3, 4, 7, 10, 103); k <- Seq(2, 4, 5)) {
      val df = spark.range(1, n + 1).toDF("rn").withColumn("n", lit(n.toLong))
      val got = df.selectExpr("rn", s"${GlobalRank.ntileExpr("rn", "n", k)} as t")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val naive = spark.range(1, n + 1).toDF("rn")
        .withColumn("t", ntile(k).over(Window.orderBy("rn")).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === naive, s"ntile arithmetic diverged at n=$n k=$k")
    }
  }

  /** Runs each query at sf0.001 and asserts its executed (AQE) plan,
    * stages and subqueries included, holds `passes` partial sketch
    * aggregates: one per rank pass. Every pass joins its unpinned bounds
    * frame from both the bucketing and the offsets branch; only exchange
    * reuse makes them one sketch computation. */
  private def assertOneSketchPerPass(passesByQuery: (String, Int)*): Unit =
    for ((name, passes) <- passesByQuery) {
      val df = graft.SparkEntry.queries(name)(spark, Sf)
      df.collect()
      val sketches = collectWithSubqueries(df.queryExecution.executedPlan) {
        case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
            e.mode == Partial && e.aggregateFunction.isInstanceOf[ApproximatePercentile]) => a
      }
      assert(sketches.size === passes, s"$name computes ${sketches.size} sketches:\n" +
        df.queryExecution.executedPlan)
    }

  test("lazy bounds (q99, q118): the executed plan computes each sketch once") {
    assertOneSketchPerPass("q99_hybrid_rrf" -> 2, "q118_winsorized" -> 1)
  }

  test("lazy bounds (q169, q219, q290): the executed plan computes each sketch once") {
    assertOneSketchPerPass(
      "q169_curriculum_stages" -> 1, "q219_psi_drift" -> 1, "q290_epoch_plan" -> 1)
  }
}
