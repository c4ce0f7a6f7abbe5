package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Upsert (SCD1 latest-wins merge): replacement, append, idempotence,
  * the no-base-shuffle plan shape, and loud contract failures. */
class UpsertSpec extends AnyFunSuite with SparkSuite {

  import org.apache.spark.sql.DataFrame

  private def base: DataFrame = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v")
  }

  test("updates replace matching keys and append new ones") {
    import spark.implicits._
    val upd = Seq((2L, "B", 99.0), (9L, "z", 1.0)).toDF("k", "s", "v")
    val out = Upsert.byKey(base, upd, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out === Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0), (9L, "z", 1.0)))
  }

  test("applying the same update batch twice equals applying it once") {
    import spark.implicits._
    val upd = Seq((2L, "B", 99.0), (9L, "z", 1.0)).toDF("k", "s", "v")
    val once = Upsert.byKey(base, upd, Seq("k"))
    val twice = Upsert.byKey(once, upd, Seq("k"))
    assert(twice.exceptAll(once).count() === 0 && once.exceptAll(twice).count() === 0)
  }

  test("the base side pays a broadcast anti-join, never a shuffle") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val upd = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
    val p = Upsert.byKey(o, upd, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"base must not shuffle-join:\n$p")
  }

  test("duplicate update keys and schema mismatches fail loudly") {
    import spark.implicits._
    val dup = Seq((2L, "B", 99.0), (2L, "C", 98.0)).toDF("k", "s", "v")
    intercept[IllegalArgumentException] { Upsert.byKey(base, dup, Seq("k")) }
    val wrong = Seq((2L, "B")).toDF("k", "s")
    intercept[IllegalArgumentException] { Upsert.byKey(base, wrong, Seq("k")) }
  }
}
