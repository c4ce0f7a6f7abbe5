package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** RangeJoin.pointInInterval vs the naive nested-loop spelling, plus the
  * blocking plan shape and floor-div edge cases. */
class RangeJoinSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("matches the naive interval-predicate join on real events data") {
    val ev = graft.queries.Tables.table(spark, Sf, "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
    val sess = Sessionize.byGap(ev, Seq("user_id"), "ms", 30L * 60 * 1000, Seq("event_id"))
      .groupBy(col("user_id").as("s_user"), col("session_no"))
      .agg(min("ms").as("start_ms"), max("ms").as("end_ms"))
      .select("s_user", "start_ms", "end_ms")
    val got = RangeJoin.pointInInterval(ev, sess, "ms", "start_ms", "end_ms", 3600L * 1000)
    val want = ev.join(sess,
      col("start_ms") <= col("ms") && col("ms") <= col("end_ms"))
      .select(got.columns.map(col): _*)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "blocked join must equal the naive predicate join")
  }

  test("no nested-loop or cartesian operator in the physical plan") {
    import spark.implicits._
    val pts = Seq((1L, 5L)).toDF("pid", "p")
    val ivs = Seq((1L, 0L, 10L)).toDF("iid", "lo", "hi")
    val plan = RangeJoin.pointInInterval(pts, ivs, "p", "lo", "hi", 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"blocking must produce an equi-join plan, got:\n$plan")
  }

  test("edges: closed bounds, bin boundaries, negatives, empty and NULL intervals") {
    import spark.implicits._
    // bins of width 10; points on and around bin/interval boundaries,
    // including negative coordinates (floor-div, not truncate-toward-zero)
    val pts = Seq(-11L, -10L, -1L, 0L, 9L, 10L, 20L, 25L).map(Tuple1(_)).toDF("p")
    val ivs = Seq(
      (1L, Some(-10L), Some(0L)),  // spans the negative/zero boundary
      (2L, Some(10L), Some(10L)),  // single-point interval on a bin edge
      (3L, Some(0L), Some(25L)),   // spans 3 bins
      (4L, Some(5L), Some(4L)),    // empty (lo > hi): never matches
      (5L, None, Some(10L))        // NULL bound: never matches
    ).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, ivs, "p", "lo", "hi", 10L)
      .select("p", "iid").as[(Long, Long)].collect().toSet
    val want = Set(
      (-10L, 1L), (-1L, 1L), (0L, 1L),
      (10L, 2L),
      (0L, 3L), (9L, 3L), (10L, 3L), (20L, 3L), (25L, 3L))
    assert(got === want)
  }

  test("clashing or reserved column names are rejected loudly") {
    import spark.implicits._
    val pts = Seq(Tuple1(1L)).toDF("p")
    val both = Seq((1L, 2L)).toDF("p", "hi") // "p" on both sides
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, both, "p", "p", "hi", 10L)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts.withColumnRenamed("p", "__bin"),
        Seq((0L, 1L)).toDF("lo", "hi"), "__bin", "lo", "hi", 10L)
    }
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts, Seq((0L, 1L)).toDF("lo", "hi"), "p", "lo", "hi", 0L)
    }
  }
}
