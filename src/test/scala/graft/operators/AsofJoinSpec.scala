package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The generic as-of operator must be result-identical to the naive
  * join+rank spelling — on real test data and on crafted edge cases. */
class AsofJoinSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  /** Naive reference: join all earlier rights, rank, keep rank 1 — then
    * union back the left rows the inner path dropped (a key matching only
    * LATER rights loses all its joined rows to the filter, but a left-outer
    * as-of must still emit it with nulls). */
  private def naive(left: DataFrame, right: DataFrame): DataFrame = {
    val w = Window.partitionBy("eid")
      .orderBy(col("rts").desc, col("rid").desc)
    val matched = left.join(right, Seq("k"), "inner")
      .filter(col("rts") <= col("lts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eid"), col("rid"), col("rts"), col("rv"))
    val unmatched = left.join(matched.select("eid"), Seq("eid"), "left_anti")
      .select(col("eid"), lit(null).cast("long").as("rid"),
        lit(null).cast("long").as("rts"), lit(null).cast("double").as("rv"))
    matched.union(unmatched)
  }

  test("matches the naive join+rank on real orders/events data") {
    val evFixed = graft.queries.Tables.table(spark, Sf, "events")
    val users = evFixed.agg((max(col("user_id")) + lit(1)).as("u")).head.getLong(0)
    val left = evFixed.select(
      col("user_id").cast("long").as("k"),
      unix_millis(col("ts")).as("lts"),
      col("event_id").as("eid"))
    val right = spark.read.parquet(s"$Sf/orders.parquet").select(
      (col("o_custkey") % users).as("k"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("rts"),
      col("o_orderkey").as("rid"),
      col("o_totalprice").as("rv"))

    val got = AsofJoin.backward(left, right, Seq("k"), "lts", "rts", tieBreak = Seq("rid"))
      .select(col("eid"), col("asof.rid").as("rid"), col("asof.rts").as("rts"),
        col("asof.rv").as("rv"))
    val want = naive(left, right)

    assert(got.count() === left.count(), "left outer: every left row survives")
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "operator must equal the naive join+rank spelling")
  }

  test("edge semantics: <= visibility, tie-break to largest id, unmatched null") {
    import spark.implicits._
    val left = Seq((1L, 100L, "e1"), (1L, 50L, "e2"), (2L, 10L, "e3"))
      .toDF("k", "lts", "eid")
    val right = Seq(
      (1L, 100L, 7L, "exact"),   // exactly at e1's time -> visible to e1
      (1L, 100L, 9L, "exact2"),  // same instant, larger id -> wins the tie
      (1L, 40L, 1L, "early"))    // latest at-or-before e2
      .toDF("k", "rts", "rid", "rv")
    val out = AsofJoin
      .backward(left, right, Seq("k"), "lts", "rts", tieBreak = Seq("rid"))
      .select("eid", "asof.rid", "asof.rv")
      .collect().map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(out("e1") === ((Some(9L), Some("exact2")))) // <= visible, tie -> id 9
    assert(out("e2") === ((Some(1L), Some("early"))))
    assert(out("e3") === ((None, None))) // no right rows for k=2 -> null struct
    // inner variant drops the unmatched row
    val inner = AsofJoin.backward(left, right, Seq("k"), "lts", "rts",
      tieBreak = Seq("rid"), dropUnmatched = true)
    assert(inner.count() === 2)
  }

  /** Naive forward reference: all later rights, rank by (t ASC, id ASC). */
  private def naiveForward(left: DataFrame, right: DataFrame): DataFrame = {
    val w = Window.partitionBy("eid")
      .orderBy(col("rts").asc, col("rid").asc)
    val matched = left.join(right, Seq("k"), "inner")
      .filter(col("rts") >= col("lts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eid"), col("rid"), col("rts"), col("rv"))
    val unmatched = left.join(matched.select("eid"), Seq("eid"), "left_anti")
      .select(col("eid"), lit(null).cast("long").as("rid"),
        lit(null).cast("long").as("rts"), lit(null).cast("double").as("rv"))
    matched.union(unmatched)
  }

  test("forward matches the naive join+rank on real orders/events data") {
    val evFixed = graft.queries.Tables.table(spark, Sf, "events")
    val users = evFixed.agg((max(col("user_id")) + lit(1)).as("u")).head.getLong(0)
    val left = evFixed.select(
      col("user_id").cast("long").as("k"),
      unix_millis(col("ts")).as("lts"),
      col("event_id").as("eid"))
    val right = spark.read.parquet(s"$Sf/orders.parquet").select(
      (col("o_custkey") % users).as("k"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("rts"),
      col("o_orderkey").as("rid"),
      col("o_totalprice").as("rv"))
    val got = AsofJoin.forward(left, right, Seq("k"), "lts", "rts", tieBreak = Seq("rid"))
      .select(col("eid"), col("asof.rid").as("rid"), col("asof.rts").as("rts"),
        col("asof.rv").as("rv"))
    val want = naiveForward(left, right)
    assert(got.count() === left.count(), "left outer: every left row survives")
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "forward operator must equal the naive join+rank spelling")
  }

  test("forward edge semantics: >= visibility, tie-break to smallest id") {
    import spark.implicits._
    val left = Seq((1L, 100L, "e1"), (1L, 150L, "e2"), (2L, 10L, "e3"))
      .toDF("k", "lts", "eid")
    val right = Seq(
      (1L, 100L, 7L, "exact"),   // exactly at e1's time -> visible to e1
      (1L, 100L, 9L, "exact2"),  // same instant, SMALLER id wins forward
      (1L, 200L, 1L, "late"))    // earliest at-or-after e2
      .toDF("k", "rts", "rid", "rv")
    val out = AsofJoin
      .forward(left, right, Seq("k"), "lts", "rts", tieBreak = Seq("rid"))
      .select("eid", "asof.rid", "asof.rv")
      .collect().map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(out("e1") === ((Some(7L), Some("exact"))))
    assert(out("e2") === ((Some(1L), Some("late"))))
    assert(out("e3") === ((None, None)))
  }

  test("tolerance bounds the match window in both directions") {
    import spark.implicits._
    val left = Seq((1L, 100L, "e1"), (1L, 500L, "e2")).toDF("k", "lts", "eid")
    val right = Seq((1L, 90L, 1L, "near"), (1L, 600L, 2L, "after"))
      .toDF("k", "rts", "rid", "rv")
    // backward: e1 sees rts=90 within 10ms; e2's nearest (90) is 410ms old
    val back = AsofJoin.backward(left, right, Seq("k"), "lts", "rts",
        tieBreak = Seq("rid"), tolerance = Some(10L))
      .select(col("eid"), col("asof.rid"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(back("e1") === Some(1L))
    assert(back("e2") === None, "nearest candidate out of tolerance -> no match")
    // forward: e2 sees rts=600 within 100ms; e1's nearest (600) is 500ms out
    val fwd = AsofJoin.forward(left, right, Seq("k"), "lts", "rts",
        tieBreak = Seq("rid"), tolerance = Some(100L))
      .select(col("eid"), col("asof.rid"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(fwd("e2") === Some(2L))
    assert(fwd("e1") === None)
    // tolerance + dropUnmatched composes into an inner within-window join
    assert(AsofJoin.backward(left, right, Seq("k"), "lts", "rts",
      tieBreak = Seq("rid"), tolerance = Some(10L), dropUnmatched = true).count() === 1)
  }

  test("NULL equi-keys never match, exactly like a join") {
    import spark.implicits._
    val left = Seq((Some(1L), 100L, "e1"), (None, 100L, "enull"))
      .toDF("k", "lts", "eid")
    val right = Seq((Some(1L), 50L, 7L, "m"), (None, 50L, 8L, "nullside"))
      .toDF("k", "rts", "rid", "rv")
    val out = AsofJoin.backward(left, right, Seq("k"), "lts", "rts", tieBreak = Seq("rid"))
      .select(col("eid"), col("asof.rid"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("e1") === Some(7L))
    assert(out("enull") === None, "a NULL key must not match a NULL-keyed right row")
  }

  test("reserved column names are rejected loudly") {
    import spark.implicits._
    val l = Seq((1L, 1L, "x")).toDF("k", "lts", "asof")
    val r = Seq((1L, 1L)).toDF("k", "rts")
    intercept[IllegalArgumentException] {
      AsofJoin.backward(l, r, Seq("k"), "lts", "rts")
    }
    val ev = Seq((1L, 1L, 5L)).toDF("k", "t", "session_no")
    intercept[IllegalArgumentException] {
      Sessionize.byGap(ev, Seq("k"), "t", 10L)
    }
  }

  test("plan shape: one window pass, no join operator at all") {
    import spark.implicits._
    val left = (1 to 1000).map(i => (i % 7L, i.toLong, i)).toDF("k", "lts", "eid")
    val right = (1 to 500).map(i => (i % 7L, i.toLong, i)).toDF("k", "rts", "rid")
    val out = AsofJoin.backward(left, right, Seq("k"), "lts", "rts", tieBreak = Seq("rid"))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"), "the as-of operator must not plan a join:\n" + p)
  }
}
