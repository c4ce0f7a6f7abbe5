package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** GridFill (regular-grid resample + forward fill): slot coverage, fill
  * semantics, deterministic in-slot election, and contract failures. */
class GridFillSpec extends AnyFunSuite with SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("grid covers each key's span; gaps carry the last value forward") {
    import spark.implicits._
    // key a: obs at hours 00, 03 (two in-slot: later one must win), gap 01-02
    val df = Seq(
      ("a", ts("2024-01-01 00:10:00"), 1.0, 1L),
      ("a", ts("2024-01-01 03:20:00"), 2.0, 2L),
      ("a", ts("2024-01-01 03:40:00"), 3.0, 3L),
      ("b", ts("2024-01-01 05:00:00"), 9.0, 4L))
      .toDF("k", "t", "v", "id")
    val out = GridFill.forwardFill(df, "k", "t", "v", "id", "hour")
      .orderBy("k", "slot")
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Timestamp]("slot").toString,
        r.getAs[Double]("v_fill"), r.getAs[Boolean]("is_gap")))
    assert(out === Array(
      ("a", "2024-01-01 00:00:00.0", 1.0, false),
      ("a", "2024-01-01 01:00:00.0", 1.0, true),
      ("a", "2024-01-01 02:00:00.0", 1.0, true),
      ("a", "2024-01-01 03:00:00.0", 3.0, false), // latest ts wins the slot
      ("b", "2024-01-01 05:00:00.0", 9.0, false)))
  }

  test("in-slot ties on ts break by the tie column, deterministically") {
    import spark.implicits._
    val t0 = ts("2024-01-01 00:30:00")
    val df = Seq(("a", t0, 10.0, 1L), ("a", t0, 20.0, 2L)).toDF("k", "t", "v", "id")
    val out = GridFill.forwardFill(df, "k", "t", "v", "id", "hour").collect()
    assert(out.length === 1 && out.head.getAs[Double]("v_fill") === 20.0,
      "the higher tie-column value must win an exact ts tie")
  }

  test("matches a naive driver-side fill on real events data") {
    // Library loader owns the nanos-ts rebuild; a builder-level conf can't
    // guarantee it on the shared test-JVM session.
    val ev = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val got = GridFill.forwardFill(ev, "user_id", "ts", "value", "event_id", "day")
      .select("user_id", "slot", "value_fill", "is_gap")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getDouble(2), r.getBoolean(3)))
      .sortBy(r => (r._1, r._2))
    // naive reference: per user, walk days driver-side
    val obs = ev.select("user_id", "ts", "value", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3)))
    val dayMs = 86400000L
    def day(t: Timestamp) = t.getTime - Math.floorMod(t.getTime, dayMs)
    val naive = obs.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val bySlot = rows.groupBy(r => day(r._2))
        .map { case (s, rs) => s -> rs.maxBy(r => (r._2.getTime, r._4))._3 }
      val lo = bySlot.keys.min
      val hi = bySlot.keys.max
      var lastV = Double.NaN
      (lo to hi by dayMs).map { s =>
        val hit = bySlot.get(s)
        hit.foreach(v => lastV = v)
        (u, s, lastV, hit.isEmpty)
      }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq === naive, "distributed fill must equal the naive walk")
  }

  test("a null timestamp fails loudly instead of silently dropping the key's grid") {
    import spark.implicits._
    val df = Seq(("a", Some(ts("2024-01-01 00:00:00")), 1.0, 1L),
      ("a", None, 2.0, 2L)).toDF("k", "t", "v", "id")
    val ex = intercept[Exception] {
      GridFill.forwardFill(df, "k", "t", "v", "id", "hour").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("GridFill.forwardFill: t is null")),
      s"expected the loud null-contract error, got: $ex")
  }

  test("reserved names fail loudly") {
    import spark.implicits._
    val df = Seq(("a", ts("2024-01-01 00:00:00"), 1.0, 1L, "x"))
      .toDF("k", "t", "v", "id", "slot")
    intercept[IllegalArgumentException] {
      GridFill.forwardFill(df, "k", "t", "v", "id", "hour")
    }
    intercept[IllegalArgumentException] {
      GridFill.forwardFill(df.drop("slot"), "k", "t", "v", "id", "fortnight")
    }
  }
}
