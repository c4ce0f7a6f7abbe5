package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Ewma (per-key sequential smoothing fold): reference equality, edge
  * cases, partitioning invariance, contract failures. */
class EwmaSpec extends AnyFunSuite with SparkSuite {

  // Load through the library loader: it owns the nanos-ts rebuild, which a
  // builder-level conf can't guarantee on the shared test-JVM session.
  private def events =
    graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("value"))

  test("matches a driver-side fold bit-for-bit on real data") {
    val got = Ewma.perKey(events, "user_id", Seq("ms", "event_id"), "value", 0.3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val naive = events.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (u, rows) =>
        val vs = rows.sortBy(r => (r._3, r._2)).map(_._4)
        val e = vs.tail.foldLeft(vs.head)((acc, x) => 0.3 * x + 0.7 * acc)
        u -> ((vs.length.toLong, e))
      }
    assert(got === naive, "distributed fold must equal the driver-side fold exactly")
  }

  test("alpha = 1 degenerates to the last value; singletons to their value") {
    import spark.implicits._
    val df = Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (2L, 3L, 7.0))
      .toDF("k", "ord", "v")
    val out = Ewma.perKey(df, "k", Seq("ord"), "v", 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) === 20.0, "alpha=1 keeps only the latest observation")
    assert(out(2L) === 7.0, "a single observation is its own ewma")
  }

  test("result is invariant under repartitioning (sort-before-fold)") {
    val base = Ewma.perKey(events, "user_id", Seq("ms", "event_id"), "value", 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    val shuffled = Ewma.perKey(events.repartition(13, col("value")),
      "user_id", Seq("ms", "event_id"), "value", 0.3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(base === shuffled)
  }

  test("null order keys or values fail loudly instead of corrupting the fold") {
    import spark.implicits._
    val df = Seq((1L, Some(1L), Some(10.0)), (1L, None, Some(20.0)))
      .toDF("k", "ord", "v")
    val ex = intercept[Exception] {
      Ewma.perKey(df, "k", Seq("ord"), "v", 0.5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("Ewma.perKey: ord is null")),
      s"expected the loud null-contract error, got: $ex")
  }

  test("invalid alpha and missing order columns fail loudly") {
    intercept[IllegalArgumentException] {
      Ewma.perKey(events, "user_id", Seq("ms"), "value", 0.0)
    }
    intercept[IllegalArgumentException] {
      Ewma.perKey(events, "user_id", Seq.empty, "value", 0.5)
    }
  }
}
