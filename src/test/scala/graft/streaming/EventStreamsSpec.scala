package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Drives the streaming pipelines synchronously over the sf0.001 events
  * parquet via memory sinks (processAllAvailable). */
class EventStreamsSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String, mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("watermarked windowed counts aggregate the whole batch") {
    runToMemory(EventStreams.windowedCounts(EventStreams.readEvents(spark, Sf)), "win_counts", "append")
    val out = spark.sql("select * from win_counts")
    // append mode emits only windows sealed by the watermark; the final
    // window(s) stay open, so totals are <= 1000 but close to it.
    val total = out.agg(sum("n")).head.getLong(0)
    assert(total > 900 && total <= 1000, s"total=$total")
    assert(out.select("event_type").distinct().count() === 5)
  }

  test("streaming dedup keeps at most one event per user/type pair") {
    runToMemory(EventStreams.dedupedEvents(EventStreams.readEvents(spark, Sf)), "dedup_ev", "append")
    val out = spark.sql("select * from dedup_ev")
    val pairs = out.select("user_id", "event_type").distinct().count()
    assert(out.count() === pairs)
    assert(pairs <= 15L * 5)
  }

  test("stateful running totals accumulate per user") {
    val running = EventStreams.runningUserTotals(spark, EventStreams.readEvents(spark, Sf))
    runToMemory(running.toDF(), "run_tot", "update")
    // update mode emits one row per user per micro-batch; the LAST row per
    // user carries the final running state.
    val last = spark.sql(
      """select user_id, n, total from (
           select *, row_number() over (partition by user_id order by n desc) rn
           from run_tot) where rn = 1""")
    assert(last.count() === 15)
    assert(last.agg(sum("n")).head.getLong(0) === 1000)
  }

  test("streaming session windows match the batch Sessionize operator") {
    runToMemory(
      EventStreams.gapSessions(EventStreams.readEvents(spark, Sf)), "sessions", "append")
    val streamed = spark.sql("select user_id, start_ms, last_ms, n_events from sessions")
    // batch oracle: the generic gap operator over the same static events
    val ev = graft.queries.Tables.table(spark, Sf, "events")
      .withColumn("ms", unix_millis(col("ts")))
    val batch = graft.operators.Sessionize
      .byGap(ev, Seq("user_id"), "ms", 30L * 60 * 1000, tieBreak = Seq("event_id"))
      .groupBy("user_id", "session_no")
      .agg(min("ms").as("start_ms"), max("ms").as("last_ms"), count(lit(1)).as("n_events"))
      .select("user_id", "start_ms", "last_ms", "n_events")
    // append mode emits only watermark-closed sessions: everything the
    // stream emitted must be a real batch session, and it must have emitted
    // nearly all of them (only the per-user tail can stay open)
    assert(streamed.except(batch).count() === 0,
      "every emitted session must match the batch operator exactly")
    val total = batch.count()
    val emitted = streamed.count()
    assert(emitted > 0 && total - emitted <= 15,
      s"stream emitted $emitted of $total sessions (max 15 open tails allowed)")
  }

  test("stream-stream interval join matches the batch join on emitted pairs") {
    runToMemory(
      EventStreams.purchaseFollowups(EventStreams.readEvents(spark, Sf)),
      "follow_join", "append")
    val streamed = spark.sql("select p_event_id, f_event_id from follow_join")
    // batch oracle: identical join over the same static events table
    val ev = graft.queries.Tables.table(spark, Sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id").as("pu"), col("ts").as("p_ts"))
    val f = ev.select(col("event_id").as("f_event_id"), col("user_id").as("fu"), col("ts").as("f_ts"))
    val batch = p.join(f,
      col("pu") === col("fu") &&
        col("f_ts") > col("p_ts") &&
        col("f_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"))
      .select("p_event_id", "f_event_id")
    // watermark semantics can hold back pairs near the stream's end, but a
    // single-batch processAllAvailable over static data emits everything
    // except possibly the tail horizon; require full equality minus nothing:
    assert(streamed.except(batch).count() === 0)
    val missing = batch.except(streamed).count()
    assert(missing === 0, s"stream withheld $missing pairs")
    assert(batch.count() > 0)
  }
}
