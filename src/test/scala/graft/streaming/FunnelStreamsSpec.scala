package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** FunnelStreams: the streamed automaton equals the oracle-checked batch
  * q86 fold on closed batches (real fixture events), state carries across
  * micro-batches, and the monotone-ingest contract fails loudly. */
class FunnelStreamsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("streamed funnel equals batch q86 on the fixture events across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the REAL events table (nanos-ts handling lives in Tables.table), as
    // the streaming row type
    val fixture = graft.queries.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[FunnelEvent].collect().toSeq
    assert(fixture.nonEmpty, "fixture events must exist")
    // split into three micro-batches by global (ms, event_id) thresholds:
    // per-user order across batches is then monotone by construction
    val sorted = fixture.sortBy(r => (r.ms, r.event_id))
    val (b1, rest) = sorted.splitAt(sorted.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)

    val mem = MemoryStream[FunnelEvent]
    val name = s"funnel_stream_${System.nanoTime()}"
    val q = FunnelStreams.funnelStages(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(b3); q.processAllAvailable()
    } finally q.stop()

    // final emit per user = the one with the highest n_events
    val streamed = spark.table(name)
      .withColumn("rn",
        expr("row_number() over (partition by user_id order by n_events desc)"))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "funnel_stage")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap

    // the oracle-checked batch query over the same parquet
    val batch = graft.SparkEntry.queries("q86_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap

    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, (n, st)) =>
      assert(n === batch(u)._1, s"user $u count")
      assert(st === batch(u)._2,
        s"user $u: streamed stage $st != batch stage ${batch(u)._2}")
    }
  }

  test("mid-funnel state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val name = s"funnel_carry_${System.nanoTime()}"
    val q = FunnelStreams.funnelStages(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // click lands in batch 1; view+purchase in batch 2 — stage must
      // resume from 1, not restart at 0
      mem.addData(Seq(FunnelEvent(7L, 100L, 1L, "click")))
      q.processAllAvailable()
      mem.addData(Seq(
        FunnelEvent(7L, 200L, 2L, "view"),
        FunnelEvent(7L, 300L, 3L, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table(name).orderBy(col("n_events").desc).first()
    assert(last.getLong(1) === 3L)
    assert(last.getInt(2) === 3)
  }

  test("out-of-order arrival across batches fails the query loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val name = s"funnel_ooo_${System.nanoTime()}"
    val q = FunnelStreams.funnelStages(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(Seq(FunnelEvent(1L, 100L, 10L, "click")))
      q.processAllAvailable()
      // regression: same ms, LOWER event_id than already consumed
      mem.addData(Seq(FunnelEvent(1L, 100L, 5L, "view")))
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("out-of-order")),
        s"expected the monotone-ingest error, got: $ex")
    } finally q.stop()
  }

  test("steps contract is loud") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      FunnelStreams.funnelStages(spark, Seq.empty[FunnelEvent].toDF(), Seq.empty)
    }
  }

  test("buffered mode: shuffled-within-delay ingest reaches the exact batch stages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.queries.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[FunnelEvent].collect().toSeq
    val span = fixture.map(_.ms).max - fixture.map(_.ms).min
    val delay = math.max(span / 10, 1L)
    val shuffled = fixture.sortBy(r =>
      (r.ms / delay, (r.event_id * 37 + r.user_id) % 89, r.event_id))
    val mem = MemoryStream[FunnelEvent]
    val name = s"funnel_buf_${System.nanoTime()}"
    val q = FunnelStreams.funnelStagesBuffered(spark, mem.toDF(), delayMs = delay)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      shuffled.grouped(math.max(shuffled.size / 5, 1)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      // per-user closing sentinels (a type outside the funnel steps) push
      // the frontier past all real events without advancing any stage
      val maxMs = fixture.map(_.ms).max
      val closers = fixture.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
        FunnelEvent(u, maxMs + delay + 1000L, 2000000L + i, "noop-close")
      }
      mem.addData(closers); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name)
      .withColumn("rn",
        expr("row_number() over (partition by user_id order by n_events desc)"))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "funnel_stage")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val batch = graft.SparkEntry.queries("q86_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, (n, st)) =>
      assert(n === batch(u)._1,
        s"user $u: all real events fold; the sentinel itself stays buffered")
      assert(st === batch(u)._2, s"user $u: buffered stage $st != batch ${batch(u)._2}")
    }
  }

  test("buffered mode: disorder of exactly delayMs is within tolerance (strict frontier)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val name = s"funnel_buf_edge_${System.nanoTime()}"
    val delay = 100L
    val q = FunnelStreams.funnelStagesBuffered(spark, mem.toDF(), delayMs = delay)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // frontier after batch 1 is 200 - 100 = 100: the (ms=100, id=5)
      // event must stay BUFFERED (strictly-below rule) ...
      mem.addData(Seq(
        FunnelEvent(1L, 100L, 5L, "view"), FunnelEvent(1L, 200L, 9L, "purchase")))
      q.processAllAvailable()
      // ... so this same-ms, SMALLER-id arrival — disorder EXACTLY the
      // advertised delayMs — still sorts before it instead of throwing
      mem.addData(Seq(FunnelEvent(1L, 100L, 2L, "click")))
      q.processAllAvailable()
      mem.addData(Seq(FunnelEvent(1L, 1000L, 99L, "noop-close")))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table(name).orderBy(col("n_events").desc).first()
    assert(last.getLong(1) === 3L, "all three real events folded")
    assert(last.getInt(2) === 3,
      "click->view->purchase folded in sorted order reaches stage 3")
  }

  test("buffered mode: beyond-tolerance disorder fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val name = s"funnel_buf_ooo_${System.nanoTime()}"
    val q = FunnelStreams.funnelStagesBuffered(spark, mem.toDF(), delayMs = 100L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData((0 until 10).map(i => FunnelEvent(1L, i * 50L, i.toLong, "click")))
      q.processAllAvailable()
      mem.addData(Seq(FunnelEvent(1L, 10L, 99L, "view")))
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("exceeds")),
        s"expected the tolerance error, got: ${messages(ex)}")
    } finally q.stop()
  }

  test("watermark mode: shuffled-within-delay ingest reaches the exact batch stages") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME shuffled-within-delay ingest as the bespoke buffered test,
    // with ms carried as a real event timestamp so Spark's watermark owns
    // the frontier (fixture event times are real epoch millis — safely off
    // the initial 0-ms watermark)
    val fixture = graft.queries.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[FunnelEvent].collect().toSeq
    val span = fixture.map(_.ms).max - fixture.map(_.ms).min
    val delay = math.max(span / 10, 1L)
    val shuffled = fixture.sortBy(r =>
      (r.ms / delay, (r.event_id * 37 + r.user_id) % 89, r.event_id))
      .map(r => FunnelTsEvent(r.user_id, new java.sql.Timestamp(r.ms),
        r.event_id, r.event_type))
    val mem = MemoryStream[FunnelTsEvent]
    val name = s"funnel_wm_${System.nanoTime()}"
    val q = FunnelStreams
      .funnelStagesWatermarked(spark, mem.toDF(), s"$delay milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      shuffled.grouped(math.max(shuffled.size / 5, 1)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      // the watermark lags one batch: two sentinel rounds — the first
      // advances it past every real event, the second touches the users
      // so the buffered tail folds (the sentinels themselves stay
      // buffered: the watermark never passes the last round's event time)
      val maxMs = fixture.map(_.ms).max
      val users = fixture.map(_.user_id).distinct
      Seq(maxMs + delay + 1000L, maxMs + delay + 2000L).zipWithIndex.foreach {
        case (ms, r) =>
          mem.addData(users.zipWithIndex.map { case (u, i) =>
            FunnelTsEvent(u, new java.sql.Timestamp(ms),
              2000000L + r * 100000L + i, "noop-close")
          })
          q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table(name)
      .withColumn("rn",
        expr("row_number() over (partition by user_id order by n_events desc)"))
      .filter(col("rn") === 1)
      .select("user_id", "n_events", "funnel_stage")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val batch = graft.SparkEntry.queries("q86_funnel")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, (n, st)) =>
      assert(n === batch(u)._1,
        s"user $u: all real events fold under the watermark frontier; " +
          "the sentinels stay buffered")
      assert(st === batch(u)._2, s"user $u: watermark stage $st != batch ${batch(u)._2}")
    }
  }

  test("watermark mode: an idle user's held tail flushes via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelTsEvent]
    val name = s"funnel_wm_timeout_${System.nanoTime()}"
    val base = 1700000000000L
    def ev(u: Long, ms: Long, id: Long, t: String) =
      FunnelTsEvent(u, new java.sql.Timestamp(ms), id, t)
    val q = FunnelStreams
      .funnelStagesWatermarked(spark, mem.toDF(), "1000 milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // user 1's complete funnel lands in ONE batch and is then idle
      mem.addData(Seq(ev(1L, base, 1L, "click"), ev(1L, base + 10L, 2L, "view"),
        ev(1L, base + 20L, 3L, "purchase")))
      q.processAllAvailable()
      // only user 2's events advance the GLOBAL watermark past user 1's
      // held tail; the second batch's planning sees the advanced
      // watermark and fires user 1's armed timeout — no batch ever
      // touches user 1 again
      mem.addData(Seq(ev(2L, base + 100000L, 10L, "click")))
      q.processAllAvailable()
      mem.addData(Seq(ev(2L, base + 200000L, 11L, "click")))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table(name).filter(col("user_id") === 1L)
      .orderBy(col("n_events").desc)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(u1.nonEmpty && u1.head === ((3L, 3)),
      s"user 1's idle tail must flush via the event-time timeout, got ${u1.toSeq}")
  }
}
