package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** TransitionStreams: aggregated streamed (from, to) emits equal the
  * oracle-checked batch q189 transition counts on closed batches, state
  * bridges micro-batch boundaries, and the monotone contract is loud. */
class TransitionStreamsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("aggregated streamed transitions equal batch q189 counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.queries.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[TransEvent].collect().toSeq
    assert(fixture.nonEmpty)
    val sorted = fixture.sortBy(r => (r.ms, r.event_id))
    val (b1, rest) = sorted.splitAt(sorted.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)

    val mem = MemoryStream[TransEvent]
    val name = s"trans_stream_${System.nanoTime()}"
    val q = TransitionStreams.transitions(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(b3); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table(name)
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.SparkEntry.queries("q189_event_transitions")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    assert(streamed === batch,
      s"streamed transition counts diverge from batch q189: " +
        s"only-streamed=${streamed.keySet -- batch.keySet} " +
        s"only-batch=${batch.keySet -- streamed.keySet}")
  }

  test("a transition spanning a micro-batch boundary is still emitted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TransEvent]
    val name = s"trans_carry_${System.nanoTime()}"
    val q = TransitionStreams.transitions(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(Seq(TransEvent(7L, 100L, 1L, "view")))
      q.processAllAvailable()
      mem.addData(Seq(TransEvent(7L, 200L, 2L, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(1) === "view" && rows(0).getString(2) === "purchase")
  }

  test("out-of-order arrival fails the query loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TransEvent]
    val name = s"trans_ooo_${System.nanoTime()}"
    val q = TransitionStreams.transitions(spark, mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(Seq(TransEvent(1L, 100L, 10L, "click")))
      q.processAllAvailable()
      mem.addData(Seq(TransEvent(1L, 50L, 11L, "view")))
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("out-of-order")),
        s"expected the monotone-ingest contract, got: ${messages(ex)}")
    } finally q.stop()
  }

  test("buffered mode: shuffled-within-delay ingest equals batch q189 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.queries.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[TransEvent].collect().toSeq
    val span = fixture.map(_.ms).max - fixture.map(_.ms).min
    val delay = math.max(span / 10, 1L)
    // deterministic shuffle whose disorder stays within `delay`: sort by
    // coarse time buckets of size `delay`, scramble inside each bucket
    val shuffled = fixture.sortBy(r =>
      (r.ms / delay, (r.event_id * 31 + r.user_id) % 97, r.event_id))
    val mem = MemoryStream[TransEvent]
    val name = s"trans_buf_${System.nanoTime()}"
    val q = TransitionStreams.transitionsBuffered(spark, mem.toDF(), delayMs = delay)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      shuffled.grouped(math.max(shuffled.size / 5, 1)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      // closing sentinels per user push the frontier past all real events
      val maxMs = fixture.map(_.ms).max
      val closers = fixture.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
        TransEvent(u, maxMs + delay + 1000L, 1000000L + i, "close")
      }
      mem.addData(closers); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name)
      .filter(col("to_type") =!= "close") // drop the sentinel bigrams
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.SparkEntry.queries("q189_event_transitions")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch,
      "buffered streaming must reconstruct exact time order within the delay")
  }

  test("buffered mode: disorder of exactly delayMs is within tolerance (strict frontier)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TransEvent]
    val name = s"trans_buf_edge_${System.nanoTime()}"
    val q = TransitionStreams.transitionsBuffered(spark, mem.toDF(), delayMs = 100L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // frontier after batch 1 is 200 - 100 = 100: (ms=100, id=5) must
      // stay BUFFERED (strictly-below rule) ...
      mem.addData(Seq(TransEvent(1L, 100L, 5L, "b"), TransEvent(1L, 200L, 9L, "c")))
      q.processAllAvailable()
      // ... so this same-ms, SMALLER-id arrival — disorder EXACTLY the
      // advertised delayMs — still sorts before it instead of throwing
      mem.addData(Seq(TransEvent(1L, 100L, 2L, "a")))
      q.processAllAvailable()
      mem.addData(Seq(TransEvent(1L, 1000L, 99L, "close")))
      q.processAllAvailable()
    } finally q.stop()
    val bigrams = spark.table(name)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(bigrams === Set(("a", "b"), ("b", "c")),
      s"sorted-order bigrams a->b, b->c expected, got $bigrams")
  }

  test("buffered mode: beyond-tolerance and duplicate arrivals fail loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val mem = MemoryStream[TransEvent]
    val name = s"trans_buf_ooo_${System.nanoTime()}"
    val q = TransitionStreams.transitionsBuffered(spark, mem.toDF(), delayMs = 100L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData((0 until 10).map(i => TransEvent(1L, i * 50L, i.toLong, "e" + (i % 3))))
      q.processAllAvailable() // frontier 350: events up to ms 350 folded
      mem.addData(Seq(TransEvent(1L, 10L, 99L, "late")))
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(messages(ex).exists(_.contains("exceeds")),
        s"expected the tolerance error, got: ${messages(ex)}")
    } finally q.stop()
    val mem2 = MemoryStream[TransEvent]
    val name2 = s"trans_buf_dup_${System.nanoTime()}"
    val q2 = TransitionStreams.transitionsBuffered(spark, mem2.toDF(), delayMs = 100L)
      .writeStream.format("memory").queryName(name2).outputMode("append").start()
    try {
      mem2.addData(Seq(
        TransEvent(1L, 500L, 7L, "a"), TransEvent(1L, 500L, 7L, "a")))
      val ex2 = intercept[StreamingQueryException] { q2.processAllAvailable() }
      assert(messages(ex2).exists(_.contains("duplicate")),
        s"expected the duplicate error, got: ${messages(ex2)}")
    } finally q2.stop()
  }

  test("watermark mode: shuffled-within-delay ingest equals batch q189 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME shuffled-within-delay ingest as the bespoke buffered test,
    // with ms carried as a real event timestamp so Spark's watermark owns
    // the frontier (fixture event times are real epoch millis — safely off
    // the initial 0-ms watermark)
    val fixture = graft.queries.Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_id"), col("event_type"))
      .as[TransEvent].collect().toSeq
    val span = fixture.map(_.ms).max - fixture.map(_.ms).min
    val delay = math.max(span / 10, 1L)
    val shuffled = fixture.sortBy(r =>
      (r.ms / delay, (r.event_id * 31 + r.user_id) % 97, r.event_id))
      .map(r => TransTsEvent(r.user_id, new java.sql.Timestamp(r.ms),
        r.event_id, r.event_type))
    val mem = MemoryStream[TransTsEvent]
    val name = s"trans_wm_${System.nanoTime()}"
    val q = TransitionStreams
      .transitionsWatermarked(spark, mem.toDF(), s"$delay milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      shuffled.grouped(math.max(shuffled.size / 5, 1)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      // two sentinel rounds (the watermark lags one batch); the sentinels
      // themselves never fold, so no "close" bigrams can be emitted
      val maxMs = fixture.map(_.ms).max
      val users = fixture.map(_.user_id).distinct
      Seq(maxMs + delay + 1000L, maxMs + delay + 2000L).zipWithIndex.foreach {
        case (ms, r) =>
          mem.addData(users.zipWithIndex.map { case (u, i) =>
            TransTsEvent(u, new java.sql.Timestamp(ms),
              1000000L + r * 100000L + i, "close")
          })
          q.processAllAvailable()
      }
    } finally q.stop()
    // sentinels must NEVER fold (their event time stays at/above the final
    // watermark) — a filter here would silently mask a frontier regression,
    // so assert their absence and compare UNFILTERED
    val streamed = spark.table(name)
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(!streamed.keys.exists { case (f, t) => f == "close" || t == "close" },
      "sentinel events folded — the watermark frontier leaked past the last batch")
    val batch = graft.SparkEntry.queries("q189_event_transitions")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch,
      "watermark-mode streaming must reconstruct exact time order within the delay")
  }

  test("watermark mode: an idle user's held tail flushes via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TransTsEvent]
    val name = s"trans_wm_timeout_${System.nanoTime()}"
    val base = 1700000000000L
    def ev(u: Long, ms: Long, id: Long, t: String) =
      TransTsEvent(u, new java.sql.Timestamp(ms), id, t)
    val q = TransitionStreams
      .transitionsWatermarked(spark, mem.toDF(), "1000 milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // user 1's events land in ONE batch and the user is then idle
      mem.addData(Seq(ev(1L, base, 1L, "view"), ev(1L, base + 10L, 2L, "click"),
        ev(1L, base + 20L, 3L, "purchase")))
      q.processAllAvailable()
      // only user 2 advances the GLOBAL watermark past user 1's held
      // tail; the armed timeout fires and folds it — no batch touches
      // user 1 again
      mem.addData(Seq(ev(2L, base + 100000L, 10L, "view")))
      q.processAllAvailable()
      mem.addData(Seq(ev(2L, base + 200000L, 11L, "view")))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table(name).filter(col("user_id") === 1L)
      .select("from_type", "to_type")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(u1 === Seq(("view", "click"), ("click", "purchase")),
      s"user 1's idle tail must flush via the event-time timeout, got $u1")
  }
}
