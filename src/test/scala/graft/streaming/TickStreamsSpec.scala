package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.sources.bi5.{Bi5Codec, Bi5TreeFixture}

/** Live OHLC bars from the bi5 streaming source must equal the batch bars
  * over the same files — exactly, thanks to deterministic min_by/max_by
  * tie-breaking. The two reference-bound tests have hermetic twins over a
  * generated tick tree. */
class TickStreamsSpec extends AnyFunSuite with SparkSuite {

  private val Fixtures = "/root/reference/spark-2.4/src/test/resources"

  test("streaming OHLC bars equal batch OHLC bars over the same tick tree") {
    val stream = spark.readStream.format("bi5").option("digits", 5)
      .load(s"$Fixtures/EURUSD")
    val q = TickStreams.ohlcBars(stream, "1 minute")
      .writeStream.format("memory").queryName("bars").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.sql("select * from bars")

    val batch = TickStreams.ohlcBars(
      spark.read.format("bi5").option("digits", 5).load(s"$Fixtures/EURUSD"), "1 minute")

    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0 && batch.exceptAll(streamed).count() === 0,
      "streaming bars must equal batch bars exactly")
    // sanity on the bars themselves
    val bad = batch.filter(
      col("high") < col("low") || col("open") > col("high") || col("open") < col("low") ||
        col("close") > col("high") || col("close") < col("low") || col("n_ticks") <= 0)
    assert(bad.count() === 0)
    assert(batch.agg(sum("n_ticks")).head.getLong(0) === 27521) // every tick in a bar
  }

  test("streaming as-of equals batch AsofJoin.backward on closed events") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tickIn = MemoryStream[(String, Long, Double)] // ticker, ms, ask
    val evIn = MemoryStream[(String, Long, Long)]     // ticker, ms, event_id
    val ticks = tickIn.toDF().toDF("ticker", "ms", "ask")
      .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("ask"))
    val events = evIn.toDF().toDF("ticker", "ms", "event_id")
      .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("event_id"))
    val q = TickStreams.asofPrices(spark, ticks, events, "5 seconds")
      .toDF().writeStream.format("memory").queryName("asof_live")
      .outputMode("append").start()
    try {
      // batch 1: out-of-order ticks, a same-instant price tie (2.0 vs 2.5 at
      // t=2000), an event exactly at a tick instant, one before any tick
      tickIn.addData(("A", 2000L, 2.0), ("A", 1000L, 1.0), ("A", 2000L, 2.5),
        ("B", 5000L, 9.0))
      evIn.addData(("A", 2000L, 101L), ("A", 1500L, 102L), ("A", 500L, 103L),
        ("B", 7000L, 201L))
      q.processAllAvailable()
      // batch 2: more data + a far-future sentinel tick to push the watermark
      tickIn.addData(("A", 8000L, 3.0), ("Z", 1000000000L, 0.0))
      evIn.addData(("A", 9000L, 104L))
      q.processAllAvailable()
      // batch 3: second sentinel — watermark now reflects batch 2's max, so
      // the EventTimeTimeout fires and every pending event seals
      tickIn.addData(("Z", 1000000001L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select event_id, tick_ms, price from asof_live")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // batch oracle: the AsofJoin operator with the same largest-price tie rule
    val left = Seq(("A", 2000L, 101L), ("A", 1500L, 102L), ("A", 500L, 103L),
      ("B", 7000L, 201L), ("A", 9000L, 104L)).toDF("ticker", "ev_ms", "event_id")
    val right = Seq(("A", 2000L, 2.0), ("A", 1000L, 1.0), ("A", 2000L, 2.5),
      ("B", 5000L, 9.0), ("A", 8000L, 3.0), ("Z", 1000000000L, 0.0),
      ("Z", 1000000001L, 0.0)).toDF("ticker", "t", "price")
    val want = graft.operators.AsofJoin
      .backward(left, right, Seq("ticker"), "ev_ms", "t", tieBreak = Seq("price"))
      .select(col("event_id"), col("asof.t"), col("asof.price"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got === want, s"streaming matches must equal the batch operator\n got=$got\nwant=$want")
    // spot the semantics: 101 sees the tie-winner 2.5, 103 has no prior tick
    assert(got.contains((101L, Some(2000L), Some(2.5))))
    assert(got.contains((103L, None, None)))
  }

  test("watermark edge: a tick exactly AT the watermark is late data, so same-instant events seal safely") {
    // Pins the boundary the seal logic depends on: Spark's stateful late-row
    // filter drops rows with ts <= watermark (NOT strictly-below). A tick
    // timed exactly at the watermark therefore never reaches the state
    // function, and sealing events at t <= wm can never miss a late
    // same-instant tick. If a Spark upgrade ever relaxed the filter to
    // strictly-below, this test would fail (the 9.9 tick would arrive and
    // the sealed match would be stale) — the seal must then become t < wm.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tickIn = MemoryStream[(String, Long, Double)]
    val evIn = MemoryStream[(String, Long, Long)]
    val ticks = tickIn.toDF().toDF("ticker", "ms", "ask")
      .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("ask"))
    val events = evIn.toDF().toDF("ticker", "ms", "event_id")
      .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("event_id"))
    val q = TickStreams.asofPrices(spark, ticks, events, "10 seconds")
      .toDF().writeStream.format("memory").queryName("asof_wm_edge")
      .outputMode("append").start()
    try {
      // batch 1: early tick, the event, and a sentinel driving wm to exactly
      // the event's instant (15000 - 10000 = 5000)
      tickIn.addData(("A", 1000L, 1.0), ("S", 15000L, 0.0))
      evIn.addData(("A", 5000L, 101L))
      q.processAllAvailable()
      q.processAllAvailable() // timeout pass at wm == 5000: 101 seals here
      // a same-instant tick offered AFTER wm reached 5000: dropped as late
      tickIn.addData(("A", 5000L, 9.9))
      q.processAllAvailable()
      tickIn.addData(("S", 100000L, 0.0)) // wm -> 90000
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select event_id, tick_ms, price from asof_wm_edge")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // the 9.9 tick never entered state; the seal at wm==5000 was final and
    // consistent with batch semantics over the rows Spark accepted
    assert(got === Set((101L, Some(1000L), Some(1.0))),
      s"tick at ts==wm must be late data and the early seal final, got $got")
  }

  test("live bi5 tick stream: price-as-of-event equals batch over the fixture tree") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // ticks = the REAL connector stream, unioned with a sentinel memory
    // stream (distinct ticker) that advances the watermark past the fixture
    val live = spark.readStream.format("bi5").option("digits", 5)
      .load(s"$Fixtures/EURUSD").select("ticker", "ts", "ask")
    val sentinelIn = MemoryStream[(String, Long, Double)]
    val sentinels = sentinelIn.toDF().toDF("ticker", "ms", "ask")
      .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("ask"))
    val evIn = MemoryStream[(String, Long, Long)]
    val events = evIn.toDF().toDF("ticker", "ms", "event_id")
      .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("event_id"))
    // events inside the EURUSD fixture's time range (2019-12-31T15:00 ..)
    val evRows = Seq(
      ("EURUSD", 1577804460000L, 1L), // 2019-12-31 15:01
      ("EURUSD", 1577807100000L, 2L), // 2019-12-31 15:45
      ("EURUSD", 1577804400090L, 3L), // exactly the first tick's ms
      ("EURUSD", 1000L, 4L))          // long before any tick -> null
    val q = TickStreams.asofPrices(spark, live.unionByName(sentinels), events, "10 seconds")
      .toDF().writeStream.format("memory").queryName("asof_bi5")
      .outputMode("append").start()
    try {
      evIn.addData(evRows: _*)
      q.processAllAvailable()
      sentinelIn.addData(("ZZZ", 1700000000000L, 0.0))
      q.processAllAvailable()
      sentinelIn.addData(("ZZZ", 1700000001000L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("select event_id, tick_ms, price from asof_bi5")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val batchTicks = spark.read.format("bi5").option("digits", 5)
      .load(s"$Fixtures/EURUSD")
      .select(col("ticker"), unix_millis(col("ts")).as("t"), col("ask").as("price"))
    val left = evRows.toDF("ticker", "ev_ms", "event_id")
    val want = graft.operators.AsofJoin
      .backward(left, batchTicks, Seq("ticker"), "ev_ms", "t", tieBreak = Seq("price"))
      .select(col("event_id"), col("asof.t"), col("asof.price"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got === want,
      s"live connector as-of must equal the batch operator\n got=$got\nwant=$want")
    assert(got.exists { case (id, t, p) => id == 4L && t.isEmpty && p.isEmpty })
    assert(got.count(_._2.nonEmpty) === 3)
  }

  test("open/close are event-time ordered, not arrival-ordered") {
    import spark.implicits._
    // two ticks out of arrival order within one bar: open must be the
    // EARLIER ts, close the LATER, regardless of row order
    val ticks = Seq(
      ("X", java.sql.Timestamp.valueOf("2020-01-01 00:00:30"), 2.0, 1.9, 1.0, 1.0),
      ("X", java.sql.Timestamp.valueOf("2020-01-01 00:00:10"), 5.0, 4.9, 1.0, 1.0))
      .toDF("ticker", "ts", "ask", "bid", "ask_volume", "bid_volume")
    val bars = TickStreams.ohlcBars(ticks, "1 minute").collect()
    assert(bars.length === 1)
    assert(bars.head.getAs[Double]("open") === 5.0)  // ts 00:00:10
    assert(bars.head.getAs[Double]("close") === 2.0) // ts 00:00:30
    assert(bars.head.getAs[Double]("high") === 5.0 && bars.head.getAs[Double]("low") === 2.0)
  }

  /** 200 ticks in the first ~12 minutes of an hour: pairs share an instant
    * with different asks (the tie-breaks), bars hold several ticks each. */
  private def pairedTicks(seed: Int): Seq[Bi5Codec.Tick] =
    (0 until 200).map { i =>
      Bi5Codec.Tick((i / 2) * 7000, 110000 + (i * 37 + seed) % 101, 109900 + i % 7,
        1.5f + i % 5, 0.25f * (i % 3 + 1))
    }

  /** A generated EURUSD tree of two hour files, 2019-12-31 15h and 16h. */
  private def withTickTree[T](body: Path => T): T = {
    val root = Files.createTempDirectory("tickstreamtwin")
    try {
      Bi5TreeFixture.put(root, "EURUSD/2019/11/31/15h_ticks.bi5", Bi5TreeFixture.lzma(pairedTicks(1)))
      Bi5TreeFixture.put(root, "EURUSD/2019/11/31/16h_ticks.bi5", Bi5TreeFixture.lzma(pairedTicks(2)))
      body(root)
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("twin: streaming OHLC bars equal batch OHLC bars over a generated tick tree") {
    withTickTree { root =>
      val stream = spark.readStream.format("bi5").option("digits", 5).load(s"$root/EURUSD")
      val q = TickStreams.ohlcBars(stream, "1 minute")
        .writeStream.format("memory").queryName("bars_twin").outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.sql("select * from bars_twin")
      val batch = TickStreams.ohlcBars(
        spark.read.format("bi5").option("digits", 5).load(s"$root/EURUSD"), "1 minute")
      assert(streamed.count() === batch.count())
      assert(streamed.exceptAll(batch).count() === 0 && batch.exceptAll(streamed).count() === 0,
        "streaming bars must equal batch bars exactly")
      val bad = batch.filter(
        col("high") < col("low") || col("open") > col("high") || col("open") < col("low") ||
          col("close") > col("high") || col("close") < col("low") || col("n_ticks") <= 0)
      assert(bad.count() === 0)
      assert(batch.agg(sum("n_ticks")).head.getLong(0) === 400) // every tick in a bar
    }
  }

  test("twin: live price-as-of-event equals batch over a generated tick tree") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withTickTree { root =>
      val live = spark.readStream.format("bi5").option("digits", 5)
        .load(s"$root/EURUSD").select("ticker", "ts", "ask")
      val sentinelIn = MemoryStream[(String, Long, Double)]
      val sentinels = sentinelIn.toDF().toDF("ticker", "ms", "ask")
        .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("ask"))
      val evIn = MemoryStream[(String, Long, Long)]
      val events = evIn.toDF().toDF("ticker", "ms", "event_id")
        .select(col("ticker"), timestamp_millis(col("ms")).as("ts"), col("event_id"))
      val base = 1577804400000L // 2019-12-31 15:00, the first file's hour
      val evRows = Seq(
        ("EURUSD", base + 60000L, 1L),   // between ticks
        ("EURUSD", base + 3603500L, 2L), // inside the second file's hour
        ("EURUSD", base + 7000L, 3L),    // exactly a tied pair's instant
        ("EURUSD", 1000L, 4L))           // long before any tick -> null
      val q = TickStreams.asofPrices(spark, live.unionByName(sentinels), events, "10 seconds")
        .toDF().writeStream.format("memory").queryName("asof_bi5_twin")
        .outputMode("append").start()
      try {
        evIn.addData(evRows: _*)
        q.processAllAvailable()
        sentinelIn.addData(("ZZZ", 1700000000000L, 0.0))
        q.processAllAvailable()
        sentinelIn.addData(("ZZZ", 1700000001000L, 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.sql("select event_id, tick_ms, price from asof_bi5_twin")
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val batchTicks = spark.read.format("bi5").option("digits", 5).load(s"$root/EURUSD")
        .select(col("ticker"), unix_millis(col("ts")).as("t"), col("ask").as("price"))
      val want = graft.operators.AsofJoin
        .backward(evRows.toDF("ticker", "ev_ms", "event_id"), batchTicks, Seq("ticker"),
          "ev_ms", "t", tieBreak = Seq("price"))
        .select(col("event_id"), col("asof.t"), col("asof.price"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      assert(got === want,
        s"live connector as-of must equal the batch operator\n got=$got\nwant=$want")
      assert(got.exists { case (id, t, p) => id == 4L && t.isEmpty && p.isEmpty })
      assert(got.count(_._2.nonEmpty) === 3)
    }
  }
}
