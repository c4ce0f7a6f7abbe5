package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** EwmaStreams: the streamed recurrence equals the batch Ewma.perKey fold
  * bit-for-bit on closed batches, state carries across micro-batches, and
  * the monotone-ingest contract fails loudly. */
class EwmaStreamsSpec extends AnyFunSuite with SparkSuite {

  // deterministic fixture: 3 keys x 40 observations with irregular values
  private def points: Seq[EwmaPoint] =
    for {
      k <- Seq("a", "b", "c")
      i <- 0 until 40
    } yield EwmaPoint(k, i.toLong, math.sin(i * 0.7 + k.hashCode % 7) * 10 + i)

  test("streamed ewma equals the batch fold bit-for-bit across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EwmaPoint]
    val name = s"ewma_stream_${System.nanoTime()}"
    val q = EwmaStreams.runningEwma(spark, mem.toDF(), alpha = 0.3)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // three micro-batches split mid-key-history: state must carry
      val (b1, rest) = points.partition(_.ord < 15)
      val (b2, b3) = rest.partition(_.ord < 30)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // final emit per key = the one with the highest n_events
    val streamed = spark.table(name)
      .withColumn("rn", expr("row_number() over (partition by key order by n_events desc)"))
      .filter(col("rn") === 1)
      .select("key", "n_events", "ewma")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.operators.Ewma
      .perKey(points.toDF(), "key", Seq("ord"), "v", alpha = 0.3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, (n, e)) =>
      assert(n === batch(k)._1, s"key $k count")
      assert(java.lang.Double.doubleToLongBits(e) ===
        java.lang.Double.doubleToLongBits(batch(k)._2),
        s"key $k: streamed $e != batch ${batch(k)._2} (must be bit-identical)")
    }
  }

  test("out-of-order arrival across batches fails the query loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EwmaPoint]
    val name = s"ewma_ooo_${System.nanoTime()}"
    val q = EwmaStreams.runningEwma(spark, mem.toDF(), alpha = 0.5)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(Seq(EwmaPoint("k", 10L, 1.0)))
      q.processAllAvailable()
      mem.addData(Seq(EwmaPoint("k", 5L, 2.0))) // regression: ord 5 after 10
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("out-of-order")),
        s"expected the monotone-ingest error, got: $ex")
    } finally q.stop()
  }

  test("alpha contract is loud") {
    intercept[IllegalArgumentException] {
      import spark.implicits._
      EwmaStreams.runningEwma(spark, Seq.empty[EwmaPoint].toDF(), alpha = 1.5)
    }
  }

  test("buffered mode: shuffled-within-delay ingest folds bit-identical to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministically SHUFFLE each key's history within a disorder
    // window of < 8 ords, then batch it arbitrarily: the reorder buffer
    // must reconstruct exact ord order before folding
    val shuffled = points
      .sortBy(p => (p.ord / 8, (p.ord * 31 + p.key.hashCode) % 97, p.key))
    val mem = MemoryStream[EwmaPoint]
    val name = s"ewma_buf_${System.nanoTime()}"
    val q = EwmaStreams.runningEwmaBuffered(spark, mem.toDF(), alpha = 0.3, delay = 8L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      shuffled.grouped(25).foreach { b => mem.addData(b); q.processAllAvailable() }
      // closing sentinels push the frontier past every real point
      mem.addData(Seq("a", "b", "c").map(k => EwmaPoint(k, 1000L, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name)
      .withColumn("rn", expr("row_number() over (partition by key order by n_events desc)"))
      .filter(col("rn") === 1)
      .select("key", "n_events", "ewma")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // batch fold over the real points + the sentinel (which DID fold its
    // key's trailing buffer; the sentinel itself stays buffered — frontier
    // is maxOrd - delay < maxOrd, so n stops at the real 40)
    val batch = graft.operators.Ewma
      .perKey(points.toDF(), "key", Seq("ord"), "v", alpha = 0.3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, (n, e)) =>
      assert(n === batch(k)._1, s"key $k: all real points must fold, sentinel buffered")
      assert(java.lang.Double.doubleToLongBits(e) ===
        java.lang.Double.doubleToLongBits(batch(k)._2),
        s"key $k: buffered-streamed $e != batch ${batch(k)._2}")
    }
  }

  test("watermark mode: shuffled-within-delay ingest folds bit-identical to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME shuffled-within-8 ingest as the bespoke buffered test,
    // with ord carried as an event timestamp so Spark's watermark owns
    // the frontier
    // event times shifted off epoch zero: the initial watermark is 0 ms,
    // so a ts=0 row would be dropped as late before the first batch runs
    val base = 1000000L
    val shuffled = points
      .sortBy(p => (p.ord / 8, (p.ord * 31 + p.key.hashCode) % 97, p.key))
      .map(p => EwmaTsPoint(p.key, new java.sql.Timestamp(base + p.ord), p.v))
    val mem = MemoryStream[EwmaTsPoint]
    val name = s"ewma_wm_${System.nanoTime()}"
    val q = EwmaStreams
      .runningEwmaWatermarked(spark, mem.toDF(), alpha = 0.3, delay = "8 milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      shuffled.grouped(25).foreach { b => mem.addData(b); q.processAllAvailable() }
      // the watermark lags one batch: two sentinel rounds — the first
      // advances it past every real point, the second triggers the keys
      // so the buffered tail folds (the sentinels themselves stay
      // buffered: wm never passes the last round's event time)
      Seq(base + 1000L, base + 2000L).foreach { ms =>
        mem.addData(Seq("a", "b", "c").map(k =>
          EwmaTsPoint(k, new java.sql.Timestamp(ms), 0.0)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table(name)
      .withColumn("rn", expr("row_number() over (partition by key order by n_events desc)"))
      .filter(col("rn") === 1)
      .select("key", "n_events", "ewma")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = graft.operators.Ewma
      .perKey(points.toDF(), "key", Seq("ord"), "v", alpha = 0.3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (k, (n, e)) =>
      assert(n === batch(k)._1,
        s"key $k: all real points fold under the watermark frontier")
      assert(java.lang.Double.doubleToLongBits(e) ===
        java.lang.Double.doubleToLongBits(batch(k)._2),
        s"key $k: watermark-streamed $e != batch ${batch(k)._2}")
    }
  }

  test("buffered mode: disorder beyond the delay fails loudly; duplicates fail loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EwmaPoint]
    val name = s"ewma_buf_ooo_${System.nanoTime()}"
    val q = EwmaStreams.runningEwmaBuffered(spark, mem.toDF(), alpha = 0.5, delay = 3L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    try {
      mem.addData((0L to 10L).map(o => EwmaPoint("k", o, o.toDouble)))
      q.processAllAvailable() // frontier 7: ords 0..7 folded, 8..10 buffered
      mem.addData(Seq(EwmaPoint("k", 5L, 9.9))) // below the folded frontier
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(messages(ex).exists(_.contains("exceeds")),
        s"expected the beyond-tolerance error, got: $ex")
    } finally q.stop()
    val mem2 = MemoryStream[EwmaPoint]
    val name2 = s"ewma_buf_dup_${System.nanoTime()}"
    val q2 = EwmaStreams.runningEwmaBuffered(spark, mem2.toDF(), alpha = 0.5, delay = 5L)
      .writeStream.format("memory").queryName(name2).outputMode("append").start()
    try {
      mem2.addData(Seq(EwmaPoint("k", 10L, 1.0), EwmaPoint("k", 10L, 2.0)))
      val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(messages(ex2).exists(_.contains("duplicate ord")),
        s"expected the duplicate-ord error, got: $ex2")
    } finally q2.stop()
  }

  test("watermark mode: an idle key's held tail flushes via event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EwmaTsPoint]
    val name = s"ewma_wm_timeout_${System.nanoTime()}"
    val base = 1700000000000L
    def pt(k: String, ms: Long, v: Double) =
      EwmaTsPoint(k, new java.sql.Timestamp(ms), v)
    val q = EwmaStreams
      .runningEwmaWatermarked(spark, mem.toDF(), 0.5, "1000 milliseconds")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // key "a"'s points land in ONE batch and the key is then idle
      mem.addData(Seq(pt("a", base, 10.0), pt("a", base + 10L, 20.0)))
      q.processAllAvailable()
      // only key "b" advances the GLOBAL watermark past "a"'s held tail;
      // the armed timeout fires and folds it — no batch touches "a" again
      mem.addData(Seq(pt("b", base + 100000L, 1.0)))
      q.processAllAvailable()
      mem.addData(Seq(pt("b", base + 200000L, 2.0)))
      q.processAllAvailable()
    } finally q.stop()
    val a = spark.table(name).filter(col("key") === "a")
      .orderBy(col("n_events").desc)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // fold: e1 = 10, e2 = 0.5*20 + 0.5*10 = 15
    assert(a.nonEmpty && a.head === ((2L, 15.0)),
      s"key a's idle tail must flush via the event-time timeout, got ${a.toSeq}")
  }
}
