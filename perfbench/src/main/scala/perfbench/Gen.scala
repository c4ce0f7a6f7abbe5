package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import java.util.zip.CRC32

import org.tukaani.xz.{BasicArrayCache, LZMA2Options, LZMAOutputStream}

/** Order-independent checksum of a set of ticks: a row count plus one exact
  * integer sum per column. Spark computes the same sums in SQL (see
  * [[Tally.sql]]) and the lookup check computes them from collected rows, so
  * all three can be compared for equality. */
final case class Tally(
    rows: Long, tsMod: Long, ask: Long, bid: Long,
    askVol16: Long, bidVol16: Long, tickerCrc: Long) {
  def +(o: Tally): Tally = Tally(
    rows + o.rows, tsMod + o.tsMod, ask + o.ask, bid + o.bid,
    askVol16 + o.askVol16, bidVol16 + o.bidVol16, tickerCrc + o.tickerCrc)
}

object Tally {
  val Zero: Tally = Tally(0, 0, 0, 0, 0, 0, 0)

  /** Epoch milliseconds are summed modulo this prime, so the sum never
    * overflows a long however many rows a tree holds. */
  final val TsModulus = 1000000007L

  def crc(ticker: String): Long = {
    val c = new CRC32
    c.update(ticker.getBytes(US_ASCII))
    c.getValue
  }

  /** The same sums over a `format("bi5")` DataFrame, for prices with
    * `digits` decimals. */
  def sql(digits: Int): Seq[String] = {
    val scale = math.pow(10, digits)
    Seq(
      "count(*)",
      s"sum(unix_millis(ts) % $TsModulus)",
      s"sum(cast(round(ask * $scale) as bigint))",
      s"sum(cast(round(bid * $scale) as bigint))",
      "sum(cast(ask_volume * 16 as bigint))",
      "sum(cast(bid_volume * 16 as bigint))",
      "sum(crc32(cast(ticker as binary)))")
  }

  def fromRow(r: org.apache.spark.sql.Row): Tally =
    Tally(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
}

/** The ticks of one hour file, column by column. */
final class HourTicks(
    val msOffset: Array[Int], val askRaw: Array[Int], val bidRaw: Array[Int],
    val askVol: Array[Float], val bidVol: Array[Float]) {
  def size: Int = msOffset.length

  /** The file's body before compression: 20-byte big-endian `>3I2f` records. */
  def encode(): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(size * 20)
    var i = 0
    while (i < size) {
      b.putInt(msOffset(i)).putInt(askRaw(i)).putInt(bidRaw(i))
        .putFloat(askVol(i)).putFloat(bidVol(i))
      i += 1
    }
    b.array()
  }
}

/**
 * A Dukascopy-layout tick tree: `tickers` x `days` x 24 hour files of
 * `ticksPerFile` ticks, under `<root>/<TICKER>/<YYYY>/<MM>/<DD>/<HH>h_ticks.bi5`
 * with 0-based month directories (the `january=0` default). Every file's
 * content is a pure function of (seed, ticker, hour), so any file can be
 * regenerated to compute the expected answer of a query over it.
 */
final case class TreeSpec(
    tickers: Seq[String], firstDay: LocalDate, days: Int, ticksPerFile: Int,
    digits: Int = 5) {

  def hours: Int = days * 24
  def files: Int = tickers.size * hours
  def firstHourMs: Long = firstDay.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
  def hourMs(h: Int): Long = firstHourMs + h * 3600000L

  def relPath(ticker: String, h: Int): String = {
    val t = java.time.Instant.ofEpochMilli(hourMs(h)).atZone(ZoneOffset.UTC)
    f"$ticker/${t.getYear}%04d/${t.getMonthValue - 1}%02d/${t.getDayOfMonth}%02d/${t.getHour}%02dh_ticks.bi5"
  }
}

object Gen {

  /** splitmix64 finalizer: decorrelates the per-file seeds. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Volumes in sixteenths, as a broker quotes them (0.25 to 4.5 lots). */
  private val Volumes = Array(0.25f, 0.5f, 0.75f, 1f, 1f, 1f, 1.5f, 2.25f, 3f, 4.5f)

  /** The ticks of one file: increasing millisecond offsets inside the hour
    * (one per equal slot), a random walk of small steps for the ask, a
    * spread that changes now and then, and a few common volumes. The
    * records compress about 4x, like real quotes. */
  def hour(seed: Long, spec: TreeSpec, tickerIdx: Int, h: Int): HourTicks = {
    val n = spec.ticksPerFile
    val rnd = new SplittableRandom(mix(mix(seed) ^ (tickerIdx.toLong << 32) ^ h))
    val ms = new Array[Int](n); val ask = new Array[Int](n); val bid = new Array[Int](n)
    val av = new Array[Float](n); val bv = new Array[Float](n)
    val slot = 3600000 / n
    val jitter = math.max(1, slot / 4)
    var price = 100000 + 10000 * tickerIdx + rnd.nextInt(-2000, 2001)
    var spread = 1 + rnd.nextInt(20)
    var i = 0
    while (i < n) {
      ms(i) = i * slot + rnd.nextInt(jitter)
      val step = rnd.nextInt(10)
      price = math.max(1000, price + (if (step < 2) -1 else if (step < 4) 1 else 0))
      if (rnd.nextInt(16) == 0) spread = 1 + rnd.nextInt(20)
      ask(i) = price
      bid(i) = price - spread
      av(i) = Volumes(rnd.nextInt(Volumes.length))
      bv(i) = if (rnd.nextBoolean()) av(i) else Volumes(rnd.nextInt(Volumes.length))
      i += 1
    }
    new HourTicks(ms, ask, bid, av, bv)
  }

  def tally(ticker: String, hourMs: Long, t: HourTicks): Tally =
    tally(ticker, hourMs, t, 0L, Long.MaxValue)

  /** The checksum of the ticks whose timestamp lies in `[fromMs, untilMs)`. */
  def tally(ticker: String, hourMs: Long, t: HourTicks, fromMs: Long, untilMs: Long): Tally = {
    var rows, tsMod, ask, bid, av, bv = 0L
    var i = 0
    while (i < t.size) {
      val ms = hourMs + t.msOffset(i)
      if (ms >= fromMs && ms < untilMs) {
        rows += 1
        tsMod += ms % Tally.TsModulus
        ask += t.askRaw(i)
        bid += t.bidRaw(i)
        av += (t.askVol(i) * 16).toLong
        bv += (t.bidVol(i) * 16).toLong
      }
      i += 1
    }
    Tally(rows, tsMod, ask, bid, av, bv, rows * Tally.crc(ticker))
  }

  /** LZMA-alone compression with a dictionary no larger than the input. */
  def compress(raw: Array[Byte], preset: Int = 1): Array[Byte] = {
    val opts = new LZMA2Options(preset)
    opts.setDictSize(math.max(LZMA2Options.DICT_SIZE_MIN,
      math.min(opts.getDictSize, Integer.highestOneBit(math.max(1, raw.length)) * 2)))
    val bos = new ByteArrayOutputStream(raw.length / 3 + 64)
    val out = new LZMAOutputStream(bos, opts, raw.length.toLong, BasicArrayCache.getInstance())
    out.write(raw)
    out.close()
    bos.toByteArray
  }

  /** Writes the whole tree under `root` on `threads` threads and returns
    * the checksum of every tick written, with the compressed byte total. */
  def writeTree(root: Path, seed: Long, spec: TreeSpec, threads: Int): (Tally, Long) = {
    spec.tickers.indices.foreach { k =>
      (0 until spec.days).foreach { d =>
        Files.createDirectories(root.resolve(spec.relPath(spec.tickers(k), d * 24)).getParent)
      }
    }
    val pool = Executors.newFixedThreadPool(threads)
    try {
      // one task per (ticker, day): 24 files each, coarse enough that the
      // pool's overhead does not show even on the 100-tick lookup tree
      val tasks = for (k <- spec.tickers.indices; d <- 0 until spec.days) yield
        new Callable[(Tally, Long)] {
          def call(): (Tally, Long) = {
            var acc = Tally.Zero
            var bytes = 0L
            for (h <- d * 24 until d * 24 + 24) {
              val t = hour(seed, spec, k, h)
              val z = compress(t.encode())
              Files.write(root.resolve(spec.relPath(spec.tickers(k), h)), z)
              acc = acc + tally(spec.tickers(k), spec.hourMs(h), t)
              bytes += z.length
            }
            (acc, bytes)
          }
        }
      import scala.jdk.CollectionConverters._
      pool.invokeAll(tasks.asJava).asScala.map(_.get())
        .foldLeft((Tally.Zero, 0L)) { case ((a, b), (t, n)) => (a + t, b + n) }
    } finally {
      pool.shutdownNow()
    }
  }
}
