package graft.sources.bi5

import java.io.{BufferedInputStream, InputStream}
import java.util.{Calendar, TimeZone}

import scala.util.control.NonFatal

/**
 * Pure (Spark-free) decoding core for Dukascopy `.bi5` tick files.
 *
 * Format (reference: spark-2.4/src/main/scala/be/salvania/BI5DataSource.scala:166-171,
 * independently confirmed by scripts/bi5_to_csv.py:23 `struct.unpack('>3I2f')`):
 * an LZMA-alone compressed stream of consecutive 20-byte big-endian records
 * `(ms_offset: i32, ask_raw: i32, bid_raw: i32, ask_vol: f32, bid_vol: f32)`.
 *
 * Prices are fixed-point: `raw / 10^digits` (reference BI5DataSource.scala:100,168-169).
 * Volumes are IEEE f32 read then widened to f64 — the widening artifacts
 * (e.g. 0.19f -> 0.1899999976158142) are part of the observable contract
 * (reference test suite BI5DataSourceTestSuite.scala:115).
 */
object Bi5Codec {

  /** Width of one on-disk record after decompression. */
  final val RecordBytes = 20

  /** One decoded tick, still relative to its file's hour base. */
  final case class Tick(msOffset: Int, askRaw: Int, bidRaw: Int, askVol: Float, bidVol: Float)

  /** Decode buffer: ~64 KiB, a whole number of records. */
  private final val ChunkRecords = 3276

  /**
   * Streaming record decode over an (already decompression-wrapped) input stream.
   *
   * Fault model (must match reference BI5DataSource.scala:166-186):
   *  - clean EOF at a record boundary ends the iterator;
   *  - a trailing partial record is silently dropped;
   *  - ANY exception mid-stream (LZMA corruption, truncation) ends the
   *    iterator silently — records decoded before the fault are kept.
   *
   * Reads the stream in ~64 KiB chunks and parses big-endian fields from the
   * byte buffer directly. Field-at-a-time DataInputStream reads would issue
   * four 1-byte read() calls per int THROUGH the LZMA decoder (~240x more
   * virtual calls) and measure ~25x slower end to end. Memory stays O(chunk).
   */
  def ticks(in: InputStream): Iterator[Tick] = new Iterator[Tick] {
    private[this] val buf = new Array[Byte](RecordBytes * ChunkRecords)
    private[this] var len = 0 // valid bytes in buf
    private[this] var pos = 0 // read cursor
    private[this] var done = false

    private[this] def refill(): Unit = {
      val rem = len - pos
      if (rem > 0) System.arraycopy(buf, pos, buf, 0, rem)
      len = rem
      pos = 0
      try {
        // Read in 4 KiB slices: when LZMA hits corruption mid-read() it
        // discards bytes decoded within THAT call, so the slice size bounds
        // how many records a corrupt tail can lose (~200 here vs ~3275 for
        // whole-buffer reads; the reference's field-at-a-time reads lose at
        // most one record, at a 25x throughput cost). Slicing is free: the
        // decoder amortizes internally, only the call count changes.
        var n = 0
        while (len < buf.length &&
          { n = in.read(buf, len, math.min(4096, buf.length - len)); n > 0 }) {
          len += n
        }
      } catch {
        case NonFatal(_) => done = true // corrupt tail: keep complete records read so far
      }
      if (len < RecordBytes) done = true // clean EOF / partial trailing record dropped
    }

    private[this] def be32(p: Int): Int =
      ((buf(p) & 0xff) << 24) | ((buf(p + 1) & 0xff) << 16) |
        ((buf(p + 2) & 0xff) << 8) | (buf(p + 3) & 0xff)

    override def hasNext: Boolean = {
      if (len - pos < RecordBytes && !done) refill()
      len - pos >= RecordBytes
    }

    override def next(): Tick = {
      if (!hasNext) throw new NoSuchElementException("end of bi5 stream")
      val p = pos
      pos = p + RecordBytes
      Tick(
        be32(p),
        be32(p + 4),
        be32(p + 8),
        java.lang.Float.intBitsToFloat(be32(p + 12)),
        java.lang.Float.intBitsToFloat(be32(p + 16)))
    }
  }

  /** Decoder memory cap (KiB): above every xz preset's dictionary (64 MiB at
    * preset 9). A garbage header can name a dictionary of up to 2 GiB, which
    * the decoder would allocate before reading a byte; with the cap it fails
    * as a corrupt file instead. */
  private final val LzmaMemoryLimitKiB = 128 << 10

  /**
   * Open one `.bi5` file as a decompressed stream (buffered — the decoder
   * issues many small reads against its source), or None when it cannot be
   * opened: bad LZMA header, empty file, missing file. That is the
   * skip-corrupt rule for opening. Only NonFatal failures count as corrupt;
   * an interrupt or a fatal JVM error propagates. The LZMA constructor
   * throws before the caller holds the stream, so the raw stream is closed
   * here, or its descriptor would leak until GC.
   */
  def openLzma(store: Bi5Store, path: String): Option[InputStream] = {
    var raw: InputStream = null
    try {
      raw = store.open(path)
      Some(new org.tukaani.xz.LZMAInputStream(new BufferedInputStream(raw, 1 << 16), LzmaMemoryLimitKiB))
    } catch {
      case NonFatal(_) =>
        if (raw != null) { try raw.close() catch { case NonFatal(_) => } }
        None
    }
  }

  /** `10^digits` divisor for fixed-point price scaling (reference BI5DataSource.scala:100). */
  def priceDivisor(digits: Int): Double = math.pow(10, digits)
}

/**
 * Path-derived metadata for one `.bi5` file:
 * `<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5` (reference README.md:19-23).
 *
 * @param ticker          path regex group 1
 * @param baseEpochMicros UTC epoch microseconds of the file's hour start
 */
final case class Bi5PathMeta(ticker: String, baseEpochMicros: Long) {
  /** Absolute timestamp of a record: hour base + in-record millisecond offset. */
  def tsMicros(msOffset: Int): Long = baseEpochMicros + msOffset * 1000L
}

object Bi5PathMeta {

  // Reference BI5DataSource.scala:95-98. The unescaped '.' before "bi5" is
  // kept deliberately: it is part of the reference's observable matching.
  private val PathPattern =
    """/([a-zA-Z0-9]+)/(\d{4})/(\d{1,2})/(\d{1,2})/(\d{1,2})h_ticks.bi5$""".r

  private val Utc = TimeZone.getTimeZone("UTC")

  /**
   * Parse a file path into tick metadata, or None when the layout doesn't match.
   *
   * `monthOffset` is the `january` option: directories number January as 0
   * (Dukascopy convention, offset 0 = use the dir value as a 0-based month) or
   * as 1 (offset 1 = subtract one first) — reference BI5DataSource.scala:127-129.
   *
   * Date arithmetic is deliberately LENIENT (java.util.Calendar): out-of-range
   * month/day fields roll over, e.g. dir `2019/11/31` (0-based month 11 =
   * December) -> 2019-12-31, and `2020/03/03` -> month 3 = April. The golden
   * fixtures lock this in (reference BI5DataSourceTestSuite.scala:114-116);
   * strict java.time parsing would reject these paths instead.
   */
  def parse(path: String, monthOffset: Int): Option[Bi5PathMeta] = {
    val normalized = path.replace('\\', '/')
    PathPattern.findFirstMatchIn(normalized).map { m =>
      Bi5PathMeta(
        m.group(1),
        lenientBaseMicros(
          m.group(2).toInt,
          m.group(3).toInt - monthOffset, // 0-based for Calendar
          m.group(4).toInt,
          m.group(5).toInt))
    }
  }

  /** The lenient-Calendar hour base for raw (possibly out-of-range) date
    * components — monotone in each field, which is what lets the streaming
    * lister compute exact subtree time bounds from directory names alone. */
  def lenientBaseMicros(year: Int, month0: Int, day: Int, hour: Int): Long = {
    val cal = Calendar.getInstance(Utc)
    cal.clear()
    cal.set(Calendar.YEAR, year)
    cal.set(Calendar.MONTH, month0)
    cal.set(Calendar.DAY_OF_MONTH, day)
    cal.set(Calendar.HOUR_OF_DAY, hour)
    cal.getTimeInMillis * 1000L
  }
}
