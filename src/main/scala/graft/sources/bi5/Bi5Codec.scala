package graft.sources.bi5

import java.io.InputStream
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
 *
 * Fault model (reference BI5DataSource.scala:149-159,166-186): a file that
 * cannot be read, or whose LZMA header is invalid, yields no records; a
 * file that is corrupt or truncated mid-stream yields every complete record
 * decoded before the fault; a trailing partial record is dropped. The
 * reference reads field by field, so it loses only the records the fault
 * cuts, and [[decodeFile]] loses no more. Only NonFatal failures count as
 * corrupt: an interrupt or a fatal JVM error propagates.
 */
object Bi5Codec {

  /** Width of one on-disk record after decompression. */
  final val RecordBytes = 20

  /** One decoded tick, still relative to its file's hour base. */
  final case class Tick(msOffset: Int, askRaw: Int, bidRaw: Int, askVol: Float, bidVol: Float)

  // The record parser: the fields of the record at byte `p` of a decoded
  // buffer. Every reader goes through these.
  def msOffset(b: Array[Byte], p: Int): Int = be32(b, p)
  def askRaw(b: Array[Byte], p: Int): Int = be32(b, p + 4)
  def bidRaw(b: Array[Byte], p: Int): Int = be32(b, p + 8)
  def askVol(b: Array[Byte], p: Int): Float = java.lang.Float.intBitsToFloat(be32(b, p + 12))
  def bidVol(b: Array[Byte], p: Int): Float = java.lang.Float.intBitsToFloat(be32(b, p + 16))

  def tick(b: Array[Byte], p: Int): Tick = Tick(msOffset(b, p), askRaw(b, p), bidRaw(b, p), askVol(b, p), bidVol(b, p))

  private def be32(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  /** The complete records of `decoded(0 until length)`. */
  def ticks(decoded: Array[Byte], length: Int): Iterator[Tick] =
    Iterator.range(0, length / RecordBytes).map(i => tick(decoded, i * RecordBytes))

  /**
   * The records of an already decompression-wrapped stream: the stream is
   * read to its end in 4 KiB calls, then parsed as one decoded buffer. A
   * clean end drops a trailing partial record; an exception ends the read
   * silently, and the records of the calls that returned before it are
   * kept. The scan itself does not use this: it decodes whole files with
   * [[decodeFile]].
   */
  def ticks(in: InputStream): Iterator[Tick] = {
    var buf = new Array[Byte](1 << 16)
    var len = 0
    try {
      var n = 0
      while ({
        if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
        n = in.read(buf, len, math.min(4096, buf.length - len))
        n > 0
      }) len += n
    } catch {
      case NonFatal(_) => // corrupt tail: keep what was read
    }
    ticks(buf, len)
  }

  /**
   * One `.bi5` file's decoded bytes ([[Bi5Lzma.decode]]): the file is read
   * whole, in one call, and decoded into one array. A file that cannot be
   * opened or read decodes to nothing. At most [[Bi5Lzma.MaxBytes]] of it
   * are read, and the decoded bytes are capped the same way, so a reader
   * holds at most one file's compressed and decoded bytes.
   */
  def decodeFile(store: Bi5Store, path: String): Array[Byte] = {
    val bytes =
      try {
        val in = store.open(path)
        try in.readNBytes(Bi5Lzma.MaxBytes) finally in.close()
      } catch {
        case NonFatal(_) => return Array.emptyByteArray
      }
    Bi5Lzma.decode(bytes)
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
