package graft.sources.bi5

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path}

import org.tukaani.xz.{LZMA2Options, LZMAOutputStream}

/** Writes `.bi5` trees at test time: LZMA-alone streams of 20-byte
  * big-endian records, the layout the source decodes. */
object Bi5TreeFixture {

  /** Three ticks per hour file: at the hour start, mid-hour, and on the
    * hour's last millisecond, with prices unique to `seed`. */
  def hourTicks(seed: Int): Seq[Bi5Codec.Tick] =
    Seq(0, 1800000, 3599999).zipWithIndex.map { case (ms, i) =>
      Bi5Codec.Tick(ms, 100000 + seed * 10 + i, 99000 + seed * 10 + i, 1.5f + i, 0.25f * (i + 1))
    }

  def lzma(ticks: Seq[Bi5Codec.Tick]): Array[Byte] = {
    val raw = new ByteArrayOutputStream()
    val d = new DataOutputStream(raw)
    ticks.foreach { t =>
      d.writeInt(t.msOffset); d.writeInt(t.askRaw); d.writeInt(t.bidRaw)
      d.writeFloat(t.askVol); d.writeFloat(t.bidVol)
    }
    d.flush()
    val bytes = raw.toByteArray
    val out = new ByteArrayOutputStream()
    val z = new LZMAOutputStream(out, new LZMA2Options(), bytes.length.toLong)
    z.write(bytes)
    z.close()
    out.toByteArray
  }

  /** Write `bytes` at `root/rel`, creating parent directories. */
  def put(root: Path, rel: String, bytes: Array[Byte]): Path = {
    val f = root.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
  }

  def putHour(root: Path, rel: String, seed: Int): Path = put(root, rel, lzma(hourTicks(seed)))

  /** A file that is not LZMA: its "header" names a ~540 MB dictionary. */
  val Garbage: Array[Byte] = "this is not an lzma stream at all".getBytes("US-ASCII")

  def deleteTree(root: Path): Unit = {
    import scala.reflect.io.Directory
    new Directory(root.toFile).deleteRecursively()
  }
}
