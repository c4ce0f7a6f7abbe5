package graft.sources.bi5

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.lang.management.ManagementFactory

import scala.util.Random
import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite
import org.tukaani.xz.{LZMA2Options, LZMAInputStream, LZMAOutputStream}

/** Conformance of [[Bi5Lzma]] with xz-java's `LZMAInputStream` on streams
  * xz-java's own encoder writes, intact and damaged. */
class Bi5LzmaSpec extends AnyFunSuite {

  /** A stream with a header: the size known, or unknown with an end marker. */
  private def compress(data: Array[Byte], opts: LZMA2Options, knownSize: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new LZMAOutputStream(out, opts, if (knownSize) data.length.toLong else -1L)
    z.write(data)
    z.close()
    out.toByteArray
  }

  /** What `LZMAInputStream` (with the 128 MiB limit the source used to give
    * it) returns when read in 4 KiB calls until its end or first exception. */
  private def xz(file: Array[Byte]): Array[Byte] = {
    val acc = new ByteArrayOutputStream()
    try {
      val in = new LZMAInputStream(new ByteArrayInputStream(file), 128 << 10)
      val buf = new Array[Byte](4096)
      var n = 0
      while ({ n = in.read(buf); n > 0 }) acc.write(buf, 0, n)
    } catch { case NonFatal(_) => }
    acc.toByteArray
  }

  /** Payloads the encoder treats differently: noise (literals), short
    * repeats, tick-like records, and copies from far back (long distances,
    * direct and align bits). */
  private def payload(rnd: Random): Array[Byte] = {
    val n = if (rnd.nextInt(6) == 0) rnd.nextInt(300000) else rnd.nextInt(16000)
    val b = new Array[Byte](n)
    rnd.nextInt(4) match {
      case 0 => rnd.nextBytes(b)
      case 1 =>
        val alphabet = 1 + rnd.nextInt(8)
        for (i <- b.indices) b(i) = ('a' + rnd.nextInt(alphabet)).toByte
      case 2 =>
        var i = 0
        var ms = 0
        while (i + 20 <= n) {
          ms += rnd.nextInt(900)
          val bb = java.nio.ByteBuffer.wrap(b, i, 20)
          bb.putInt(ms).putInt(112000 + rnd.nextInt(40)).putInt(111990 + rnd.nextInt(40))
            .putFloat(rnd.nextInt(8) * 0.25f).putFloat(rnd.nextInt(8) * 0.25f)
          i += 20
        }
      case _ =>
        rnd.nextBytes(b)
        var i = 0
        while (i < n) {
          val len = 2 + rnd.nextInt(300)
          if (i > 0 && i + len <= n) System.arraycopy(b, rnd.nextInt(i), b, i, len)
          i += len + rnd.nextInt(64)
        }
    }
    b
  }

  /** Random `lc`/`lp`/`pb` (LZMA2Options keeps `lc + lp` at most 4), preset
    * 0-6, either mode, and now and then a small dictionary. */
  private def options(rnd: Random): LZMA2Options = {
    val o = new LZMA2Options(rnd.nextInt(7))
    val lc = rnd.nextInt(5)
    o.setLcLp(lc, rnd.nextInt(5 - lc))
    o.setPb(rnd.nextInt(5))
    o.setMode(if (rnd.nextBoolean()) LZMA2Options.MODE_FAST else LZMA2Options.MODE_NORMAL)
    if (rnd.nextInt(4) == 0) o.setDictSize(LZMA2Options.DICT_SIZE_MIN + rnd.nextInt(1 << 16))
    o
  }

  private def streams(seed: Long, n: Int): Iterator[(Array[Byte], Array[Byte])] = {
    val rnd = new Random(seed)
    Iterator.fill(n) {
      val data = payload(rnd)
      (data, compress(data, options(rnd), knownSize = rnd.nextBoolean()))
    }
  }

  test("intact streams decode byte-identical to LZMAInputStream") {
    streams(17L, 300).zipWithIndex.foreach { case ((data, file), i) =>
      assert(xz(file).sameElements(data), s"case $i: xz-java itself")
      assert(Bi5Lzma.decode(file).sameElements(data), s"case $i: ${data.length} bytes")
    }
  }

  test("truncated and bit-flipped streams: the same prefix as LZMAInputStream, never shorter") {
    val rnd = new Random(29L)
    streams(23L, 300).zipWithIndex.foreach { case ((_, file), i) =>
      val bad =
        if (rnd.nextBoolean()) file.take(rnd.nextInt(file.length + 1))
        else {
          val b = file.clone()
          (0 until 1 + rnd.nextInt(3)).foreach { _ =>
            val at = if (b.length <= 18 || rnd.nextInt(4) == 0) rnd.nextInt(b.length) else 18 + rnd.nextInt(b.length - 18)
            b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
          }
          b
        }
      val ours = Bi5Lzma.decode(bad)
      if (Bi5Lzma.header(bad).isEmpty) {
        assert(ours.isEmpty, s"case $i: rejected header")
      } else {
        val theirs = xz(bad)
        assert(ours.length >= theirs.length, s"case $i: ${ours.length} < ${theirs.length}")
        assert(ours.take(theirs.length).sameElements(theirs), s"case $i: prefixes differ")
      }
    }
  }

  test("a header claiming a size or dictionary above the cap is skipped without being allocated") {
    val data = Array.tabulate[Byte](5000)(i => (i % 7).toByte)
    val file = compress(data, new LZMA2Options(), knownSize = true)
    def withHeader(dict: Long, size: Long): Array[Byte] = {
      val b = file.clone()
      (0 until 4).foreach(i => b(1 + i) = (dict >>> (8 * i)).toByte)
      (0 until 8).foreach(i => b(5 + i) = (size >>> (8 * i)).toByte)
      b
    }
    val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(body: => Unit): Long = {
      val id = Thread.currentThread().getId
      val before = threads.getThreadAllocatedBytes(id)
      body
      threads.getThreadAllocatedBytes(id) - before
    }
    val cap = Bi5Lzma.MaxBytes.toLong
    for ((dict, size) <- Seq((cap + 1, 5000L), (0xffffffffL, 5000L), (1L << 16, cap + 20), (1L << 16, 1L << 40))) {
      val b = withHeader(dict, size)
      assert(Bi5Lzma.header(b).isEmpty)
      assert(allocated(assert(Bi5Lzma.decode(b).isEmpty)) < (1 << 20), s"dict $dict size $size")
    }
    // a dictionary of exactly the cap is valid, and costs nothing: the
    // output array is the dictionary
    val atCap = withHeader(cap, data.length)
    assert(allocated(assert(Bi5Lzma.decode(atCap).sameElements(data))) < (1 << 20))
  }
}
