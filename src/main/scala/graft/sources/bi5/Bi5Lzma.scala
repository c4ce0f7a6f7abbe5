package graft.sources.bi5

/**
 * Whole-file decoder for the LZMA-alone format of `.bi5` files (reference
 * BI5DataSource.scala:143 decompresses each hour file as one `.lzma`
 * stream).
 *
 * A file's bytes are decoded in one call into one output array, which is
 * also the LZ dictionary: a match copies from earlier output, so there is
 * no circular window and no copy-out. The range coder reads straight from
 * the input array, one array load per compressed byte.
 *
 * Layout: a 13-byte header (properties byte `lc + 9 lp + 45 pb`, dictionary
 * size as a little-endian u32, decoded size as a little-endian u64 where all
 * ones means unknown and the stream ends with an end marker), then the
 * range-coded data, whose first byte is 0.
 *
 * Fault model: [[decode]] never throws on bad input. It returns the output
 * of every symbol decoded before the first fault: input that ends
 * mid-symbol, a match distance beyond the output so far or beyond the
 * dictionary, a match that runs past the declared size, or output past
 * [[MaxBytes]]. An end marker ends the output the same way. The symbols
 * decoded are the ones xz-java's LZMA-alone input stream decodes from the
 * same bytes, so for any header this decoder accepts, the result extends
 * what that stream returns before it throws (`Bi5LzmaSpec`).
 */
object Bi5Lzma {

  /** Cap on a file's decoded bytes and on its header's dictionary size:
    * above every xz preset's dictionary (64 MiB at preset 9). A header that
    * claims more is corrupt, and nothing is allocated for it. */
  final val MaxBytes = 128 << 20

  final val HeaderBytes = 13

  /** The LZMA-alone header. `size` is -1 when the decoded size is unknown. */
  final case class Header(props: Int, dictSize: Int, size: Long)

  /** The header at the start of `b`, or None when `b` is shorter than a
    * header, the properties byte is out of range (`lc + 9 lp + 45 pb` must
    * stay below 225), or the dictionary or a known size exceeds
    * [[MaxBytes]]. */
  def header(b: Array[Byte]): Option[Header] = {
    if (b.length < HeaderBytes) return None
    val props = b(0) & 0xff
    val dictSize = littleEndian(b, 1, 4)
    val size = littleEndian(b, 5, 8)
    if (props >= 225 || dictSize > MaxBytes || size < -1 || size > MaxBytes) None
    else Some(Header(props, dictSize.toInt, size))
  }

  private def littleEndian(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = off + n - 1
    while (i >= off) { v = (v << 8) | (b(i) & 0xffL); i -= 1 }
    v
  }

  /** The decoded bytes of one whole `.lzma` file: empty when its header is
    * invalid or its range coder cannot start, otherwise the output decoded
    * before the end or the first fault. */
  def decode(file: Array[Byte]): Array[Byte] = header(file) match {
    case Some(h) if file.length >= HeaderBytes + 5 && file(HeaderBytes) == 0 => new Decoder(file, h).run()
    case _ => Array.emptyByteArray
  }

  private final val States = 12
  private final val ProbInit: Short = 1024 // 1/2 in 11-bit fixed point

  // One length coder in one array: two choice bits, then a 3-bit tree per
  // posState for lengths 2-9, the same for 10-17, and an 8-bit tree for
  // 18-273.
  private final val LenMid = 2 + (16 << 3)
  private final val LenHigh = LenMid + (16 << 3)
  private final val LenProbs = LenHigh + 256

  /** Probabilities of the reverse bit trees of distance slots 4-13, packed
    * as the LZMA SDK packs them: slot `s` with base distance `d` uses
    * `specPos(d - s .. d - s + 2^bits - 2)`. */
  private final val SpecPosProbs = 114

  private def probs(n: Int): Array[Short] = {
    val a = new Array[Short](n)
    java.util.Arrays.fill(a, ProbInit)
    a
  }

  private final class Decoder(in: Array[Byte], h: Header) {
    private[this] val lc = h.props % 9
    private[this] val lp = h.props / 9 % 5
    private[this] val litPosMask = (1 << lp) - 1
    private[this] val posMask = (1 << (h.props / 45)) - 1
    // xz-java's dictionary: at least 4 KiB, rounded up to 16 bytes
    private[this] val dictLimit = (math.max(h.dictSize, 4096) + 15) & ~15
    private[this] val limit = if (h.size >= 0) h.size.toInt else MaxBytes

    private[this] var out = new Array[Byte](
      if (h.size >= 0) limit else math.min(MaxBytes.toLong, math.max(1L << 16, in.length * 4L)).toInt)
    private[this] var pos = 0

    private[this] var inPos = HeaderBytes + 5
    private[this] var code =
      ((in(HeaderBytes + 1) & 0xff) << 24) | ((in(HeaderBytes + 2) & 0xff) << 16) |
        ((in(HeaderBytes + 3) & 0xff) << 8) | (in(HeaderBytes + 4) & 0xff)
    private[this] var range = -1 // 0xFFFFFFFF
    /** Set when the range coder wanted a byte past the input: the symbol
      * being decoded is then not output. */
    private[this] var overrun = false

    private[this] val isMatch = probs(States << 4)
    private[this] val isRep = probs(States)
    private[this] val isRep0 = probs(States)
    private[this] val isRep1 = probs(States)
    private[this] val isRep2 = probs(States)
    private[this] val isRep0Long = probs(States << 4)
    private[this] val distSlot = probs(4 << 6)
    private[this] val specPos = probs(SpecPosProbs)
    private[this] val align = probs(16)
    private[this] val matchLen = probs(LenProbs)
    private[this] val repLen = probs(LenProbs)
    private[this] val literals = probs(0x300 << (lc + lp))

    def run(): Array[Byte] = {
      // the LZMA state machine over the last symbol kinds: below 7, the
      // previous symbol was a literal
      var state = 0
      var rep0, rep1, rep2, rep3 = 0
      while (pos < limit) {
        val posState = pos & posMask
        if (bit(isMatch, (state << 4) + posState) == 0) {
          val b = literal(state, rep0)
          if (overrun) return decoded
          if (pos == out.length) grow(pos + 1)
          out(pos) = b.toByte
          pos += 1
          state = if (state < 4) 0 else if (state < 10) state - 3 else state - 6
        } else {
          var len = 1
          if (bit(isRep, state) == 0) { // a match at a new distance
            len = length(matchLen, posState)
            rep3 = rep2; rep2 = rep1; rep1 = rep0
            rep0 = distance(len)
            state = if (state < 7) 7 else 10
          } else if (bit(isRep0, state) == 0) {
            if (bit(isRep0Long, (state << 4) + posState) == 0) { // one byte at rep0
              state = if (state < 7) 9 else 11
            } else {
              len = length(repLen, posState)
              state = if (state < 7) 8 else 11
            }
          } else {
            val d =
              if (bit(isRep1, state) == 0) rep1
              else {
                val d2 = if (bit(isRep2, state) == 0) rep2 else { val d3 = rep3; rep3 = rep2; d3 }
                rep2 = rep1
                d2
              }
            rep1 = rep0
            rep0 = d
            len = length(repLen, posState)
            state = if (state < 7) 8 else 11
          }
          // the end marker's distance, 0xFFFFFFFF, is negative here
          if (overrun || rep0 < 0 || rep0 >= pos || rep0 >= dictLimit || len > limit - pos) return decoded
          copy(rep0, len)
        }
      }
      decoded
    }

    private[this] def decoded: Array[Byte] =
      if (pos == out.length) out else java.util.Arrays.copyOf(out, pos)

    private[this] def grow(min: Int): Unit =
      out = java.util.Arrays.copyOf(out, math.min(MaxBytes.toLong, math.max(min, out.length * 2L)).toInt)

    private[this] def copy(dist: Int, len: Int): Unit = {
      if (pos + len > out.length) grow(pos + len)
      var src = pos - dist - 1
      val end = pos + len
      while (pos < end) {
        out(pos) = out(src)
        pos += 1
        src += 1
      }
    }

    private[this] def literal(state: Int, rep0: Int): Int = {
      val prev = if (pos > 0) out(pos - 1) & 0xff else 0
      val base = 0x300 * (((pos & litPosMask) << lc) + (prev >>> (8 - lc)))
      var sym = 1
      if (state < 7) {
        while (sym < 0x100) sym = (sym << 1) | bit(literals, base + sym)
      } else { // after a match: the byte at rep0 steers the probabilities until a bit differs
        var matchByte = out(pos - rep0 - 1) & 0xff
        var offs = 0x100
        while (sym < 0x100) {
          matchByte <<= 1
          val matchBit = matchByte & offs
          val b = bit(literals, base + offs + matchBit + sym)
          sym = (sym << 1) | b
          offs &= (0 - b) ^ ~matchBit
        }
      }
      sym & 0xff
    }

    private[this] def length(p: Array[Short], posState: Int): Int =
      if (bit(p, 0) == 0) 2 + bitTree(p, 2 + (posState << 3), 3)
      else if (bit(p, 1) == 0) 10 + bitTree(p, LenMid + (posState << 3), 3)
      else 18 + bitTree(p, LenHigh, 8)

    private[this] def distance(len: Int): Int = {
      val slot = bitTree(distSlot, math.min(len - 2, 3) << 6, 6)
      if (slot < 4) slot
      else {
        val bits = (slot >>> 1) - 1
        val base = (2 | (slot & 1)) << bits
        if (slot < 14) base + reverseBits(specPos, base - slot - 1, bits)
        else base + (directBits(bits - 4) << 4) + reverseBits(align, 0, 4)
      }
    }

    private[this] def normalize(): Unit =
      if ((range & 0xff000000) == 0) {
        code = (code << 8) | nextByte()
        range <<= 8
      }

    /** The next compressed byte, or 0 past the end of the input. */
    private[this] def nextByte(): Int =
      if (inPos < in.length) { inPos += 1; in(inPos - 1) & 0xff }
      else { overrun = true; 0 }

    /** One bit, decoded with `p(i)`, the probability of a 0 in 1/2048ths,
      * which then moves 1/32 of the way toward the bit decoded. Branch-free:
      * the bits of tick data are too random for the branch predictor. */
    private[this] def bit(p: Array[Short], i: Int): Int = {
      normalize()
      val prob = p(i)
      val bound = (range >>> 11) * prob
      val b = (((code & 0xffffffffL) - (bound & 0xffffffffL)) >>> 63).toInt ^ 1 // code >= bound, unsigned
      val m = -b // all ones for a 1
      range = (bound & ~m) | ((range - bound) & m)
      code -= bound & m
      p(i) = (prob + (((2048 - prob) >>> 5) & ~m) - ((prob >>> 5) & m)).toShort
      b
    }

    private[this] def bitTree(p: Array[Short], off: Int, bits: Int): Int = {
      var m = 1
      var i = 0
      while (i < bits) { m = (m << 1) | bit(p, off + m); i += 1 }
      m - (1 << bits)
    }

    private[this] def reverseBits(p: Array[Short], off: Int, bits: Int): Int = {
      var m = 1
      var sym = 0
      var i = 0
      while (i < bits) {
        val b = bit(p, off + m)
        m = (m << 1) | b
        sym |= b << i
        i += 1
      }
      sym
    }

    private[this] def directBits(n: Int): Int = {
      var result = 0
      var i = 0
      while (i < n) {
        normalize()
        range >>>= 1
        val t = (code - range) >>> 31
        code -= range & (t - 1)
        result = (result << 1) | (1 - t)
        i += 1
      }
      result
    }
  }
}
