package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * MediaCodecs + RealMediaDecoder on REAL format bytes: golden fixtures
 * produced by INDEPENDENT public implementations (the WAV golden is the
 * byte-exact output of CPython's `wave` module; the BMP golden is the
 * public BITMAPFILEHEADER/BITMAPINFOHEADER layout assembled field by
 * field), plus round-trips, chunk-walking, padding, and the loud-failure
 * contract on corrupt payloads.
 */
class MediaCodecsSpec extends AnyFunSuite with SparkSuite {

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // CPython `wave` output for: 8000 Hz mono 16-bit, samples
  // [0, 1000, -1000, 32767, -32768] — an implementation this codebase
  // shares no code with.
  private val GoldenWav = hex(
    "524946462e00000057415645666d74201000000001000100401f0000803e0000" +
      "02001000646174610a0000000000e80318fcff7f0080")
  private val GoldenWavSamples = Array(0, 1000, -1000, 32767, -32768)

  // 2x2 24-bit BMP, top-down pixels (255,0,0),(0,255,0)/(0,0,255),(255,255,255):
  // bottom-up BGR rows padded to 8-byte stride.
  private val GoldenBmp = hex(
    "424d46000000000000003600000028000000020000000200000001001800" +
      "000000001000000000000000000000000000000000000000" +
      "ff0000ffffff00000000ff00ff000000")
  private val GoldenBmpRgb: Array[Byte] =
    Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)

  // ------------------------------------------------------------------ WAV

  test("decodeWav reads the CPython-wave golden byte-exactly") {
    val wav = MediaCodecs.decodeWav(GoldenWav)
    assert(wav.sampleRate === 8000)
    assert(wav.channels === 1)
    assert(wav.bitsPerSample === 16)
    assert(wav.nFrames === 5)
    assert(wav.samples.toSeq === GoldenWavSamples.toSeq)
  }

  test("encodeWavPcm16 emits the identical canonical bytes as CPython wave") {
    val mine = MediaCodecs.encodeWavPcm16(
      8000, 1, GoldenWavSamples.map(_.toShort))
    assert(mine.toSeq === GoldenWav.toSeq)
  }

  test("WAV round-trip: stereo, extremes, empty") {
    val samples = Array[Short](-32768, 32767, 0, -1, 1, 255, -256, 12345)
    val wav = MediaCodecs.decodeWav(MediaCodecs.encodeWavPcm16(44100, 2, samples))
    assert(wav.sampleRate === 44100)
    assert(wav.channels === 2)
    assert(wav.nFrames === 4)
    assert(wav.samples.toSeq === samples.map(_.toInt).toSeq)
    val empty = MediaCodecs.decodeWav(MediaCodecs.encodeWavPcm16(8000, 1, Array.empty))
    assert(empty.nFrames === 0)
  }

  test("decodeWav walks past unknown chunks (LIST between fmt and data, odd-size pad)") {
    val base = MediaCodecs.encodeWavPcm16(8000, 1, Array[Short](7, -7))
    // splice a 5-byte (odd -> 1 pad byte) LIST chunk between fmt and data
    val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](5, 0, 0, 0) ++
      Array[Byte](1, 2, 3, 4, 5, 0)
    val spliced = base.take(36) ++ list ++ base.drop(36)
    // fix the RIFF size field (bytes 4-7, LE)
    val riffSize = spliced.length - 8
    spliced(4) = (riffSize & 0xff).toByte
    spliced(5) = ((riffSize >> 8) & 0xff).toByte
    val wav = MediaCodecs.decodeWav(spliced)
    assert(wav.samples.toSeq === Seq(7, -7))
  }

  test("decodeWav reads 8-bit PCM (unsigned, rebased to signed)") {
    val base = MediaCodecs.encodeWavPcm16(8000, 1, Array[Short](0, 0, 0))
    val b = base.clone()
    // rewrite fmt to 8-bit: bits@34, byteRate@28=8000, blockAlign@32=1, data size 3
    b(34) = 8
    b(28) = (8000 & 0xff).toByte; b(29) = (8000 >> 8).toByte; b(30) = 0; b(31) = 0
    b(32) = 1
    val withData = b.take(44) ++ Array[Byte](0, 128.toByte, 255.toByte)
    withData(40) = 3; withData(41) = 0; withData(42) = 0; withData(43) = 0
    val riffSize = withData.length - 8
    withData(4) = (riffSize & 0xff).toByte; withData(5) = ((riffSize >> 8) & 0xff).toByte
    val wav = MediaCodecs.decodeWav(withData)
    assert(wav.bitsPerSample === 8)
    assert(wav.samples.toSeq === Seq(-128, 0, 127))
  }

  test("decodeWav fails loudly on corrupt payloads") {
    val good = MediaCodecs.encodeWavPcm16(8000, 1, Array[Short](1))
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav("JUNKJUNKJUNKJUNK".getBytes("US-ASCII"))
    }.getMessage.contains("RIFF"))
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav(good.take(20)) // truncated inside fmt
    }.getMessage.nonEmpty)
    val badFormat = good.clone(); badFormat(20) = 3 // IEEE float format
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav(badFormat)
    }.getMessage.contains("format"))
    val badBits = good.clone(); badBits(34) = 24
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav(badBits)
    }.getMessage.contains("bit depth"))
    val lyingChunk = good.clone(); lyingChunk(40) = 99 // data claims 99 bytes
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeWav(lyingChunk)
    }.getMessage.contains("beyond"))
  }

  // ------------------------------------------------------------------ BMP

  test("decodeBmp reads the golden 2x2 bitmap (bottom-up, stride-padded)") {
    val bmp = MediaCodecs.decodeBmp(GoldenBmp)
    assert(bmp.width === 2)
    assert(bmp.height === 2)
    assert(bmp.rgb.toSeq === GoldenBmpRgb.toSeq)
  }

  test("encodeBmp24 emits the identical golden bytes") {
    assert(MediaCodecs.encodeBmp24(2, 2, GoldenBmpRgb).toSeq === GoldenBmp.toSeq)
  }

  test("BMP round-trip at a width that forces row padding") {
    // width 5 -> 15-byte pixel rows inside 16-byte strides
    val rgb = Array.tabulate(3 * 5 * 3)(i => ((i * 37 + 11) % 256).toByte)
    val bmp = MediaCodecs.decodeBmp(MediaCodecs.encodeBmp24(5, 3, rgb))
    assert(bmp.width === 5 && bmp.height === 3)
    assert(bmp.rgb.toSeq === rgb.toSeq)
  }

  test("decodeBmp accepts top-down (negative height) bitmaps") {
    val enc = MediaCodecs.encodeBmp24(2, 2, GoldenBmpRgb).clone()
    // negate the height field (bytes 22-25) and flip the row order in place
    val neg = -2
    enc(22) = (neg & 0xff).toByte; enc(23) = ((neg >> 8) & 0xff).toByte
    enc(24) = ((neg >> 16) & 0xff).toByte; enc(25) = ((neg >> 24) & 0xff).toByte
    val stride = 8
    val row0 = enc.slice(54, 54 + stride)
    System.arraycopy(enc, 54 + stride, enc, 54, stride)
    System.arraycopy(row0, 0, enc, 54 + stride, stride)
    val bmp = MediaCodecs.decodeBmp(enc)
    assert(bmp.rgb.toSeq === GoldenBmpRgb.toSeq)
  }

  test("decodeBmp fails loudly on corrupt payloads") {
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeBmp(Array.fill[Byte](60)(0))
    }.getMessage.contains("magic"))
    val bad8 = GoldenBmp.clone(); bad8(28) = 8
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeBmp(bad8)
    }.getMessage.contains("bit depth"))
    val badComp = GoldenBmp.clone(); badComp(30) = 1 // RLE8
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeBmp(badComp)
    }.getMessage.contains("compression"))
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodeBmp(GoldenBmp.take(60)) // pixel rows truncated
    }.getMessage.contains("exceeds"))
  }

  // ------------------------------------------------------------------ PPM

  test("PPM round-trip and header comment handling") {
    val rgb = Array.tabulate(3 * 4 * 2)(i => (i * 13 % 256).toByte)
    val ppm = MediaCodecs.decodePpm(MediaCodecs.encodePpm(4, 2, rgb))
    assert(ppm.width === 4 && ppm.height === 2)
    assert(ppm.rgb.toSeq === rgb.toSeq)
    val withComment =
      "P6\n# a comment line\n4 2\n# more\n255\n".getBytes("US-ASCII") ++ rgb
    val parsed = MediaCodecs.decodePpm(withComment)
    assert(parsed.width === 4 && parsed.rgb.toSeq === rgb.toSeq)
  }

  test("decodePpm fails loudly on corrupt payloads") {
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePpm("P5\n1 1\n255\n ".getBytes("US-ASCII"))
    }.getMessage.contains("P6"))
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePpm("P6\n1 1\n65535\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    }.getMessage.contains("maxval"))
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePpm("P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    }.getMessage.contains("truncated"))
  }

  // -------------------------------------------------- RealMediaDecoder

  test("RealMediaDecoder decodes real WAV bytes into format + band features") {
    val dec = new Multimodal.RealMediaDecoder(8)
    val f = dec.decode(GoldenWav)
    assert(f(0) === 1f) // WAV
    assert(f(1) === 8000f)
    assert(f(2) === 1f)
    assert(f(3) === 5f)
    // 4 bands over samples [0,1000,-1000,32767,-32768]: boundaries at
    // floor(b*5/4) -> [0,1), [1,2), [2,3), [3,5)
    assert(f(4) === 0f)
    assert(f(5) === 1000f)
    assert(f(6) === -1000f)
    assert(f(7) === -0.5f)
  }

  test("RealMediaDecoder decodes real BMP and PPM bytes") {
    val dec = new Multimodal.RealMediaDecoder(5)
    val fb = dec.decode(GoldenBmp)
    assert(fb(0) === 2f)
    assert(fb(1) === 2f && fb(2) === 2f && fb(3) === 3f)
    // one band = mean of all 12 RGB bytes: six 255s / 12 = 127.5
    assert(fb(4) === 127.5f)
    val fp = dec.decode(MediaCodecs.encodePpm(2, 2, GoldenBmpRgb))
    assert(fp(0) === 3f)
    assert(fp(4) === fb(4))
  }

  test("RealMediaDecoder throws on unknown magic") {
    val dec = new Multimodal.RealMediaDecoder(5)
    assert(intercept[IllegalArgumentException] {
      dec.decode(Array[Byte](1, 2, 3, 4, 5))
    }.getMessage.contains("magic"))
  }

  // ---------------------------------------- Spark-side stat extractors

  private def payloadDf(rows: Seq[(Long, Array[Byte])]) = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, p) => Row(i, p) }, 2),
      schema)
  }

  test("extractFeatures runs RealMediaDecoder over real-format bytes distributed") {
    val df = payloadDf(Seq(
      1L -> GoldenWav,
      2L -> GoldenBmp,
      3L -> MediaCodecs.encodePpm(2, 2, GoldenBmpRgb),
      4L -> null))
    val out = Multimodal
      .extractFeatures(df, "id", "payload", new Multimodal.RealMediaDecoder(8))
      .orderBy("id").collect()
    assert(out(0).getSeq[Float](2).head === 1f) // WAV
    assert(out(0).getLong(1) === GoldenWav.length.toLong)
    assert(out(1).getSeq[Float](2).head === 2f) // BMP
    assert(out(2).getSeq[Float](2).head === 3f) // PPM
    assert(out(3).isNullAt(1) && out(3).isNullAt(2)) // null payload propagates
  }

  test("wavStats emits exact integer stats from real WAV bytes") {
    val out = Multimodal.wavStats(
      payloadDf(Seq(1L -> GoldenWav, 2L -> null)), "id", "payload")
      .orderBy("id").collect()
    val r = out(0)
    assert(r.getLong(1) === 54L) // n_bytes
    assert(r.getInt(2) === 8000)
    assert(r.getInt(3) === 1)
    assert(r.getLong(4) === 5L)
    assert(r.getLong(5) === GoldenWavSamples.map(_.toLong).sum)
    assert(r.getInt(6) === 32767)
    assert(out(1).isNullAt(1))
  }

  test("downscaleBmp: hand-checked floor block means, edge-complete, contracts loud") {
    // 3x3 single-channel-ish image: values 10..90 by tens in row-major R=G=B
    val rgb = (1 to 9).flatMap(v => Seq(v * 10, v * 10, v * 10)).map(_.toByte).toArray
    val img = MediaCodecs.Bmp(3, 3, rgb)
    val small = MediaCodecs.downscaleBmp(img, 2, 2)
    assert(small.width === 2 && small.height === 2)
    def px(b: MediaCodecs.Bmp, i: Int, j: Int): Int = b.rgb(3 * (j * b.width + i)) & 0xff
    // block (0,0): {10,20,40,50} -> 30; edge col (1,0): {30,60} -> 45
    // edge row (0,1): {70,80} -> 75; corner (1,1): {90} -> 90
    assert(px(small, 0, 0) === 30)
    assert(px(small, 1, 0) === 45)
    assert(px(small, 0, 1) === 75)
    assert(px(small, 1, 1) === 90)
    // factor 1 is the identity
    assert(MediaCodecs.downscaleBmp(img, 1, 1).rgb.toSeq === rgb.toSeq)
    // channels stay independent: mark one G byte and verify only G moves
    val rgb2 = rgb.clone(); rgb2(1) = (rgb2(1) + 12).toByte
    val s2 = MediaCodecs.downscaleBmp(MediaCodecs.Bmp(3, 3, rgb2), 2, 2)
    assert((s2.rgb(0) & 0xff) === 30 && (s2.rgb(2) & 0xff) === 30)
    assert((s2.rgb(1) & 0xff) === 33) // (22+20+40+50)/4
    intercept[IllegalArgumentException] { MediaCodecs.downscaleBmp(img, 0, 1) }
  }

  test("resizeImageStats round-trips decode -> downscale -> encode on real bytes") {
    val out = Multimodal.resizeImageStats(
      payloadDf(Seq(1L -> GoldenBmp)), "id", "payload", 2, 2)
      .collect()(0)
    assert(out.getInt(1) === 2 && out.getInt(2) === 2) // in dims
    assert(out.getInt(3) === 1 && out.getInt(4) === 1) // out dims
    assert(out.getLong(5) === 58L) // 54 header + 3 bytes + 1 pad
    val means = (0 until 3).map { ch =>
      (0 until 4).map(p => GoldenBmpRgb(3 * p + ch) & 0xff).sum / 4
    }
    assert(out.getLong(6) === means.map(_.toLong).sum)
    assert(out.getLong(7) === means.zipWithIndex.map {
      case (v, i) => v.toLong * (1L + i % 97)
    }.sum)
  }

  test("downsampleWavStats floor-means pool negative amplitudes like // does") {
    // 5 mono samples at 1000 Hz, factor 2: blocks {-3,-4} -> -4 (floor of
    // -3.5, NOT -3), {5, 6} -> 5, tail {7} -> 7
    val wav = MediaCodecs.encodeWavPcm16(1000, 1, Array[Short](-3, -4, 5, 6, 7))
    val out = Multimodal.downsampleWavStats(
      payloadDf(Seq(1L -> wav)), "id", "payload", 2).collect()(0)
    assert(out.getLong(1) === 5L && out.getLong(2) === 3L)
    assert(out.getInt(3) === 500)
    assert(out.getLong(4) === 44L + 2L * 3) // re-encoded RIFF size
    assert(out.getLong(5) === (-4L + 5L + 7L))
    assert(out.getLong(6) === -4L * 1 + 5L * 2 + 7L * 3)
  }

  test("imageStats emits exact integer stats from real BMP and PPM bytes") {
    val out = Multimodal.imageStats(
      payloadDf(Seq(
        1L -> GoldenBmp,
        2L -> MediaCodecs.encodePpm(2, 2, GoldenBmpRgb))), "id", "payload")
      .orderBy("id").collect()
    val expectedSum = GoldenBmpRgb.map(b => (b & 0xff).toLong).sum
    Seq(out(0), out(1)).foreach { r =>
      assert(r.getInt(2) === 2 && r.getInt(3) === 2)
      assert(r.getLong(4) === expectedSum)
      assert(r.getInt(5) === 255)
    }
    assert(out(0).getLong(1) === 70L) // BMP byte size incl. stride padding
  }

  test("flipBmpHorizontal mirrors rows, preserves channels, and is an involution") {
    // golden 2x2: row0 = red, green; row1 = blue, white
    val img = MediaCodecs.Bmp(2, 2, GoldenBmpRgb)
    val flipped = MediaCodecs.flipBmpHorizontal(img)
    // row0 becomes green, red; row1 becomes white, blue — channel order intact
    assert(flipped.rgb.toSeq === Array(
      0, 255, 0, 255, 0, 0, 255, 255, 255, 0, 0, 255).map(_.toByte).toSeq)
    assert(MediaCodecs.flipBmpHorizontal(flipped).rgb.toSeq === GoldenBmpRgb.toSeq)
    // odd width: the center pixel stays fixed
    val odd = MediaCodecs.Bmp(3, 1, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))
    assert(MediaCodecs.flipBmpHorizontal(odd).rgb.toSeq ===
      Seq[Byte](7, 8, 9, 4, 5, 6, 1, 2, 3))
  }

  test("imageAhash: hand-checked mean vote, zero-extension, null/contract paths") {
    // 2x2 golden: first-4 grays (R channel) = 255, 0, 0, 255.
    // nBits=4: sum 510, mean 127 -> bits at pixels 0 and 3 -> hash 0b1001=9.
    // nBits=8: pixels 4..7 are past the image and read 0; mean 63;
    // bits 0 and 3 again -> hash 9, n_set 2.
    val out4 = Multimodal.imageAhash(
      payloadDf(Seq(1L -> GoldenBmp, 2L -> null)), "id", "payload", nBits = 4)
      .orderBy("id").collect()
    assert(out4(0).getInt(1) === 2 && out4(0).getInt(2) === 2)
    assert(out4(0).getLong(3) === 9L && out4(0).getInt(4) === 2)
    assert(out4(1).isNullAt(3)) // null payload propagates
    val out8 = Multimodal.imageAhash(
      payloadDf(Seq(1L -> GoldenBmp)), "id", "payload", nBits = 8).collect()(0)
    assert(out8.getLong(3) === 9L && out8.getInt(4) === 2)
    // flat image with no zero-padding in frame: mean == every gray, the
    // strict > vote sets no bit -> hash 0; with padding (nBits=4) the two
    // zero-extended slots pull the mean to 3 and both real pixels fire.
    val flat = MediaCodecs.encodeBmp24(2, 1, Array[Byte](7, 7, 7, 7, 7, 7))
    val outFlat = Multimodal.imageAhash(
      payloadDf(Seq(1L -> flat)), "id", "payload", nBits = 2).collect()(0)
    assert(outFlat.getLong(3) === 0L && outFlat.getInt(4) === 0)
    val outPad = Multimodal.imageAhash(
      payloadDf(Seq(1L -> flat)), "id", "payload", nBits = 4).collect()(0)
    assert(outPad.getLong(3) === 3L && outPad.getInt(4) === 2)
    // PPM payloads route through the PPM decoder like imageStats
    val ppm = MediaCodecs.encodePpm(2, 2, GoldenBmpRgb)
    assert(Multimodal.imageAhash(payloadDf(Seq(1L -> ppm)), "id", "payload", 4)
      .collect()(0).getLong(3) === 9L)
    intercept[IllegalArgumentException] {
      Multimodal.imageAhash(payloadDf(Seq()), "id", "payload", 63)
    }
  }

  test("wavVadStats: hand-checked frame votes, floor-mean, tail drop, nulls") {
    // 7 samples, frameLen 3 -> 2 full frames, tail sample dropped.
    // frame0 |amps| {100, 200, 301}: sum 601, floor-mean 200 -> active at
    // threshold 200 (>= is inclusive); frame1 {100, 100, 100}: mean 100 ->
    // silent. Negative amplitudes count via |.|.
    val wav = MediaCodecs.encodeWavPcm16(8000, 1,
      Array[Short](100, -200, 301, -100, 100, -100, 999))
    val out = Multimodal.wavVadStats(
      payloadDf(Seq(1L -> wav, 2L -> null)), "id", "payload",
      frameLen = 3, threshold = 200).orderBy("id").collect()
    val r = out(0)
    assert(r.getLong(1) === 7L) // n_samples
    assert(r.getLong(2) === 2L && r.getLong(3) === 1L && r.getLong(4) === 1L)
    assert(r.getDouble(5) === 0.5d)
    assert(out(1).isNullAt(1) && out(1).isNullAt(5))
    // floor boundary: {5, 5, 6} sum 16 -> floor-mean 5, silent at threshold 6
    val wav2 = MediaCodecs.encodeWavPcm16(8000, 1, Array[Short](5, 5, 6))
    val r2 = Multimodal.wavVadStats(
      payloadDf(Seq(1L -> wav2)), "id", "payload", 3, 6).collect()(0)
    assert(r2.getLong(3) === 0L && r2.getLong(4) === 1L)
    // shorter than one frame: zero frames, silence_frac pinned 0.0
    val r3 = Multimodal.wavVadStats(
      payloadDf(Seq(1L -> wav2)), "id", "payload", 10, 6).collect()(0)
    assert(r3.getLong(2) === 0L && r3.getDouble(5) === 0.0d)
    intercept[IllegalArgumentException] {
      Multimodal.wavVadStats(payloadDf(Seq()), "id", "payload", 0, 1)
    }
  }

  test("decodePpmAt walks concatenated frames of varying header widths") {
    // frame dims chosen so the ASCII headers have DIFFERENT lengths:
    // "P6\n2 2\n255\n" (11 B) vs "P6\n10 1\n255\n" (12 B) — a fixed-stride
    // walk cannot survive this container
    val f1 = MediaCodecs.encodePpm(2, 2, Array.fill(12)(7.toByte))
    val f2 = MediaCodecs.encodePpm(10, 1, Array.fill(30)(9.toByte))
    val video = f1 ++ f2 ++ f1
    var off = 0
    val dims = scala.collection.mutable.ListBuffer[(Int, Int)]()
    while (off < video.length) {
      val (img, used) = MediaCodecs.decodePpmAt(video, off)
      dims += ((img.width, img.height))
      off += used
    }
    assert(off === video.length)
    assert(dims.toList === List((2, 2), (10, 1), (2, 2)))
    // trailing garbage after the last frame fails loudly at the magic check
    intercept[IllegalArgumentException] {
      var o = 0
      val bad = video ++ Array[Byte]('X')
      while (o < bad.length) o += MediaCodecs.decodePpmAt(bad, o)._2
    }
  }

  test("ppmVideoStats: hand-checked stride sampling and frame weights") {
    // 3 frames of 1x1 gray pixels v = 10, 20, 30; stride 2 samples f=0,2:
    // sum = 3*10 + 3*30 = 120; wsum = 1*30 + 3*90 = 300; max = 30
    def gray(v: Int) = MediaCodecs.encodePpm(1, 1, Array.fill(3)(v.toByte))
    val video = gray(10) ++ gray(20) ++ gray(30)
    val out = Multimodal.ppmVideoStats(
      payloadDf(Seq(1L -> video, 2L -> null)), "id", "payload", stride = 2)
      .orderBy("id").collect()
    val r = out(0)
    assert(r.getLong(1) === video.length.toLong)
    assert(r.getInt(2) === 3 && r.getInt(3) === 2)
    assert(r.getLong(4) === 120L)
    assert(r.getLong(5) === 1L * 30 + 3L * 90)
    assert(r.getInt(6) === 30)
    assert(out(1).isNullAt(1) && out(1).isNullAt(4))
    intercept[IllegalArgumentException] {
      Multimodal.ppmVideoStats(payloadDf(Seq()), "id", "payload", 0)
    }
  }

  test("ppmMotionStats: hand-checked pair SADs, weights, static scene, nulls, geometry contract") {
    def gray(v: Int) = MediaCodecs.encodePpm(1, 1, Array.fill(3)(v.toByte))
    // frames 10, 20, 40: pair0 sad = 3*10 = 30, pair1 sad = 3*20 = 60
    // sad = 90; wsad = 1*30 + 2*60 = 150; max = 60
    val video = gray(10) ++ gray(20) ++ gray(40)
    val static0 = gray(7) ++ gray(7)
    val single = gray(99)
    val out = Multimodal.ppmMotionStats(
      payloadDf(Seq(1L -> video, 2L -> static0, 3L -> single, 4L -> null)),
      "id", "payload").orderBy("id").collect()
    assert(out(0).getInt(1) === 3 && out(0).getInt(2) === 2)
    assert(out(0).getLong(3) === 90L && out(0).getLong(4) === 150L)
    assert(out(0).getLong(5) === 60L)
    assert(out(1).getLong(3) === 0L && out(1).getLong(5) === 0L)
    assert(out(2).getInt(2) === 0 && out(2).getLong(3) === 0L)
    assert(out(3).isNullAt(1) && out(3).isNullAt(3))
    // mid-video geometry change fails loudly
    val bad = gray(1) ++ MediaCodecs.encodePpm(2, 1, Array.fill(6)(1.toByte))
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.ppmMotionStats(
        payloadDf(Seq(9L -> bad)), "id", "payload").collect()
    }
    assert(ex.getMessage.contains("geometry changed") ||
      String.valueOf(ex.getCause).contains("geometry changed"))
  }

  test("wavSpectralStats: hand-checked DFT bins, hf census, weights, tail drop, nulls") {
    // frame A: constant 1s -> pure DC: e0 = 64, e2 = 0, e4 = 0
    // frame B: alternating +-1 -> pure Nyquist: e4 = 64, e0 = e2 = 0 (hf)
    // frame C: cos(k=2) pattern 1,0,-1,0,... -> e2 = 16, e0 = e4 = 0
    val a = Array.fill[Short](8)(1)
    val b = Array.tabulate[Short](8)(i => if (i % 2 == 0) 1 else -1)
    val c = Array.tabulate[Short](8)(i =>
      Seq(1, 0, -1, 0)(i % 4).toShort)
    def wav(s: Array[Short]) = MediaCodecs.encodeWavPcm16(8000, 1, s)
    val out = Multimodal.wavSpectralStats(
      payloadDf(Seq(
        1L -> wav(a ++ b ++ c),
        2L -> wav(Array.fill[Short](7)(5)), // < 1 frame -> all zero
        3L -> null)),
      "id", "payload").orderBy("id").collect()
    val r = out(0)
    assert(r.getLong(1) === 3L)
    assert(r.getLong(2) === 64L, "e0")
    assert(r.getLong(3) === 16L, "e2")
    assert(r.getLong(4) === 64L, "e4")
    assert(r.getLong(5) === 1L, "hf census: only the alternating frame")
    // we4 weights frame f by 1 + f: the Nyquist energy sits at f=1 -> 2*64
    assert(r.getLong(6) === 128L, "position-weighted e4")
    assert(out(1).getLong(1) === 0L && out(1).getLong(2) === 0L)
    assert(out(2).isNullAt(1) && out(2).isNullAt(4))
  }

  test("bmpSobelStats: hand-checked 3x3 stencil, edge image, no-interior, nulls") {
    def grayBmp(w: Int, h: Int, vals: Seq[Int]) =
      MediaCodecs.encodeBmp24(w, h,
        vals.flatMap(v => Seq(v.toByte, v.toByte, v.toByte)).toArray)
    // 3x3 ramp: single interior pixel; gx = (20+2*50+80)-(0+2*30+60) = 80,
    // gy = (60+2*70+80)-(0+2*10+20) = 240, mag = 320
    val ramp = grayBmp(3, 3, Seq(0, 10, 20, 30, 40, 50, 60, 70, 80))
    // 3x4 vertical edge (right column 100): both interior pixels mag 400;
    // wsum = 400*(1+0) + 400*(1+1) = 1200 pins the row-major j order
    val edge = grayBmp(3, 4, Seq.fill(4)(Seq(0, 0, 100)).flatten)
    // 5x2: no interior rows -> zeros, not nulls
    val thin = grayBmp(5, 2, Seq.fill(10)(42))
    val out = Multimodal.bmpSobelStats(
      payloadDf(Seq(1L -> ramp, 2L -> edge, 3L -> thin, 4L -> null)),
      "id", "payload").orderBy("id").collect()
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 320L &&
      out(0).getInt(3) === 320 && out(0).getLong(4) === 320L)
    assert(out(1).getLong(1) === 2L && out(1).getLong(2) === 800L &&
      out(1).getInt(3) === 400 && out(1).getLong(4) === 1200L)
    assert(out(2).getLong(1) === 0L && out(2).getLong(2) === 0L &&
      out(2).getInt(3) === 0 && out(2).getLong(4) === 0L)
    assert(out(3).isNullAt(1) && out(3).isNullAt(2) && out(3).isNullAt(4))
  }

  // -------------------------------------------------------------- PNG

  /** Golden 3x6 RGB PNG produced by an INDEPENDENT public implementation
    * (CPython zlib/struct: filters computed per the PNG spec with filter
    * type y % 5, zlib.compress IDAT, zlib.crc32 chunk CRCs), including an
    * ancillary tEXt chunk between IHDR and IDAT to exercise the skip
    * path. Pixels: (r,g,b)[y][x] = (10y+x, 100+3y, 255-7x). */
  private val goldenPng = hex(
    "89504e470d0a1a0a0000000d49484452000000030000000608020000008987b35b" +
      "0000001a74455874436f6d6d656e7400696e646570656e64656e7420676f6c6465" +
      "6e566b6bab0000003a49444154789c636048f9cf98f28329e5232357fa7f46869f" +
      "40c4c4c5cc0041cc22160d6c4c7f818805c86364002106a3e2ffc6c53f4c8a3f02" +
      "00d7340f6c8a8947d70000000049454e44ae426082")

  private def goldenPngPixels: Array[Byte] = {
    val out = new Array[Byte](3 * 3 * 6)
    for (y <- 0 until 6; x <- 0 until 3) {
      out(3 * (y * 3 + x)) = ((10 * y + x) & 0xff).toByte
      out(3 * (y * 3 + x) + 1) = ((100 + 3 * y) & 0xff).toByte
      out(3 * (y * 3 + x) + 2) = ((255 - 7 * x) & 0xff).toByte
    }
    out
  }

  test("decodePng reads the CPython-zlib golden byte-exactly (all 5 filters, tEXt skipped)") {
    val png = MediaCodecs.decodePng(goldenPng)
    assert(png.width === 3 && png.height === 6 && png.channels === 3)
    assert(png.pix.toSeq === goldenPngPixels.toSeq)
  }

  /** Golden 4x5 PALETTE (color type 3) PNG from CPython zlib/struct:
    * 6-entry PLTE, index[y][x] = (y*4+x) % 6, filter y % 5 over the
    * 1-byte INDICES (spec §9.2) — locks unfiltering-before-expansion. */
  private val goldenPalettePng = hex(
    "89504e470d0a1a0a0000000d49484452000000040000000508030000005573bde9" +
      "00000012504c5445ff000000ff000000ff0a141ec89664000000e21f8ca7000000" +
      "1f49444154789c6360606462666461fccdc8f4ef1f0b0bf37f06060616101700" +
      "383f05163d0257060000000049454e44ae426082")

  test("decodePng expands the CPython palette golden through its PLTE") {
    val png = MediaCodecs.decodePng(goldenPalettePng)
    assert(png.width === 4 && png.height === 5 && png.channels === 3)
    val plte = Seq(
      Seq(255, 0, 0), Seq(0, 255, 0), Seq(0, 0, 255),
      Seq(10, 20, 30), Seq(200, 150, 100), Seq(0, 0, 0))
    val expected = (0 until 20).flatMap(i => plte(i % 6))
    assert(png.pix.map(_ & 0xff).toSeq === expected)
  }

  test("PNG round-trip: all four direct color types, extremes, filter-complete heights") {
    // >= 5 rows means encodePng's y % 5 filter schedule uses every filter
    for (channels <- Seq(1, 2, 3, 4)) {
      val w = 5; val h = 7
      val pix = Array.tabulate(w * h * channels) { i =>
        ((i * 41 + 7) % 256 match {
          case v if i % 11 == 0 => 0 // force extremes into the data
          case v if i % 13 == 0 => 255
          case v => v
        }).toByte
      }
      val round = MediaCodecs.decodePng(MediaCodecs.encodePng(w, h, channels, pix))
      assert(round.width === w && round.height === h && round.channels === channels)
      assert(round.pix.toSeq === pix.toSeq, s"channels=$channels round trip")
    }
    // 1x1 minimum
    val one = MediaCodecs.decodePng(MediaCodecs.encodePng(1, 1, 3, Array[Byte](1, 2, 3)))
    assert(one.pix.toSeq === Seq[Byte](1, 2, 3))
  }

  test("decodePng fails loudly on corrupt payloads") {
    // wrong signature
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePng("nope".getBytes)
    }.getMessage.contains("signature"))
    // flipped pixel byte inside IDAT -> CRC mismatch must be caught
    val corrupt = goldenPng.clone()
    corrupt(goldenPng.length - 20) = (corrupt(goldenPng.length - 20) ^ 0x55).toByte
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePng(corrupt)
    }.getMessage.contains("CRC"))
    // truncated mid-chunk (45 bytes = signature + IHDR + a partial tEXt
    // header whose declared length overruns the payload)
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePng(goldenPng.take(45))
    }.getMessage.toLowerCase.contains("chunk"))
    // truncated BETWEEN chunks: walker runs out before any IDAT
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePng(goldenPng.take(40))
    }.getMessage.toLowerCase.contains("idat"))
    // invalid color type (5 does not exist): rebuild IHDR with new CRC so
    // only the color-type check can fire
    val gray = goldenPng.clone()
    gray(8 + 8 + 9) = 5 // IHDR payload byte 9 = color type
    val crc = new java.util.zip.CRC32()
    crc.update(gray, 12, 4 + 13)
    val cv = crc.getValue.toInt
    gray(8 + 8 + 13) = ((cv >>> 24) & 0xff).toByte
    gray(8 + 8 + 14) = ((cv >>> 16) & 0xff).toByte
    gray(8 + 8 + 15) = ((cv >>> 8) & 0xff).toByte
    gray(8 + 8 + 16) = (cv & 0xff).toByte
    assert(intercept[IllegalArgumentException] {
      MediaCodecs.decodePng(gray)
    }.getMessage.contains("color type"))
    // encoder contract checks
    assertThrows[IllegalArgumentException] {
      MediaCodecs.encodePng(0, 1, 3, Array.emptyByteArray)
    }
    assertThrows[IllegalArgumentException] {
      MediaCodecs.encodePng(2, 2, 5, new Array[Byte](20))
    }
    assertThrows[IllegalArgumentException] {
      MediaCodecs.encodePng(2, 2, 3, new Array[Byte](11))
    }
  }

  test("PNG round-trip property: random dims/channels/pixels, 60 shapes") {
    // adversarial shapes a hand fixture can't cover: 1-pixel rows (Sub
    // filter degenerate), single columns (left neighbor always absent),
    // heights < 5 (partial filter schedule), both channel counts, and
    // pixel streams from three generators (constant, ramp, LCG noise)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val shapeGen = org.scalacheck.Gen.zip(
      Gen.chooseNum(1, 9), Gen.chooseNum(1, 9), Gen.oneOf(1, 2, 3, 4), Gen.chooseNum(0, 2))
    for (i <- 0 until 60) {
      val (w, h, c, kind) = shapeGen.apply(Gen.Parameters.default, Seed(97L + i)).get
      val pix = Array.tabulate(w * h * c) { j =>
        (kind match {
          case 0 => 170
          case 1 => j % 256
          case _ => (j * 1103515245 + 12345 + i) >>> 16
        }).toByte
      }
      val round = MediaCodecs.decodePng(MediaCodecs.encodePng(w, h, c, pix))
      assert(round.width === w && round.height === h && round.channels === c,
        s"shape $i: ${w}x$h x$c kind=$kind")
      assert(round.pix.toSeq === pix.toSeq, s"pixels diverged at shape $i: ${w}x$h x$c kind=$kind")
    }
  }

  test("RealMediaDecoder dispatches PNG magic to code-4 features") {
    val dec = new Multimodal.RealMediaDecoder(6)
    val f = dec.decode(goldenPng)
    assert(f(0) === 4f && f(1) === 3f && f(2) === 6f && f(3) === 3f)
    // two band means over the 54 decoded bytes (27 each), exact from pixels
    val px = goldenPngPixels.map(_ & 0xff)
    assert(f(4) === (px.take(27).sum / 27.0).toFloat)
    assert(f(5) === (px.drop(27).sum / 27.0).toFloat)
  }

  test("pngStats emits exact position-weighted stats from real PNG bytes") {
    val rgba = Array.tabulate(4 * 5 * 4)(i => ((i * 17 + 3) % 256).toByte)
    val df = payloadDf(Seq(
      1L -> goldenPng,
      2L -> MediaCodecs.encodePng(4, 5, 4, rgba),
      3L -> null))
    val out = Multimodal.pngStats(df, "id", "payload").orderBy("id").collect()
    val px1 = goldenPngPixels.map(_ & 0xff)
    assert(out(0).getInt(1) === 3 && out(0).getInt(2) === 6 && out(0).getInt(3) === 3)
    assert(out(0).getLong(4) === px1.map(_.toLong).sum)
    assert(out(0).getLong(5) ===
      px1.zipWithIndex.map { case (v, i) => (1L + i % 97) * v }.sum)
    assert(out(0).getInt(6) === px1.max)
    val px2 = rgba.map(_ & 0xff)
    assert(out(1).getInt(1) === 4 && out(1).getInt(2) === 5 && out(1).getInt(3) === 4)
    assert(out(1).getLong(4) === px2.map(_.toLong).sum)
    assert(out(1).isNullAt(1) === false)
    assert(out(2).isNullAt(1) && out(2).isNullAt(4) && out(2).isNullAt(6))
  }

  // ------------------------------------------------------------------ GIF

  /** 4-entry palette: black, red, green, blue. */
  private val gifPalette4: Array[Byte] =
    Array(0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255).map(_.toByte)

  /**
   * Hand-assembled GIF89a golden, derived field by field from the spec
   * (NOT by running the encoder): 3x1 image, 4-entry GCT, indices
   * [1, 1, 1]. The LZW stream at min code size 2 (clear=4, EOI=5, 3-bit
   * codes) is hand-traced: emit clear(4), root 1, then the KwKwK entry 6
   * ("1,1" — referenced before the decoder has stored it), then EOI(5).
   * LSB-first packing of 4,1,6,5 at 3 bits: 4 | 1<<3 | 6<<6 | 5<<9 =
   * 0xB8C -> bytes 8C 0B.
   */
  private val goldenGif: Array[Byte] =
    Array[Int](
      'G', 'I', 'F', '8', '9', 'a',
      0x03, 0x00, 0x01, 0x00, // 3x1 logical screen
      0x91, // GCT present, 2-bit color resolution, 4 entries
      0x00, 0x00, // background, aspect
      0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255, // GCT: black/red/green/blue
      0x2c, 0x00, 0x00, 0x00, 0x00, 0x03, 0x00, 0x01, 0x00, 0x00, // descriptor
      0x02, // LZW min code size
      0x02, 0x8c, 0x0b, // one 2-byte sub-block: the hand-packed LZW stream
      0x00, 0x3b // terminator, trailer
    ).map(_.toByte)

  test("decodeGif reads the hand-assembled LZW golden (KwKwK case) byte-exactly") {
    val gif = MediaCodecs.decodeGif(goldenGif)
    assert(gif.width === 3 && gif.height === 1)
    assert(gif.indices.toSeq === Seq[Byte](1, 1, 1))
    assert(gif.palette.toSeq === gifPalette4.toSeq)
    // palette expansion: index 1 is pure red
    assert(gif.channel(0, 0) === 255 && gif.channel(0, 1) === 0 && gif.channel(0, 2) === 0)
  }

  test("encodeGif emits the identical hand-derived bytes for the golden image") {
    val bytes = MediaCodecs.encodeGif(3, 1, Array[Byte](1, 1, 1), gifPalette4)
    assert(bytes.toSeq === goldenGif.toSeq)
  }

  test("decodeGif skips extension blocks and honors a local color table") {
    val base = MediaCodecs.encodeGif(3, 1, Array[Byte](1, 1, 1), gifPalette4)
    // splice a Graphic Control Extension between the color table and the
    // image descriptor (offset 6+7+12 = 25): 21 F9 04 <4 bytes> 00
    val gce = Array[Int](0x21, 0xf9, 0x04, 0x00, 0x0a, 0x00, 0x00, 0x00).map(_.toByte)
    val spliced = base.take(25) ++ gce ++ base.drop(25)
    val gif = MediaCodecs.decodeGif(spliced)
    assert(gif.indices.toSeq === Seq[Byte](1, 1, 1))
    // flip on the local-table flag and append an inverted 4-entry table
    // right after the image descriptor (ends at 25+10 in the unspliced
    // bytes); the local table must win over the global one
    val local = gifPalette4.map(b => (~b).toByte)
    val withLocal = base.take(25 + 9) ++ Array[Byte]((0x80 | 0x01).toByte) ++
      local ++ base.drop(25 + 10)
    val gifL = MediaCodecs.decodeGif(withLocal)
    assert(gifL.palette.toSeq === local.toSeq)
    assert(gifL.indices.toSeq === Seq[Byte](1, 1, 1))
  }

  test("decodeGif deinterlaces the four-pass row order") {
    // 1x8 column: rows 0..7; interlaced storage order is 0,4,2,6,1,3,5,7
    val palette8 = Array.tabulate(8 * 3)(i => (10 * (i / 3)).toByte)
    val stored = Array[Byte](0, 4, 2, 6, 1, 3, 5, 7)
    val base = MediaCodecs.encodeGif(1, 8, stored, palette8)
    // image descriptor starts at 13 + 24 (GCT); its packed byte is 9 past
    val pOff = 13 + 24 + 9
    assert(base(pOff) === 0)
    val interlaced = base.clone()
    interlaced(pOff) = 0x40.toByte
    val gif = MediaCodecs.decodeGif(interlaced)
    assert(gif.indices.toSeq === Seq.tabulate(8)(_.toByte))
  }

  test("GIF round-trip survives dictionary growth to 12 bits and clear resets") {
    // 60000 LCG-noise indices over a 128-entry palette: the dictionary
    // outgrows 9/10/11-bit widths, hits the 4096 cap, and resets at least
    // once — every width transition and the reset path are exercised
    val palette = Array.tabulate(128 * 3)(i => ((i * 31 + 7) % 256).toByte)
    val indices = Array.tabulate(60000)(j => (((j * 1103515245 + 12345) >>> 17) % 128).toByte)
    val gif = MediaCodecs.decodeGif(MediaCodecs.encodeGif(250, 240, indices, palette))
    assert(gif.width === 250 && gif.height === 240)
    assert(gif.indices.toSeq === indices.toSeq)
    assert(gif.palette.toSeq === palette.toSeq)
  }

  test("GIF encoder widens EOI when the final data code fills 2^codeSize") {
    // 127 symbols whose 126 consecutive pairs are all distinct: the
    // decoder's table hits exactly 256 (= 2^8) on the FINAL data code, so
    // it reads EOI at 9 bits — and with all-8-bit codes the 8-bit EOI ends
    // flush on the stream end, so an encoder that doesn't mirror the final
    // entry-add truncates ("truncated at bit 1032", the sf0.001 q230 bug).
    val palette = Array.tabulate(128 * 3)(i => ((i * 31 + 7) % 256).toByte)
    val indices = Array.tabulate(127)(_.toByte)
    val gif = MediaCodecs.decodeGif(MediaCodecs.encodeGif(127, 1, indices, palette))
    assert(gif.indices.toSeq === indices.toSeq)
    // the same boundary at a mid-byte width (minCode=2: table fills 8 on
    // the final code of [0,1,2] — EOI must be written at 4 bits)
    val g2 = MediaCodecs.decodeGif(MediaCodecs.encodeGif(3, 1, Array[Byte](0, 1, 2), gifPalette4))
    assert(g2.indices.toSeq === Seq[Byte](0, 1, 2))
  }

  test("GIF round-trip property: random dims/palette sizes/pixel kinds") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val shapeGen = Gen.zip(
      Gen.chooseNum(1, 40), Gen.chooseNum(1, 40), Gen.oneOf(1, 2, 3, 7), Gen.chooseNum(0, 2))
    for (i <- 0 until 40) {
      val (w, h, bits, kind) = shapeGen.apply(Gen.Parameters.default, Seed(31L + i)).get
      val entries = 1 << bits
      val palette = Array.tabulate(entries * 3)(j => ((j * 13 + i) % 256).toByte)
      val indices = Array.tabulate(w * h) { j =>
        (kind match {
          case 0 => 1 % entries // constant: KwKwK-heavy runs
          case 1 => j % entries // ramp
          case _ => ((j * 1103515245 + 12345 + i) >>> 16) % entries
        }).toByte
      }
      val round = MediaCodecs.decodeGif(MediaCodecs.encodeGif(w, h, indices, palette))
      assert(round.width === w && round.height === h, s"shape $i: ${w}x$h bits=$bits kind=$kind")
      assert(round.indices.toSeq === indices.toSeq,
        s"indices diverged at shape $i: ${w}x$h bits=$bits kind=$kind")
      assert(round.palette.toSeq === palette.toSeq, s"palette diverged at shape $i")
    }
  }

  test("decodeGif fails loudly on corrupt payloads") {
    val good = MediaCodecs.encodeGif(3, 1, Array[Byte](1, 1, 1), gifPalette4)
    // wrong magic
    val badMagic = good.clone(); badMagic(0) = 'J'
    val e1 = intercept[IllegalArgumentException](MediaCodecs.decodeGif(badMagic))
    assert(e1.getMessage.contains("not GIF"))
    // truncated mid color table
    intercept[IllegalArgumentException](MediaCodecs.decodeGif(good.take(20)))
    // trailer before any image frame
    val noImage = good.take(25) :+ 0x3b.toByte
    val e2 = intercept[IllegalArgumentException](MediaCodecs.decodeGif(noImage))
    assert(e2.getMessage.contains("trailer"))
    // truncated LZW data (chop inside the sub-block): produced < expected
    val chopped = good.take(good.length - 4) ++ Array[Byte](0, 0x3b)
    intercept[IllegalArgumentException](MediaCodecs.decodeGif(chopped))
    // unknown block type where a descriptor should be
    val badBlock = good.clone(); badBlock(25) = 0x7f
    val e3 = intercept[IllegalArgumentException](MediaCodecs.decodeGif(badBlock))
    assert(e3.getMessage.contains("unknown GIF block"))
    // encoder contracts: non-power-of-two palette, out-of-range index
    intercept[IllegalArgumentException](
      MediaCodecs.encodeGif(1, 1, Array[Byte](0), Array.fill(9)(0.toByte)))
    intercept[IllegalArgumentException](
      MediaCodecs.encodeGif(1, 1, Array[Byte](5), gifPalette4))
  }

  test("RealMediaDecoder dispatches GIF magic to code-5 features") {
    val dec = new Multimodal.RealMediaDecoder(6)
    val f = dec.decode(goldenGif)
    assert(f(0) === 5f && f(1) === 3f && f(2) === 1f && f(3) === 3f)
    // 3 red pixels -> 9 RGB bytes [255,0,0]*3; bands of 4 and 5 bytes
    val sig = Array(255, 0, 0, 255, 0, 0, 255, 0, 0)
    assert(f(4) === (sig.take(4).sum / 4.0).toFloat)
    assert(f(5) === (sig.drop(4).sum / 5.0).toFloat)
  }

  test("gifStats emits exact palette-locked stats from real GIF bytes") {
    val palette = Array.tabulate(16 * 3)(j => ((j * 5 + 1) % 256).toByte)
    val indices = Array.tabulate(30)(j => (j % 16).toByte)
    val df = payloadDf(Seq(
      1L -> goldenGif,
      2L -> MediaCodecs.encodeGif(5, 6, indices, palette),
      3L -> null))
    val out = Multimodal.gifStats(df, "id", "payload").orderBy("id").collect()
    assert(out(0).getInt(1) === 3 && out(0).getInt(2) === 1 && out(0).getInt(3) === 4)
    assert(out(0).getLong(4) === 3L * 255) // three red pixels
    assert(out(0).getLong(5) === (1 + 2 + 3).toLong) // weights 1,2,3 on index 1
    assert(out(0).getInt(6) === 1)
    val sumRgb2 = indices.map { ix =>
      (0 until 3).map(ch => palette(3 * (ix & 0xff) + ch) & 0xff).sum.toLong
    }.sum
    assert(out(1).getInt(1) === 5 && out(1).getInt(2) === 6 && out(1).getInt(3) === 16)
    assert(out(1).getLong(4) === sumRgb2)
    assert(out(1).getLong(5) ===
      indices.zipWithIndex.map { case (v, i) => (1L + i % 97) * (v & 0xff) }.sum)
    assert(out(1).getInt(6) === 15)
    assert(out(2).isNullAt(1) && out(2).isNullAt(4) && out(2).isNullAt(6))
  }

  // ------------------------------------------------------------------ JPEG

  test("JPEG: DC-only grayscale goldens decode byte-exact (incl. DC prediction)") {
    // one flat block: DC 16 under the all-8s table -> every pixel 16/8+128 = 130
    val one = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayDc(Array(16), 1))
    assert(one.width === 8 && one.height === 8)
    assert(one.rgb.length === 8 * 8 * 3)
    assert(one.rgb.forall(b => (b & 0xff) == 130))
    // four blocks, 2 wide: pixel value per block = v/8 + 128; the DC
    // stream is DIFF-coded so wrong prediction scrambles blocks 2-4
    val vals = Array(0, 64, -128, 256)
    val img = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayDc(vals, 2))
    assert(img.width === 16 && img.height === 16)
    val expect = vals.map(_ / 8 + 128)
    for (y <- 0 until 16; x <- 0 until 16) {
      val b = (y / 8) * 2 + (x / 8)
      val got = img.rgb((y * 16 + x) * 3) & 0xff
      assert(got === expect(b), s"pixel ($x, $y) in block $b")
      assert((img.rgb((y * 16 + x) * 3 + 1) & 0xff) === got, "gray replicates to G")
      assert((img.rgb((y * 16 + x) * 3 + 2) & 0xff) === got, "gray replicates to B")
    }
  }

  test("JPEG: restart markers reset DC prediction and realign the bit stream") {
    val vals = Array(320, -320, 320, -320, 640, 0)
    val plain = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayDc(vals, 2))
    val rst = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayDc(vals, 2, driEvery = 2))
    assert(plain.rgb.toSeq === rst.rgb.toSeq,
      "DRI/RSTn stream must decode identically to the unrestarted stream")
  }

  /** Test-side bit writer: an independent implementation of the entropy
    * layer (byte stuffing, 1-padding) for hand-built scan streams. */
  private class BitW {
    val out = new java.io.ByteArrayOutputStream()
    private var buf = 0
    private var cnt = 0
    def put(bits: String): Unit = bits.foreach { c =>
      buf = (buf << 1) | (if (c == '1') 1 else 0)
      cnt += 1
      if (cnt == 8) {
        out.write(buf & 0xff)
        if ((buf & 0xff) == 0xff) out.write(0x00)
        buf = 0; cnt = 0
      }
    }
    def putVal(v: Int, n: Int): Unit =
      put((0 until n).map(k => if (((v >> (n - 1 - k)) & 1) == 1) '1' else '0').mkString)
    def done(): Array[Byte] = {
      if (cnt > 0) {
        val pad = (buf << (8 - cnt)) | ((1 << (8 - cnt)) - 1)
        out.write(pad & 0xff)
        if ((pad & 0xff) == 0xff) out.write(0x00)
      }
      out.toByteArray
    }
  }

  /** Annex K luminance table segments shared by the hand-built streams. */
  private def jpegTestHeader(
      w: Int, h: Int, comps: Seq[(Int, Int, Int)]): java.io.ByteArrayOutputStream = {
    val o = new java.io.ByteArrayOutputStream()
    def wr(vs: Int*): Unit = vs.foreach(v => o.write(v & 0xff))
    def seg(marker: Int, body: Seq[Int]): Unit = {
      wr(0xff, marker, (body.length + 2) >> 8, (body.length + 2) & 0xff)
      body.foreach(v => o.write(v & 0xff))
    }
    wr(0xff, 0xd8)
    seg(0xdb, Seq(0x00) ++ Seq.fill(64)(8))
    seg(0xc0, Seq(8, h >> 8, h & 0xff, w >> 8, w & 0xff, comps.length) ++
      comps.flatMap { case (id, hv, tq) => Seq(id, hv, tq) })
    // Annex K luminance DC (class 0 id 0) + AC (class 1 id 0)
    val dcBits = Seq(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    val dcVals = (0 to 11).toSeq
    val acBits = Seq(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
    val acVals = Seq(
      0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
      0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
      0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
      0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
      0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
      0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
      0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
      0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
      0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
      0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
      0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
      0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
      0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
      0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)
    seg(0xc4, Seq(0x00) ++ dcBits ++ dcVals ++ Seq(0x10) ++ acBits ++ acVals)
    seg(0xda, Seq(comps.length) ++ comps.flatMap(c => Seq(c._1, 0x00)) ++ Seq(0, 63, 0))
    o
  }

  test("JPEG: hand-built 4:2:0 color flat image decodes to the exact JFIF conversion") {
    // 16x16, Y=130 (qdc 2), Cb=108 (qdc -20), Cr=148 (qdc 20); MCU order
    // Y1 Y2 Y3 Y4 Cb Cr with EOB after each block. Annex K DC codes:
    // cat0='00', cat2='011', cat5='110'; AC EOB='1010'.
    val o = jpegTestHeader(16, 16, Seq((1, 0x22, 0), (2, 0x11, 0), (3, 0x11, 0)))
    val bw = new BitW
    bw.put("011"); bw.putVal(2, 2); bw.put("1010")      // Y1: DC 2
    bw.put("00"); bw.put("1010")                         // Y2: diff 0
    bw.put("00"); bw.put("1010")                         // Y3
    bw.put("00"); bw.put("1010")                         // Y4
    bw.put("110"); bw.putVal(-20 + 31, 5); bw.put("1010") // Cb: DC -20
    bw.put("110"); bw.putVal(20, 5); bw.put("1010")       // Cr: DC 20
    o.write(bw.done()); o.write(0xff); o.write(0xd9)
    val img = MediaCodecs.decodeJpeg(o.toByteArray)
    assert(img.width === 16 && img.height === 16)
    // R = 130 + 1.402*20 = 158.04 -> 158; G = 130 + 6.88272 - 14.28272 =
    // 122.6 -> 123; B = 130 - 35.44 = 94.56 -> 95
    for (p <- 0 until 256) {
      assert((img.rgb(3 * p) & 0xff) === 158, s"R at $p")
      assert((img.rgb(3 * p + 1) & 0xff) === 123, s"G at $p")
      assert((img.rgb(3 * p + 2) & 0xff) === 95, s"B at $p")
    }
  }

  test("JPEG: a single AC coefficient matches an independent naive IDCT") {
    // grayscale 8x8: DC 0, AC at zigzag 1 (u=1, v=0) = 40, quant 8 -> 320
    val o = jpegTestHeader(8, 8, Seq((1, 0x11, 0)))
    val bw = new BitW
    bw.put("00")              // DC cat 0
    bw.put("1111000")         // AC symbol 0x06 (run 0, size 6)
    bw.putVal(40, 6)          // value 40
    bw.put("1010")            // EOB
    o.write(bw.done()); o.write(0xff); o.write(0xd9)
    val img = MediaCodecs.decodeJpeg(o.toByteArray)
    // independent IDCT: F(u=1, v=0) = 320, all else 0
    for (y <- 0 until 8; x <- 0 until 8) {
      val cu = 1.0 // C(1)
      val cv = 1.0 / StrictMath.sqrt(2.0) // C(0)
      val term = 0.25 * cu * cv *
        StrictMath.cos((2 * x + 1) * 1 * StrictMath.PI / 16.0) *
        StrictMath.cos((2 * y + 1) * 0 * StrictMath.PI / 16.0) * 320.0
      val exp0 = StrictMath.round(term + 128.0).toInt
      val exp = if (exp0 < 0) 0 else if (exp0 > 255) 255 else exp0
      assert((img.rgb((y * 8 + x) * 3) & 0xff) === exp, s"pixel ($x, $y)")
    }
  }

  test("JPEG: corrupt payloads fail loudly, progressive is rejected") {
    val good = MediaCodecs.encodeJpegGrayDc(Array(16), 1)
    // bad magic
    val e1 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg("nope".getBytes("US-ASCII"))
    }
    assert(e1.getMessage.contains("not JPEG"))
    // truncated scan: cut the last 4 bytes (EOI + scan tail)
    val e2 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg(good.dropRight(4))
    }
    assert(e2.getMessage.contains("unexpected end") || e2.getMessage.contains("JPEG"))
    // a baseline stream PATCHED to SOF2 is invalid progressive: its one
    // combined scan declares Ss=0, Se=63, which a progressive DC scan
    // must reject (SOF2 itself now DECODES — see the progressive tests)
    val prog = good.clone()
    val sofAt = {
      var k = 2
      while (!((prog(k) & 0xff) == 0xff && (prog(k + 1) & 0xff) == 0xc0)) k += 1
      k
    }
    prog(sofAt + 1) = 0xc2.toByte
    val e3 = intercept[IllegalArgumentException] { MediaCodecs.decodeJpeg(prog) }
    assert(e3.getMessage.contains("Se = 0"))
    // progressive-but-actually-lossless etc. frame types still fail loudly
    val sof3 = good.clone()
    sof3(sofAt + 1) = 0xc3.toByte
    val e3b = intercept[IllegalArgumentException] { MediaCodecs.decodeJpeg(sof3) }
    assert(e3b.getMessage.contains("SOF3"))
    // garbage after SOI: marker expected
    val e4 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg(Array(0xff, 0xd8, 0x12, 0x34).map(_.toByte))
    }
    assert(e4.getMessage.toLowerCase.contains("marker"))
    // TEM (FF01) outside a scan: must fail loudly as a TEM, not be
    // misparsed as a lengthed segment (the r9 `case 0x01 | _ if ...`
    // guard bound to the whole alternation, so TEM fell to the default
    // arm and read a bogus u16 length from the following bytes)
    val e5 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg(Array(0xff, 0xd8, 0xff, 0x01, 0x00, 0x04).map(_.toByte))
    }
    assert(e5.getMessage.contains("TEM"))
    // RSTn outside a scan: the restart arm, same loud contract
    val e6 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg(Array(0xff, 0xd8, 0xff, 0xd3, 0x00, 0x04).map(_.toByte))
    }
    assert(e6.getMessage.contains("restart"))
  }

  // ------------------------------------------------------------ progressive

  private def dcBlock(dc: Int): Array[Int] = {
    val b = new Array[Int](64); b(0) = dc; b
  }

  test("progressive JPEG decodes identically to baseline on random coefficient grids") {
    // the ground truth: the SAME quantized coefficient blocks encoded
    // baseline (one combined scan) and progressive (spectral selection +
    // successive approximation) must decode to IDENTICAL pixels — the
    // coefficient arrays reconstruct bit-exactly, and the IDCT is shared
    val rnd = new scala.util.Random(42)
    def randBlocks(n: Int): Array[Array[Int]] = Array.fill(n) {
      val b = new Array[Int](64)
      b(0) = rnd.nextInt(401) - 200
      (0 until 8).foreach(_ => b(1 + rnd.nextInt(63)) = rnd.nextInt(61) - 30)
      b
    }
    for ((dcAl, acAl) <- Seq((0, 0), (1, 1), (2, 2), (0, 2), (3, 1))) {
      val blocks = randBlocks(12)
      val base = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayCoefs(blocks, 4))
      val prog = MediaCodecs.decodeJpeg(
        MediaCodecs.encodeJpegGrayProgressive(blocks, 4, dcAl, acAl))
      assert(prog.width === base.width && prog.height === base.height)
      assert(prog.rgb.sameElements(base.rgb),
        s"progressive (dcAl=$dcAl, acAl=$acAl) diverged from baseline")
    }
  }

  test("progressive JPEG: EOB runs, ZRL, and refinement-scan corner cases") {
    // long runs of AC-empty blocks force EOBn > 0 with extra bits; a
    // coefficient after 30+ zeros forces ZRL in the first scan AND the
    // refinement scan (newly-significant |v| = 1 beyond 16 zero-history
    // positions); mixed magnitudes exercise correction bits buffered
    // across EOB runs
    val blocks = Array.tabulate(18) { bi =>
      val b = new Array[Int](64)
      b(0) = (bi % 5) * 16 - 32
      if (bi == 7) { b(40) = 5; b(63) = -3 }
      if (bi == 9) { b(1) = -7; b(2) = 2 }
      if (bi == 13) { b(35) = 1 } // newly significant only at the last refine
      if (bi == 16) { b(63) = -1 }
      b
    }
    for ((dcAl, acAl) <- Seq((0, 0), (1, 1), (2, 2))) {
      val base = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayCoefs(blocks, 6))
      val prog = MediaCodecs.decodeJpeg(
        MediaCodecs.encodeJpegGrayProgressive(blocks, 6, dcAl, acAl))
      assert(prog.rgb.sameElements(base.rgb), s"diverged at (dcAl=$dcAl, acAl=$acAl)")
    }
  }

  test("progressive JPEG: restart intervals reset prediction and EOB runs") {
    val rnd = new scala.util.Random(7)
    val blocks = Array.fill(12) {
      val b = new Array[Int](64)
      b(0) = rnd.nextInt(201) - 100
      if (rnd.nextBoolean()) b(1 + rnd.nextInt(10)) = rnd.nextInt(21) - 10
      b
    }
    val plain = MediaCodecs.decodeJpeg(
      MediaCodecs.encodeJpegGrayProgressive(blocks, 4, 1, 1))
    val withRst = MediaCodecs.encodeJpegGrayProgressive(blocks, 4, 1, 1, driEvery = 2)
    // the restarted stream really carries RSTn markers
    assert((0 until withRst.length - 1).exists(k =>
      (withRst(k) & 0xff) == 0xff && (withRst(k + 1) & 0xff) >= 0xd0
        && (withRst(k + 1) & 0xff) <= 0xd7))
    val rst = MediaCodecs.decodeJpeg(withRst)
    assert(rst.rgb.sameElements(plain.rgb))
  }

  test("progressive JPEG: 4:2:0 color with DC-only planes decodes to exact flat colors") {
    // one MCU, 16x16: Y carries 4 blocks (2x2 sampling), Cb/Cr one each;
    // DC-only blocks make every plane flat, so the expected RGB is exact
    // arithmetic (plane value = dc + 128 under the all-8s quant table)
    val yb = Array(dcBlock(16), dcBlock(16), dcBlock(16), dcBlock(16))
    val img = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegProgressive(
      16, 16, Array((2, 2, yb), (1, 1, Array(dcBlock(-8))), (1, 1, Array(dcBlock(24)))),
      dcAl = 1, acAl = 1))
    assert(img.width === 16 && img.height === 16)
    val (yy, cb, cr) = (144.0, 120.0 - 128.0, 152.0 - 128.0)
    def cl(d: Double): Int = {
      val v = StrictMath.round(d).toInt
      if (v < 0) 0 else if (v > 255) 255 else v
    }
    val (er, eg, eb) =
      (cl(yy + 1.402 * cr), cl(yy - 0.344136 * cb - 0.714136 * cr), cl(yy + 1.772 * cb))
    (0 until 16 * 16).foreach { p =>
      assert((img.rgb(3 * p) & 0xff) === er)
      assert((img.rgb(3 * p + 1) & 0xff) === eg)
      assert((img.rgb(3 * p + 2) & 0xff) === eb)
    }
  }

  test("progressive JPEG: gray DC-only equals the baseline DC encoder's decode") {
    val vals = Array(16, -64, 128, 0, 8, -1024, 1016, 40)
    val base = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayDc(vals, 4))
    val prog = MediaCodecs.decodeJpeg(MediaCodecs.encodeJpegGrayProgressive(
      vals.map(v => dcBlock(v / 8)), 4, dcAl = 1, acAl = 1))
    assert(prog.rgb.sameElements(base.rgb))
  }

  test("progressive JPEG: corrupt streams fail loudly") {
    val blocks = Array(dcBlock(16), dcBlock(-16))
    val good = MediaCodecs.encodeJpegGrayProgressive(blocks, 2, 1, 1)
    // truncated mid-scan
    val e1 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg(good.dropRight(6))
    }
    assert(e1.getMessage.contains("JPEG"))
    // an AC scan naming 3 components is malformed (progressive AC scans
    // are single-component by spec): splice an SOS with ns=3, Ss=1
    val bad = new java.io.ByteArrayOutputStream()
    bad.write(good, 0, good.length - 2) // keep everything up to EOI
    bad.write(Array(0xff, 0xda, 0x00, 0x0a, 0x03, 1, 0, 2, 0, 3, 0, 1, 63, 0)
      .map(_.toByte))
    bad.write(Array(0xff, 0xd9).map(_.toByte))
    val e2 = intercept[IllegalArgumentException] {
      MediaCodecs.decodeJpeg(bad.toByteArray)
    }
    assert(e2.getMessage.contains("single-component") || e2.getMessage.contains("components"))
  }

  test("JPEG: RealMediaDecoder dispatches magic FFD8 to format code 6") {
    val dec = new Multimodal.RealMediaDecoder(6)
    val f = dec.decode(MediaCodecs.encodeJpegGrayDc(Array(16, 16, 16, 16), 2))
    assert(f(0) === 6f)
    assert(f(1) === 16f && f(2) === 16f && f(3) === 3f)
    // flat 130 image: both band means are exactly 130
    assert(f(4) === 130f && f(5) === 130f)
  }
}
