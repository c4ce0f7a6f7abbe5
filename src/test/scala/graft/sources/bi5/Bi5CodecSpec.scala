package graft.sources.bi5

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.tukaani.xz.{LZMA2Options, LZMAInputStream, LZMAOutputStream}

/** Unit + property tests for the pure decoder core (no SparkSession). */
class Bi5CodecSpec extends AnyFunSuite {

  private def encode(ticks: Seq[Bi5Codec.Tick]): Array[Byte] = {
    val raw = new ByteArrayOutputStream()
    val d = new DataOutputStream(raw)
    ticks.foreach { t =>
      d.writeInt(t.msOffset); d.writeInt(t.askRaw); d.writeInt(t.bidRaw)
      d.writeFloat(t.askVol); d.writeFloat(t.bidVol)
    }
    d.flush()
    raw.toByteArray
  }

  private def lzma(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new LZMAOutputStream(out, new LZMA2Options(), bytes.length.toLong)
    z.write(bytes); z.close()
    out.toByteArray
  }

  private val tickGen: Gen[Bi5Codec.Tick] = for {
    ms <- Gen.chooseNum(0, 3599999)
    ask <- Gen.chooseNum(0, Int.MaxValue)
    bid <- Gen.chooseNum(0, Int.MaxValue)
    av <- Gen.chooseNum(0f, 1000f)
    bv <- Gen.chooseNum(0f, 1000f)
  } yield Bi5Codec.Tick(ms, ask, bid, av, bv)

  private def listOf(n: Int, seed: Long): List[Bi5Codec.Tick] =
    Gen.listOfN(n, tickGen).apply(Gen.Parameters.default, Seed(seed)).get

  test("roundtrip: encode -> lzma -> decode recovers every record") {
    val listGen = Gen.chooseNum(0, 200).flatMap(n => Gen.listOfN(n, tickGen))
    (0 until 40).foreach { i =>
      val ticks = listGen.apply(Gen.Parameters.default, Seed(42L + i)).get
      val in = new LZMAInputStream(new ByteArrayInputStream(lzma(encode(ticks))))
      assert(Bi5Codec.ticks(in).toList === ticks)
    }
  }

  test("trailing partial record is dropped silently") {
    val ticks = Seq(Bi5Codec.Tick(1, 2, 3, 4f, 5f), Bi5Codec.Tick(6, 7, 8, 9f, 10f))
    val truncated = encode(ticks).dropRight(7) // cuts the second record mid-way
    val decoded = Bi5Codec.ticks(new ByteArrayInputStream(truncated)).toList
    assert(decoded === Seq(ticks.head))
  }

  test("garbage stream decodes to zero records without throwing") {
    val decoded = Bi5Codec.ticks(new ByteArrayInputStream("this is not lzma".getBytes)).toList
    // raw DataInputStream happily reads 16 garbage bytes as ints/floats until
    // EOF mid-record; the corrupt-file guard lives a level up (LZMA open), so
    // here we just require: no exception, bounded output.
    assert(decoded.length <= 1)
  }

  test("empty stream yields no records") {
    assert(Bi5Codec.ticks(new ByteArrayInputStream(Array.empty[Byte])).isEmpty)
  }

  test("path metadata: lenient month/day roll-over matches reference goldens") {
    // month dir 11 (0-based, january=0) = December
    val dec = Bi5PathMeta.parse("/data/EURUSD/2019/11/31/15h_ticks.bi5", monthOffset = 0).get
    assert(dec.ticker === "EURUSD")
    assert(dec.baseEpochMicros === java.time.Instant.parse("2019-12-31T15:00:00Z").toEpochMilli * 1000L)
    // month dir 03 (0-based) = April — roll-over golden (reference test :116)
    val apr = Bi5PathMeta.parse("/data/EURUSD/2020/03/03/00h_ticks.bi5", monthOffset = 0).get
    assert(apr.baseEpochMicros === java.time.Instant.parse("2020-04-03T00:00:00Z").toEpochMilli * 1000L)
    // january=1 convention: dir 12 = December
    val jpy = Bi5PathMeta.parse("/x/USDJPY/2020/12/01/23h_ticks.bi5", monthOffset = 1).get
    assert(jpy.baseEpochMicros === java.time.Instant.parse("2020-12-01T23:00:00Z").toEpochMilli * 1000L)
  }

  test("path metadata: windows separators and non-matching paths") {
    assert(Bi5PathMeta.parse("""C:\d\EURUSD\2019\11\31\15h_ticks.bi5""", 0).exists(_.ticker == "EURUSD"))
    assert(Bi5PathMeta.parse("/d/EURUSD/2019/11/31/notes.txt", 0).isEmpty)
    assert(Bi5PathMeta.parse("/d/EUR-USD/2019/11/31/15h_ticks.bi5", 0).isEmpty)
  }

  test("timestamp reconstruction adds millisecond offsets as micros") {
    val meta = Bi5PathMeta.parse("/d/EURUSD/2019/0/1/0h_ticks.bi5", 0).get
    assert(meta.tsMicros(90) === meta.baseEpochMicros + 90000L)
  }

  test("byte-level agreement with the reference's own Python decoder") {
    // The reference ships scripts/bi5_to_csv.py (struct.unpack('>3I2f') over
    // lzma) — an independent implementation of the record format. Running it
    // over the golden fixture and comparing raw tuples closes the loop the
    // ScalaCheck roundtrips can't: they test our encoder against our decoder.
    val script = java.nio.file.Paths.get("/root/reference/scripts/bi5_to_csv.py")
    val fixture = java.nio.file.Paths.get(
      "/root/reference/spark-2.4/src/test/resources/EURUSD/2019/11/31/15h_ticks.bi5")
    assume(java.nio.file.Files.exists(script) && java.nio.file.Files.exists(fixture),
      "reference script/fixture not present")
    val python = Seq("/usr/bin/env", "python3")
    // the script writes `<input>.csv` NEXT TO the input; the reference tree
    // is read-only, so run it on a temp copy
    val tmp = java.nio.file.Files.createTempDirectory("bi5xcheck")
    val copy = tmp.resolve("15h_ticks.bi5")
    java.nio.file.Files.copy(fixture, copy)
    val proc = new ProcessBuilder((python :+ script.toString :+ copy.toString): _*)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    assume(proc.waitFor() == 0, s"python3 unavailable or script failed: $out")

    val csv = scala.io.Source.fromFile(copy.toString + ".csv")
    val pyTicks =
      try csv.getLines().drop(1).map { line => // header: ,0,1,2,3,4
        val f = line.split(",")
        (f(1).toLong, f(2).toLong, f(3).toLong, f(4).toFloat, f(5).toFloat)
      }.toVector
      finally csv.close()

    val in = new LZMAInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(copy.toFile)))
    val ours = try Bi5Codec.ticks(in).toVector finally in.close()

    assert(ours.length === pyTicks.length)
    ours.zip(pyTicks).foreach { case (t, (ms, ask, bid, av, bv)) =>
      // the script unpacks unsigned ints ('>3I'); our raw fields are JVM
      // signed ints — identical bits, so compare through the unsigned view
      assert((t.msOffset & 0xffffffffL) === ms)
      assert((t.askRaw & 0xffffffffL) === ask)
      assert((t.bidRaw & 0xffffffffL) === bid)
      assert(t.askVol === av && t.bidVol === bv)
    }
  }

  test("Bi5Lzma agrees with Python's lzma and struct.unpack('>3I2f') on a generated tree") {
    // The hermetic form of the check above: python3's standard lzma module
    // (liblzma, independent of xz-java) and the reference script's struct
    // format decode files written here, in both header forms and with
    // several lc/lp/pb settings.
    val python = scala.util.Try(new ProcessBuilder("python3", "-c", "import lzma, struct").start().waitFor())
    assume(python.toOption.contains(0), "python3 with lzma not available")
    val root = java.nio.file.Files.createTempDirectory("bi5pyxcheck")
    try {
      val rnd = new scala.util.Random(11)
      val files = (0 until 6).map { i =>
        val ticks = listOf(50 + rnd.nextInt(2000), 100L + i)
        val o = new LZMA2Options(i)
        o.setLcLp(i % 4, (i + 1) % 2)
        o.setPb(i % 3)
        val out = new ByteArrayOutputStream()
        val bytes = encode(ticks)
        val z = new LZMAOutputStream(out, o, if (i % 2 == 0) bytes.length.toLong else -1L)
        z.write(bytes); z.close()
        Bi5TreeFixture.put(root, s"EURUSD/2020/0/1/${i}h_ticks.bi5", out.toByteArray)
      }
      val script =
        """import lzma, struct, sys
          |for p in sys.argv[1:]:
          |    raw = lzma.decompress(open(p, 'rb').read(), format=lzma.FORMAT_ALONE)
          |    for r in struct.iter_unpack('>3I2f', raw):
          |        print(p, *map(repr, r))
          |""".stripMargin
      val proc = new ProcessBuilder((Seq("python3", "-c", script) ++ files.map(_.toString)): _*).start()
      val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
      assert(proc.waitFor() === 0, new String(proc.getErrorStream.readAllBytes()))
      val py = lines.map { l =>
        val f = l.split(" ")
        (f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toDouble, f(5).toDouble)
      }
      val ours = files.flatMap { f =>
        val decoded = Bi5Lzma.decode(java.nio.file.Files.readAllBytes(f))
        Bi5Codec.ticks(decoded, decoded.length).map { t =>
          (f.toString, t.msOffset & 0xffffffffL, t.askRaw & 0xffffffffL, t.bidRaw & 0xffffffffL,
            t.askVol.toDouble, t.bidVol.toDouble)
        }
      }
      assert(ours.nonEmpty)
      assert(ours === py)
    } finally Bi5TreeFixture.deleteTree(root)
  }
}
