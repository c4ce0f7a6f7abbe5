package perfbench

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.tukaani.xz.LZMAInputStream

import graft.sources.bi5.Bi5Codec

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spec = TreeSpec(Seq("EURUSD", "USDCHF"), LocalDate.of(2024, 2, 28), days = 2, ticksPerFile = 300)
  private val seed = 11L
  private lazy val dir = Files.createTempDirectory("perfbench-gen")
  private lazy val root = dir.resolve("ticks")
  private lazy val written = Gen.writeTree(root, seed, spec, threads = 2)

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(dir).iterator().asScala.toVector.reverse.foreach(Files.delete)
  }

  test("the same seed writes the same bytes; another seed does not") {
    val a = Gen.hour(seed, spec, 1, 5).encode()
    assert(a.sameElements(Gen.hour(seed, spec, 1, 5).encode()))
    assert(!a.sameElements(Gen.hour(seed + 1, spec, 1, 5).encode()))
    assert(!a.sameElements(Gen.hour(seed, spec, 0, 5).encode()))
  }

  test("ticks are increasing inside the hour, with positive spreads") {
    val t = Gen.hour(seed, spec, 0, 0)
    assert(t.msOffset.sliding(2).forall(p => p(0) < p(1)))
    assert(t.msOffset.forall(ms => ms >= 0 && ms < 3600000))
    assert(t.askRaw.indices.forall(i => t.askRaw(i) > t.bidRaw(i)))
  }

  test("paths follow the 0-based month layout across a month end") {
    assert(spec.relPath("EURUSD", 0) == "EURUSD/2024/01/28/00h_ticks.bi5")
    assert(spec.relPath("EURUSD", 47) == "EURUSD/2024/01/29/23h_ticks.bi5")
  }

  test("round trip: the library's codec decodes exactly the generated ticks") {
    assert(written._1.rows == spec.files * spec.ticksPerFile)
    for (k <- spec.tickers.indices; h <- Seq(0, 13, 47)) {
      val want = Gen.hour(seed, spec, k, h)
      val in = new LZMAInputStream(new BufferedInputStream(
        new FileInputStream(root.resolve(spec.relPath(spec.tickers(k), h)).toFile)))
      val got = try Bi5Codec.ticks(in).toVector finally in.close()
      assert(got.size == want.size)
      got.zipWithIndex.foreach { case (t, i) =>
        assert(t.msOffset == want.msOffset(i) && t.askRaw == want.askRaw(i) &&
          t.bidRaw == want.bidRaw(i) && t.askVol == want.askVol(i) && t.bidVol == want.bidVol(i))
      }
    }
  }

  test("Spark's checksum of the tree equals the generator's tally") {
    val df = Workloads.read(spark, root, spec, splitFiles = false)
    assert(Tally.fromRow(df.selectExpr(Tally.sql(spec.digits): _*).head()) == written._1)
    assert(Workloads.tallyOf(df.collect(), spec.digits) == written._1)
  }

  test("a window's tally from collected rows equals the regenerated hours' tally") {
    val from = spec.hourMs(22) + 17 * 60000L
    val until = from + 2 * 3600000L
    val want = (22 to 24).map(h => Gen.tally("USDCHF", spec.hourMs(h), Gen.hour(seed, spec, 1, h), from, until))
      .reduce(_ + _)
    val rows = Workloads.read(spark, root, spec, splitFiles = true)
      .where(s"ticker = 'USDCHF' AND unix_millis(ts) >= $from AND unix_millis(ts) < $until").collect()
    assert(want.rows > 0)
    assert(Workloads.tallyOf(rows, spec.digits) == want)
  }

  test("checks accept the expected answer and reject a corrupted one") {
    val t = written._1
    assert(Workloads.expectRows(t.rows)(Counted(t.rows)).isEmpty)
    assert(Workloads.expectRows(t.rows + 1)(Counted(t.rows)).nonEmpty)
    val rows = Workloads.read(spark, root, spec, splitFiles = false).where("ticker = 'EURUSD'").collect()
    val eur = Workloads.tallyOf(rows, spec.digits)
    assert(Workloads.expectTally(eur, spec.digits)(Collected(rows)).isEmpty)
    assert(Workloads.expectTally(eur.copy(rows = eur.rows + 1), spec.digits)(Collected(rows)).nonEmpty)
    assert(Workloads.expectTally(eur.copy(ask = eur.ask + 1), spec.digits)(Collected(rows)).nonEmpty)
  }
}
