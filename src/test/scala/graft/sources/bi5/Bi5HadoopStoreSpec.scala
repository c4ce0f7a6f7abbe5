package graft.sources.bi5

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, DataFrameReader}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * The whole source through the Hadoop FileSystem store: `file://` URIs route
 * every listing/open through [[HadoopBi5Store]] (the same code path an
 * `s3a://`/`hdfs://` root takes), and must reproduce the reference goldens
 * bit-for-bit — batch counts, partition rule, option validation, pushed
 * count, streaming tail. Each reference-bound test has a hermetic twin
 * below that reads a generated tree through both stores.
 */
class Bi5HadoopStoreSpec extends AnyFunSuite with SparkSuite with BeforeAndAfterAll {

  private val Fixtures = "/root/reference/spark-2.4/src/test/resources"
  private val FixturesUri = s"file://$Fixtures"

  test("file:// directory read reproduces the EURUSD goldens and partition rule") {
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.read.format("bi5").option("digits", 5).load(s"$FixturesUri/EURUSD")
    assert(df.count() === 27521)
    assert(df.rdd.getNumPartitions === 2) // one per immediate child, as local
    val maxTs = df.agg(org.apache.spark.sql.functions.max("ts")).head.getTimestamp(0)
    assert(maxTs.toString === "2020-04-03 00:59:59.036") // lenient roll-over golden
  }

  test("file:// single-file read decodes the golden rows") {
    val df = spark.read.format("bi5").option("digits", 5)
      .load(s"$FixturesUri/EURUSD/2019/11/31/15h_ticks.bi5")
    assert(df.count() === 8816)
    assert(df.rdd.getNumPartitions === 1)
    val first = df.orderBy("ts").first()
    assert(first.getAs[Double]("ask") === 1.12207)
    assert(first.getAs[Double]("bid") === 1.12198)
  }

  test("file:// honors january option and digits like the local path") {
    val df = spark.read.format("bi5")
      .option("digits", 3).option("january", 1)
      .load(s"$FixturesUri/USDJPY")
    assert(df.count() === 1454)
  }

  test("file:// invalid path fails at load() with the verbatim message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("bi5").option("digits", 5).load("file:///definitely/not/here")
    }
    assert(e.getMessage === "Invalid path")
  }

  test("file:// split=files planning and trustHeaders count pushdown") {
    val split = spark.read.format("bi5").option("digits", 5)
      .option("split", "files").load(s"$FixturesUri/EURUSD")
    assert(split.count() === 27521)
    val counted = spark.read.format("bi5").option("digits", 5)
      .option("trustHeaders", true).load(s"$FixturesUri/EURUSD")
    assert(counted.count() === 27521)
  }

  test("file:// ticker filter prunes files through the Hadoop lister") {
    // root holds EURUSD + USDJPY; the EURUSD-digit read filtered to EURUSD
    // must see only EURUSD rows (file pruning on the path-derived ticker)
    val df = spark.read.format("bi5").option("digits", 5).load(FixturesUri)
      .filter(org.apache.spark.sql.functions.col("ticker") === "EURUSD")
    assert(df.count() === 27521)
  }

  test("file:// streaming tail picks up arriving files through the Hadoop store") {
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5hadoopstream")
    def install(rel: String): Unit = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/$rel"), dst, StandardCopyOption.REPLACE_EXISTING)
    }
    install("EURUSD/2019/11/31/15h_ticks.bi5")
    val q = spark.readStream.format("bi5").option("digits", 5)
      .load(s"file://$root")
      .writeStream.format("memory").queryName("bi5_hadoop_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_hadoop_tail").head.getLong(0) === 8816)
      install("EURUSD/2020/03/02/12h_ticks.bi5")
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_hadoop_tail").head.getLong(0) === 8816 + 13809)
    } finally q.stop()
  }

  test("HadoopBi5Store survives java serialization with its configuration") {
    val store = Bi5Store.forPath(s"$FixturesUri/EURUSD")
    assert(store.isInstanceOf[HadoopBi5Store])
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(store); oos.close()
      bos.toByteArray
    }
    val back = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[Bi5Store]
    val files = back.listBi5Files(s"$FixturesUri/EURUSD")
    assert(files.size === 4) // all EURUSD fixture files, recursive
    assert(files.forall(_._2 > 0))
  }

  test("bare local paths still use the nio store") {
    assert(Bi5Store.forPath("/some/local/dir") === NioBi5Store)
    assert(Bi5Store.forPath(s"$FixturesUri/EURUSD").isInstanceOf[HadoopBi5Store])
  }

  // ---- hermetic twins: the contracts above on a generated tree, each read
  // once through file:// (HadoopBi5Store) and once by bare path (nio)

  /** EURUSD with two immediate children, one holding a lenient day (month
    * dir 03 is April, so day 31 is May 1), and one USDJPY hour. */
  private lazy val tree: Path = {
    val root = Files.createTempDirectory("bi5hadooptwin")
    Bi5TreeFixture.putHour(root, "EURUSD/2019/11/31/15h_ticks.bi5", 1)
    Bi5TreeFixture.putHour(root, "EURUSD/2019/11/31/16h_ticks.bi5", 2)
    Bi5TreeFixture.putHour(root, "EURUSD/2020/03/31/00h_ticks.bi5", 3)
    Bi5TreeFixture.putHour(root, "USDJPY/2020/11/01/23h_ticks.bi5", 4)
    root
  }

  override def afterAll(): Unit = try Bi5TreeFixture.deleteTree(tree) finally super.afterAll()

  private def bi5(digits: Int): DataFrameReader = spark.read.format("bi5").option("digits", digits)

  /** `load` over `tree/rel` through the Hadoop store, then the nio store. */
  private def twin(rel: String)(load: String => DataFrame): (DataFrame, DataFrame) = {
    val local = if (rel.isEmpty) tree.toString else s"$tree/$rel"
    (load(s"file://$local"), load(local))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def firstTs(df: DataFrame): String =
    df.selectExpr("cast(min(ts) as string)").head.getString(0)

  test("twin: file:// and nio directory reads agree, with the partition rule") {
    val (h, n) = twin("EURUSD")(bi5(5).load)
    assert(rows(h) === rows(n))
    assert(h.count() === 9)
    assert(h.rdd.getNumPartitions === 2 && n.rdd.getNumPartitions === 2) // one per child
    val maxTs = h.selectExpr("cast(max(ts) as string)").head.getString(0)
    assert(maxTs === "2020-05-01 00:59:59.999") // lenient roll-over
  }

  test("twin: file:// and nio single-file reads decode the same rows") {
    val (h, n) = twin("EURUSD/2019/11/31/15h_ticks.bi5")(bi5(5).load)
    assert(rows(h) === rows(n))
    assert(h.rdd.getNumPartitions === 1 && n.rdd.getNumPartitions === 1)
    val first = h.orderBy("ts").first()
    val t0 = Bi5TreeFixture.hourTicks(1).head
    assert(firstTs(h) === "2019-12-31 15:00:00")
    assert(first.getAs[Double]("ask") === t0.askRaw / 1e5)
    assert(first.getAs[Double]("bid") === t0.bidRaw / 1e5)
  }

  test("twin: file:// and nio honor january and digits alike") {
    val (h, n) = twin("USDJPY")(bi5(3).option("january", 1).load)
    assert(rows(h) === rows(n))
    assert(h.count() === 3)
    assert(firstTs(h) === "2020-11-01 23:00:00") // january=1: month dir 11 is November
    assert(h.orderBy("ts").first().getAs[Double]("ask") ===
      Bi5TreeFixture.hourTicks(4).head.askRaw / 1e3)
  }

  test("twin: file:// and nio fail on a missing path with the verbatim message") {
    val gone = Files.createTempDirectory("bi5gone")
    Files.delete(gone)
    for (p <- Seq(s"file://$gone", gone.toString)) {
      val e = intercept[IllegalArgumentException](bi5(5).load(p))
      assert(e.getMessage === "Invalid path", p)
    }
  }

  test("twin: file:// and nio agree under split=files and the trustHeaders count") {
    val (h, n) = twin("EURUSD")(bi5(5).option("split", "files").load)
    assert(rows(h) === rows(n))
    assert(h.count() === 9)
    val (hc, nc) = twin("EURUSD")(bi5(5).option("trustHeaders", true).load)
    assert(hc.count() === 9 && nc.count() === 9)
  }

  test("twin: a ticker filter prunes the file:// listing as it does the nio one") {
    val (h, n) = twin("")(bi5(5).load(_).filter("ticker = 'EURUSD'"))
    assert(rows(h) === rows(n))
    assert(h.count() === 9)
    val enter = new Bi5FilePruner.Checks(Array[Filter](EqualTo("ticker", "EURUSD"))).dirFilter(0)
    val viaHadoop = Bi5Store.forPath(s"file://$tree").listBi5Files(s"file://$tree", enter)
    val nio = NioBi5Store.listBi5Files(tree.toString, enter)
    assert(viaHadoop.map(_._1.stripPrefix("file:")).sorted === nio.map(_._1).sorted)
    assert(nio.size === 3 && nio.forall(_._1.contains("/EURUSD/")))
  }

  test("twin: file:// and nio streaming tails pick up the same arriving files") {
    /** Counts after the first file and after a second arrives, and the rows. */
    def tail(viaHadoop: Boolean): (Long, Long, Seq[String]) = {
      val root = Files.createTempDirectory("bi5tailtwin")
      val name = s"bi5_tail_twin_$viaHadoop"
      def count = spark.sql(s"select count(*) from $name").head.getLong(0)
      Bi5TreeFixture.putHour(root, "EURUSD/2019/11/31/15h_ticks.bi5", 1)
      val q = spark.readStream.format("bi5").option("digits", 5)
        .load(if (viaHadoop) s"file://$root" else root.toString)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        q.processAllAvailable()
        val before = count
        Bi5TreeFixture.putHour(root, "EURUSD/2020/02/02/12h_ticks.bi5", 5)
        q.processAllAvailable()
        (before, count, rows(spark.table(name)))
      } finally {
        q.stop()
        Bi5TreeFixture.deleteTree(root)
      }
    }
    val viaHadoop = tail(viaHadoop = true)
    assert(viaHadoop === tail(viaHadoop = false))
    assert(viaHadoop._1 === 3 && viaHadoop._2 === 6)
  }

  test("twin: a deserialized HadoopBi5Store lists what the nio store lists") {
    val store = Bi5Store.forPath(s"file://$tree/EURUSD")
    assert(store.isInstanceOf[HadoopBi5Store])
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(store); oos.close()
    val back = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[Bi5Store]
    val files = back.listBi5Files(s"file://$tree/EURUSD")
    assert(files.map { case (p, n) => (p.stripPrefix("file:"), n) }.sorted ===
      NioBi5Store.listBi5Files(s"$tree/EURUSD").sorted)
    assert(files.size === 3 && files.forall(_._2 > 0))
  }
}
