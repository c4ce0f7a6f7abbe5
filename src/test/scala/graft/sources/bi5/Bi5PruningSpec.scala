package graft.sources.bi5

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Directory-level pruning of the bi5 file walk: a pruned read returns
 * exactly the rows of the same predicate over an unfiltered read, the walk
 * lists only the directories a lookup can match, the nio and Hadoop stores
 * agree, and the layout contract's one exception is pinned. Every tree is
 * generated here with `LZMAOutputStream`.
 */
class Bi5PruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("Bi5PruningSpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def micros(ts: String): Long = {
    val i = java.time.LocalDateTime.parse(ts.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def sqlTs(ts: String): Timestamp = {
    val m = micros(ts)
    val t = new Timestamp(Math.floorDiv(m, 1000L))
    t.setNanos((Math.floorMod(m, 1000000L) * 1000).toInt)
    t
  }

  /** One row as a comparable string: ticker|ts micros|ask|bid|askVol|bidVol. */
  private def key(r: Row): String = {
    val t = r.getTimestamp(1)
    val m = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    s"${r.getString(0)}|$m|${r.getDouble(2)}|${r.getDouble(3)}|${r.getDouble(4)}|${r.getDouble(5)}"
  }

  private def keys(df: DataFrame): Seq[String] = df.collect().map(key).toSeq.sorted

  private def read(path: String, january: Int, extra: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("bi5").option("digits", 5).option("january", january).options(extra).load(path)

  /** Rows of a scan read on the driver through its own partitions and
    * reader factory — the path a runtime (DPP) filter takes. */
  private def scanKeys(scan: Bi5Scan): Seq[String] = {
    val factory = scan.createReaderFactory()
    scan.toBatch.planInputPartitions().toSeq.flatMap { p: InputPartition =>
      val r = factory.createReader(p)
      val out = mutable.Buffer.empty[String]
      try while (r.next()) {
        val g = r.get()
        out += s"${g.getUTF8String(0)}|${g.getLong(1)}|${g.getDouble(2)}|${g.getDouble(3)}|" +
          s"${g.getDouble(4)}|${g.getDouble(5)}"
      } finally r.close()
      out
    }.sorted
  }

  private def scanOf(path: String, january: Int, extra: Map[String, String], pushed: Array[Filter]) = {
    val m = Map("path" -> path, "digits" -> "5", "january" -> january.toString) ++ extra
    new Bi5Scan(Bi5Options.from(k => m.get(k)), Bi5Schema.schema, pushed, Bi5Store.forPath(path))
  }

  /**
   * Three tickers over dirs that exercise the lenient calendar both ways:
   * `2019/11/31` (January-as-0: Dec 31; January-as-1: Nov 31 -> Dec 1),
   * `2020/00/01` (January-as-1: month -1 -> Dec 1 2019, inside the 2020
   * year dir), `2020/01/31` (January-as-0: Feb 31 -> Mar 2), plus month
   * boundaries for both numberings, a garbage, an empty and a wrong-extension
   * file.
   */
  private def equivalenceTree(): (Path, Int) = {
    val root = Files.createTempDirectory("bi5equiv")
    val hours = Seq(
      "2019/11/30/22", "2019/11/30/23",
      "2019/11/31/0", "2019/11/31/15", "2019/11/31/23",
      "2020/00/01/00", "2020/00/01/01",
      "2020/1/1/5",
      "2020/01/31/23", "2020/02/01/0", "2020/02/01/1")
    var seed = 0
    for ((ticker, picks) <- Seq(
        "EURUSD" -> hours,
        "GBPUSD" -> hours.filterNot(_.startsWith("2020/02")),
        "USDJPY" -> hours.filter(h => h.startsWith("2019/11/31") || h.startsWith("2020/0")));
        h <- picks) {
      val parts = h.split('/')
      Bi5TreeFixture.putHour(root, s"$ticker/${parts.init.mkString("/")}/${parts.last}h_ticks.bi5", seed)
      seed += 1
    }
    Bi5TreeFixture.put(root, "EURUSD/2019/11/31/01h_ticks.bi5", Bi5TreeFixture.Garbage)
    Bi5TreeFixture.put(root, "EURUSD/2019/11/31/02h_ticks.bi5", Array.empty)
    Bi5TreeFixture.put(root, "EURUSD/2019/11/31/test.document.txt", "not ticks".getBytes)
    (root, seed * 3)
  }

  private val Predicates = Seq(
    "ticker = 'GBPUSD'",
    "ticker IN ('EURUSD', 'USDJPY')",
    "ticker = 'USDJPY' OR ts < timestamp'2019-12-31 00:00:00'",
    // exact hour starts and ends
    "ts >= timestamp'2019-12-31 15:00:00' AND ts < timestamp'2019-12-31 16:00:00'",
    "ts >= timestamp'2019-12-31 15:00:00' AND ts <= timestamp'2019-12-31 15:59:59.999'",
    "ts > timestamp'2019-12-31 15:59:59.999'",
    "ts = timestamp'2019-12-31 15:00:00'",
    "ts <= timestamp'2019-12-31 15:00:00'",
    "ts < timestamp'2019-12-31 15:00:00'",
    // windows across a month (and year) boundary, one per numbering
    "ticker = 'EURUSD' AND ts >= timestamp'2019-12-31 23:00:00' AND ts < timestamp'2020-01-01 01:00:00'",
    "ticker = 'EURUSD' AND ts >= timestamp'2020-01-31 23:00:00' AND ts < timestamp'2020-02-01 01:00:00'",
    // roll-over days: Mar 2 (January-as-0), Dec 1 2019 (January-as-1)
    "ts >= timestamp'2020-03-02 00:00:00' AND ts < timestamp'2020-03-03 00:00:00'",
    "ts >= timestamp'2019-12-01 00:00:00' AND ts < timestamp'2019-12-02 00:00:00'")

  test("pruned reads return exactly the predicate's rows of an unfiltered read") {
    val (root, expectedRows) = equivalenceTree()
    try {
      val modes = Seq(
        root.toString -> Map.empty[String, String],
        root.toString -> Map("split" -> "files"),
        root.toString -> Map("split" -> "files", "listShards" -> "2"),
        s"file://$root" -> Map.empty[String, String],
        s"file://$root" -> Map("split" -> "files"))
      for (january <- Seq(0, 1)) {
        val all = read(root.toString, january)
        val allRows = all.collect()
        assert(allRows.length === expectedRows, "garbage, empty and .txt files add no rows")
        val unfiltered = spark.createDataFrame(
          spark.sparkContext.parallelize(allRows.toSeq), Bi5Schema.schema)
        var nonTrivial = 0
        for (pred <- Predicates) {
          val expected = keys(unfiltered.filter(pred))
          if (expected.nonEmpty && expected.size < allRows.length) nonTrivial += 1
          for ((path, extra) <- modes) {
            assert(keys(read(path, january, extra).filter(pred)) === expected,
              s"january=$january path=$path $extra: $pred")
          }
        }
        assert(nonTrivial >= 8, s"january=$january: too few predicates select a proper subset")
      }
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("a DPP-style runtime filter prunes the walk and keeps exactly its rows") {
    val (root, _) = equivalenceTree()
    try {
      val allRows = read(root.toString, 0).collect().toSeq
      val pushed = Array[Filter](GreaterThanOrEqual("ts", sqlTs("2019-12-31 00:00:00")))
      val runtime = Array[Filter](In("ticker", Array("GBPUSD", "USDJPY")))
      val lo = micros("2019-12-31 00:00:00")
      val expected = allRows.map(key).filter { k =>
        val f = k.split('|')
        (f(0) == "GBPUSD" || f(0) == "USDJPY") && f(1).toLong >= lo
      }.sorted
      assert(expected.nonEmpty && expected.size < allRows.size)
      for (extra <- Seq(Map.empty[String, String], Map("split" -> "files"))) {
        val scan = scanOf(root.toString, 0, extra, pushed)
        scan.filter(runtime)
        assert(scanKeys(scan) === expected, s"$extra")
      }
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("nio and Hadoop stores return the same pruned file set") {
    val (root, _) = equivalenceTree()
    try {
      val hadoop = new HadoopBi5Store(new SerializableHadoopConf(new org.apache.hadoop.conf.Configuration()))
      val filterSets = Seq(
        Array.empty[Filter],
        Array[Filter](EqualTo("ticker", "GBPUSD")),
        Array[Filter](In("ticker", Array("EURUSD", "USDJPY"))),
        Array[Filter](Or(EqualTo("ticker", "USDJPY"), LessThan("ts", sqlTs("2019-12-31 00:00:00")))),
        Array[Filter](
          GreaterThanOrEqual("ts", sqlTs("2019-12-31 23:00:00")),
          LessThan("ts", sqlTs("2020-01-01 01:00:00"))))
      for (january <- Seq(0, 1); fs <- filterSets) {
        val enter = Bi5FilePruner.dirFilter(january, fs)
        val nio = NioBi5Store.listBi5Files(root.toString, enter).toSet
        val viaHadoop = hadoop.listBi5Files(s"file://$root", enter)
          .map { case (p, n) => (p.stripPrefix("file:"), n) }.toSet
        assert(viaHadoop === nio, s"january=$january ${fs.mkString(",")}")
      }
      // the walk really pruned: a ticker filter never lists another ticker
      val one = NioBi5Store.listBi5Files(root.toString,
        Bi5FilePruner.dirFilter(0, Array[Filter](EqualTo("ticker", "GBPUSD"))))
      assert(one.nonEmpty && one.forall(_._1.contains("/GBPUSD/")))
    } finally Bi5TreeFixture.deleteTree(root)
  }

  /** Delegates to the nio store and records what each walk did: its root,
    * every directory it asked `enterDir` about (with the verdict), and every
    * file it returned. A directory is listed iff it is a walk root or was
    * admitted. */
  private final class ProbeStore extends Bi5Store {
    val roots = mutable.Buffer.empty[String]
    val asked = mutable.LinkedHashMap.empty[String, Boolean]
    val returned = mutable.Buffer.empty[String]
    def listed: Set[String] = roots.toSet ++ asked.collect { case (d, true) => d }
    override def exists(path: String): Boolean = NioBi5Store.exists(path)
    override def isDirectory(path: String): Boolean = NioBi5Store.isDirectory(path)
    override def children(path: String): Seq[Bi5Store.Entry] = NioBi5Store.children(path)
    override def walkBi5Files(root: String, enterDir: String => Boolean): Bi5Store.FileWalk = {
      roots += root
      val w = NioBi5Store.walkBi5Files(root, { d =>
        val v = enterDir(d)
        asked(d) = v
        v
      })
      new Bi5Store.FileWalk {
        override val files: Iterator[(String, Long)] = w.files.map { f => returned += f._1; f }
        override def close(): Unit = w.close()
      }
    }
    override def open(path: String): java.io.InputStream = NioBi5Store.open(path)
    override def fileSize(path: String): Long = NioBi5Store.fileSize(path)
  }

  private def parentOf(p: String): String = p.substring(0, p.lastIndexOf('/'))

  test("a lookup lists only the matching year -> month -> day chain") {
    // 3 tickers x 4 months x 5 days x 4 hours = 240 files, 25 date dirs per ticker
    val root = Files.createTempDirectory("bi5lookup")
    try {
      var seed = 0
      for (t <- Seq("AAA", "BBB", "CCC"); m <- 0 to 3; d <- 1 to 5; h <- 0 to 3) {
        Bi5TreeFixture.putHour(root, s"$t/2020/$m/$d/${h}h_ticks.bi5", seed)
        seed += 1
      }
      // one ticker, 2-hour window: 2020-02-03 02:00 to 04:00 (month dir 1)
      val lookup = Array[Filter](
        EqualTo("ticker", "BBB"),
        GreaterThanOrEqual("ts", sqlTs("2020-02-03 02:00:00")),
        LessThan("ts", sqlTs("2020-02-03 04:00:00")))
      for (extra <- Seq(Map.empty[String, String], Map("split" -> "files"))) {
        val probe = new ProbeStore
        val m = Map("path" -> root.toString, "digits" -> "5") ++ extra
        val scan = new Bi5Scan(Bi5Options.from(k => m.get(k)), Bi5Schema.schema, lookup, probe)
        val rows = scanKeys(scan)
        assert(rows.size === 6, s"$extra: two hours x three ticks")
        assert(rows.forall(_.startsWith("BBB|")))
        // The chain is exact under the lenient calendar: hour names run to
        // 99, so day dir d holds hours up to d + 4 days and Feb 1-3 may all
        // hold Feb 3 02:00; day names run to 99, so Jan's month dir may too
        // (none of its days 1-5 can). Mar (month 2) starts at Feb 29.
        val days = Set(1, 2, 3).map(d => s"$root/BBB/2020/1/$d")
        val chain = Set("BBB/2020", "BBB/2020/0", "BBB/2020/1").map(d => s"$root/$d") ++ days
        val tickerDirs = Set("AAA", "BBB", "CCC").map(t => s"$root/$t")
        // default mode walks each ticker dir; split=files walks the root
        val walkRoots = if (extra.isEmpty) tickerDirs else Set(root.toString)
        assert(probe.roots.toSet === walkRoots)
        assert(probe.listed === tickerDirs ++ walkRoots ++ chain, s"$extra")
        // nothing below a rejected directory was even looked at
        assert(probe.asked.keys.forall(d => probe.listed.contains(parentOf(d))))
        assert(probe.returned.map(parentOf).toSet === days)
        assert(probe.returned.size === 12, "3 day dirs x 4 files of 240")
      }
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("the walk is lazy and pre-order: the first file comes before any sibling is looked at") {
    val root = Files.createTempDirectory("bi5lazy")
    try {
      for (m <- 0 to 2; d <- 1 to 3; h <- 0 to 1)
        Bi5TreeFixture.putHour(root, s"EURUSD/2020/$m/$d/${h}h_ticks.bi5", m * 10 + d)
      val asked = mutable.Buffer.empty[String]
      val w = NioBi5Store.walkBi5Files(s"$root/EURUSD", { d => asked += d; true })
      try {
        val first = w.files.next()._1
        // year, month and day dirs of the first file only
        assert(asked.toSeq === Seq(s"$root/EURUSD/2020", parentOf(parentOf(first)), parentOf(first)))
        val rest = w.files.toVector.map(_._1)
        assert(rest.size === 17)
        // pre-order: each day dir's files are contiguous
        val days = (first +: rest).map(parentOf)
        assert(days.distinct.size === 9 && days.sliding(2).count(p => p(0) != p(1)) === 8)
      } finally w.close()
    } finally Bi5TreeFixture.deleteTree(root)
  }

  /** The listing the nio store made with `Files.walk(FOLLOW_LINKS)` before
    * the pruned walk: regular `.bi5` files in walk order, and the
    * accumulation so far when the traversal faults. */
  private def filesWalkListing(root: Path): Seq[(String, Long)] = {
    val out = Vector.newBuilder[(String, Long)]
    val stream = Files.walk(root, java.nio.file.FileVisitOption.FOLLOW_LINKS)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val f = it.next()
        if (f.toString.toLowerCase.endsWith(".bi5") && Files.isRegularFile(f))
          out += ((f.toString, Files.size(f)))
      }
    } catch { case scala.util.control.NonFatal(_) => }
    finally stream.close()
    out.result()
  }

  test("a symlink loop ends the walk with the Files.walk file set") {
    val root = Files.createTempDirectory("bi5loop")
    try {
      for (d <- Seq("03", "05", "07"); h <- 0 to 1)
        Bi5TreeFixture.putHour(root, s"EURUSD/2019/11/$d/${h}h_ticks.bi5", h)
      // 2019/11/06 -> 2019: entering it would re-enter an ancestor forever
      Files.createSymbolicLink(root.resolve("EURUSD/2019/11/06"), root.resolve("EURUSD/2019"))
      val expected = filesWalkListing(root)
      assert(NioBi5Store.listBi5Files(root.toString) === expected)
      // the same walk under the batch reader: terminates, same rows
      assert(read(root.toString, 0).count() === expected.size * 3L)
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("layout contract: a ticker hierarchy nested in a pruned date dir is not read (batch and stream)") {
    // Spark plans micro-batch scans without filter pushdown, so a stream
    // prunes by its committed hour only.
    val root = Files.createTempDirectory("bi5contract")
    try {
      Bi5TreeFixture.putHour(root, "EURUSD/2019/11/05/10h_ticks.bi5", 1)
      Bi5TreeFixture.putHour(root, "EURUSD/2019/11/01/10h_ticks.bi5", 2)
      // outside the contract: a full GBPUSD hierarchy inside EURUSD's Dec 1
      // day dir (whose hour names can reach Dec 5 03:59 at most); its own
      // path says Dec 5 10:00
      Bi5TreeFixture.putHour(root, "EURUSD/2019/11/01/GBPUSD/2019/11/05/10h_ticks.bi5", 3)
      val pred = "ts >= timestamp'2019-12-05 10:00:00'"
      val all = read(root.toString, 0).collect()
      assert(all.length === 9, "an unfiltered read reaches the nested file")
      val unprunedAnswer = all.filter(r => r.getTimestamp(1).getTime >= micros("2019-12-05 10:00:00") / 1000)
      assert(unprunedAnswer.map(_.getString(0)).toSet === Set("EURUSD", "GBPUSD"))
      // batch: the Dec 1 dir is pruned, so the nested GBPUSD rows are not read,
      // identically through the nio (bare path) and Hadoop (file://) stores
      for (path <- Seq(root.toString, s"file://$root");
           extra <- Seq(Map.empty[String, String], Map("split" -> "files"))) {
        val got = read(path, 0, extra).filter(pred).collect()
        assert(got.map(_.getString(0)).toSet === Set("EURUSD"), s"$path $extra")
        assert(got.length === 3)
      }
      // stream: the first batch reads all three files; then two Dec 6 files
      // arrive, one in a normal day dir and one in a hierarchy nested in the
      // Dec 1 dir, which lies wholly behind the Dec 5 10:00 frontier
      val q = spark.readStream.format("bi5").option("digits", 5).load(root.toString)
        .writeStream.format("memory").queryName("bi5_contract").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.sql("select count(*) from bi5_contract").head.getLong(0) === 9)
        Bi5TreeFixture.putHour(root, "EURUSD/2019/11/06/10h_ticks.bi5", 4)
        Bi5TreeFixture.putHour(root, "EURUSD/2019/11/01/GBPUSD/2019/11/06/10h_ticks.bi5", 5)
        q.processAllAvailable()
        val dec6 = spark.sql("select ticker, count(*) from bi5_contract " +
          "where ts >= timestamp'2019-12-06 00:00:00' group by ticker")
        assert(dec6.collect().map(r => r.getString(0) -> r.getLong(1)).toMap === Map("EURUSD" -> 3))
      } finally q.stop()
      // the stream's pruned relisting from that frontier never enters Dec 1
      val listed = Bi5FileLister.listBi5FilesSince(
        NioBi5Store, root.toString, micros("2019-12-05 10:00:00"), 0).map(_._1)
      assert(listed.toSet === Set("05", "06").map(d => s"$root/EURUSD/2019/11/$d/10h_ticks.bi5"))
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("subtreeBounds is exact: it contains every file below and is reached at both ends") {
    for (january <- Seq(0, 1); (dir, extremes) <- Seq(
        "/r/T/2019" -> Seq("0/0/0", "99/99/99", "11/31/23", "0/1/0"),
        "/r/T/2019/11" -> Seq("0/0", "99/99", "31/15"),
        "/r/T/2020/00/01" -> Seq("0", "99", "23"))) {
      val (ticker, lo, hi) = Bi5FileLister.subtreeBounds(dir, january).get
      assert(ticker === "T")
      val spans = extremes.map { rest =>
        val parts = rest.split('/')
        val file = (dir +: parts.init :+ s"${parts.last}h_ticks.bi5").mkString("/")
        val base = Bi5PathMeta.parse(file, january).get.baseEpochMicros
        (base, base + Bi5FileLister.HourMicros - 1)
      }
      assert(spans.forall { case (a, b) => a >= lo && b <= hi }, s"$dir january=$january")
      assert(spans.head._1 === lo && spans(1)._2 === hi, s"$dir january=$january")
    }
    assert(Bi5FileLister.subtreeBounds("/r/T", 0).isEmpty)
    assert(Bi5FileLister.subtreeBounds("/r/T/2019/11/31/x", 0).isEmpty)
  }
}
