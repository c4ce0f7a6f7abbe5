package graft.sources.bi5

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Streaming tail of a growing bi5 tree: files copied in between triggers
  * must appear incrementally, exactly once. Each test that copies the
  * reference fixtures has a hermetic twin below over generated hour files. */
class Bi5StreamingSpec extends AnyFunSuite with SparkSuite {

  private val Fixtures = "/root/reference/spark-2.4/src/test/resources"

  test("micro-batch stream picks up arriving hour files incrementally") {
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5stream")
    def installFile(rel: String): Unit = {
      val src = Paths.get(s"$Fixtures/$rel")
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

    installFile("EURUSD/2019/11/31/15h_ticks.bi5") // 8816 rows

    val stream = spark.readStream.format("bi5")
      .option("digits", 5)
      .load(root.toString)
    val q = stream.writeStream
      .format("memory").queryName("bi5_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_tail").head.getLong(0) === 8816)

      // a new hour file "arrives"
      installFile("EURUSD/2020/03/02/12h_ticks.bi5") // 13809 rows
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_tail").head.getLong(0) === 8816 + 13809)

      // no duplicates: re-trigger without new files
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_tail").head.getLong(0) === 8816 + 13809)
      // per-ticker integrity
      assert(spark.sql("select count(distinct ticker) from bi5_tail").head.getLong(0) === 1)
    } finally q.stop()
  }

  test("unpadded hour components stream in event-time order, not path order") {
    // layout regex admits '9h_ticks.bi5'; '10h...' sorts BEFORE '9h...'
    // lexicographically, so a raw-path offset would drop hour 10 forever
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5unpadded")
    def copyAs(src: String, rel: String): Unit = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/$src"), dst, StandardCopyOption.REPLACE_EXISTING)
    }
    copyAs("EURUSD/2019/11/31/15h_ticks.bi5", "EURUSD/2020/03/02/9h_ticks.bi5") // 8816 rows
    val q = spark.readStream.format("bi5")
      .option("digits", 5)
      .load(root.toString)
      .writeStream.format("memory").queryName("bi5_unpadded").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_unpadded").head.getLong(0) === 8816)
      // hour 10 arrives AFTER hour 9 was committed; must not be skipped
      copyAs("EURUSD/2020/03/02/12h_ticks.bi5", "EURUSD/2020/03/02/10h_ticks.bi5") // 13809 rows
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_unpadded").head.getLong(0) === 8816 + 13809)
    } finally q.stop()
  }

  test("offset deserialization is strict: legacy/foreign checkpoints fail loudly") {
    assert(Bi5StreamOffset.fromJson("") === Bi5StreamOffset.Initial)
    val rt = Bi5StreamOffset(1583143200000000L, "/data/EURUSD/2020/03/02/10h_ticks.bi5")
    assert(Bi5StreamOffset.fromJson(rt.json()) === rt)
    // v2 (seen-set) roundtrip; legacy v1 string stays emitted when seen empty
    val v2 = Bi5StreamOffset(1583143200000000L, "/d/EURUSD/2020/03/02/10h_ticks.bi5",
      Set("/d/EURUSD/2020/03/02/9h_ticks.bi5", "/d/EURUSD/2020/03/02/8h_ticks.bi5"))
    assert(v2.json().startsWith("{"))
    assert(Bi5StreamOffset.fromJson(v2.json()) === v2)
    assert(!rt.json().startsWith("{"), "empty seen-set must keep the v1 format")
    intercept[IllegalStateException] { Bi5StreamOffset.fromJson("5") } // old count format
    intercept[IllegalStateException] { Bi5StreamOffset.fromJson("/just/a/path") }
    intercept[IllegalStateException] { Bi5StreamOffset.fromJson("""{"foreign":1}""") }
  }

  test("backfill lookback picks up late files behind the frontier exactly once") {
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5backfill")
    def copyAs(rel: String): Unit = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    copyAs("EURUSD/2020/03/02/12h_ticks.bi5") // frontier: hour 12 (8816 rows)
    val q = spark.readStream.format("bi5")
      .option("digits", 5)
      .option("backfillLookbackHours", 6)
      .load(root.toString)
      .writeStream.format("memory").queryName("bi5_backfill").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_backfill").head.getLong(0) === 8816)
      // hour 10 lands AFTER hour 12 committed — within the 6h window
      copyAs("EURUSD/2020/03/02/10h_ticks.bi5")
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_backfill").head.getLong(0) === 2 * 8816,
        "late file within the lookback window must be picked up")
      // exactly once: idle re-trigger adds nothing
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_backfill").head.getLong(0) === 2 * 8816)
      // hour 2 lands too — OUTSIDE the 6h window behind frontier hour 12
      copyAs("EURUSD/2020/03/02/2h_ticks.bi5")
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_backfill").head.getLong(0) === 2 * 8816,
        "file beyond the lookback window keeps the skip contract")
      // and new files ahead of the frontier still flow
      copyAs("EURUSD/2020/03/02/14h_ticks.bi5")
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_backfill").head.getLong(0) === 3 * 8816)
    } finally q.stop()
  }

  test("backfill survives a restart: late file landing while stopped is recovered") {
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5backfillrestart")
    val ckpt = Files.createTempDirectory("bi5backfillckpt").toString
    val outDir = Files.createTempDirectory("bi5backfillout").toString
    def copyAs(rel: String): Unit = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    // parquet sink: the memory sink refuses checkpoint recovery
    def start() = spark.readStream.format("bi5")
      .option("digits", 5).option("backfillLookbackHours", 6)
      .load(root.toString)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def sunk(): Long = spark.read.parquet(outDir).count()

    copyAs("EURUSD/2020/03/02/12h_ticks.bi5")
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(sunk() === 8816)

    // while the query is DOWN: one late file in-window, one new file ahead
    copyAs("EURUSD/2020/03/02/11h_ticks.bi5")
    copyAs("EURUSD/2020/03/02/13h_ticks.bi5")

    val q2 = start()
    try {
      q2.processAllAvailable()
      // the restarted run must deliver exactly the two files that landed
      // while stopped (the v2 seen-set offset read back from the checkpoint)
      assert(sunk() === 3 * 8816)
      q2.processAllAvailable() // and nothing twice
      assert(sunk() === 3 * 8816)
    } finally q2.stop()
  }

  test("pending-batch replay is toggle-safe: membership derives from offset content") {
    // A batch whose offsets are already in the WAL must replay the same
    // files even if backfillLookbackHours was toggled between stop and
    // restart — membership comes from the offsets, not the current option.
    val root = Files.createTempDirectory("bi5toggle")
    def install(rel: String): String = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    val f12 = install("EURUSD/2020/03/02/12h_ticks.bi5")
    val f10 = install("EURUSD/2020/03/02/10h_ticks.bi5")
    val base12 = Bi5PathMeta.parse(f12, 0).get.baseEpochMicros
    val base10 = Bi5PathMeta.parse(f10, 0).get.baseEpochMicros
    def opts(lookback: Int) = Bi5Options(root.toString, 5, 0, splitPerFile = false,
      Bi5Options.DefaultMaxPartitionBytes, maxPartitionBytesExplicit = false,
      trustHeaders = false, maxFilesPerTrigger = 0, backfillLookbackHours = lookback)
    def stream(lookback: Int) = new Bi5MicroBatchStream(
      opts(lookback), Bi5Schema.schema, Array.empty, "/tmp/ckpt-unused", NioBi5Store)
    def planned(s: Bi5MicroBatchStream, a: Bi5StreamOffset, b: Bi5StreamOffset): Seq[String] =
      s.planInputPartitions(a, b).map(_.asInstanceOf[Bi5Partition].roots.head).toSeq

    // v1 offsets (no seen-set) replayed under lookback-ON: key-range batch
    val v1Start = Bi5StreamOffset(base10, f10)
    val v1End = Bi5StreamOffset(base12, f12)
    assert(planned(stream(6), v1Start, v1End) === Seq(f12),
      "v1 range batch must replay by key range even with lookback enabled")

    // v2 offsets (seen-set manifest incl. a back-fill) replayed under
    // lookback-OFF: the manifest still drives the batch, back-fill included
    val v2Start = Bi5StreamOffset(base12, f12, Set(f12))
    val v2End = Bi5StreamOffset(base12, f12, Set(f12, f10))
    assert(planned(stream(0), v2Start, v2End) === Seq(f10),
      "v2 manifest batch must replay its back-fill file even with lookback disabled")
  }

  test("default mode (no lookback) keeps the skip-behind contract") {
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5skipdefault")
    def copyAs(rel: String): Unit = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    copyAs("EURUSD/2020/03/02/12h_ticks.bi5")
    val q = spark.readStream.format("bi5").option("digits", 5)
      .load(root.toString)
      .writeStream.format("memory").queryName("bi5_skip").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_skip").head.getLong(0) === 8816)
      copyAs("EURUSD/2020/03/02/10h_ticks.bi5") // behind the committed hour
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_skip").head.getLong(0) === 8816,
        "default contract: a file behind the committed offset is skipped")
    } finally q.stop()
  }

  test("pruned relist never re-enumerates committed day directories") {
    val root = Files.createTempDirectory("bi5prune")
    def install(rel: String): Unit = {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(
        Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), dst,
        StandardCopyOption.REPLACE_EXISTING)
    }
    // an "archive" of old day dirs plus one frontier day
    for (d <- 1 to 5) install(s"EURUSD/2020/01/0$d/3h_ticks.bi5")
    install("EURUSD/2020/03/02/9h_ticks.bi5")

    // committed offset = the frontier day's 9h file
    val committed = Bi5PathMeta
      .parse(root.resolve("EURUSD/2020/03/02/9h_ticks.bi5").toString, 0).get.baseEpochMicros

    val enumerated = scala.collection.mutable.ArrayBuffer.empty[String]
    val listed = Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0, enumerated += _)

    // every archive DAY dir was skipped, never enumerated (the month dir
    // itself is visited — its bound carries the lenient 99-day slack)
    assert(!enumerated.exists(_.contains("2020/01/")), s"re-enumerated archive: $enumerated")
    // … the frontier day was still listed, including the AT-offset file
    // (the exact (base, path) key filter owns that tiebreak downstream)
    assert(listed.map(_._1).exists(_.endsWith("2020/03/02/9h_ticks.bi5")))
    // and a file arriving in a NEW hour dir is picked up by the same walk
    install("EURUSD/2020/03/02/10h_ticks.bi5")
    val listed2 = Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0)
    assert(listed2.map(_._1).exists(_.endsWith("10h_ticks.bi5")))
  }

  test("pruned relist respects lenient calendar roll-over bounds") {
    val root = Files.createTempDirectory("bi5prunelenient")
    // dir 2019/11/31 with january=0 is REALLY 2019-12-31 (month 11 = December,
    // lenient): a naive strict-date bound would prune it against a
    // committed offset of 2019-12-15, losing the file
    val dst = root.resolve("EURUSD/2019/11/31/15h_ticks.bi5")
    Files.createDirectories(dst.getParent)
    Files.copy(Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), dst,
      StandardCopyOption.REPLACE_EXISTING)
    val committed = Bi5PathMeta.lenientBaseMicros(2019, 11, 15, 0) // 2019-12-15
    val listed = Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0)
    assert(listed.map(_._1).exists(_.endsWith("15h_ticks.bi5")),
      "lenient roll-over file must survive the pruned walk")
    // while a genuinely old month dir IS pruned
    val old = root.resolve("EURUSD/2019/05/01/3h_ticks.bi5")
    Files.createDirectories(old.getParent)
    Files.copy(Paths.get(s"$Fixtures/EURUSD/2019/11/31/15h_ticks.bi5"), old,
      StandardCopyOption.REPLACE_EXISTING)
    val enumerated = scala.collection.mutable.ArrayBuffer.empty[String]
    Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0, enumerated += _)
    assert(!enumerated.exists(_.contains("2019/05")), "old month dir must not be enumerated")
  }

  test("maxFilesPerTrigger paces the backlog without losing data") {
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("bi5paced")
    for (rel <- Seq("EURUSD/2019/11/31/15h_ticks.bi5", "EURUSD/2020/03/02/12h_ticks.bi5")) {
      val dst = root.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$Fixtures/$rel"), dst, StandardCopyOption.REPLACE_EXISTING)
    }
    val q = spark.readStream.format("bi5")
      .option("digits", 5)
      .option("maxFilesPerTrigger", 1) // backlog of 2 files -> 2 micro-batches
      .load(root.toString)
      .writeStream.format("memory").queryName("bi5_paced").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from bi5_paced").head.getLong(0) === 8816 + 13809)
      // admission control actually split the backlog into multiple batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
    } finally q.stop()
  }

  // ---- hermetic twins: the fixture-copying tests above, over hour files
  // written by Bi5TreeFixture; row counts come from the generated ticks

  /** Write a generated hour file at `root/rel`; returns its row count. */
  private def hour(root: Path, rel: String, seed: Int): Long = {
    Bi5TreeFixture.putHour(root, rel, seed)
    Bi5TreeFixture.hourTicks(seed).size.toLong
  }

  private def rowsIn(table: String): Long =
    spark.sql(s"select count(*) from $table").head.getLong(0)

  private def withTree(prefix: String)(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory(prefix)
    try body(root) finally Bi5TreeFixture.deleteTree(root)
  }

  test("twin: micro-batch stream picks up arriving hour files incrementally") {
    withTree("bi5streamtwin") { root =>
      val first = hour(root, "EURUSD/2019/11/31/15h_ticks.bi5", 1)
      val q = spark.readStream.format("bi5").option("digits", 5).load(root.toString)
        .writeStream.format("memory").queryName("bi5_tail_twin").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(rowsIn("bi5_tail_twin") === first)
        val second = hour(root, "EURUSD/2020/03/02/12h_ticks.bi5", 2) // arrives
        q.processAllAvailable()
        assert(rowsIn("bi5_tail_twin") === first + second)
        q.processAllAvailable() // no duplicates on an idle re-trigger
        assert(rowsIn("bi5_tail_twin") === first + second)
        assert(spark.sql("select count(distinct ticker) from bi5_tail_twin").head.getLong(0) === 1)
      } finally q.stop()
    }
  }

  test("twin: unpadded hour components stream in event-time order, not path order") {
    withTree("bi5unpaddedtwin") { root =>
      val h9 = hour(root, "EURUSD/2020/03/02/9h_ticks.bi5", 1)
      val q = spark.readStream.format("bi5").option("digits", 5).load(root.toString)
        .writeStream.format("memory").queryName("bi5_unpadded_twin").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(rowsIn("bi5_unpadded_twin") === h9)
        // '10h...' sorts before '9h...' as a path, but after it in time
        val h10 = hour(root, "EURUSD/2020/03/02/10h_ticks.bi5", 2)
        q.processAllAvailable()
        assert(rowsIn("bi5_unpadded_twin") === h9 + h10)
      } finally q.stop()
    }
  }

  test("twin: backfill lookback picks up late files behind the frontier exactly once") {
    withTree("bi5backfilltwin") { root =>
      val h12 = hour(root, "EURUSD/2020/03/02/12h_ticks.bi5", 1) // the frontier
      val q = spark.readStream.format("bi5")
        .option("digits", 5).option("backfillLookbackHours", 6).load(root.toString)
        .writeStream.format("memory").queryName("bi5_backfill_twin").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(rowsIn("bi5_backfill_twin") === h12)
        val h10 = hour(root, "EURUSD/2020/03/02/10h_ticks.bi5", 2) // inside the window
        q.processAllAvailable()
        assert(rowsIn("bi5_backfill_twin") === h12 + h10,
          "late file within the lookback window must be picked up")
        q.processAllAvailable()
        assert(rowsIn("bi5_backfill_twin") === h12 + h10)
        hour(root, "EURUSD/2020/03/02/2h_ticks.bi5", 3) // outside the window
        q.processAllAvailable()
        assert(rowsIn("bi5_backfill_twin") === h12 + h10,
          "file beyond the lookback window keeps the skip contract")
        val h14 = hour(root, "EURUSD/2020/03/02/14h_ticks.bi5", 4) // ahead
        q.processAllAvailable()
        assert(rowsIn("bi5_backfill_twin") === h12 + h10 + h14)
      } finally q.stop()
    }
  }

  test("twin: backfill survives a restart: late file landing while stopped is recovered") {
    withTree("bi5restarttwin") { dir =>
      val root = dir.resolve("in")
      val ckpt = dir.resolve("ckpt").toString
      val outDir = dir.resolve("out").toString
      // parquet sink: the memory sink refuses checkpoint recovery
      def start() = spark.readStream.format("bi5")
        .option("digits", 5).option("backfillLookbackHours", 6)
        .load(root.toString)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      def sunk(): Long = spark.read.parquet(outDir).count()

      val h12 = hour(root, "EURUSD/2020/03/02/12h_ticks.bi5", 1)
      val q1 = start()
      try { q1.processAllAvailable() } finally q1.stop()
      assert(sunk() === h12)

      // while the query is down: one late file in-window, one new file ahead
      val h11 = hour(root, "EURUSD/2020/03/02/11h_ticks.bi5", 2)
      val h13 = hour(root, "EURUSD/2020/03/02/13h_ticks.bi5", 3)

      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(sunk() === h12 + h11 + h13)
        q2.processAllAvailable() // and nothing twice
        assert(sunk() === h12 + h11 + h13)
      } finally q2.stop()
    }
  }

  test("twin: pending-batch replay is toggle-safe: membership derives from offset content") {
    withTree("bi5toggletwin") { root =>
      val f12 = Bi5TreeFixture.putHour(root, "EURUSD/2020/03/02/12h_ticks.bi5", 1).toString
      val f10 = Bi5TreeFixture.putHour(root, "EURUSD/2020/03/02/10h_ticks.bi5", 2).toString
      val base12 = Bi5PathMeta.parse(f12, 0).get.baseEpochMicros
      val base10 = Bi5PathMeta.parse(f10, 0).get.baseEpochMicros
      def stream(lookback: Int) = new Bi5MicroBatchStream(
        Bi5Options(root.toString, 5, 0, splitPerFile = false,
          Bi5Options.DefaultMaxPartitionBytes, maxPartitionBytesExplicit = false,
          trustHeaders = false, maxFilesPerTrigger = 0, backfillLookbackHours = lookback),
        Bi5Schema.schema, Array.empty, "/tmp/ckpt-unused", NioBi5Store)
      def planned(s: Bi5MicroBatchStream, a: Bi5StreamOffset, b: Bi5StreamOffset): Seq[String] =
        s.planInputPartitions(a, b).map(_.asInstanceOf[Bi5Partition].roots.head).toSeq

      // v1 offsets (no seen-set) replayed under lookback on: key-range batch
      assert(planned(stream(6), Bi5StreamOffset(base10, f10), Bi5StreamOffset(base12, f12)) ===
        Seq(f12), "v1 range batch must replay by key range even with lookback enabled")
      // v2 offsets (a manifest with a back-fill) replayed under lookback off
      assert(planned(stream(0), Bi5StreamOffset(base12, f12, Set(f12)),
        Bi5StreamOffset(base12, f12, Set(f12, f10))) === Seq(f10),
        "v2 manifest batch must replay its back-fill file even with lookback disabled")
    }
  }

  test("twin: default mode (no lookback) keeps the skip-behind contract") {
    withTree("bi5skiptwin") { root =>
      val h12 = hour(root, "EURUSD/2020/03/02/12h_ticks.bi5", 1)
      val q = spark.readStream.format("bi5").option("digits", 5).load(root.toString)
        .writeStream.format("memory").queryName("bi5_skip_twin").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(rowsIn("bi5_skip_twin") === h12)
        hour(root, "EURUSD/2020/03/02/10h_ticks.bi5", 2) // behind the committed hour
        q.processAllAvailable()
        assert(rowsIn("bi5_skip_twin") === h12,
          "default contract: a file behind the committed offset is skipped")
        // behind in time, though '9h...' sorts after '12h...' as a path
        hour(root, "EURUSD/2020/03/02/9h_ticks.bi5", 3)
        q.processAllAvailable()
        assert(rowsIn("bi5_skip_twin") === h12, "skip-behind follows event time")
      } finally q.stop()
    }
  }

  test("twin: pruned relist never re-enumerates committed day directories") {
    withTree("bi5prunetwin") { root =>
      for (d <- 1 to 5) hour(root, s"EURUSD/2020/01/0$d/3h_ticks.bi5", d)
      val frontier = Bi5TreeFixture.putHour(root, "EURUSD/2020/03/02/9h_ticks.bi5", 6).toString
      val committed = Bi5PathMeta.parse(frontier, 0).get.baseEpochMicros
      val enumerated = scala.collection.mutable.ArrayBuffer.empty[String]
      val listed =
        Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0, enumerated += _)
      assert(!enumerated.exists(_.contains("2020/01/")), s"re-enumerated archive: $enumerated")
      assert(listed.map(_._1) === Seq(frontier), "the AT-offset file is still listed")
      hour(root, "EURUSD/2020/03/02/10h_ticks.bi5", 7)
      val listed2 = Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0)
      assert(listed2.map(_._1).exists(_.endsWith("10h_ticks.bi5")))
    }
  }

  test("twin: pruned relist respects lenient calendar roll-over bounds") {
    withTree("bi5prunelenienttwin") { root =>
      // 2019/11/31 with january=0 is really 2019-12-31
      hour(root, "EURUSD/2019/11/31/15h_ticks.bi5", 1)
      val committed = Bi5PathMeta.lenientBaseMicros(2019, 11, 15, 0) // 2019-12-15
      val listed = Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0)
      assert(listed.map(_._1).exists(_.endsWith("15h_ticks.bi5")),
        "lenient roll-over file must survive the pruned walk")
      hour(root, "EURUSD/2019/05/01/3h_ticks.bi5", 2)
      val enumerated = scala.collection.mutable.ArrayBuffer.empty[String]
      Bi5FileLister.listBi5FilesSince(NioBi5Store, root.toString, committed, 0, enumerated += _)
      assert(!enumerated.exists(_.contains("2019/05")), "old month dir must not be enumerated")
    }
  }

  test("twin: maxFilesPerTrigger paces the backlog without losing data") {
    withTree("bi5pacedtwin") { root =>
      val a = hour(root, "EURUSD/2019/11/31/15h_ticks.bi5", 1)
      val b = hour(root, "EURUSD/2020/03/02/12h_ticks.bi5", 2)
      val q = spark.readStream.format("bi5")
        .option("digits", 5).option("maxFilesPerTrigger", 1).load(root.toString)
        .writeStream.format("memory").queryName("bi5_paced_twin").outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(rowsIn("bi5_paced_twin") === a + b)
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
      } finally q.stop()
    }
  }
}
