package graft.sources

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.bi5.{Bi5Store, NioBi5Store}
import graft.sources.warc.{WarcCodec, WarcLister, WarcStreamOffset}

/** Listing at bucket scale: committed-subtree pruning never re-walks
  * directories behind the stream frontier, the sharded (Spark-job) listing
  * equals the driver walk, and the offset checkpoint form is real JSON. */
class WarcListingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("WarcListingSpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rec(id: Int): Array[Byte] =
    WarcCodec.encode(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:uuid:l-$id>",
      "WARC-Target-URI" -> s"http://l.example/$id",
      "WARC-Date" -> "2024-06-01T00:00:00Z"),
      s"body $id".getBytes("UTF-8"))

  private def dropSegment(dir: Path, name: String, id: Int): Unit = {
    Files.createDirectories(dir)
    val f = new FileOutputStream(dir.resolve(name).toFile)
    val g = new GZIPOutputStream(f)
    g.write(rec(id))
    g.finish(); f.close()
  }

  /** Delegating store that counts children() calls per directory — the
    * probe for "committed subtrees are not re-listed". */
  private class CountingStore extends Bi5Store {
    val childrenCalls = scala.collection.mutable.Map.empty[String, Int]
    override def exists(path: String): Boolean = NioBi5Store.exists(path)
    override def isDirectory(path: String): Boolean = NioBi5Store.isDirectory(path)
    override def children(path: String): Seq[Bi5Store.Entry] = {
      childrenCalls.synchronized {
        childrenCalls(path) = childrenCalls.getOrElse(path, 0) + 1
      }
      NioBi5Store.children(path)
    }
    override def walkBi5Files(root: String, enterDir: String => Boolean): Bi5Store.FileWalk =
      NioBi5Store.walkBi5Files(root, enterDir)
    override def open(path: String): java.io.InputStream = NioBi5Store.open(path)
    override def fileSize(path: String): Long = NioBi5Store.fileSize(path)
  }

  private val exts = Seq(".warc", ".warc.gz")

  test("subtreeFullyCommitted: skip iff every possible path sorts at-or-before the frontier") {
    // frontier beyond the subtree, not inside it -> skip
    assert(WarcLister.subtreeFullyCommitted("/t/dump-01", "/t/dump-02/x.warc.gz"))
    // frontier INSIDE the subtree -> must descend (later siblings pending)
    assert(!WarcLister.subtreeFullyCommitted("/t/dump-01", "/t/dump-01/x.warc.gz"))
    // frontier before the subtree -> all files are new, must descend
    assert(!WarcLister.subtreeFullyCommitted("/t/dump-02", "/t/dump-01/x.warc.gz"))
    // empty frontier (initial offset) -> never skip
    assert(!WarcLister.subtreeFullyCommitted("/t/dump-01", ""))
    // '.' < '/' trap: "/t/dump-01.bak" sorts BEFORE "/t/dump-01/x", so a
    // frontier inside dump-01 does not commit the dump-01.bak subtree's
    // files... it does — they all sort before the frontier
    assert(WarcLister.subtreeFullyCommitted("/t/dump-01.bak", "/t/dump-01/x.warc.gz"))
  }

  test("committed subtrees are not re-listed: frontier inside dump-03 skips dumps 01-02") {
    val root = Files.createTempDirectory("warcprune")
    for (d <- 1 to 4; f <- 1 to 3)
      dropSegment(root.resolve(f"dump-$d%02d"), f"seg-$f%02d.warc.gz", d * 10 + f)
    val store = new CountingStore
    val frontier = s"$root/dump-03/seg-01.warc.gz"
    val listed = WarcLister.list(store, root.toString, exts, sincePath = frontier)
    // correctness: exactly the files strictly after the frontier
    assert(listed.map(_._1) === Vector(
      s"$root/dump-03/seg-02.warc.gz", s"$root/dump-03/seg-03.warc.gz",
      s"$root/dump-04/seg-01.warc.gz", s"$root/dump-04/seg-02.warc.gz",
      s"$root/dump-04/seg-03.warc.gz"))
    // scale: the fully-committed dump directories were never descended
    assert(!store.childrenCalls.contains(s"$root/dump-01"),
      "dump-01 is fully committed — listing it again is the full-relist bug")
    assert(!store.childrenCalls.contains(s"$root/dump-02"))
    assert(store.childrenCalls.contains(s"$root/dump-03"), "frontier subtree must be walked")
    assert(store.childrenCalls.contains(s"$root/dump-04"), "new subtree must be walked")
  }

  test("sharded listing equals the driver walk and plans identical partitions") {
    spark // the sharded walk is a Spark job — force the session up first
    val root = Files.createTempDirectory("warcshard")
    // multi-dump shape: 8 dump subtrees x 25 segments + 2 root-level files
    for (d <- 1 to 8; f <- 1 to 25)
      dropSegment(root.resolve(f"dump-$d%02d"), f"seg-$f%03d.warc.gz", d * 100 + f)
    dropSegment(root, "zz-root-a.warc.gz", 1)
    dropSegment(root, "zz-root-b.warc.gz", 2)
    val driver = WarcLister.list(NioBi5Store, root.toString, exts)
    val sharded = WarcLister.listSharded(NioBi5Store, root.toString, exts, listShards = 4)
    assert(driver.size === 202)
    assert(sharded === driver, "sharded job must produce the exact driver listing")
    // end to end: the option wires through and the scan reads everything
    val rows = spark.read.format("warc").option("listShards", "4")
      .load(root.toString).count()
    assert(rows === 202)
  }

  test("offset json is a real JSON object; hostile paths round-trip; legacy raw paths parse") {
    val hostile = "/data/cc dumps/seg\"one\"\nwith-newline.warc.gz"
    val o = WarcStreamOffset(hostile)
    val json = o.json()
    assert(!json.contains("\n"), "a newline in the serialized offset corrupts the offset log")
    assert(WarcStreamOffset.fromJson(json) === o)
    // initial offset stays the empty string (checkpoint-compatible)
    assert(WarcStreamOffset("").json() === "")
    assert(WarcStreamOffset.fromJson("") === WarcStreamOffset(""))
    // legacy raw-path checkpoints (pre-JSON) keep resuming
    assert(WarcStreamOffset.fromJson("/data/seg-1.warc.gz") ===
      WarcStreamOffset("/data/seg-1.warc.gz"))
    // an unrecognized JSON object fails loudly, not as a bogus path
    assertThrows[IllegalStateException] {
      WarcStreamOffset.fromJson("""{"v":99,"something":"else"}""")
    }
  }

  test("stream tail after restart does not re-list committed dumps (store-level probe)") {
    val root = Files.createTempDirectory("warcstreamprune")
    for (d <- 1 to 3; f <- 1 to 2)
      dropSegment(root.resolve(f"dump-$d%02d"), f"seg-$f%02d.warc.gz", d * 10 + f)
    // first pass: drain everything (memory sink), note the final offset shape
    val q = spark.readStream.format("warc").load(root.toString)
      .writeStream.format("memory").queryName("warc_prune_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from warc_prune_tail").head.getLong(0) === 6)
    } finally q.stop()
    // the pruned lister with the final frontier touches no committed dump
    val store = new CountingStore
    val frontier = s"$root/dump-03/seg-02.warc.gz"
    val pending = WarcLister.list(store, root.toString, exts, sincePath = frontier)
    assert(pending.isEmpty)
    assert(!store.childrenCalls.contains(s"$root/dump-01"))
    assert(!store.childrenCalls.contains(s"$root/dump-02"))
  }
}
