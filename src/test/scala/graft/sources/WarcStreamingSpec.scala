package graft.sources

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.warc.WarcCodec
import graft.SparkSuite

/** Streaming tail of a growing crawl directory: segment files dropped in
  * between triggers appear incrementally, exactly once; pushdown and
  * pruning run identically to the batch scan; admission control paces. */
class WarcStreamingSpec extends AnyFunSuite with SparkSuite {

  private def rec(id: Int, typ: String, body: String): Array[Byte] =
    WarcCodec.encode(Seq(
      "WARC-Type" -> typ,
      "WARC-Record-ID" -> s"<urn:uuid:s-$id>",
      "WARC-Target-URI" -> s"http://s.example/$id",
      "WARC-Date" -> "2024-06-01T00:00:00Z"),
      body.getBytes("UTF-8"))

  private def dropSegment(dir: Path, name: String, ids: Range, typ: String = "response"): Unit = {
    val f = new FileOutputStream(dir.resolve(name).toFile)
    val g = new GZIPOutputStream(f)
    ids.foreach(i => g.write(rec(i, typ, s"body $i")))
    g.finish(); f.close()
  }

  test("arriving segments stream in exactly once; idle trigger adds nothing") {
    val dir = Files.createTempDirectory("warcstream")
    dropSegment(dir, "CC-SEG-00001.warc.gz", 0 until 10)
    val q = spark.readStream.format("warc").load(dir.toString)
      .writeStream.format("memory").queryName("warc_tail").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from warc_tail").head.getLong(0) === 10)
      dropSegment(dir, "CC-SEG-00002.warc.gz", 10 until 25)
      q.processAllAvailable()
      assert(spark.sql("select count(*) from warc_tail").head.getLong(0) === 25)
      q.processAllAvailable() // idle
      assert(spark.sql("select count(*) from warc_tail").head.getLong(0) === 25)
      assert(spark.sql("select count(distinct record_id) from warc_tail")
        .head.getLong(0) === 25, "exactly once")
    } finally q.stop()
  }

  test("skip-behind contract: a segment sorting before the committed path is skipped") {
    val dir = Files.createTempDirectory("warcbehind")
    dropSegment(dir, "CC-SEG-00005.warc.gz", 0 until 5)
    val q = spark.readStream.format("warc").load(dir.toString)
      .writeStream.format("memory").queryName("warc_behind").outputMode("append").start()
    try {
      q.processAllAvailable()
      // lands BEHIND the committed frontier — documented skip (the Spark
      // file-source contract without latestFirst)
      dropSegment(dir, "CC-SEG-00001.warc.gz", 100 until 105)
      // and one ahead — picked up
      dropSegment(dir, "CC-SEG-00009.warc.gz", 200 until 203)
      q.processAllAvailable()
      val ids = spark.sql("select record_id from warc_behind").collect()
        .map(_.getString(0)).toSet
      assert(ids.size === 8, "5 initial + 3 ahead; behind-cursor segment skipped")
      assert(!ids.contains("<urn:uuid:s-100>"))
      assert(ids.contains("<urn:uuid:s-200>"))
    } finally q.stop()
  }

  test("record_type pushdown and payload pruning apply on the stream") {
    val dir = Files.createTempDirectory("warcpush")
    dropSegment(dir, "CC-A.warc.gz", 0 until 6, typ = "response")
    dropSegment(dir, "CC-B.warc.gz", 6 until 10, typ = "request")
    val q = spark.readStream.format("warc").load(dir.toString)
      .filter("record_type = 'response'")
      .selectExpr("record_id", "content_length")
      .writeStream.format("memory").queryName("warc_push").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from warc_push").head.getLong(0) === 6)
    } finally q.stop()
  }

  test("maxFilesPerTrigger paces the backlog without losing records") {
    val dir = Files.createTempDirectory("warcpace")
    (0 until 5).foreach(i => dropSegment(dir, f"CC-$i%03d.warc.gz", i * 4 until i * 4 + 4))
    val q = spark.readStream.format("warc")
      .option("maxFilesPerTrigger", "2")
      .load(dir.toString)
      .writeStream.format("memory").queryName("warc_pace").outputMode("append").start()
    try {
      q.processAllAvailable() // drains in capped batches
      assert(spark.sql("select count(*) from warc_pace").head.getLong(0) === 20)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length >= 3, s"2-file cap must split 5 files into >= 3 batches, " +
        s"got ${batches.mkString(",")}")
    } finally q.stop()
  }
}
