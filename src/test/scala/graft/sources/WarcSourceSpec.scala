package graft.sources

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.warc.WarcCodec
import graft.SparkSuite

/** The warc DSv2 source: golden read-back, gzip multi-member streams,
  * byte-level payload pruning, record_type pushdown, skip-corrupt parity
  * with the bi5 connector, per-file partition planning. */
class WarcSourceSpec extends AnyFunSuite with SparkSuite {

  private def rec(id: Int, typ: String, uri: String, body: String): Array[Byte] =
    WarcCodec.encode(Seq(
      "WARC-Type" -> typ,
      "WARC-Record-ID" -> s"<urn:uuid:rec-$id>",
      "WARC-Target-URI" -> uri,
      "WARC-Date" -> f"2024-03-0${1 + id % 9}%dT12:00:${id % 60}%02dZ",
      "Content-Type" -> "application/http; msgtype=response"),
      body.getBytes("UTF-8"))

  /** dir with plain.warc (3 records), multi.warc.gz (2 gzip MEMBERS, 3
    * records total), junk.txt (ignored by extension). */
  private def fixtureDir(): Path = {
    val dir = Files.createTempDirectory("warcspec")
    val plain = new FileOutputStream(dir.resolve("plain.warc").toFile)
    plain.write(rec(1, "response", "http://a.example/1", "hello world"))
    plain.write(rec(2, "request", "http://a.example/1", "GET /1"))
    plain.write(rec(3, "response", "http://a.example/2", "second page"))
    plain.close()
    val gz = new FileOutputStream(dir.resolve("multi.warc.gz").toFile)
    val m1 = new GZIPOutputStream(gz)
    m1.write(rec(4, "response", "http://b.example/1", "gzipped body"))
    m1.write(rec(5, "metadata", "http://b.example/1", "meta"))
    m1.finish() // member boundary — Common Crawl's per-record layout
    val m2 = new GZIPOutputStream(gz)
    m2.write(rec(6, "response", "http://b.example/2", "second member"))
    m2.finish()
    gz.close()
    Files.write(dir.resolve("junk.txt"), "not a warc".getBytes)
    dir
  }

  test("golden read-back: all fields, both containers, extension filtering") {
    val dir = fixtureDir()
    val df = spark.read.format("warc").load(dir.toString)
    val rows = df.orderBy("record_id").collect()
    assert(rows.length === 6, "3 plain + 3 across two gzip members; junk.txt ignored")
    val r1 = rows.find(_.getAs[String]("record_id") == "<urn:uuid:rec-1>").get
    assert(r1.getAs[String]("record_type") === "response")
    assert(r1.getAs[String]("target_uri") === "http://a.example/1")
    assert(new String(r1.getAs[Array[Byte]]("payload"), "UTF-8") === "hello world")
    assert(r1.getAs[Long]("content_length") === 11L)
    assert(r1.getAs[java.sql.Timestamp]("warc_date").toInstant ===
      java.time.Instant.parse("2024-03-02T12:00:01Z"))
    assert(r1.getAs[String]("source_file").endsWith("plain.warc"))
    val gzIds = rows.filter(_.getAs[String]("source_file").endsWith(".gz"))
      .map(_.getAs[String]("record_id")).sorted
    assert(gzIds === Array("<urn:uuid:rec-4>", "<urn:uuid:rec-5>", "<urn:uuid:rec-6>"),
      "concatenated gzip members must all decode")
  }

  test("one partition per file; deterministic") {
    val dir = fixtureDir()
    val df = spark.read.format("warc").load(dir.toString)
    assert(df.rdd.getNumPartitions === 2, "plain.warc + multi.warc.gz")
  }

  test("payload pruning reaches the read schema; type filter is pushed") {
    val dir = fixtureDir()
    val pruned = spark.read.format("warc").load(dir.toString)
      .filter(col("record_type") === "response")
      .select("record_id", "content_length")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("payload"), s"payload must prune out of the scan:\n$plan")
    assert(plan.contains("record_type IN (response)"),
      s"pushed type filter must be visible in the scan description:\n$plan")
    assert(pruned.count() === 4)
  }

  test("record_type IN pushdown filters at the reader") {
    val dir = fixtureDir()
    val df = spark.read.format("warc").load(dir.toString)
      .filter(col("record_type").isin("request", "metadata"))
    assert(df.select("record_id").collect().map(_.getString(0)).sorted
      === Array("<urn:uuid:rec-2>", "<urn:uuid:rec-5>"))
  }

  test("skip-corrupt: garbage, truncated and junk-gzip files cost rows, not the job") {
    val dir = fixtureDir()
    // garbage bytes under a .warc extension
    Files.write(dir.resolve("garbage.warc"), Array.tabulate[Byte](100)(i => (i * 7).toByte))
    // a valid record followed by a payload-truncated one
    val full = rec(7, "response", "http://c.example/1", "survives")
    val cut = rec(8, "response", "http://c.example/2", "this payload is cut off")
    val trunc = new FileOutputStream(dir.resolve("trunc.warc").toFile)
    trunc.write(full)
    trunc.write(cut, 0, cut.length - 12)
    trunc.close()
    // not-actually-gzip under .gz
    Files.write(dir.resolve("fake.warc.gz"), "definitely not gzip".getBytes)
    val ids = spark.read.format("warc").load(dir.toString)
      .select("record_id").collect().map(_.getString(0)).toSet
    assert(ids.contains("<urn:uuid:rec-7>"), "record before the truncation survives")
    assert(!ids.contains("<urn:uuid:rec-8>"), "truncated record is dropped")
    assert(ids.size === 7, "6 fixture records + rec-7; corrupt files add nothing")
  }

  test("option validation is eager and verbatim") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("warc").load()
    }
    assert(e.getMessage === "'path' must be specified for WARC data.")
    val missing = spark.read.format("warc").load("/definitely/not/here")
    assert(missing.count() === 0, "missing root lists empty, never throws")
  }

  test("scan reports compressed-byte statistics (broadcast-decision feed)") {
    val dir = fixtureDir()
    val df = spark.read.format("warc").load(dir.toString)
    val stats = df.queryExecution.optimizedPlan.stats
    val expected = Seq("plain.warc", "multi.warc.gz")
      .map(n => dir.resolve(n).toFile.length()).sum
    assert(stats.sizeInBytes === BigInt(expected),
      s"sizeInBytes must equal the matched files' on-disk total, got ${stats.sizeInBytes}")
  }

  test("payload-pruned scan still returns exact lengths (bytes skipped, not read)") {
    val dir = fixtureDir()
    val lens = spark.read.format("warc").load(dir.toString)
      .select("record_id", "content_length")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lens("<urn:uuid:rec-3>") === "second page".length.toLong)
    assert(lens("<urn:uuid:rec-6>") === "second member".length.toLong)
  }

  test("header-only scans read columnar; payload scans stay row; results identical") {
    val dir = fixtureDir()
    val headerCols = Seq("record_id", "record_type", "target_uri",
      "warc_date", "content_type", "content_length", "source_file")
    // pruned (header-only) scan: the vectorized path — plan shows the
    // ColumnarToRow transition Spark inserts above a batch-emitting scan
    val pruned = spark.read.format("warc").load(dir.toString)
      .select(headerCols.map(col): _*)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("ColumnarToRow"),
      s"header-only scan must emit ColumnarBatches:\n$prunedPlan")
    // payload-bearing scan: row reader (no multi-MB binaries batched)
    val withPayload = spark.read.format("warc").load(dir.toString)
    val payloadPlan = withPayload.queryExecution.executedPlan.toString
    assert(!payloadPlan.contains("ColumnarToRow"),
      s"payload scan must stay on the row reader:\n$payloadPlan")
    // and the two paths agree field-for-field (skip-corrupt/filters shared)
    val viaColumnar = pruned.collect()
      .map(r => headerCols.map(c => Option(r.get(r.fieldIndex(c))).map(_.toString).orNull))
      .sortBy(_.mkString("|"))
    val viaRow = withPayload.select(headerCols.map(col): _*).collect()
      .map(r => headerCols.map(c => Option(r.get(r.fieldIndex(c))).map(_.toString).orNull))
      .sortBy(_.mkString("|"))
    assert(viaColumnar.toSeq === viaRow.toSeq, "columnar == row, field for field")
    // pushdown composes with the columnar path
    val respOnly = spark.read.format("warc").load(dir.toString)
      .filter(col("record_type") === "response")
      .select("record_id")
    assert(respOnly.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(respOnly.count() === 4)
  }
}
