package graft

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.warc.WarcCodec

/**
 * END-TO-END crawl ingestion: a synthetic WARC crawl (gzip segments, mixed
 * record types, duplicate URLs via tracking params, exact-duplicate and
 * low-quality page bodies) flows through the REAL pipeline —
 *
 *   format("warc") scan  →  response filter (pushed)  →  payload→text
 *   →  canonical_url dedup election  →  Curation.keepList verdicts
 *   →  partitioned parquet sink  →  read-back accounting
 *
 * — and every stage's row accounting is asserted from first principles.
 * This is the composition seam the standalone specs cannot see: column
 * contracts between the source schema, the URL election, the curation
 * verdicts and the sink partitioning.
 */
class CrawlPipelineSpec extends AnyFunSuite with SparkSuite {

  private def page(words: Int, seed: Int): String = {
    val vocab = Array("data", "spark", "query", "join", "filter", "table",
      "row", "scan", "merge", "batch", "stream", "window")
    // suffix-diversified tokens: honest pages don't trip the 5-gram
    // repetition stage, and the suffix stream is INJECTIVE in seed
    // (gcd(131, 1296) = 1), so distinct seeds never near-duplicate
    (0 until words).map { i =>
      vocab((seed * 31 + i * 7) % vocab.length) +
        java.lang.Integer.toString(((seed + 1) * 131 + i * 29) % 1296, 36)
    }.mkString(" ")
  }

  test("WARC crawl -> URL dedup -> curation -> partitioned sink, accounted end to end") {
    // ---- synthesize the crawl: 2 segments, 60 responses + 20 requests
    val dir = Files.createTempDirectory("crawlpipe")
    def rec(id: Int, typ: String, uri: String, body: String) = WarcCodec.encode(Seq(
      "WARC-Type" -> typ,
      "WARC-Record-ID" -> s"<urn:uuid:p-$id>",
      "WARC-Target-URI" -> uri,
      "WARC-Date" -> "2024-07-01T00:00:00Z"), body.getBytes("UTF-8"))
    def seg(name: String, ids: Range): Unit = {
      val f = new FileOutputStream(dir.resolve(name).toFile)
      val g = new GZIPOutputStream(f)
      ids.foreach { i =>
        // URL variants: every THIRD id re-crawls the same page as id-1
        // with a tracking param (URL dup); content: ids 40-44 repeat the
        // exact body of 30-34 (exact dup); ids 50-54 are 5-word stubs
        // (quality drop); the rest are unique 40-word pages
        val canon = if (i % 3 == 2) i - 1 else i
        val uri = s"HTTP://WWW.site${canon % 4}.example:80/p/$canon" +
          (if (i % 3 == 2) "?utm_source=feed" else "")
        val words =
          if (i >= 40 && i < 45) page(40, 30 + (i - 40))
          else if (i >= 50 && i < 55) page(5, i)
          else page(40, i)
        // realistic payload: an HTTP response message whose body is HTML —
        // the pipeline must peel BOTH layers before text curation
        val body = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          s"<html><head><title>t</title></head><body><p>$words</p>" +
          "<script>var x=1;</script></body></html>"
        g.write(rec(i, "response", uri, body))
        if (i % 3 == 0) g.write(rec(1000 + i, "request", uri, s"GET /p/$canon"))
      }
      g.finish(); f.close()
    }
    seg("CC-SEG-0.warc.gz", 0 until 30)
    seg("CC-SEG-1.warc.gz", 30 until 60)

    // ---- stage 1: scan with pushed type filter; charset-aware decode,
    // then the native HTTP peel + HTML strip (no ad-hoc string surgery)
    graft.functions.NativeFunctions.register(spark)
    val responses = spark.read.format("warc").load(dir.toString)
      .filter(col("record_type") === "response")
      .select(
        expr("cast(regexp_extract(record_id, '<urn:uuid:p-(\\\\d+)>', 1) as bigint)")
          .as("doc_id"),
        col("target_uri"),
        expr("decode_payload(payload, content_type)").as("http"))
      .withColumn("status", expr("http_status(http)"))
      .withColumn("text", expr("strip_html(http_body(http))"))
      .drop("http")
    assert(responses.count() === 60, "request records never leave the scan")
    assert(responses.filter(col("status") === 200).count() === 60)
    assert(responses.filter(col("text").rlike("^\\w+ ")).count() === 60,
      "HTML shells must strip back to plain word text")

    // ---- stage 2: URL-level dedup election (min doc_id per canonical url)
    val urlKept = responses
      .withColumn("curl", expr("canonical_url(target_uri)"))
      .withColumn("url_keeper",
        col("doc_id") === min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("curl")))
    val urlSurvivors = urlKept.filter(col("url_keeper")).drop("url_keeper")
    // ids ≡ 2 (mod 3) are tracking-tagged re-crawls of id-1: exactly those drop
    val urlDropped = urlKept.filter(!col("url_keeper"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(urlDropped === (0 until 60).filter(_ % 3 == 2).map(_.toLong).toSet,
      s"URL election must drop exactly the utm re-crawls, got $urlDropped")

    // ---- stage 3: curation over the URL survivors
    val eval = spark.createDataFrame(Seq((9000L, "benchmark eval text unrelated")))
      .toDF("doc_id", "text")
    val verdicts = graft.operators.Curation.keepList(
      spark, urlSurvivors.select("doc_id", "text"), eval, "doc_id", "text")
    val reasons = verdicts.groupBy("drop_reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // survivors: 40 docs (60 - 20 url dups); of those, 50-54 are 5-word
    // stubs -> quality; 41-44 duplicate 31-34's exact bodies (40 kept its
    // own since 30-34 bodies entered at 30,31,33,34... account from data:
    val expectQuality = urlSurvivors.filter(size(split(col("text"), " ")) < 20).count()
    assert(reasons.getOrElse("quality", 0L) === expectQuality,
      s"quality drops must equal the short-stub census, got $reasons")
    // surviving exact pairs: seeds 30 (ids 30+40) and 33 (ids 33+43) — the
    // other copy/original ids fell to the URL election — so exactly the
    // two later ids flag exact_dup
    assert(reasons.getOrElse("exact_dup", 0L) === 2L,
      s"exact-duplicate bodies must be flagged, got $reasons")

    // ---- stage 4: partitioned sink + read-back accounting
    val out = Files.createTempDirectory("crawlout").toString
    val curated = urlSurvivors.join(
      verdicts.filter(col("kept")).select("doc_id"), Seq("doc_id"))
      .withColumn("site", expr("regexp_extract(curl, 'site([0-9])', 1)"))
    graft.sources.Sinks.writePartitioned(
      curated.select("doc_id", "site", "text"), out, Seq("site"))
    val back = spark.read.parquet(out)
    assert(back.count() === verdicts.filter(col("kept")).count(),
      "sink round-trip preserves the kept set")
    assert(back.select("site").distinct().count() === 4, "hive layout by site")
    val prunedPlan = back.filter(col("site") === "1")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [isnotnull(site"),
      s"site predicate must prune partitions at the scan:\n$prunedPlan")
  }

  test("non-UTF8 crawl pages decode correctly through the scan -> peel -> strip chain") {
    // real Common Crawl segments are full of ISO-8859-1/GBK responses; a
    // cast(payload as string) pipeline feeds mojibake downstream. Build a
    // segment whose pages are genuinely NON-UTF8 encoded and assert the
    // decoded text survives byte-exact end to end.
    val dir = Files.createTempDirectory("crawlcharset")
    def recBytes(id: Int, payload: Array[Byte]) = WarcCodec.encode(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:uuid:c-$id>",
      "WARC-Target-URI" -> s"http://charset.example/$id",
      "WARC-Date" -> "2024-07-01T00:00:00Z"), payload)
    val latinText = "café naïve à-propos œuvre-free prose"
    val latinPage = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=iso-8859-1\r\n\r\n" +
      s"<html><body><p>$latinText</p></body></html>")
    val gbkText = "中文网页正文"
    val gbkPage = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      s"""<html><head><meta charset="gbk"></head><body><p>$gbkText</p></body></html>"""
    val f = new FileOutputStream(dir.resolve("CC-CHARSET-0.warc.gz").toFile)
    val g = new GZIPOutputStream(f)
    // œ is NOT in ISO-8859-1 — drop it from the Latin-1 page body first
    g.write(recBytes(1, latinPage.replace("œuvre-free ", "").getBytes("ISO-8859-1")))
    g.write(recBytes(2, gbkPage.getBytes("GBK")))
    g.finish(); f.close()

    graft.functions.NativeFunctions.register(spark)
    val decoded = spark.read.format("warc").load(dir.toString)
      .select(
        expr("cast(regexp_extract(record_id, '<urn:uuid:c-(\\\\d+)>', 1) as bigint)")
          .as("doc_id"),
        expr("decode_payload(payload, content_type)").as("http"))
      .selectExpr("doc_id", "http_status(http) as status",
        "strip_html(http_body(http)) as text")
      .orderBy("doc_id").collect()
    assert(decoded.map(_.getInt(1)).toSeq === Seq(200, 200))
    assert(decoded(0).getString(2) === latinText.replace("œuvre-free ", ""),
      "ISO-8859-1 header charset must decode the accents exactly")
    assert(decoded(1).getString(2) === gbkText,
      "GBK meta-sniffed page must decode the CJK body exactly")

    // the WHOLE text-extraction chain is stateless map-only expressions,
    // so it runs UNCHANGED on the live crawl tail: stream the same
    // segments and require streaming == batch row-for-row
    val q = spark.readStream.format("warc").load(dir.toString)
      .select(
        expr("cast(regexp_extract(record_id, '<urn:uuid:c-(\\\\d+)>', 1) as bigint)")
          .as("doc_id"),
        expr("decode_payload(payload, content_type)").as("http"))
      .selectExpr("doc_id", "http_status(http) as status",
        "scrub_pii(strip_html(http_body(http))) as text")
      .writeStream.format("memory").queryName("crawl_charset_tail")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.sql(
      "select doc_id, status, text from crawl_charset_tail order by doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val batchEquiv = decoded.map(r =>
      (r.getLong(0), r.getInt(1), graft.functions.PiiKit.scrubJava(r.getString(2))))
    assert(streamed.toSeq === batchEquiv.toSeq,
      "decode -> peel -> strip -> scrub must agree streaming vs batch")
  }
}
