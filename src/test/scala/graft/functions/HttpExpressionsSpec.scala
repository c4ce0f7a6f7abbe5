package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** http_status / http_body / decode_payload: grammar rule-by-rule,
  * real non-UTF8 charsets (ISO-8859-1, GBK, Shift-JIS, UTF-16), header
  * folding and missing-blank-line edges, interpreted == codegen. */
class HttpExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def statusOf(msg: String): Option[Int] = {
    val r = spark.sql(s"select http_status('${msg.replace("'", "''")}')").head()
    if (r.isNullAt(0)) None else Some(r.getInt(0))
  }

  private def bodyOf(msg: String): String =
    spark.sql(s"select http_body('${msg.replace("'", "''")}')").head().getString(0)

  private def decode(payload: Array[Byte], contentType: String): String = {
    import spark.implicits._
    val df = Seq((payload, Option(contentType))).toDF("p", "ct")
    df.selectExpr("decode_payload(p, ct) as t").head().getString(0)
  }

  test("http_status: status-line grammar and rejects") {
    assert(statusOf("HTTP/1.1 200 OK\r\nX: y\r\n\r\nbody") === Some(200))
    assert(statusOf("HTTP/1.0 404 Not Found\r\n") === Some(404))
    assert(statusOf("HTTP/2 301") === Some(301), "HTTP/2 has no dot version")
    assert(statusOf("HTTP/1.1  503  oops") === Some(503), "multiple spaces tolerated")
    assert(statusOf("HTTP/1.1 200") === Some(200), "no reason phrase")
    assert(statusOf("<html>not http</html>") === None)
    assert(statusOf("HTTP/1.1 20") === None, "2-digit code rejected")
    assert(statusOf("HTTP/1.1 2000") === None, "4-digit code rejected")
    assert(statusOf("HTTP/x 200") === None, "non-numeric version rejected")
    assert(statusOf("http/1.1 200") === None, "scheme token is case-sensitive per RFC")
    assert(statusOf("") === None)
    assert(spark.sql("select http_status(cast(null as string))").head().isNullAt(0))
  }

  test("http_body: blank-line split, folding, missing separator, passthrough") {
    assert(bodyOf("HTTP/1.1 200 OK\r\nA: b\r\n\r\n<html>x</html>") === "<html>x</html>")
    assert(bodyOf("HTTP/1.1 200 OK\nA: b\n\nLF-only message") === "LF-only message",
      "bare-LF messages split on LFLF")
    // obs-folded header: the continuation line must NOT fake a blank line
    assert(bodyOf("HTTP/1.1 200 OK\r\nX-Long: part1\r\n  part2\r\n\r\nreal body")
      === "real body")
    assert(bodyOf("HTTP/1.1 204 No Content\r\nA: b\r\n") === "",
      "missing blank line = headers only = empty body")
    assert(bodyOf("plain text, no message envelope") === "plain text, no message envelope",
      "non-HTTP strings are already bare bodies")
    assert(bodyOf("HTTP/1.1 200 OK\r\n\r\n") === "", "empty body after separator")
    // body containing its own blank lines: only the FIRST separator splits
    assert(bodyOf("HTTP/1.1 200 OK\r\n\r\npara1\r\n\r\npara2") === "para1\r\n\r\npara2")
  }

  private def httpWrap(headers: String, body: Array[Byte]): Array[Byte] = {
    val head = s"HTTP/1.1 200 OK\r\n$headers\r\n\r\n".getBytes("ISO-8859-1")
    head ++ body
  }

  test("decode_payload: charset from content-type argument, own header, meta sniff, BOM") {
    val text = "café naïve à-propos"
    // a. ISO-8859-1 via the caller-supplied content type
    val latin = text.getBytes("ISO-8859-1")
    assert(decode(latin, "text/html; charset=ISO-8859-1") === text)
    // quoted + weird case
    assert(decode(latin, "text/html; CHARSET=\"iso-8859-1\"") === text)
    // b. charset from the payload's OWN Content-Type header
    val msg = httpWrap("Content-Type: text/html; charset=iso-8859-1", latin)
    val decoded = decode(msg, null)
    assert(decoded.endsWith(text), "body must decode with the header charset")
    assert(decoded.startsWith("HTTP/1.1 200 OK"), "head passes through byte-preserved")
    // c. GBK via meta sniff (no header charset anywhere)
    val zh = "中文网页 body"
    val gbkHtml = (s"""<html><head><meta http-equiv="Content-Type" """ +
      s"""content="text/html; charset=gbk"></head><body>$zh</body></html>""").getBytes("GBK")
    assert(decode(gbkHtml, null).contains(zh))
    assert(decode(httpWrap("Content-Type: text/html", gbkHtml), "text/html").contains(zh),
      "meta sniff also fires under an HTTP envelope without header charset")
    // <meta charset="..."> short form, Shift-JIS
    val ja = "日本語"
    val sjis = (s"""<meta charset="shift_jis"><p>$ja</p>""").getBytes("Shift_JIS")
    assert(decode(sjis, null).contains(ja))
    // d. UTF-8 BOM wins over a lying header
    val bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ text.getBytes("UTF-8")
    assert(decode(bom, "text/html; charset=iso-8859-1") === text, "BOM outranks the header")
    // UTF-16LE BOM
    val u16 = Array(0xFF.toByte, 0xFE.toByte) ++ text.getBytes("UTF-16LE")
    assert(decode(u16, null) === text)
  }

  test("decode_payload: fallbacks never throw — unknown charset, garbage bytes, null") {
    val text = "plain ascii"
    assert(decode(text.getBytes("UTF-8"), "text/html; charset=NO-SUCH-CS-99") === text,
      "unknown charset name falls back to UTF-8")
    // invalid UTF-8 decodes with replacement, never throws
    val garbage = Array(0xC3.toByte, 0x28.toByte, 0xFF.toByte, 'o'.toByte, 'k'.toByte)
    val out = decode(garbage, null)
    assert(out.endsWith("ok") && out.contains("�"))
    // null payload -> null; null content type already exercised above
    import spark.implicits._
    val r = Seq((Option.empty[Array[Byte]], Option("text/html")))
      .toDF("p", "ct").selectExpr("decode_payload(p, ct)").head()
    assert(r.isNullAt(0))
  }

  test("http_header: name lookup, folding, absence, non-message") {
    def hdr(msg: String, name: String): Option[String] = {
      val r = spark.sql(
        s"select http_header('${msg.replace("'", "''")}', '$name')").head()
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }
    val msg = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      "X-Long: part1\r\n part2\r\nServer: nginx\r\n\r\nbody Content-Type: fake"
    assert(hdr(msg, "Content-Type") === Some("text/html; charset=utf-8"))
    assert(hdr(msg, "content-type") === Some("text/html; charset=utf-8"),
      "header names are case-insensitive")
    assert(hdr(msg, "X-Long") === Some("part1 part2"),
      "obs-fold is semantically one SP (RFC 9112)")
    assert(hdr(msg, "Server") === Some("nginx"))
    assert(hdr(msg, "Missing") === None)
    assert(hdr(msg, "body") === None, "body text is never scanned for headers")
    assert(hdr("not an http message", "Server") === None)
    // headers-only message (no blank line) still resolves
    assert(hdr("HTTP/1.1 204 No\r\nServer: x\r\n", "Server") === Some("x"))
    // interpreted == codegen
    assert(HttpKit.headerJava(msg, "x-long") === "part1 part2")
  }

  test("http_header: non-ASCII header values whose lowercase changes length never throw") {
    // U+0130 'İ' lowercases to TWO chars ("i" + combining dot): any scan
    // that computes indices on a lowercased copy and slices the original
    // misaligns and can throw. The header value here packs many of them
    // BEFORE the header under lookup so misaligned indices would be loud.
    val hostile = "HTTP/1.1 200 OK\r\n" +
      "X-Adversarial: İİİİİİİİ\r\n" +
      "Server: nginx\r\n\r\nbody"
    assert(HttpKit.headerJava(hostile, "server") === "nginx")
    assert(HttpKit.headerJava(hostile, "x-adversarial") === "İ" * 8)
    // charset= scan has the same discipline: 'İ' before the parameter
    val ct = "text/plainİİİ; charset=iso-8859-1"
    val decoded = HttpKit.decodePayloadJava("café".getBytes("ISO-8859-1"), ct)
    assert(decoded === "café", "charset param found despite preceding İ chars")
  }

  test("decode_payload: over-limit HTTP-prefixed payload with no blank line is bare body") {
    // >64 KiB starting with "HTTP/" but never containing a blank line:
    // the head limit's promise is BARE BODY — the whole payload decodes
    // with full charset resolution, not as an ISO-8859-1 pseudo-head.
    val tail = "café end".getBytes("UTF-8") // 0xC3 0xA9 distinguishes the paths
    val big = new Array[Byte](70000 + tail.length)
    val pre = "HTTP/1.1 200 OK\r\nX: ".getBytes("ISO-8859-1")
    System.arraycopy(pre, 0, big, 0, pre.length)
    java.util.Arrays.fill(big, pre.length, 70000, 'a'.toByte)
    System.arraycopy(tail, 0, big, 70000, tail.length)
    val out = HttpKit.decodePayloadJava(big, null)
    assert(out.endsWith("café end"),
      "UTF-8 body decode must run (ISO-8859-1 head decode would yield mojibake)")
    assert(out.length === big.length - 1, "the 2-byte é collapses to one char")
    // an under-limit headers-only message keeps the heads-only semantics
    val small = "HTTP/1.1 204 No\r\nServer: x\r\n".getBytes("ISO-8859-1")
    assert(HttpKit.decodePayloadJava(small, null) === "HTTP/1.1 204 No\r\nServer: x\r\n")
  }

  test("interpreted eval equals codegen across constructed messages") {
    val df = spark.range(0, 200).toDF("id").selectExpr(
      """concat('HTTP/1.1 ', cast(200 + id % 300 as string), ' R\r\n',
               'Content-Type: text/plain\r\n\r\nbody-', cast(id as string)) as m""")
    val gen = df.selectExpr("http_status(m) as s", "http_body(m) as b").collect()
    val interp = df.collect().map { r =>
      (HttpKit.statusJava(r.getString(0)), HttpKit.bodyJava(r.getString(0)))
    }
    assert(gen.map(r => (r.getInt(0), r.getString(1))).toSeq === interp.toSeq)
    // decode_payload: binary round trip through the expression vs the kit
    import spark.implicits._
    val rows = (0 until 50).map { i =>
      (s"résumé $i".getBytes("ISO-8859-1"), "text/plain; charset=iso-8859-1")
    }
    val genD = rows.toDF("p", "ct").selectExpr("decode_payload(p, ct) as t")
      .collect().map(_.getString(0))
    val interpD = rows.map { case (p, ct) => HttpKit.decodePayloadJava(p, ct) }
    assert(genD.toSeq === interpD.toSeq)
    assert(genD(7) === "résumé 7")
  }
}
