package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Hostile-input hardening for the round-7 expressions: random bytes and
  * adversarial strings must never throw, hang, or blow memory — the
  * skip-corrupt philosophy applied to the crawl text stack. Seeded fuzz
  * (deterministic) + hand-built pathological cases. */
class HostileInputSpec extends AnyFunSuite with SparkSuite {

  test("decode_payload never throws on 2000 seeded-random byte payloads") {
    val rnd = new scala.util.Random(7_2026L)
    (1 to 2000).foreach { i =>
      val n = rnd.nextInt(600)
      val bytes = new Array[Byte](n)
      rnd.nextBytes(bytes)
      // half the cases claim a random/garbage charset
      val ct =
        if (i % 2 == 0) null
        else s"text/html; charset=${Seq("utf-8", "gbk", "x-nope", "", "\u0001bad")(i % 5)}"
      val out = HttpKit.decodePayloadJava(bytes, ct)
      assert(out != null, s"case $i must decode to SOMETHING (replacement chars ok)")
    }
    // hostile HTTP-shaped payloads: huge header claims, no blank line,
    // charset pointing at itself, meta tag cut mid-attribute
    val shaped = Seq(
      "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=",
      "HTTP/1.1 200 OK\r\n" + ("X: y\r\n" * 5000),
      "HTTP/9.9 999",
      "HTTP/1.1 200 OK\r\n\r\n<meta charset=\"",
      "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=\"unterminated")
    shaped.foreach { s0 =>
      assert(HttpKit.decodePayloadJava(s0.getBytes("ISO-8859-1"), null) != null)
    }
  }

  test("http peel + strip + scrub never throw on seeded-random unicode strings") {
    val rnd = new scala.util.Random(8_2026L)
    (1 to 1000).foreach { i =>
      val n = rnd.nextInt(300)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        val c = rnd.nextInt(0xFFFF)
        // skip lone surrogates: not legal in a well-formed String fixture
        if (c < 0xD800 || c > 0xDFFF) sb.append(c.toChar)
      }
      val s0 = sb.toString
      HttpKit.statusJava(s0)
      HttpKit.bodyJava(s0)
      HttpKit.headerJava(s0, "content-type")
      HtmlKit.stripJava(s0)
      assert(HtmlKit.extractMainJava(s0) != null)
      assert(PiiKit.scrubJava(s0) != null)
    }
  }

  test("robots_match is safe on pathological star pileups (no exponential blowup)") {
    // classic glob-backtracking bomb shapes: many stars vs a near-missing
    // suffix; the iterative matcher is O(|pat|*|path|) worst case
    val path = "/" + ("a" * 2000) + "b"
    val bomb = "/" + ("a*" * 40) + "c$"
    val t0 = System.nanoTime()
    assert(!RobotsKit.matchesJava(bomb, path))
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 2000, s"pathological pattern must stay polynomial, took $ms ms")
    assert(RobotsKit.matchesJava("/" + ("a*" * 40), path))
    // stars matching empty, adjacent stars, anchor after star
    assert(RobotsKit.matchesJava("/****", "/"))
    assert(RobotsKit.matchesJava("/*$", "/anything"))
    assert(!RobotsKit.matchesJava("/x**y$", "/x-z"))
  }

  test("Robots.rules never throws on garbage robots.txt bodies") {
    import spark.implicits._
    val garbage = Seq(
      "", ":", ":::", "no colons here at all",
      "User-agent", "User-agent:", "Disallow: /a\nDisallow: /b",
      "# only comments\n# more",
      "User-agent: *\n\u0000\u0001\nDisallow: /x",
      ("User-agent: bot\n" + "Disallow: /p\n" * 500))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val parsed = graft.operators.Robots.rules(
      garbage.toDF("host", "txt"), "host", "txt")
    assert(parsed.count() >= 0L) // executes without throwing
    // rule-less files produce zero rows, never nulls
    assert(parsed.filter(org.apache.spark.sql.functions.col("value").isNull).count() === 0L)
  }

  test("blocklist automaton handles unicode phrases and long texts") {
    val ac = AhoCorasick.build(Seq("café", "中文", "ab", "plain"))
    assert(ac.distinctHits("un café avec 中文 text") === 2)
    assert(ac.distinctHits("x" * 100000) === 0)
    val rnd = new scala.util.Random(9_2026L)
    val big = Seq.fill(50000)("abcdefgh плюс".charAt(rnd.nextInt(13))).mkString
    assert(ac.distinctHits(big) >= 0)
  }

  test("round-8 kit never throws: unicode/tokenize/bpe/url-psl on seeded-random strings") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(10_2026L)
    // a real-shaped spec so bpe rules genuinely fire on random text
    val spec = BpeIntKit.parse(
      "97:98;99:100;1114112:101;32:116;1114115:104")
    val psl = UrlKit.pslParse("com;co.uk;uk;io;github.io;*.ck;!city.ck")
    val nfc = java.text.Normalizer.Form.NFC
    (1 to 1000).foreach { _ =>
      val n = rnd.nextInt(400)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        // full BMP including lone surrogates and the CJK/PUA ranges —
        // kit-level calls must survive ill-formed strings too
        sb.append(rnd.nextInt(0xFFFF).toChar)
      }
      val u = UTF8String.fromString(sb.toString)
      assert(UnicodeKit.tokenize(u) != null)
      assert(UnicodeKit.normalize(u, nfc) != null)
      assert(BpeIntKit.encode(u, spec) != null)
      assert(BpeIntKit.segment(u, spec) != null)
      // url kit: null (no scheme) is fine, a throw is not
      UrlKit.domainPsl(u, psl)
      UrlKit.domainPsl(UTF8String.fromString("http://" + sb.toString.take(80)), psl)
    }
    // shaped adversaries
    val shaped = Seq(
      "", " ", "́́́", "\uD800", "\uDC00\uD800",
      "漢" * 5000, "a" * 100000,
      "http://" + ("a." * 500) + "com/x",
      "http://" + ("漢" * 100) + ".ck/",
      "http://[::1" /* unterminated bracket */)
    shaped.foreach { s0 =>
      val u = UTF8String.fromString(s0)
      assert(UnicodeKit.tokenize(u) != null)
      assert(BpeIntKit.segment(u, spec) != null)
      UrlKit.domainPsl(u, psl)
      assert(PiiKit.scrubJava(s0) != null)
    }
  }
}
