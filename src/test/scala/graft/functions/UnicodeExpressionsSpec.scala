package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** unicode_normalize / tokenize_text: grammar rule-by-rule (NFC/NFD/NFKC,
  * CJK bigrams, mixed runs, supplementary plane), loud form contract,
  * interpreted == codegen, never-throw on hostile input. */
class UnicodeExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def norm(s: String, form: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").selectExpr(s"unicode_normalize(t, '$form')").head().getString(0)
  }

  private def toks(s: String): Seq[String] = {
    import spark.implicits._
    Seq(s).toDF("t").selectExpr("tokenize_text(t)").head().getSeq[String](0)
  }

  test("unicode_normalize: NFC composes, NFD decomposes, NFKC folds compatibility") {
    val nfd = "café" // e + combining acute
    val nfc = "café"
    assert(norm(nfd, "NFC") === nfc)
    assert(norm(nfc, "NFD") === nfd)
    assert(norm(nfd, "NFC").length === 4)
    // NFKC: ligature fi U+FB01 -> "fi", fullwidth A U+FF21 -> "A",
    // and it still composes like NFC
    assert(norm("ﬁle Ａ café", "NFKC") === "file A café")
    // NFC leaves compatibility chars alone
    assert(norm("ﬁle", "NFC") === "ﬁle")
    // ASCII is a fixed point of every form
    assert(norm("plain ascii 123", "NFKC") === "plain ascii 123")
    // null in -> null out
    import spark.implicits._
    assert(Seq(Option.empty[String]).toDF("t")
      .selectExpr("unicode_normalize(t, 'NFC')").head().isNullAt(0))
  }

  test("unicode_normalize: invalid or non-literal form fails analysis loudly") {
    import spark.implicits._
    val df = Seq("x").toDF("t")
    val e1 = intercept[Exception] { df.selectExpr("unicode_normalize(t, 'NFX')").collect() }
    assert(e1.getMessage.contains("NFX") || e1.getMessage.contains("unknown form"))
    val e2 = intercept[Exception] { df.selectExpr("unicode_normalize(t, t)").collect() }
    assert(e2.getMessage.contains("foldable"))
  }

  test("tokenize_text: degenerates to split-on-space for clean ASCII") {
    assert(toks("the quick brown fox") === Seq("the", "quick", "brown", "fox"))
    assert(toks("single") === Seq("single"))
    // whitespace runs collapse; no empty tokens; tabs/newlines separate
    assert(toks("a  b\tc\nd ") === Seq("a", "b", "c", "d"))
    assert(toks("") === Seq.empty)
    assert(toks("   \t\n") === Seq.empty)
  }

  test("tokenize_text: CJK segments emit character bigrams") {
    // 4 unified ideographs -> 3 sliding bigrams
    assert(toks("漢字テス") ===
      Seq("漢字", "字テ", "テス"))
    // a lone CJK codepoint emits itself
    assert(toks("漢") === Seq("漢"))
    // mixed run splits into maximal segments: abc | CJK(漢字) | def
    assert(toks("abc漢字def") === Seq("abc", "漢字", "def"))
    // hangul syllables are CJK here
    assert(toks("한국어") === Seq("한국", "국어"))
    // whitespace still separates CJK segments (no cross-space bigrams)
    assert(toks("漢字 漢") === Seq("漢字", "漢"))
  }

  test("tokenize_text: supplementary-plane CJK iterates by codepoint") {
    // U+20000 (Ext B) spelled as a surrogate pair; bigram with U+4E00
    val extB = new String(Character.toChars(0x20000))
    assert(toks(extB + "一") === Seq(extB + "一"))
    assert(toks(extB) === Seq(extB))
    // non-CJK supplementary char (emoji U+1F600) is an ordinary word char
    val emoji = new String(Character.toChars(0x1F600))
    assert(toks(s"a${emoji}b") === Seq(s"a${emoji}b"))
  }

  test("hostile input never throws: unpaired surrogates, controls, long runs") {
    val hostile = Seq(
      "\ud800 lone high", "lone low \udc00", "a\ud800漢b",
      "\u0000\u0001ctrl", "x" * 100000, ("漢" * 1000) + " tail")
    hostile.foreach { s =>
      val t = UnicodeKit.tokenize(UTF8String.fromString(s))
      assert(t != null)
      val n = UnicodeKit.normalize(UTF8String.fromString(s), java.text.Normalizer.Form.NFC)
      assert(n != null)
    }
    // 1000 CJK chars -> 999 bigrams
    assert(toks("漢" * 1000).length === 999)
  }

  test("interpreted eval equals codegen") {
    import spark.implicits._
    val rows = Seq(
      "café nfd", "ﬁ ligature", "abc漢字def mixed",
      "Ａ fullwidth", "plain", "", "漢字テスト")
    val df = rows.toDF("t")
    val gen = df.selectExpr(
      "unicode_normalize(t, 'NFKC') as n", "tokenize_text(t) as k").collect()
    rows.zip(gen).foreach { case (s, r) =>
      assert(r.getString(0) ===
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
      val interp = UnicodeKit.tokenize(UTF8String.fromString(s))
      val expected = (0 until interp.numElements())
        .map(i => interp.getUTF8String(i).toString)
      assert(r.getSeq[String](1) === expected)
    }
  }
}
