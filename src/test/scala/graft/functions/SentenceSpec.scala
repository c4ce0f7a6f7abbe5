package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** split_sentences: the documented two-pass grammar rule-by-rule, an
  * INDEPENDENT regex twin (the exact two regexp_replace passes the DuckDB
  * oracle runs, via java.util.regex — for these lookaround-free patterns
  * backtracking and RE2 agree) over randomized adversarial inputs, loud
  * null/hostile contracts, and interpreted == codegen. */
class SentenceSpec extends AnyFunSuite with SparkSuite {

  private def split(text: String): Seq[String] = {
    val r = UnicodeKit.splitSentences(UTF8String.fromString(text))
    (0 until r.numElements()).map(i => r.getUTF8String(i).toString)
  }

  test("pass 1: ASCII terminators need trailing whitespace; closers attach") {
    assert(split("One. Two! Three? Done.") ===
      Seq("One.", "Two!", "Three?", "Done."))
    // no whitespace after the terminator -> no split (decimals, domains)
    assert(split("pi is 3.14 exactly") === Seq("pi is 3.14 exactly"))
    assert(split("see example.com now") === Seq("see example.com now"))
    // terminator runs stay together; closers attach to the left sentence
    assert(split("Wait... what? Yes.") === Seq("Wait...", "what?", "Yes."))
    assert(split("He said \"stop.\" Then left.") ===
      Seq("He said \"stop.\"", "Then left."))
    assert(split("(Right?) Sure.") === Seq("(Right?)", "Sure."))
    // whitespace runs are consumed whole; tab/newline count as whitespace
    assert(split("A.\n\tB.") === Seq("A.", "B."))
  }

  test("pass 2: CJK terminators split without whitespace") {
    val t = "漢字です。次の文！終"
    assert(split(t) ===
      Seq("漢字です。", "次の文！", "終"))
    // ellipsis is in the unconditional class too
    assert(split("wait…what") === Seq("wait…", "what"))
    // CJK terminator + closer, no space
    assert(split("「x。」")
      === Seq("「x。", "」")) // 「 is not a closer; 」(U+300D) is not in the closer set either
  }

  test("empty segments drop; ends of text need no boundary") {
    assert(split("") === Seq.empty)
    assert(split("Done. ") === Seq("Done."))
    assert(split(". . .") === Seq(".", ".", "."))
    assert(split("tail without terminator") === Seq("tail without terminator"))
    // leading whitespace stays in the first sentence (nothing trims)
    assert(split("  Hi. x") === Seq("  Hi.", "x"))
  }

  /** The DuckDB oracle's EXACT two regexp_replace passes (lookaround-free,
    * so java.util.regex and RE2 agree), marker chr(30). */
  private val p1 = java.util.regex.Pattern.compile(
    "([.!?…。！？]+[\"')\\]»”’]*)[\t\n\f\r ]+")
  private val p2 = java.util.regex.Pattern.compile(
    "([…。！？]+[\"')\\]»”’]*)")
  private def regexTwin(text: String): Seq[String] = {
    val m1 = p1.matcher(text).replaceAll("$1\u001E")
    val m2 = p2.matcher(m1).replaceAll("$1\u001E")
    m2.split("\u001E", -1).toSeq.filter(_.nonEmpty)
  }

  test("randomized parity with the oracle's regex twin") {
    val alphabet = "ab .!?…。！？\"')]»”’\t\n漢"
    val rnd = new scala.util.Random(20260816L)
    (1 to 2000).foreach { i =>
      val len = rnd.nextInt(24)
      val t = (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(split(t) === regexTwin(t), s"case $i: ${t.map(_.toInt).mkString(",")}")
    }
  }

  test("null -> null; hostile input never throws; codegen == interpreted") {
    import spark.implicits._
    assert(UnicodeKit.splitSentences(null) === null)
    // unpaired surrogates, controls, long runs
    Seq("\ud800. x", "a.\udc00 b", "\u0000\u0001. ok", "." * 50000, "a " * 50000)
      .foreach { s => assert(UnicodeKit.splitSentences(UTF8String.fromString(s)) != null) }
    assert(Seq(Option.empty[String]).toDF("t")
      .selectExpr("split_sentences(t)").head().isNullAt(0))
    // codegen path (selectExpr over a column) equals the interpreted kit
    val rows = Seq("One. Two! 漢。end", "3.14 x. y", "")
    val got = rows.toDF("t").selectExpr("split_sentences(t) as s").collect()
    rows.zip(got).foreach { case (t, r) =>
      assert(r.getSeq[String](0) === split(t), s"text '$t'")
    }
  }
}
