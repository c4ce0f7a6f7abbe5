package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** strip_html: grammar rule-by-rule, hostile fragments, interpreted ==
  * codegen. */
class HtmlExpressionsSpec extends AnyFunSuite with SparkSuite {

  private def strip(h: String): String =
    spark.sql(s"select strip_html('${h.replace("'", "''")}')").head().getString(0)

  test("tags become block boundaries; script/style/head drop with contents") {
    assert(strip("<h1>A</h1><p>B</p>") === "A B", "adjacent blocks never concatenate")
    assert(strip("<p>x<b>y</b>z</p>") === "x y z", "inline tags also separate")
    assert(strip("<head><title>t</title><style>p{c}</style></head><body>B</body>") === "B")
    assert(strip("<SCRIPT>var x = '<p>sneaky</p>';</SCRIPT>ok") === "ok",
      "script contents drop case-insensitively")
    assert(strip("<style media=\"x\">q{}</style>R") === "R",
      "attributes on dropped elements are fine")
    assert(strip("<scripty>keep</scripty>") === "keep",
      "tag-name prefix match requires a word boundary")
  }

  test("comments, entities, whitespace collapse, hostile fragments") {
    assert(strip("a<!-- <p>gone</p> -->b") === "a b")
    assert(strip("x &amp; y &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b")
      === "x & y <tag> \"q\" 's' a b")
    assert(strip("a  \n\t  b") === "a b")
    assert(strip("  <p> padded </p>  ") === "padded", "trimmed ends")
    assert(strip("a &unknown; b") === "a &unknown; b", "unknown entities pass through")
    assert(strip("a<script>never closed") === "a", "unterminated dropped element")
    assert(strip("a<!-- never closed") === "a", "unterminated comment")
    assert(strip("a<b unclosed") === "a", "unterminated tag eats the tail")
    assert(strip("") === "")
    val r = spark.sql("select strip_html(cast(null as string))").head()
    assert(r.isNullAt(0))
  }

  test("interpreted eval equals codegen on generated fragments") {
    val df = spark.range(0, 200).toDF("id").selectExpr(
      """concat('<html><head><title>t', cast(id as string),
               '</title></head><body><h1>H', cast(id % 7 as string),
               '</h1><p>word', cast(id as string), '&nbsp;tail</p></body></html>') as h""")
    val gen = df.selectExpr("strip_html(h) as c").collect().map(_.getString(0))
    val interp = df.collect().map(r => HtmlKit.stripJava(r.getString(0)))
    assert(gen.toSeq === interp.toSeq)
    assert(gen(13) === "H6 word13 tail")
  }

  // --------------------------------------------------------------- extract_main

  private def extract(h: String): String =
    spark.sql(s"select extract_main('${h.replace("'", "''")}')").head().getString(0)

  private val LongA = "This paragraph carries enough characters to qualify as content."
  private val LongB = "A second real paragraph with plenty of words to keep around."

  test("extract_main: dressed shell drops, article text is byte-identical") {
    val page = "<html><head><title>T</title></head><body>" +
      "<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/x\">Archive</a></li></ul></nav>" +
      "<header><h1>Site name banner headline wording</h1></header>" +
      s"<div id=\"main\"><p>$LongA</p><p>$LongB</p></div>" +
      "<aside>Related links <a href=\"/r\">one</a> <a href=\"/s\">two</a></aside>" +
      "<footer>All rights reserved. <a href=\"/p\">Privacy</a></footer>" +
      "</body></html>"
    assert(extract(page) === s"$LongA\n$LongB",
      "nav/header/aside/footer stripped; article paragraphs byte-identical")
  }

  test("extract_main: length rule — short blocks drop at the 25-non-space threshold") {
    // exactly 24 non-space chars -> dropped; 25 -> kept
    val s24 = "abcde fghij klmno pqrst wxyz" // 24 non-space
    assert(s24.count(_ != ' ') === 24)
    val s25 = s24 + "Q"
    assert(extract(s"<p>$s24</p>") === "")
    assert(extract(s"<p>$s25</p>") === s25)
  }

  test("extract_main: integer link-density rule — 3 * linked <= len") {
    // 25 non-space chars, 23 of them linked -> dropped (69 > 25)
    val linkHeavy = "<p><a href=\"/l\">click here now</a> <a href=\"/m\">and also here</a> ok</p>"
    assert(extract(linkHeavy) === "")
    // same text unlinked -> kept
    assert(extract("<p>click here now and also here ok</p>")
      === "click here now and also here ok")
    // boundary: linked * 3 == len is kept (<=, not <)
    // len = 27 non-space, linked = 9 ("linkednine") -> wait: use exact strings
    val boundary = "<p><a href=\"/l\">ninechars</a> eighteen more chars x</p>"
    // non-space: 9 + 16 ("eighteenmorechars x" minus spaces = 18? count below)
    val txt = "ninechars eighteen more chars x"
    assert(txt.count(_ != ' ') === 27)
    assert(extract(boundary) === txt, "3*9 = 27 <= 27 keeps the block")
  }

  test("extract_main: unclosed <a> links the block remainder; stray close breaks block") {
    // unclosed anchor: everything after it is linked -> density kills it
    assert(extract(s"<p><a href=\"/x\">$LongA</p>") === "")
    // anchor closed immediately: text unlinked -> kept
    assert(extract(s"<p><a href=\"/x\"></a>$LongA</p>") === LongA)
    // stray </footer> close (no open) still breaks the block
    assert(extract(s"<p>$LongA</footer>$LongB</p>") === s"$LongA\n$LongB")
  }

  test("extract_main: nesting, case, comments, entities, hostile fragments") {
    // nested same-tag containers skip to the MATCHING close
    assert(extract(s"<nav>a<nav>b</nav>c</nav><p>$LongA</p>") === LongA)
    assert(extract(s"<NAV>x</NAV><p>$LongA</p>") === LongA, "case-insensitive")
    // unterminated container eats the tail
    assert(extract(s"<footer>x<p>$LongA</p>") === "")
    // <navx> is NOT nav (word boundary): it's an inline unknown tag
    assert(extract(s"<p><navx>$LongA</navx></p>") === LongA)
    // entities decode inside blocks and count as chars
    assert(extract(s"<p>$LongA &amp; more</p>") === s"$LongA & more")
    // comments vanish even mid-block
    assert(extract(s"<p>$LongA<!-- hidden --> tail</p>") === s"$LongA tail")
    // script inside a block drops with contents
    assert(extract(s"<p>$LongA<script>x='<a>'</script> tail</p>") === s"$LongA tail")
    // hostile: unterminated everything, empty, null
    assert(extract("<p><a href=") === "")
    assert(extract("") === "")
    assert(spark.sql("select extract_main(cast(null as string))").head().isNullAt(0))
  }

  test("extract_main: interpreted eval equals codegen on generated pages") {
    val df = spark.range(0, 200).toDF("id").selectExpr(
      s"""concat('<nav><a href="/">Home</a></nav><p>$LongA ',
                cast(id as string),
                '</p><p><a href="/x">linked words here</a> y</p><footer>fine print</footer>') as h""")
    val gen = df.selectExpr("extract_main(h) as c").collect().map(_.getString(0))
    val interp = df.collect().map(r => HtmlKit.extractMainJava(r.getString(0)))
    assert(gen.toSeq === interp.toSeq)
    assert(gen(7) === s"$LongA 7")
  }
}
