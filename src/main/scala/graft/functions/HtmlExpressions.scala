package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `strip_html(s)` — the text-extraction stage between crawl payloads and
 * text curation (the lightweight tag-stripper every web-corpus pipeline
 * runs before dedup/quality; trafilatura-class boilerplate REMOVAL is a
 * separate concern — q132 covers boilerplate fractions). One compiled
 * single pass, fully codegen'd.
 *
 * Deterministic grammar (documented, replayable):
 *  1. `<!-- ... -->` comments are removed (unterminated: to end of input);
 *  2. `<script>`, `<style>` and `<head>` elements are removed WITH their
 *     contents (case-insensitive, attributes allowed on the open tag;
 *     unterminated: to end of input);
 *  3. every remaining tag `<...>` becomes ONE space (the block-boundary
 *     rule: `<h1>A</h1><p>B</p>` reads "A B", never "AB"; a '>' inside a
 *     quoted attribute is treated as the tag end — the standard
 *     lightweight-stripper simplification);
 *  4. the six ubiquitous entities decode: &amp; &lt; &gt; &quot; &#39;
 *     &nbsp; (the last to a plain space);
 *  5. whitespace runs collapse to one space; leading/trailing trimmed.
 *
 * Null in → null out.
 */
case class StripHtml(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"strip_html expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    HtmlKit.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlKit.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): StripHtml =
    copy(child = newChild)
}

object HtmlKit {

  def strip(u: UTF8String): UTF8String = {
    if (u == null) return null
    UTF8String.fromString(stripJava(u.toString))
  }

  private val Dropped = Array("script", "style", "head")

  def stripJava(html: String): String = {
    val n = html.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    def emit(c: Char): Unit = {
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') pendingSpace = true
      else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
    }
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.regionMatches(i, "<!--", 0, 4)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          pendingSpace = true
        } else {
          val dropped = Dropped.find(t =>
            html.regionMatches(true, i + 1, t, 0, t.length) && {
              val after = i + 1 + t.length
              after >= n || !Character.isLetterOrDigit(html.charAt(after))
            })
          dropped match {
            case Some(t) =>
              // skip the whole element, contents included
              val close = indexOfIgnoreCase(html, s"</$t", i)
              if (close < 0) i = n
              else {
                val gt = html.indexOf('>', close)
                i = if (gt < 0) n else gt + 1
              }
              pendingSpace = true
            case None =>
              val gt = html.indexOf('>', i)
              i = if (gt < 0) n else gt + 1
              pendingSpace = true
          }
        }
      } else if (c == '&') {
        val (rep, len) = entityAt(html, i)
        rep.foreach(emit)
        i += len
      } else {
        emit(c)
        i += 1
      }
    }
    sb.toString
  }

  /** The six ubiquitous entities (strip rule 4), shared with
    * [[extractMainJava]]: replacement text + consumed length. */
  private def entityAt(html: String, i: Int): (String, Int) =
    if (html.regionMatches(i, "&amp;", 0, 5)) ("&", 5)
    else if (html.regionMatches(i, "&lt;", 0, 4)) ("<", 4)
    else if (html.regionMatches(i, "&gt;", 0, 4)) (">", 4)
    else if (html.regionMatches(i, "&quot;", 0, 6)) ("\"", 6)
    else if (html.regionMatches(i, "&#39;", 0, 5)) ("'", 5)
    else if (html.regionMatches(i, "&nbsp;", 0, 6)) (" ", 6)
    else ("&", 1)

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = s.length
    val m = needle.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      if (s.regionMatches(true, i, needle, 0, m)) return i
      i += 1
    }
    -1
  }

  // ---------------------------------------------------------------------
  // extract_main — see [[ExtractMain]]'s grammar doc

  /** Boilerplate containers removed with contents (grammar rule 2). */
  private val PrunedContainers = Array("nav", "aside", "footer", "header", "form")

  /** Block-boundary tag set (grammar rule 3). Includes the pruned
    * containers so a STRAY close tag (no matching open) still breaks the
    * block instead of reading as inline. */
  private val BlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
      "dl", "dt", "dd", "table", "thead", "tbody", "tr", "td", "th",
      "article", "section", "main", "blockquote", "pre", "br", "hr",
      "title", "figure", "figcaption",
      "nav", "aside", "footer", "header", "form").foreach(s.add)
    s
  }

  /** Content-block thresholds (grammar rule 6): minimum non-space chars,
    * and the integer link-density rule `3 * linked <= len`. */
  val MinContentChars: Int = 25

  private def isBoundary(s: String, pos: Int): Boolean =
    pos >= s.length || !Character.isLetterOrDigit(s.charAt(pos))

  def extractMain(u: UTF8String): UTF8String = {
    if (u == null) return null
    UTF8String.fromString(extractMainJava(u.toString))
  }

  def extractMainJava(html: String): String = {
    val n = html.length
    val out = new java.lang.StringBuilder
    val block = new java.lang.StringBuilder
    var nonSpace = 0
    var linked = 0
    var linkDepth = 0
    var pendingSpace = false
    def emit(c: Char): Unit = {
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') pendingSpace = true
      else {
        if (pendingSpace && block.length > 0) block.append(' ')
        pendingSpace = false
        block.append(c)
        nonSpace += 1
        if (linkDepth > 0) linked += 1
      }
    }
    def finishBlock(): Unit = {
      if (block.length > 0 && nonSpace >= MinContentChars && 3 * linked <= nonSpace) {
        if (out.length > 0) out.append('\n')
        out.append(block)
      }
      block.setLength(0)
      nonSpace = 0; linked = 0; linkDepth = 0; pendingSpace = false
    }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.regionMatches(i, "<!--", 0, 4)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
          pendingSpace = true
        } else {
          val droppedFlat = Dropped.find(t =>
            html.regionMatches(true, i + 1, t, 0, t.length) &&
              isBoundary(html, i + 1 + t.length))
          droppedFlat match {
            case Some(t) =>
              val close = indexOfIgnoreCase(html, s"</$t", i)
              if (close < 0) i = n
              else {
                val gt = html.indexOf('>', close)
                i = if (gt < 0) n else gt + 1
              }
              pendingSpace = true
            case None =>
              val pruned = PrunedContainers.find(t =>
                html.regionMatches(true, i + 1, t, 0, t.length) &&
                  isBoundary(html, i + 1 + t.length))
              pruned match {
                case Some(t) =>
                  finishBlock()
                  i = skipContainer(html, i, t)
                case None =>
                  // generic tag: parse the name, track links, break blocks
                  var j = i + 1
                  val isClose = j < n && html.charAt(j) == '/'
                  if (isClose) j += 1
                  val start = j
                  while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
                  val name = html.substring(start, j).toLowerCase(java.util.Locale.ROOT)
                  if (name == "a") {
                    if (isClose) { if (linkDepth > 0) linkDepth -= 1 }
                    else linkDepth += 1
                  }
                  if (BlockTags.contains(name)) finishBlock()
                  val gt = html.indexOf('>', i)
                  i = if (gt < 0) n else gt + 1
                  pendingSpace = true
              }
          }
        }
      } else if (c == '&') {
        val (rep, len) = entityAt(html, i)
        rep.foreach(emit)
        i += len
      } else {
        emit(c)
        i += 1
      }
    }
    finishBlock()
    out.toString
  }

  /** Skip a pruned container from its open tag at `from` past its
    * matching close, counting SAME-TAG nesting (word-boundary matches;
    * the stripper's quoted-'>' simplification applies). Unterminated:
    * to end of input. Returns the index after the matching close. */
  private def skipContainer(html: String, from: Int, tag: String): Int = {
    val n = html.length
    var depth = 0
    var i = from
    while (i < n) {
      if (html.charAt(i) == '<' && i + 1 < n) {
        if (html.regionMatches(true, i + 1, tag, 0, tag.length) &&
            isBoundary(html, i + 1 + tag.length)) {
          depth += 1
          val gt = html.indexOf('>', i)
          i = if (gt < 0) n else gt + 1
        } else if (html.charAt(i + 1) == '/' &&
            html.regionMatches(true, i + 2, tag, 0, tag.length) &&
            isBoundary(html, i + 2 + tag.length)) {
          depth -= 1
          val gt = html.indexOf('>', i)
          val next = if (gt < 0) n else gt + 1
          if (depth == 0) return next
          i = next
        } else i += 1
      } else i += 1
    }
    n
  }
}

/**
 * `extract_main(s)` — MAIN-CONTENT extraction: the block-level text/link-
 * density extractor (the published boilerpipe/jusText algorithm class)
 * that sits between payload decode and text curation in real crawl
 * pipelines. [[StripHtml]] keeps nav/footer/sidebar TEXT; this drops it:
 * per-page junk that is not corpus-repeated (so the sentence-df scrub
 * can't catch it) never reaches curation. One compiled single pass,
 * fully codegen'd.
 *
 * Deterministic grammar (documented, replayable):
 *  1. `<!-- ... -->` comments and `<script>/<style>/<head>` elements are
 *     removed with their contents (the [[StripHtml]] rules 1–2);
 *  2. the semantic BOILERPLATE CONTAINERS `<nav> <aside> <footer>
 *     <header> <form>` are removed WITH their contents (case-
 *     insensitive, same-tag nesting counted, attributes allowed;
 *     unterminated: to end of input; a matching open/close inside a
 *     quoted attribute counts — the stripper's '>' simplification);
 *  3. the remaining text segments into BLOCKS at every open or close
 *     tag of the block set `p div h1..h6 li ul ol dl dt dd table thead
 *     tbody tr td th article section main blockquote pre br hr title
 *     figure figcaption` (word-boundary match); all other tags are
 *     INLINE: they become one space inside the current block;
 *  4. within a block, `<a ...>` / `</a>` track link depth: every
 *     NON-SPACE character emitted at depth > 0 is a linked character
 *     (an unclosed `<a>` links the block's remainder);
 *  5. entities decode and whitespace collapses exactly as
 *     [[StripHtml]] rules 4–5, per block;
 *  6. a block is CONTENT iff its non-space character count `len >= 25`
 *     AND `3 * linked <= len` (integer link-density rule: at most a
 *     third of the block is anchor text — boilerpipe's densometric
 *     threshold as exact arithmetic, no floats);
 *  7. the result is the content blocks joined by '\n' (empty string
 *     when nothing qualifies).
 *
 * Null in → null out.
 */
case class ExtractMain(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"extract_main expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    HtmlKit.extractMain(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlKit.extractMain($c)")

  override protected def withNewChildInternal(newChild: Expression): ExtractMain =
    copy(child = newChild)
}

object HtmlExpressions {
  private[functions] val stripHtmlBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"strip_html takes 1 argument, got ${exprs.length}")
    StripHtml(exprs.head)
  }
  private[functions] val extractMainBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"extract_main takes 1 argument, got ${exprs.length}")
    ExtractMain(exprs.head)
  }
}
