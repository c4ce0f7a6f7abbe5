package graft.functions

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * HTTP response peeling + charset-aware payload decode — the two stages
 * between a crawl container's raw record bytes and [[HtmlKit]]'s text
 * extraction. A WARC `response` payload is a full HTTP message (status
 * line, headers, blank line, entity body) whose body bytes are encoded in
 * whatever charset the server chose; real Common Crawl segments are full
 * of ISO-8859-1/GBK/Shift-JIS responses, so `cast(payload as string)`
 * (UTF-8 assumption) feeds mojibake into every downstream text operator.
 * All three expressions follow the [[StripHtml]] discipline: one compiled
 * pass over the value, fully codegen'd, deterministic documented grammar,
 * never throwing on malformed input (the reference connector's
 * skip-corrupt philosophy — reference DataSource24.scala:149-186 —
 * applied to encodings: garbage decodes to replacement chars, not a
 * failed task).
 *
 * `decode_payload(payload binary, content_type string) -> string`:
 *  1. null payload -> null; null/absent content_type is fine.
 *  2. If the payload starts with ASCII "HTTP/", the bytes before the
 *     first blank line (CRLFCRLF, or bare LFLF) are the HTTP head; they
 *     are decoded as ISO-8859-1 (byte-preserving — header bytes are
 *     ASCII-compatible by RFC 9110) so `http_status`/`http_body` still
 *     see them exactly. Otherwise the whole payload is entity body.
 *  3. Body charset resolution, first hit wins:
 *     a. byte-order mark on the body (EF BB BF -> UTF-8, FF FE ->
 *        UTF-16LE, FE FF -> UTF-16BE; the BOM is consumed);
 *     b. `charset=` parameter of the content_type ARGUMENT (a caller-
 *        supplied header value; quotes tolerated, case-insensitive);
 *     c. `charset=` parameter of the payload's own Content-Type header
 *        (case-insensitive header-name scan of the HTTP head);
 *     d. `charset=` inside a `<meta` tag in the first 2048 body bytes
 *        (covers `<meta charset="x">` and the http-equiv `content=`
 *        spelling; scan decodes those bytes as ISO-8859-1);
 *     e. UTF-8.
 *  4. Unknown/unsupported charset names fall back to UTF-8; the decode
 *     itself runs with REPLACE error action (U+FFFD), never throwing.
 *  5. Result: decoded head + the separator as it appeared + decoded body.
 *
 * `http_status(s string) -> int`: the 3-digit status code of a message
 * starting with "HTTP/" (any version token up to the first space), or
 * null when no valid status line opens the string.
 *
 * `http_body(s string) -> string`: the entity body after the first blank
 * line of a message starting with "HTTP/" ("" when the message has no
 * blank line — headers only); a string NOT starting with "HTTP/" is
 * already a bare body and passes through unchanged. Header obs-folding
 * (continuation lines starting with SP/HT) never fakes a blank line, so
 * folded headers stay in the head.
 *
 * `http_header(s string, name string) -> string`: the FIRST value of the
 * named header in the message head (case-insensitive name at line start,
 * status line excluded; obs-folded continuation lines join the value with
 * their breaks collapsed to spaces; value trimmed), or null when the
 * header is absent, the string is not an HTTP message, or `name` is null.
 */
case class HttpStatus(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  // a non-null message without a valid status line yields null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"http_status expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val code = HttpKit.status(input.asInstanceOf[UTF8String])
    if (code < 0) null else code
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      int graftHttpStatus = graft.functions.HttpKit.status($c);
      if (graftHttpStatus < 0) { ${ev.isNull} = true; }
      else { ${ev.value} = graftHttpStatus; }""")

  override protected def withNewChildInternal(newChild: Expression): HttpStatus =
    copy(child = newChild)
}

case class HttpBody(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"http_body expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    HttpKit.body(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HttpKit.body($c)")

  override protected def withNewChildInternal(newChild: Expression): HttpBody =
    copy(child = newChild)
}

case class HttpHeaderValue(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"http_header expects (string, string), got $other")
    }

  override protected def nullSafeEval(msg: Any, name: Any): Any =
    HttpKit.header(msg.asInstanceOf[UTF8String], name.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, n) => s"""
      UTF8String graftHdr = graft.functions.HttpKit.header($m, $n);
      if (graftHdr == null) { ${ev.isNull} = true; }
      else { ${ev.value} = graftHdr; }""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HttpHeaderValue =
    copy(left = newLeft, right = newRight)
}

case class DecodePayload(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"decode_payload expects (binary, string), got $other")
    }

  override def nullable: Boolean = left.nullable

  // null payload -> null; a NULL content_type is a legitimate "no header
  // value available" and must NOT null the result (so the default
  // BinaryExpression null-intolerance doesn't apply)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val p = left.eval(input)
    if (p == null) null
    else {
      val ct = right.eval(input)
      HttpKit.decodePayload(
        p.asInstanceOf[Array[Byte]],
        if (ct == null) null else ct.asInstanceOf[UTF8String])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = left.genCode(ctx)
    val c = right.genCode(ctx)
    ev.copy(code = code"""
      ${p.code}
      boolean ${ev.isNull} = ${p.isNull};
      UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        ${c.code}
        ${ev.value} = graft.functions.HttpKit.decodePayload(
          ${p.value}, ${c.isNull} ? null : ${c.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecodePayload =
    copy(left = newLeft, right = newRight)
}

object HttpKit {

  /** Status code of a leading HTTP status line, or -1 (the expression maps
    * -1 to SQL null; primitive return keeps codegen unboxed). */
  def status(u: UTF8String): Int = {
    if (u == null) return -1
    statusJava(u.toString)
  }

  def statusJava(s: String): Int = {
    val n = s.length
    if (n < 5 || !s.startsWith("HTTP/")) return -1
    // version token: one or more of [0-9.] after "HTTP/"
    var i = 5
    val vStart = i
    while (i < n && (s.charAt(i) == '.' || (s.charAt(i) >= '0' && s.charAt(i) <= '9'))) i += 1
    if (i == vStart) return -1
    // one or more spaces
    val spStart = i
    while (i < n && s.charAt(i) == ' ') i += 1
    if (i == spStart) return -1
    // exactly 3 digits, then space/CR/LF/end
    if (i + 3 > n) return -1
    var code = 0
    var j = i
    while (j < i + 3) {
      val c = s.charAt(j)
      if (c < '0' || c > '9') return -1
      code = code * 10 + (c - '0')
      j += 1
    }
    if (j < n) {
      val after = s.charAt(j)
      if (after != ' ' && after != '\r' && after != '\n') return -1
    }
    code
  }

  def body(u: UTF8String): UTF8String = {
    if (u == null) return null
    UTF8String.fromString(bodyJava(u.toString))
  }

  /** First value of the named header, or null (see the class doc). */
  def header(msg: UTF8String, name: UTF8String): UTF8String = {
    if (msg == null || name == null) return null
    val v = headerJava(msg.toString, name.toString)
    if (v == null) null else UTF8String.fromString(v)
  }

  def headerJava(msg: String, name: String): String = {
    if (!msg.startsWith("HTTP/") || name.isEmpty) return null
    val sep = blankLine(msg)
    val head = if (sep < 0) msg else msg.substring(0, sep)
    headerValue(head, name.toLowerCase)
  }

  def bodyJava(s: String): String = {
    if (!s.startsWith("HTTP/")) return s // already a bare body
    val sep = blankLine(s)
    if (sep < 0) "" else s.substring(sep)
  }

  /** Index just PAST the first blank line (CRLFCRLF or bare LFLF), or -1.
    * A folded continuation line starts with SP/HT after one line break —
    * that is not a blank line and matches neither pattern. */
  private def blankLine(s: String): Int = {
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\r' && i + 3 < n && s.charAt(i + 1) == '\n' &&
        s.charAt(i + 2) == '\r' && s.charAt(i + 3) == '\n') return i + 4
      if (c == '\n' && i + 1 < n && s.charAt(i + 1) == '\n') return i + 2
      i += 1
    }
    -1
  }

  private def blankLineBytes(b: Array[Byte], limit: Int): Int = {
    val n = math.min(b.length, limit)
    var i = 0
    while (i < n) {
      if (b(i) == '\r' && i + 3 < n && b(i + 1) == '\n' &&
        b(i + 2) == '\r' && b(i + 3) == '\n') return i + 4
      if (b(i) == '\n' && i + 1 < n && b(i + 1) == '\n') return i + 2
      i += 1
    }
    -1
  }

  private val Latin1 = StandardCharsets.ISO_8859_1

  def decodePayload(payload: Array[Byte], contentType: UTF8String): UTF8String = {
    if (payload == null) return null
    UTF8String.fromString(decodePayloadJava(
      payload, if (contentType == null) null else contentType.toString))
  }

  def decodePayloadJava(payload: Array[Byte], contentType: String): String = {
    // 2. head/body split (head must be ASCII "HTTP/"-prefixed)
    val isHttp = payload.length >= 5 &&
      payload(0) == 'H' && payload(1) == 'T' && payload(2) == 'T' &&
      payload(3) == 'P' && payload(4) == '/'
    // a message head larger than 64 KiB is not a head — treat as bare body
    val headLimit = 64 * 1024
    val split = if (isHttp) blankLineBytes(payload, headLimit) else -1
    val bodyOff =
      if (split >= 0) split
      // headers-only message (the whole payload fits under the head limit)
      else if (isHttp && payload.length <= headLimit) payload.length
      // no separator within the limit on an over-limit payload: the comment's
      // promise — the bytes are not an HTTP head, decode them as bare body
      else 0
    val head = new String(payload, 0, bodyOff, Latin1)
    // 3. charset resolution
    var cs: Charset = null
    var bomLen = 0
    // a. BOM
    val bn = payload.length - bodyOff
    if (bn >= 3 && payload(bodyOff) == 0xEF.toByte && payload(bodyOff + 1) == 0xBB.toByte &&
      payload(bodyOff + 2) == 0xBF.toByte) { cs = StandardCharsets.UTF_8; bomLen = 3 }
    else if (bn >= 2 && payload(bodyOff) == 0xFF.toByte && payload(bodyOff + 1) == 0xFE.toByte) {
      cs = StandardCharsets.UTF_16LE; bomLen = 2
    } else if (bn >= 2 && payload(bodyOff) == 0xFE.toByte && payload(bodyOff + 1) == 0xFF.toByte) {
      cs = StandardCharsets.UTF_16BE; bomLen = 2
    }
    // b. caller-supplied content type
    if (cs == null && contentType != null) cs = charsetOf(charsetParam(contentType))
    // c. the payload's own Content-Type header
    if (cs == null && isHttp) cs = charsetOf(charsetParam(headerValue(head, "content-type")))
    // d. meta sniff over the first 2048 body bytes
    if (cs == null && bn > 0) {
      val sniffLen = math.min(bn, 2048)
      val sniff = new String(payload, bodyOff, sniffLen, Latin1).toLowerCase
      var at = sniff.indexOf("<meta")
      while (cs == null && at >= 0) {
        val gt = sniff.indexOf('>', at)
        val end = if (gt < 0) sniff.length else gt
        val tag = sniff.substring(at, end)
        val p = tag.indexOf("charset=")
        if (p >= 0) cs = charsetOf(paramValue(tag, p + 8))
        at = sniff.indexOf("<meta", at + 5)
      }
    }
    // e. fallback
    if (cs == null) cs = StandardCharsets.UTF_8
    // 4./5. replace-action decode of the body, head passed through
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val body = dec.decode(java.nio.ByteBuffer.wrap(
      payload, bodyOff + bomLen, payload.length - bodyOff - bomLen)).toString
    if (head.isEmpty) body else head + body
  }

  /** Value of `charset=` inside a Content-Type-shaped string (first
    * occurrence, case-insensitive, quotes tolerated), or null. The scan
    * uses `regionMatches(true, ...)` on the original string — a lowercased
    * copy can have different length (see [[headerValue]]). */
  private def charsetParam(ct: String): String = {
    if (ct == null) return null
    val needle = "charset="
    val last = ct.length - needle.length
    var i = 0
    while (i <= last) {
      if (ct.regionMatches(true, i, needle, 0, needle.length)) {
        return paramValue(ct, i + needle.length)
      }
      i += 1
    }
    null
  }

  /** Parameter value starting at `from`: optional single/double quote,
    * then up to the matching quote or a `;`/space/`/`'>'` delimiter. */
  private def paramValue(s: String, from: Int): String = {
    var i = from
    val n = s.length
    if (i >= n) return null
    val quote = s.charAt(i)
    if (quote == '"' || quote == '\'') {
      val end = s.indexOf(quote, i + 1)
      return if (end < 0) s.substring(i + 1).trim else s.substring(i + 1, end).trim
    }
    var j = i
    while (j < n && !";, \t\r\n>\"'".contains(s.charAt(j))) j += 1
    val v = s.substring(i, j).trim
    if (v.isEmpty) null else v
  }

  /** First value of a named header in an HTTP head (case-insensitive name
    * at line start; the value runs to the line break, with obs-folded
    * continuation lines included), or null. Case-insensitivity uses
    * `regionMatches(true, ...)` directly on `head` — a separately
    * lowercased copy can be LONGER than the original (U+0130 lowercases
    * to two chars), which would misalign indices and break the
    * never-throw contract on adversarial non-ASCII heads. */
  private def headerValue(head: String, lowerName: String): String = {
    val needle = lowerName + ":"
    var at = head.indexOf('\n') // skip the status line
    while (at >= 0 && at + 1 < head.length) {
      val start = at + 1
      if (head.regionMatches(true, start, needle, 0, needle.length)) {
        var end = head.indexOf('\n', start)
        if (end < 0) end = head.length
        // obs-fold: continuation lines start with SP/HT
        while (end + 1 < head.length &&
          (head.charAt(end + 1) == ' ' || head.charAt(end + 1) == '\t')) {
          val nxt = head.indexOf('\n', end + 1)
          end = if (nxt < 0) head.length else nxt
        }
        // obs-fold is semantically one SP (RFC 9112): collapse each line
        // break plus the continuation's leading whitespace to a space
        return FoldBreak.matcher(head.substring(start + needle.length, end))
          .replaceAll(" ").trim
      }
      at = head.indexOf('\n', start)
    }
    null
  }

  private val FoldBreak = java.util.regex.Pattern.compile("[\\r\\n]+[ \\t]*")

  /** Charset.forName that never throws: unknown names decode as UTF-8. */
  private def charsetOf(name: String): Charset = {
    if (name == null || name.isEmpty) return null
    try Charset.forName(name)
    catch { case _: Exception => StandardCharsets.UTF_8 }
  }
}

object HttpExpressions {
  private[functions] val httpStatusBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"http_status takes 1 argument, got ${exprs.length}")
    HttpStatus(exprs.head)
  }
  private[functions] val httpBodyBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"http_body takes 1 argument, got ${exprs.length}")
    HttpBody(exprs.head)
  }
  private[functions] val decodePayloadBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"decode_payload takes 2 arguments, got ${exprs.length}")
    DecodePayload(exprs(0), exprs(1))
  }
  private[functions] val httpHeaderBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"http_header takes 2 arguments, got ${exprs.length}")
    HttpHeaderValue(exprs(0), exprs(1))
  }
}
