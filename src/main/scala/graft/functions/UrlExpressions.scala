package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `canonical_url(s)` — the URL-normalization stage of web-corpus dedup
 * (the first dedup pass a crawl pipeline runs is BY URL, before any
 * content hash: re-crawls, tracking-tagged shares and http/https mirrors
 * of one page collapse to one canonical key). One compiled pass, fully
 * codegen'd (`defineCodeGen` → static call, stays inside WholeStageCodegen
 * like the shingle/CDC expressions in [[TextExpressions]]).
 *
 * Deterministic rule set (each independently replayable in oracle SQL):
 *  1. strip the fragment (first '#' onward);
 *  2. no "://" → return the fragment-stripped input verbatim (opaque);
 *  3. lowercase the scheme and the authority;
 *  4. strip one leading "www." from the host;
 *  5. drop the default port (:80 for http, :443 for https) and any empty
 *     ":" port;
 *  6. strip ALL trailing '/' from the path ("/a/" == "/a", "/" == "");
 *  7. drop tracking params (any "utm_" key prefix, and exact keys fbclid,
 *     gclid, msclkid, ref — all case-insensitive), drop empty params,
 *     sort survivors by UTF-8 BYTE order (ties keep duplicates), re-join
 *     with '&' — param VALUES keep their case;
 *  8. reassemble scheme://host[:port][path][?query].
 *
 * Null in → null out. The byte-order sort (not UTF-16 code-unit order)
 * is what makes a DuckDB `list_sort` replay bit-identical on non-ASCII
 * query strings.
 */
/**
 * `url_host(s)` — the canonical host of a URL: lowercased authority up to
 * the first '/' or '?', userinfo (`user:pass@`) dropped, one leading
 * "www." stripped, any port dropped. Null when the input is null or has
 * no "://" (opaque strings have no host). The per-host key of every
 * crawl census/politeness query.
 *
 * `url_domain(s)` — the registered-domain-LITE key: the host's last two
 * labels, except that a second-level label from the well-known
 * country-code set (co/com/net/org/ac/gov/edu + 2-letter TLD — e.g.
 * "bbc.co.uk") keeps three. Hosts with fewer labels, IPv4 literals and
 * bracketed IPv6 return whole. A deliberate simplification of the public
 * suffix list (a data file this library will not vendor), DOCUMENTED as
 * such — the aggregation key real crawl dashboards group by.
 */
case class UrlHost(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"url_host expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    UrlKit.host(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      UTF8String graftUrlHost = graft.functions.UrlKit.host($c);
      if (graftUrlHost == null) { ${ev.isNull} = true; }
      else { ${ev.value} = graftUrlHost; }""")

  override protected def withNewChildInternal(newChild: Expression): UrlHost =
    copy(child = newChild)
}

case class UrlDomain(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"url_domain expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    UrlKit.domain(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      UTF8String graftUrlDom = graft.functions.UrlKit.domain($c);
      if (graftUrlDom == null) { ${ev.isNull} = true; }
      else { ${ev.value} = graftUrlDom; }""")

  override protected def withNewChildInternal(newChild: Expression): UrlDomain =
    copy(child = newChild)
}

/**
 * `url_domain(url, rules)` — the PSL-DRIVEN registered domain: the same
 * host extraction as the 1-arg form, but the public suffix comes from a
 * caller-supplied table in the Public Suffix List's own rule grammar
 * (publicsuffix.org — public content this library does not vendor; pass
 * the rules you need). `rules` is ';'- or newline-separated PSL lines:
 * plain suffixes ("co.uk", "github.io"), wildcard rules ("*.ck" — any
 * single label under .ck is itself a public suffix), and exception rules
 * ("!city.ck" — carved back out of a wildcard). Matching follows the
 * published algorithm: an exception match wins (its suffix drops one
 * label), else the LONGEST matching rule, else the implicit default `*`
 * (the bare TLD). The registered domain is the public suffix plus one
 * label; a host that IS a public suffix (or an IP literal) returns
 * whole. `rules` is pipeline configuration: it must be a foldable
 * literal that parses, or analysis fails loudly; the parsed table rides
 * the plan once (`addReferenceObj`), not per row.
 */
case class UrlDomainPsl(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val T = org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        if (!right.foldable) {
          T.TypeCheckFailure("url_domain: the rules argument must be a foldable " +
            "literal (a public-suffix table is pipeline configuration, not data)")
        } else {
          val r = right.eval(null)
          if (r == null) T.TypeCheckFailure("url_domain: rules must be non-null")
          else {
            UrlKit.pslParseError(r.toString) match {
              case null => T.TypeCheckSuccess
              case err => T.TypeCheckFailure(s"url_domain: $err")
            }
          }
        }
      case other =>
        T.TypeCheckFailure(s"url_domain expects (string, string), got $other")
    }
  }

  @transient private lazy val table: UrlKit.PslTable =
    UrlKit.pslParse(right.eval(null).toString)

  override protected def nullSafeEval(url: Any, rules: Any): Any = {
    val d = UrlKit.domainPsl(url.asInstanceOf[UTF8String], table)
    if (d == null) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("pslTable", table, classOf[UrlKit.PslTable].getName)
    nullSafeCodeGen(ctx, ev, (u, _) => s"""
      UTF8String graftUrlDomP = graft.functions.UrlKit.domainPsl($u, $tRef);
      if (graftUrlDomP == null) { ${ev.isNull} = true; }
      else { ${ev.value} = graftUrlDomP; }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UrlDomainPsl =
    copy(left = newLeft, right = newRight)
}

case class CanonicalUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"canonical_url expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    UrlKit.canonical(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKit.canonical($c)")

  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)
}

object UrlKit {

  private val TrackingKeys = Set("fbclid", "gclid", "msclkid", "ref")

  /** Canonical host (see [[UrlHost]]), or null. */
  def host(u: UTF8String): UTF8String = {
    if (u == null) return null
    val h = hostJava(u.toString)
    if (h == null) null else UTF8String.fromString(h)
  }

  def hostJava(raw: String): String = {
    val hash = raw.indexOf('#')
    val s = if (hash >= 0) raw.substring(0, hash) else raw
    val sep = s.indexOf("://")
    if (sep < 0) return null
    val rest = s.substring(sep + 3)
    var aEnd = rest.length
    var i = 0
    var found = false
    while (i < rest.length && !found) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?') { aEnd = i; found = true }
      i += 1
    }
    var authority = rest.substring(0, aEnd).toLowerCase
    val at = authority.lastIndexOf('@') // userinfo
    if (at >= 0) authority = authority.substring(at + 1)
    if (authority.startsWith("www.")) authority = authority.substring(4)
    // bracketed IPv6 keeps its brackets; port is after the closing bracket
    if (authority.startsWith("[")) {
      val close = authority.indexOf(']')
      return if (close < 0) authority else authority.substring(0, close + 1)
    }
    val colon = authority.lastIndexOf(':')
    if (colon >= 0) authority.substring(0, colon) else authority
  }

  /** Second-level labels that act as country-code public suffixes in the
    * LITE rule (kept deliberately small and documented). */
  private val CcSecondLevel = Set("co", "com", "net", "org", "ac", "gov", "edu")

  /** Registered-domain-lite (see [[UrlDomain]]), or null. */
  def domain(u: UTF8String): UTF8String = {
    if (u == null) return null
    val h = hostJava(u.toString)
    if (h == null) return null
    UTF8String.fromString(domainOfHost(h))
  }

  def domainOfHost(host: String): String = {
    if (host.startsWith("[")) return host // IPv6 literal
    val labels = host.split("\\.", -1)
    if (labels.length <= 2) return host
    // IPv4 literal: all-numeric labels
    if (labels.forall(l => l.nonEmpty && l.forall(c => c >= '0' && c <= '9'))) return host
    val n = labels.length
    val keepThree = labels(n - 1).length == 2 && CcSecondLevel.contains(labels(n - 2))
    val keep = if (keepThree && n >= 3) 3 else 2
    labels.slice(n - keep, n).mkString(".")
  }

  /** Parsed PSL rule table (see [[UrlDomainPsl]]): plain suffixes,
    * wildcard bases (the part after "*."), exception suffixes (after
    * "!"). All lowercase label sequences. */
  final class PslTable(
      val plain: java.util.HashSet[String],
      val wildcard: java.util.HashSet[String],
      val exception: java.util.HashSet[String]) extends Serializable

  /** Null when `rules` parses, else a loud description (analysis-time).
    * Grammar: ';'/newline-separated PSL lines; blank lines and `//`
    * comments skipped; a rule is dot-separated non-empty labels,
    * optionally prefixed `*.` (wildcard) or `!` (exception). */
  def pslParseError(rules: String): String = {
    val lines = rules.split("[;\n]", -1).map(_.trim)
    var sawRule = false
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      if (line.nonEmpty && !line.startsWith("//")) {
        val body =
          if (line.startsWith("!")) line.substring(1)
          else if (line.startsWith("*.")) line.substring(2)
          else line
        if (body.isEmpty) return s"malformed rule '$line'"
        val labels = body.split("\\.", -1)
        if (labels.exists(_.isEmpty)) return s"malformed rule '$line' (empty label)"
        if (body.contains("*")) return s"malformed rule '$line' (interior wildcards unsupported)"
        sawRule = true
      }
      i += 1
    }
    if (!sawRule) return "rules contain no suffix rules"
    null
  }

  def pslParse(rules: String): PslTable = {
    val plain = new java.util.HashSet[String]()
    val wild = new java.util.HashSet[String]()
    val exc = new java.util.HashSet[String]()
    rules.split("[;\n]", -1).map(_.trim).foreach { line =>
      if (line.nonEmpty && !line.startsWith("//")) {
        if (line.startsWith("!")) exc.add(line.substring(1).toLowerCase)
        else if (line.startsWith("*.")) wild.add(line.substring(2).toLowerCase)
        else plain.add(line.toLowerCase)
      }
    }
    new PslTable(plain, wild, exc)
  }

  /** PSL-driven registered domain (see [[UrlDomainPsl]]), or null. */
  def domainPsl(u: UTF8String, table: PslTable): UTF8String = {
    if (u == null) return null
    val h = hostJava(u.toString)
    if (h == null) return null
    UTF8String.fromString(domainOfHostPsl(h, table))
  }

  def domainOfHostPsl(host: String, table: PslTable): String = {
    if (host.startsWith("[")) return host // IPv6 literal
    val labels = host.split("\\.", -1)
    val n = labels.length
    if (labels.forall(l => l.nonEmpty && l.forall(c => c >= '0' && c <= '9')))
      return host // IPv4 literal
    // public-suffix length in labels, per the published PSL algorithm
    var psLen = -1
    // exception rules win: the matched rule's suffix minus its first label
    var k = 1
    while (psLen < 0 && k <= n) {
      if (table.exception.contains(suffixOf(labels, k))) psLen = k - 1
      k += 1
    }
    if (psLen < 0) {
      var best = 0
      k = 1
      while (k <= n) {
        if (table.plain.contains(suffixOf(labels, k)) && k > best) best = k
        // "*.X": one label plus the base — matches a (k)-label suffix whose
        // trailing (k-1) labels are X
        if (k >= 2 && table.wildcard.contains(suffixOf(labels, k - 1)) && k > best) best = k
        k += 1
      }
      psLen = if (best == 0) 1 else best // implicit default rule `*`
    }
    if (psLen >= n) host // the host IS a public suffix
    else suffixOf(labels, psLen + 1)
  }

  private def suffixOf(labels: Array[String], k: Int): String = {
    val n = labels.length
    val sb = new java.lang.StringBuilder
    var i = n - k
    while (i < n) {
      if (i > n - k) sb.append('.')
      sb.append(labels(i))
      i += 1
    }
    sb.toString
  }

  /** Shared by interpreted eval and generated code. */
  def canonical(u: UTF8String): UTF8String = {
    if (u == null) return null
    UTF8String.fromString(canonicalJava(u.toString))
  }

  def canonicalJava(raw: String): String = {
    // 1. fragment
    val hash = raw.indexOf('#')
    val s = if (hash >= 0) raw.substring(0, hash) else raw
    // 2. scheme split
    val sep = s.indexOf("://")
    if (sep < 0) return s
    val scheme = s.substring(0, sep).toLowerCase
    val rest = s.substring(sep + 3)
    // authority = up to first '/' or '?'
    var aEnd = rest.length
    var i = 0
    var found = false
    while (i < rest.length && !found) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?') { aEnd = i; found = true }
      i += 1
    }
    var authority = rest.substring(0, aEnd).toLowerCase
    val pathAndQuery = rest.substring(aEnd)
    // 4. www.
    if (authority.startsWith("www.")) authority = authority.substring(4)
    // 5. ports
    val colon = authority.lastIndexOf(':')
    var host = authority
    var port = ""
    if (colon >= 0) {
      host = authority.substring(0, colon)
      port = authority.substring(colon + 1)
      if (port.isEmpty ||
        (scheme == "http" && port == "80") ||
        (scheme == "https" && port == "443")) port = ""
    }
    // 6./7. path + query
    val q = pathAndQuery.indexOf('?')
    var path = if (q >= 0) pathAndQuery.substring(0, q) else pathAndQuery
    val query = if (q >= 0) pathAndQuery.substring(q + 1) else ""
    while (path.nonEmpty && path.charAt(path.length - 1) == '/')
      path = path.substring(0, path.length - 1)
    val kept = query.split("&", -1).filter { p =>
      if (p.isEmpty) false
      else {
        val eq = p.indexOf('=')
        val key = (if (eq >= 0) p.substring(0, eq) else p).toLowerCase
        !key.startsWith("utm_") && !TrackingKeys.contains(key)
      }
    }
    // UTF-8 byte order (UTF8String.compareTo is byte-wise unsigned), so a
    // DuckDB list_sort replay is bit-identical on non-ASCII too
    java.util.Arrays.sort(kept, (a: String, b: String) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(scheme).append("://").append(host)
    if (port.nonEmpty) sb.append(':').append(port)
    sb.append(path)
    if (kept.nonEmpty) {
      sb.append('?')
      var j = 0
      while (j < kept.length) {
        if (j > 0) sb.append('&')
        sb.append(kept(j))
        j += 1
      }
    }
    sb.toString
  }
}

object UrlExpressions {
  private[functions] val canonicalUrlBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"canonical_url takes 1 argument, got ${exprs.length}")
    CanonicalUrl(exprs.head)
  }
  private[functions] val urlHostBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"url_host takes 1 argument, got ${exprs.length}")
    UrlHost(exprs.head)
  }
  private[functions] val urlDomainBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1 || exprs.length == 2,
      s"url_domain takes 1 (LITE) or 2 (PSL table) arguments, got ${exprs.length}")
    if (exprs.length == 1) UrlDomain(exprs.head)
    else UrlDomainPsl(exprs(0), exprs(1))
  }
}
