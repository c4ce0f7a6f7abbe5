package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `scrub_pii(s)` — PII redaction for pretraining corpora: the scrub pass
 * every published web-corpus pipeline runs before tokenization (emails,
 * phone numbers, IPs and card numbers must not reach the training set).
 * Deterministic, documented rule set; precompiled patterns called from a
 * static kit (the [[StripHtml]] discipline — stays inside whole-stage
 * codegen). Null in → null out.
 *
 * Rules, applied in THIS order (order is part of the contract — an IBAN's
 * digit groups would otherwise be claimed by the card rule, and an IPv4
 * by the phone rule):
 *
 *  1. EMAIL → `<EMAIL>`: localpart `[A-Za-z0-9._%+-]+` at `@`, dotted
 *     domain labels, 2+ alpha TLD.
 *  2. IBAN → `<IBAN>`: 2 uppercase country letters + 2 check digits +
 *     space-grouped alphanumerics, 15-34 chars total, PASSING the ISO
 *     13616 mod-97 check (rotate first 4 to the end, letters A..Z map to
 *     10..35, big-integer remainder must be 1) — a checksum-invalid
 *     look-alike stays untouched.
 *  3. IPV4 → `<IP>`: four 0-255 octets, not embedded in a longer
 *     digits-and-dots run (no match inside `1.2.3.4.5` or `256.1.1.1`).
 *  4. SSN → `<SSN>`: `###-##-####` under the published SSA never-issued
 *     rules — area not 000/666/900-999, group not 00, serial not 0000;
 *     shapes outside those rules stay untouched.
 *  5. NINO → `<NINO>`: UK National Insurance shape `LL dddddd L` under
 *     HMRC's published letter rules (neither prefix letter from
 *     D/F/I/Q/U/V, second letter not O, suffix A-D).
 *  6. CARD → `<CARD>`: 13-19 digits optionally grouped by single spaces
 *     or dashes, PASSING the Luhn checksum — a 16-digit random number
 *     that fails Luhn is NOT a card and stays untouched.
 *  7. PHONE → `<PHONE>`: optional `+`country, optional `(area)`,
 *     separator-grouped digit runs whose TOTAL digit count is 10-15
 *     (the E.164 envelope) — dates (8 digits) and short ids never match.
 *  8. SECRET → `<SECRET>`: an unbroken API-key-shaped token of
 *     `[A-Za-z0-9+/=_-]`, 24+ chars, carrying at least one lowercase,
 *     one uppercase and one digit AND at least 12 DISTINCT characters
 *     (the integer-only diversity gate — no float entropy threshold to
 *     drift cross-engine); repeated-pattern filler fails the gate.
 *
 * Scrubbing is idempotent: placeholders contain no digits or `@`, and
 * the secret rule requires a digit, so no placeholder re-matches.
 */
case class ScrubPii(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"scrub_pii expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    PiiKit.scrub(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PiiKit.scrub($c)")

  override protected def withNewChildInternal(newChild: Expression): ScrubPii =
    copy(child = newChild)
}

object PiiKit {

  private val Email = Pattern.compile(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}")

  private val Octet = "(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)"
  // lookahead rejects ".<digit>"/"<digit>" continuations (no match inside
  // 1.2.3.4.5) but allows a sentence-ending period after the last octet
  private val Ipv4 = Pattern.compile(
    s"(?<![\\d.])($Octet\\.){3}$Octet(?!\\.?\\d)")

  // candidate only — Luhn decides (single space/dash group separators)
  private val CardCand = Pattern.compile(
    "(?<![\\d-])\\d(?:[ -]?\\d){12,18}(?![\\d-])")

  private val Phone = Pattern.compile(
    "(?<![\\dA-Za-z.(])(?:\\+?\\d{1,3}[- .]?)?(?:\\(\\d{1,4}\\)[- .]?)?" +
      "\\d{2,4}(?:[- .]\\d{2,4}){1,3}(?![\\dA-Za-z.])")

  def scrub(u: UTF8String): UTF8String = {
    if (u == null) return null
    UTF8String.fromString(scrubJava(u.toString))
  }

  // candidate only — mod-97 decides (single-space group separators). The
  // greedy body can swallow a following UPPERCASE word ("GB82 ... BIC");
  // replaceIbans re-validates progressively shorter prefixes, so the
  // checksum, not tokenization luck, decides.
  private val IbanCand = Pattern.compile(
    "(?<![A-Za-z0-9])[A-Z]{2}\\d{2}(?: ?[A-Z0-9]{1,4}){3,8}(?![A-Za-z0-9])")

  private val Ssn = Pattern.compile(
    "(?<![\\d-])(?!000|666|9\\d\\d)\\d{3}-(?!00)\\d{2}-(?!0000)\\d{4}(?![\\d-])")

  private val Nino = Pattern.compile(
    "(?<![A-Za-z0-9])(?![DFIQUV])[A-Z](?![DFIQUVO])[A-Z] ?\\d{6} ?[A-D](?![A-Za-z0-9])")

  private val SecretCand = Pattern.compile(
    "(?<![A-Za-z0-9+/=_-])[A-Za-z0-9+/=_-]{24,}(?![A-Za-z0-9+/=_-])")

  def scrubJava(s: String): String = {
    var out = Email.matcher(s).replaceAll("<EMAIL>")
    out = replaceIbans(out)
    out = Ipv4.matcher(out).replaceAll("<IP>")
    out = Ssn.matcher(out).replaceAll("<SSN>")
    out = Nino.matcher(out).replaceAll("<NINO>")
    out = replaceCards(out)
    out = replacePhones(out)
    out = replaceSecrets(out)
    out
  }

  /** IBAN candidates survive only with 15-34 alphanumeric chars AND the
    * ISO 13616 mod-97 remainder of 1. A candidate that fails whole is
    * re-tried with trailing space-separated groups trimmed (the greedy
    * match may have attached a following uppercase word). */
  private def replaceIbans(s: String): String = {
    val m = IbanCand.matcher(s)
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m.find()) {
      var run = m.group()
      var done = false
      while (!done) {
        if (ibanValid(run)) {
          sb.append(s, last, m.start()).append("<IBAN>")
          last = m.start() + run.length
          done = true
        } else {
          val sp = run.lastIndexOf(' ')
          if (sp < 0) done = true else run = run.substring(0, sp)
        }
      }
    }
    if (last == 0) s else { sb.append(s, last, s.length); sb.toString }
  }

  def ibanValid(run: String): Boolean = {
    val compact = new java.lang.StringBuilder(run.length)
    var i = 0
    while (i < run.length) {
      val c = run.charAt(i)
      if (c != ' ') {
        // case-sensitive body: a lowercase char disqualifies (ISO 13616
        // IBANs are uppercase; the candidate regex only loosens the body)
        if (!((c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9'))) return false
        compact.append(c)
      }
      i += 1
    }
    val n = compact.length
    if (n < 15 || n > 34) return false
    // rotate first 4 to the end, A..Z -> 10..35, streaming mod 97
    var rem = 0L
    var k = 0
    while (k < n) {
      val c = compact.charAt((k + 4) % n)
      if (c >= '0' && c <= '9') rem = (rem * 10 + (c - '0')) % 97
      else rem = (rem * 100 + (c - 'A' + 10)) % 97
      k += 1
    }
    rem == 1L
  }

  /** Secret tokens survive only with mixed case + a digit + >= 12 distinct
    * characters (see the class doc's integer diversity gate). */
  private def replaceSecrets(s: String): String = {
    val m = SecretCand.matcher(s)
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m.find()) {
      if (secretLike(m.group())) {
        sb.append(s, last, m.start()).append("<SECRET>")
        last = m.end()
      }
    }
    if (last == 0) s else { sb.append(s, last, s.length); sb.toString }
  }

  def secretLike(run: String): Boolean = {
    var lower = false; var upper = false; var digit = false
    val seen = new java.util.HashSet[Character]()
    var i = 0
    while (i < run.length) {
      val c = run.charAt(i)
      if (c >= 'a' && c <= 'z') lower = true
      else if (c >= 'A' && c <= 'Z') upper = true
      else if (c >= '0' && c <= '9') digit = true
      seen.add(c)
      i += 1
    }
    lower && upper && digit && seen.size >= 12
  }

  /** Card candidates survive only with 13-19 digits AND a valid Luhn sum. */
  private def replaceCards(s: String): String = {
    val m = CardCand.matcher(s)
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m.find()) {
      val run = m.group()
      if (luhnValid(run)) {
        sb.append(s, last, m.start()).append("<CARD>")
        last = m.end()
      }
    }
    if (last == 0) s else { sb.append(s, last, s.length); sb.toString }
  }

  private def replacePhones(s: String): String = {
    val m = Phone.matcher(s)
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while (m.find()) {
      var digits = 0
      val run = m.group()
      var i = 0
      while (i < run.length) {
        if (run.charAt(i) >= '0' && run.charAt(i) <= '9') digits += 1
        i += 1
      }
      if (digits >= 10 && digits <= 15) {
        sb.append(s, last, m.start()).append("<PHONE>")
        last = m.end()
      }
    }
    if (last == 0) s else { sb.append(s, last, s.length); sb.toString }
  }

  def luhnValid(run: String): Boolean = {
    var sum = 0
    var alt = false
    var digits = 0
    var i = run.length - 1
    while (i >= 0) {
      val c = run.charAt(i)
      if (c >= '0' && c <= '9') {
        var d = c - '0'
        if (alt) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        alt = !alt
        digits += 1
      }
      i -= 1
    }
    digits >= 13 && digits <= 19 && sum % 10 == 0
  }
}

object PiiExpressions {
  private[functions] val scrubPiiBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"scrub_pii takes 1 argument, got ${exprs.length}")
    ScrubPii(exprs.head)
  }
}
