package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Unicode-aware text normalization and tokenization — the primitives a
 * real multilingual crawl needs the moment `decode_payload` starts
 * feeding it correctly-DECODED non-ASCII text. Visually-identical NFC/NFD
 * spellings ("café" composed vs "cafe" + U+0301) defeat exact and
 * canonical dedup alike, and CJK text carries no spaces for a whitespace
 * tokenizer to find. Both expressions follow the [[StripHtml]] /
 * [[HttpKit]] discipline: one compiled pass, fully codegen'd, documented
 * grammar, never throwing on malformed input (unpaired surrogates and
 * replacement chars flow through as ordinary non-CJK codepoints).
 *
 * `unicode_normalize(s string, form string) -> string`: the Unicode
 * normalization of `s` under `form` ∈ {'NFC','NFD','NFKC','NFKD'}
 * (java.text.Normalizer — the public Unicode standard annex #15). `form`
 * must be a FOLDABLE literal naming a valid form — that is pipeline
 * configuration, not data, so an invalid form fails analysis loudly
 * (the steps-contract discipline), never silently per-row.
 *
 * `tokenize_text(s string) -> array<string>`: script-aware tokens under
 * this documented grammar, designed so that on single-spaced text with
 * no CJK codepoints it degenerates EXACTLY to `split(s, ' ')` minus
 * empty tokens (which is why the carried ASCII-fixture oracles stay
 * bit-identical when operators reroute through it):
 *  1. Unicode whitespace (Character.isWhitespace) separates; runs of
 *     whitespace count once; no empty tokens are emitted.
 *  2. Inside a non-whitespace run, maximal segments of CJK vs non-CJK
 *     codepoints split apart ("abc漢字def" -> "abc", CJK("漢字"), "def").
 *  3. A non-CJK segment is one token, case preserved.
 *  4. A CJK segment of n codepoints emits its n-1 sliding character
 *     BIGRAMS (the standard spaceless-script fallback for shingling /
 *     dedup); a lone CJK codepoint emits itself.
 *  5. CJK here means (documented, fixed): Hiragana+Katakana
 *     U+3040–U+30FF, CJK Ext A U+3400–U+4DBF, CJK Unified U+4E00–U+9FFF,
 *     Hangul syllables U+AC00–U+D7AF, CJK Compatibility Ideographs
 *     U+F900–U+FAFF, CJK Ext B U+20000–U+2A6DF (supplementary plane —
 *     iteration is codepoint-aware, surrogate pairs never split).
 *
 * Normalization is NOT folded into tokenize_text: callers compose
 * `tokenize_text(unicode_normalize(s, 'NFC'))` when they want both, and
 * each stays independently testable.
 */
case class UnicodeNormalize(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        if (!right.foldable) {
          TypeCheckResult.TypeCheckFailure(
            "unicode_normalize: form must be a foldable literal " +
              "('NFC'|'NFD'|'NFKC'|'NFKD') — it is pipeline configuration, not data")
        } else {
          val f = right.eval(null)
          if (f == null || UnicodeKit.formOf(f.toString) == null) {
            TypeCheckResult.TypeCheckFailure(
              s"unicode_normalize: unknown form '$f' — expected NFC, NFD, NFKC or NFKD")
          } else TypeCheckResult.TypeCheckSuccess
        }
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"unicode_normalize expects (string, string), got $other")
    }

  @transient private lazy val form: Normalizer.Form =
    UnicodeKit.formOf(right.eval(null).toString)

  override protected def nullSafeEval(str: Any, formArg: Any): Any =
    UnicodeKit.normalize(str.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val formRef = ctx.addReferenceObj("normForm", form, classOf[Normalizer.Form].getName)
    defineCodeGen(ctx, ev, (s, _) =>
      s"graft.functions.UnicodeKit.normalize($s, $formRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnicodeNormalize =
    copy(left = newLeft, right = newRight)
}

/**
 * `split_sentences(s string) -> array<string>` — sentence segmentation
 * under a documented two-pass grammar chosen to be EXACTLY replayable by
 * two RE2 `regexp_replace` passes (no lookaround — RE2 has none), so the
 * DuckDB oracle can twin it verbatim:
 *
 *  - Terminators: `.` `!` `?` U+2026 `…` U+3002 `。` U+FF01 `！`
 *    U+FF1F `？`. Closers (attach to the left sentence): `"` `'` `)`
 *    `]` U+00BB `»` U+201D `”` U+2019 `’`. Whitespace: the RE2 `\s`
 *    set — space, `\t`, `\n`, `\f`, `\r` (exactly; no Unicode spaces,
 *    so both engines agree byte-for-byte).
 *  - PASS 1 (spaced scripts): every maximal run `terminators+ closers*
 *    whitespace+` ends a sentence after the closers; the whitespace run
 *    is consumed. An ASCII terminator with no trailing whitespace does
 *    NOT split ("3.14", "example.com").
 *  - PASS 2 (unspaced scripts): every maximal run of CJK terminators
 *    (U+2026/U+3002/U+FF01/U+FF1F) plus closers ends a sentence
 *    unconditionally — CJK conventions put no space after `。`.
 *  - Empty segments are dropped (consecutive boundaries, trailing
 *    boundary at end of text); all other bytes are kept verbatim, so
 *    segmentation is lossy exactly in the consumed boundary whitespace.
 *  - null -> null; never throws (unpaired surrogates flow through).
 *
 * This is a heuristic splitter (abbreviations like "e.g. x" split — the
 * cost of a grammar both engines can replay); the pipeline queries that
 * consume it (sentence census, C4-style boilerplate removal) only need
 * determinism and cross-engine agreement, not linguistic perfection.
 */
case class SplitSentences(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"split_sentences expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    UnicodeKit.splitSentences(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeKit.splitSentences($c)")

  override protected def withNewChildInternal(newChild: Expression): SplitSentences =
    copy(child = newChild)
}

case class TokenizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"tokenize_text expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    UnicodeKit.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeKit.tokenize($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeText =
    copy(child = newChild)
}

object UnicodeKit {

  /** Normalizer.Form for a name, or null (analysis rejects unknowns). */
  def formOf(name: String): Normalizer.Form = name match {
    case "NFC" => Normalizer.Form.NFC
    case "NFD" => Normalizer.Form.NFD
    case "NFKC" => Normalizer.Form.NFKC
    case "NFKD" => Normalizer.Form.NFKD
    case _ => null
  }

  def normalize(u: UTF8String, form: Normalizer.Form): UTF8String = {
    if (u == null) return null
    val s = u.toString
    // the common case — already normalized (all-ASCII in particular) —
    // skips the rebuild entirely
    if (Normalizer.isNormalized(s, form)) u
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }

  /** The documented fixed CJK set (class doc item 5). */
  def isCjk(cp: Int): Boolean =
    (cp >= 0x3040 && cp <= 0x30FF) ||
      (cp >= 0x3400 && cp <= 0x4DBF) ||
      (cp >= 0x4E00 && cp <= 0x9FFF) ||
      (cp >= 0xAC00 && cp <= 0xD7AF) ||
      (cp >= 0xF900 && cp <= 0xFAFF) ||
      (cp >= 0x20000 && cp <= 0x2A6DF)

  /** Sentence terminators (the [[SplitSentences]] grammar):
    * `. ! ?` + U+2026 … U+3002 。 U+FF01 ！ U+FF1F ？ (escapes — the
    * file layer must never renormalize these). */
  private def isTerm(c: Char): Boolean =
    c == '.' || c == '!' || c == '?' ||
      c == '\u2026' || c == '\u3002' || c == '\uFF01' || c == '\uFF1F'

  /** Terminators that split WITHOUT trailing whitespace (pass 2). */
  private def isCjkTerm(c: Char): Boolean =
    c == '\u2026' || c == '\u3002' || c == '\uFF01' || c == '\uFF1F'

  /** Closing quotes/brackets that attach to the left sentence:
    * `" ' ) ]` + U+00BB » U+201D ” U+2019 ’. */
  private def isCloser(c: Char): Boolean =
    c == '"' || c == '\'' || c == ')' || c == ']' ||
      c == '\u00BB' || c == '\u201D' || c == '\u2019'

  /** EXACTLY the RE2 `\s` set — both engines must agree byte-for-byte. */
  private def isSentWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  def splitSentences(u: UTF8String): ArrayData = {
    if (u == null) return null
    val s = u.toString
    val n = s.length
    // boundary list: (cut, resume) — the segment ends at `cut`
    // (exclusive), the next starts at `resume` (pass-1 boundaries delete
    // their whitespace run; pass-2 boundaries have resume == cut)
    val cuts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // PASS 1: maximal `terminators+ closers* ws+` (the regex
    // `([terms]+[closers]*)[ws]+` with leftmost scan + continue-after)
    var i = 0
    while (i < n) {
      if (isTerm(s.charAt(i))) {
        var j = i
        while (j < n && isTerm(s.charAt(j))) j += 1
        var k = j
        while (k < n && isCloser(s.charAt(k))) k += 1
        if (k < n && isSentWs(s.charAt(k))) {
          var m = k
          while (m < n && isSentWs(s.charAt(m))) m += 1
          cuts += ((k, m))
          i = m
        } else i = k
      } else i += 1
    }
    // PASS 2: maximal `cjk-terminators+ closers*` splits unconditionally
    // (positions computed on the original string — a pass-2 match can
    // never span a pass-1-deleted whitespace run, since its character
    // classes exclude whitespace)
    i = 0
    while (i < n) {
      if (isCjkTerm(s.charAt(i))) {
        var j = i
        while (j < n && isCjkTerm(s.charAt(j))) j += 1
        var k = j
        while (k < n && isCloser(s.charAt(k))) k += 1
        cuts += ((k, k))
        i = k
      } else i += 1
    }
    val sorted = cuts.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var start = 0
    var c = 0
    while (c < sorted.length) {
      val (cut, resume) = sorted(c)
      if (cut > start) out += UTF8String.fromString(s.substring(start, cut))
      start = math.max(start, resume)
      c += 1
    }
    if (start < n) out += UTF8String.fromString(s.substring(start))
    new GenericArrayData(out.toArray)
  }

  def tokenize(u: UTF8String): ArrayData = {
    if (u == null) return null
    val s = u.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val word = new java.lang.StringBuilder
    var cjk: Array[Int] = new Array[Int](8)
    var cjkLen = 0
    def flushWord(): Unit =
      if (word.length > 0) { out += UTF8String.fromString(word.toString); word.setLength(0) }
    def flushCjk(): Unit = {
      if (cjkLen == 1) {
        out += UTF8String.fromString(new String(Character.toChars(cjk(0))))
      } else if (cjkLen > 1) {
        var j = 0
        while (j < cjkLen - 1) {
          val sb = new java.lang.StringBuilder(4)
          sb.appendCodePoint(cjk(j)).appendCodePoint(cjk(j + 1))
          out += UTF8String.fromString(sb.toString)
          j += 1
        }
      }
      cjkLen = 0
    }
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (Character.isWhitespace(cp)) { flushWord(); flushCjk() }
      else if (isCjk(cp)) {
        flushWord()
        if (cjkLen == cjk.length) cjk = java.util.Arrays.copyOf(cjk, cjkLen * 2)
        cjk(cjkLen) = cp; cjkLen += 1
      } else { flushCjk(); word.appendCodePoint(cp) }
      i += Character.charCount(cp)
    }
    flushWord(); flushCjk()
    new GenericArrayData(out.toArray)
  }
}

object UnicodeExpressions {
  private[functions] val normalizeBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"unicode_normalize takes 2 arguments, got ${exprs.length}")
    UnicodeNormalize(exprs(0), exprs(1))
  }
  private[functions] val tokenizeBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"tokenize_text takes 1 argument, got ${exprs.length}")
    TokenizeText(exprs.head)
  }
  private[functions] val sentencesBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"split_sentences takes 1 argument, got ${exprs.length}")
    SplitSentences(exprs.head)
  }
}
