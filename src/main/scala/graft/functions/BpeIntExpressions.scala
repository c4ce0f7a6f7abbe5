package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * INT-SYMBOL BPE application — the representation that takes the trained
 * tokenizer past the single-character-placeholder ceiling. Symbols are
 * ints: a base symbol is the character's code point (< 0x110000), merge
 * `k` (1-based global index) is the id `0x110000 + k - 1` — above every
 * possible code point, so ids can NEVER collide with corpus text (the
 * old PUA alphabet's corpus-cleanliness guard becomes unnecessary) and
 * the merge count is unbounded by any character range. The whole trained
 * model rides in ONE compact string literal, so the plan carries a
 * single expression regardless of merge count — no 8192-deep
 * replace-fold.
 *
 * `bpe_encode(text string, spec string) -> array<int>`:
 *  - `spec` is the trained merge list in GLOBAL TRAINING ORDER as
 *    `"a:b;a:b;..."` (decimal symbol ids; empty string = no merges).
 *    It is pipeline configuration, not data: it must be a FOLDABLE
 *    literal and parse cleanly, or analysis fails loudly (the
 *    `unicode_normalize` form discipline). [[graft.operators.BpeInt]]
 *    builds it from a trained model.
 *  - the text becomes its code-point sequence, then merges replay
 *    min-rank-first: repeatedly find the lowest-ranked spec pair
 *    present anywhere in the sequence and merge ALL its occurrences
 *    left-to-right (non-overlapping), until no spec pair remains.
 *    This equals replaying the merge list one rule at a time in
 *    training order — later merges can never create an occurrence of
 *    an earlier rule, because a merged id only forms pairs that were
 *    elected later and merging never makes two pre-existing symbols
 *    adjacent.
 *  - null text -> null; malformed text never throws (unpaired
 *    surrogates are code points like any other).
 */
case class BpeEncode(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        BpeIntKit.checkSpecArg("bpe_encode", right, BpeIntKit.IdBase)
      case other =>
        TypeCheckResult.TypeCheckFailure(s"bpe_encode expects (string, string), got $other")
    }

  @transient private lazy val spec: BpeIntKit.Spec =
    BpeIntKit.parse(right.eval(null).toString)

  override protected def nullSafeEval(text: Any, specArg: Any): Any =
    BpeIntKit.encode(text.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("bpeSpec", spec, classOf[BpeIntKit.Spec].getName)
    defineCodeGen(ctx, ev, (t, _) => s"graft.functions.BpeIntKit.encode($t, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

/**
 * `bpe_segment(text string, spec string) -> array<string>`: the SURFACE
 * spelling of each token [[BpeEncode]] would produce — "ing"/"the " for
 * humans and downstream runtimes instead of int ids. Same spec contract
 * and replay; the id→spelling table is grounded once per plan from the
 * spec (merge k spells as spelling(a) + spelling(b), recursively down to
 * code points) and ships via `addReferenceObj`. `concat(bpe_segment(s))
 * == s` by construction — segmentation is a partition of the text.
 */
case class BpeSegment(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        BpeIntKit.checkSpecArg("bpe_segment", right, BpeIntKit.IdBase)
      case other =>
        TypeCheckResult.TypeCheckFailure(s"bpe_segment expects (string, string), got $other")
    }

  @transient private lazy val spec: BpeIntKit.Spec =
    BpeIntKit.parse(right.eval(null).toString)

  override protected def nullSafeEval(text: Any, specArg: Any): Any =
    BpeIntKit.segment(text.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("bpeSpec", spec, classOf[BpeIntKit.Spec].getName)
    defineCodeGen(ctx, ev, (t, _) => s"graft.functions.BpeIntKit.segment($t, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeSegment =
    copy(left = newLeft, right = newRight)
}

object BpeIntKit {

  /** First merge id: one above the last Unicode code point. */
  val IdBase: Int = 0x110000

  /** Symbols (code points AND merge ids) must stay below 2^21 so a pair
    * packs into one long key: bounds the model at ~970k merges — far
    * above any real vocabulary, loud if ever hit. */
  val SymLimit: Int = 1 << 21

  /** Parsed model: pair (a,b) packed as `a * 2^21 + b` -> 1-based rank;
    * `as`/`bs` carry the pair by rank index (spelling grounding). The
    * spelling table is built lazily once per JVM holding the Spec. */
  final class Spec(
      val rank: java.util.HashMap[Long, Integer],
      val as: Array[Int],
      val bs: Array[Int],
      val nMerges: Int) extends Serializable {
    def key(a: Int, b: Int): Long = a.toLong * SymLimit + b

    /** Surface spelling of symbol `sym` (code point or merge id). */
    @transient private lazy val spellings: Array[String] = {
      val out = new Array[String](nMerges)
      // parse validates that entry k only references ids < IdBase + k, so
      // a single forward pass grounds every spelling
      def sp(sym: Int): String =
        if (sym < IdBase) new String(Character.toChars(sym)) else out(sym - IdBase)
      var k = 0
      while (k < nMerges) {
        out(k) = sp(as(k)) + sp(bs(k))
        k += 1
      }
      out
    }

    def spell(sym: Int): String =
      if (sym < IdBase) new String(Character.toChars(sym))
      else spellings(sym - IdBase)
  }

  /** Analysis-time foldable-spec validation shared by every expression
    * that takes a spec — code-point and byte-level alike: the spec is
    * model configuration, not data, so it must be a non-null foldable
    * literal that parses over the symbol space whose first merge id is
    * `idBase`. */
  private[functions] def checkSpecArg(
      fn: String, right: Expression, idBase: Int): TypeCheckResult =
    if (!right.foldable) {
      TypeCheckResult.TypeCheckFailure(
        s"$fn: spec must be a foldable literal (the trained merge list is " +
          "model configuration, not data)")
    } else {
      val s = right.eval(null)
      if (s == null) TypeCheckResult.TypeCheckFailure(s"$fn: spec must be non-null")
      else parseError(s.toString, idBase) match {
        case null => TypeCheckResult.TypeCheckSuccess
        case err => TypeCheckResult.TypeCheckFailure(s"$fn: $err")
      }
    }

  /** Null when `spec` parses, else a loud description (analysis-time). */
  def parseError(spec: String): String = parseError(spec, IdBase)

  /** The spec grammar over a symbol space whose first merge id is
    * `idBase` (the code-point space here, the byte space in
    * [[BpeByteKit]]): entry i defines id `idBase + i`. */
  private[functions] def parseError(spec: String, idBase: Int): String = {
    if (spec.isEmpty) return null
    val entries = spec.split(";", -1)
    var i = 0
    while (i < entries.length) {
      val e = entries(i)
      val c = e.indexOf(':')
      if (c <= 0 || c == e.length - 1) return s"malformed entry '$e' (want 'a:b')"
      var j = 0
      while (j < e.length) {
        val ch = e.charAt(j)
        if (ch != ':' && (ch < '0' || ch > '9')) return s"non-numeric entry '$e'"
        j += 1
      }
      val a = java.lang.Long.parseLong(e.substring(0, c))
      val b = java.lang.Long.parseLong(e.substring(c + 1))
      if (a >= SymLimit || b >= SymLimit || a < 0 || b < 0)
        return s"symbol out of range in '$e' (limit $SymLimit)"
      // entry i (0-based) defines id idBase + i; it may only reference
      // ALREADY-DEFINED ids (training order) — a forward reference could
      // never fire in encode and would leave segment spellings ungrounded
      if (a >= idBase + i || b >= idBase + i)
        return s"forward merge-id reference in '$e' (entry ${i + 1})"
      i += 1
    }
    if (entries.length + idBase >= SymLimit) return s"too many merges (${entries.length})"
    null
  }

  def parse(spec: String): Spec = {
    val (m, as, bs) = parsePairs(spec)
    new Spec(m, as, bs, as.length)
  }

  /** A spec that [[parseError]] accepts as (pair key -> 1-based rank, left
    * symbols, right symbols) — the parse behind both kits' `Spec`s. */
  private[functions] def parsePairs(
      spec: String): (java.util.HashMap[Long, Integer], Array[Int], Array[Int]) = {
    val m = new java.util.HashMap[Long, Integer]()
    val entries = if (spec.isEmpty) Array.empty[String] else spec.split(";", -1)
    val as = new Array[Int](entries.length)
    val bs = new Array[Int](entries.length)
    var i = 0
    while (i < entries.length) {
      val e = entries(i)
      val c = e.indexOf(':')
      val a = Integer.parseInt(e.substring(0, c))
      val b = Integer.parseInt(e.substring(c + 1))
      as(i) = a; bs(i) = b
      // first spelling wins: ranks are training order, a duplicate pair
      // later in the list could never fire anyway
      m.putIfAbsent(a.toLong * SymLimit + b, i + 1)
      i += 1
    }
    (m, as, bs)
  }

  def encode(u: UTF8String, spec: Spec): ArrayData = {
    if (u == null) return null
    val (syms, n) = encodeInts(u.toString, spec)
    val out = new Array[Any](n)
    var k = 0
    while (k < n) { out(k) = syms(k); k += 1 }
    new GenericArrayData(out)
  }

  /** [[encode]] with surface spellings instead of ids. */
  def segment(u: UTF8String, spec: Spec): ArrayData = {
    if (u == null) return null
    val (syms, n) = encodeInts(u.toString, spec)
    val out = new Array[Any](n)
    var k = 0
    while (k < n) { out(k) = UTF8String.fromString(spec.spell(syms(k))); k += 1 }
    new GenericArrayData(out)
  }

  private def encodeInts(s: String, spec: Spec): (Array[Int], Int) = {
    // code points
    val syms = new Array[Int](math.max(s.length, 1))
    var n = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      syms(n) = cp; n += 1
      i += Character.charCount(cp)
    }
    (syms, replayMinRank(syms, n, spec.rank, IdBase))
  }

  /** Min-rank-first merge replay IN PLACE over `syms(0 until n0)` —
    * returns the new length. Repeatedly find the lowest-ranked pair
    * present anywhere and merge ALL its occurrences left-to-right
    * (non-overlapping), until no ranked pair remains; merge rank r gets
    * id `idBase + r - 1`. Shared by the code-point ([[BpeEncode]]) and
    * byte-level ([[BpeEncodeBytes]]) kits — pair keys pack as
    * `a * SymLimit + b` in both. */
  private[graft] def replayMinRank(
      syms: Array[Int], n0: Int,
      rank: java.util.HashMap[Long, Integer], idBase: Int): Int = {
    var n = n0
    if (!rank.isEmpty) {
      var done = false
      while (!done && n >= 2) {
        // find the lowest-ranked pair present
        var best = Int.MaxValue
        var bestA = 0; var bestB = 0
        var j = 0
        while (j < n - 1) {
          val r = rank.get(syms(j).toLong * SymLimit + syms(j + 1))
          if (r != null && r < best) { best = r; bestA = syms(j); bestB = syms(j + 1) }
          j += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          // merge ALL its occurrences left-to-right (non-overlapping)
          val id = idBase + best - 1
          var w = 0
          j = 0
          while (j < n) {
            if (j < n - 1 && syms(j) == bestA && syms(j + 1) == bestB) {
              syms(w) = id; w += 1; j += 2
            } else {
              syms(w) = syms(j); w += 1; j += 1
            }
          }
          n = w
        }
      }
    }
    n
  }
}

object BpeIntExpressions {
  private[functions] val encodeBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"bpe_encode takes 2 arguments, got ${exprs.length}")
    BpeEncode(exprs(0), exprs(1))
  }
  private[functions] val segmentBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"bpe_segment takes 2 arguments, got ${exprs.length}")
    BpeSegment(exprs(0), exprs(1))
  }

  /** Registers every native function, not only this family's: the
    * perfbench harness calls this entry point, so it stays as a delegation
    * to [[NativeFunctions.register]]. */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark)
}
