package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * BYTE-LEVEL BPE — the representation production GPT-class tokenizer
 * runtimes actually consume. Base symbols are the 256 UTF-8 BYTE values
 * (0–255), merge `k` (1-based global index) is the id `256 + k - 1` —
 * the GPT-2 id convention, so `bpe_encode_bytes` emits the EXACT ids a
 * `merges.txt`/`vocab.json` artifact names ([[graft.operators.BpeArtifact]]
 * exports/imports that artifact shape). Unlike the code-point trainer
 * ([[BpeEncode]]), merges here can cross UTF-8 continuation-byte
 * boundaries — a multibyte character is two-to-four base symbols, and a
 * trained merge may glue half of one character to half of the next
 * (byte-level BPE's defining property: any byte string tokenizes, no
 * unknown-token escape hatch needed).
 *
 * `bpe_encode_bytes(text string, spec string) -> array<int>`:
 *  - `spec` is the trained merge list in GLOBAL TRAINING ORDER as
 *    `"a:b;a:b;..."` (decimal symbol ids; empty string = no merges),
 *    a FOLDABLE literal validated at analysis time (the [[BpeEncode]]
 *    contract: model configuration, not data).
 *  - the text's UTF-8 bytes become the base sequence, then merges
 *    replay min-rank-first exactly as [[BpeEncode]] (shared replay
 *    core): repeatedly merge ALL occurrences of the lowest-ranked
 *    present pair, left-to-right non-overlapping.
 *  - null text -> null.
 *
 * `bpe_decode_bytes(ids array<int>, spec string) -> string`: the exact
 * inverse — each id expands to its byte spelling, bytes concatenate,
 * and the result is the UTF-8 string they spell.
 * `bpe_decode_bytes(bpe_encode_bytes(t, s), s) == t` for every t by
 * construction (encoding is a partition of the byte sequence). An id
 * outside the spec's symbol space fails loudly (corrupt input, not data).
 *
 * `bpe_segment_bytes(text string, spec string) -> array<string>`: each
 * token's spelling in the GPT-2 PRINTABLE BYTE REMAP space (the
 * published bytes-to-unicode table: 188 printable bytes map to
 * themselves, the other 68 to U+0100.., so every token is a visible
 * string — space spells as U+0120 'Ġ'). This is the surface form
 * `merges.txt`/`vocab.json` entries use; consequently
 * `concat(bpe_segment_bytes(t)) != t` in general (it equals the REMAPPED
 * t) — the partition law for byte-level lives on decode, not segment.
 */
case class BpeEncodeBytes(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        BpeIntKit.checkSpecArg("bpe_encode_bytes", right, BpeByteKit.IdBase)
      case other =>
        TypeCheckResult.TypeCheckFailure(s"bpe_encode_bytes expects (string, string), got $other")
    }

  @transient private lazy val spec: BpeByteKit.Spec =
    BpeByteKit.parse(right.eval(null).toString)

  override protected def nullSafeEval(text: Any, specArg: Any): Any =
    BpeByteKit.encode(text.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("bpeByteSpec", spec, classOf[BpeByteKit.Spec].getName)
    defineCodeGen(ctx, ev, (t, _) => s"graft.functions.BpeByteKit.encode($t, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncodeBytes =
    copy(left = newLeft, right = newRight)
}

case class BpeDecodeBytes(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), StringType) =>
        BpeIntKit.checkSpecArg("bpe_decode_bytes", right, BpeByteKit.IdBase)
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"bpe_decode_bytes expects (array<int>, string), got $other")
    }

  @transient private lazy val spec: BpeByteKit.Spec =
    BpeByteKit.parse(right.eval(null).toString)

  override protected def nullSafeEval(ids: Any, specArg: Any): Any =
    BpeByteKit.decode(ids.asInstanceOf[ArrayData], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("bpeByteSpec", spec, classOf[BpeByteKit.Spec].getName)
    defineCodeGen(ctx, ev, (ids, _) => s"graft.functions.BpeByteKit.decode($ids, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeDecodeBytes =
    copy(left = newLeft, right = newRight)
}

case class BpeSegmentBytes(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        BpeIntKit.checkSpecArg("bpe_segment_bytes", right, BpeByteKit.IdBase)
      case other =>
        TypeCheckResult.TypeCheckFailure(s"bpe_segment_bytes expects (string, string), got $other")
    }

  @transient private lazy val spec: BpeByteKit.Spec =
    BpeByteKit.parse(right.eval(null).toString)

  override protected def nullSafeEval(text: Any, specArg: Any): Any =
    BpeByteKit.segment(text.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("bpeByteSpec", spec, classOf[BpeByteKit.Spec].getName)
    defineCodeGen(ctx, ev, (t, _) => s"graft.functions.BpeByteKit.segment($t, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeSegmentBytes =
    copy(left = newLeft, right = newRight)
}

object BpeByteKit {

  /** First merge id: one above the last byte value — the GPT-2 id layout
    * (bytes 0–255, merge k at 256 + k - 1). */
  val IdBase: Int = 256

  /** The published GPT-2 printable byte remap (openai/gpt-2 encoder.py's
    * bytes_to_unicode, public knowledge): the 188 bytes in
    * `!..~`, `U+00A1..U+00AC`, `U+00AE..U+00FF` map to themselves; the
    * remaining 68 map, in byte order, to U+0100, U+0101, ... — every
    * byte gets a VISIBLE single character, so artifact files carry no
    * control bytes and no ambiguous whitespace (space = U+0120 'Ġ'). */
  val ByteToChar: Array[Char] = {
    val out = new Array[Char](256)
    val direct = new Array[Boolean](256)
    (0x21 to 0x7e).foreach(direct(_) = true)
    (0xa1 to 0xac).foreach(direct(_) = true)
    (0xae to 0xff).foreach(direct(_) = true)
    var n = 0
    var b = 0
    while (b < 256) {
      if (direct(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }

  /** Inverse remap: remap-space char -> byte value, or -1. */
  val CharToByte: Array[Int] = {
    val out = Array.fill(0x144)(-1)
    var b = 0
    while (b < 256) { out(ByteToChar(b)) = b; b += 1 }
    out
  }

  /** Parsed model — the [[BpeIntKit.Spec]] layout over byte base symbols:
    * pair (a,b) packed as `a * 2^21 + b` -> 1-based rank; `as`/`bs` carry
    * the pair by rank index. Byte spellings ground once per JVM. */
  final class Spec(
      val rank: java.util.HashMap[Long, Integer],
      val as: Array[Int],
      val bs: Array[Int],
      val nMerges: Int) extends Serializable {

    /** Byte spelling of every merge id, grounded in one forward pass
      * (parse validates entry k references only ids < IdBase + k). */
    @transient private lazy val spellings: Array[Array[Byte]] = {
      val out = new Array[Array[Byte]](nMerges)
      def sp(sym: Int): Array[Byte] =
        if (sym < IdBase) Array(sym.toByte) else out(sym - IdBase)
      var k = 0
      while (k < nMerges) {
        out(k) = sp(as(k)) ++ sp(bs(k))
        k += 1
      }
      out
    }

    def spellBytes(sym: Int): Array[Byte] = {
      if (sym < 0 || sym >= IdBase + nMerges)
        throw new IllegalArgumentException(
          s"BpeByteKit: symbol id $sym outside the spec's space [0, ${IdBase + nMerges})")
      if (sym < IdBase) Array(sym.toByte) else spellings(sym - IdBase)
    }

    /** Remap-space (printable) spelling of symbol `sym`. */
    def spellRemapped(sym: Int): String = {
      val bytes = spellBytes(sym)
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) { sb.append(ByteToChar(bytes(i) & 0xff)); i += 1 }
      sb.toString
    }
  }

  /** [[BpeIntKit.parsePairs]] as a byte-level [[Spec]]. */
  def parse(spec: String): Spec = {
    val (m, as, bs) = BpeIntKit.parsePairs(spec)
    new Spec(m, as, bs, as.length)
  }

  def encode(u: UTF8String, spec: Spec): ArrayData = {
    if (u == null) return null
    val bytes = u.getBytes
    var syms = new Array[Int](math.max(bytes.length, 1))
    var i = 0
    while (i < bytes.length) { syms(i) = bytes(i) & 0xff; i += 1 }
    val n = BpeIntKit.replayMinRank(syms, bytes.length, spec.rank, IdBase)
    val out = new Array[Any](n)
    var k = 0
    while (k < n) { out(k) = syms(k); k += 1 }
    new GenericArrayData(out)
  }

  /** [[encode]] with remap-space printable spellings instead of ids. */
  def segment(u: UTF8String, spec: Spec): ArrayData = {
    if (u == null) return null
    val bytes = u.getBytes
    val syms = new Array[Int](math.max(bytes.length, 1))
    var i = 0
    while (i < bytes.length) { syms(i) = bytes(i) & 0xff; i += 1 }
    val n = BpeIntKit.replayMinRank(syms, bytes.length, spec.rank, IdBase)
    val out = new Array[Any](n)
    var k = 0
    while (k < n) { out(k) = UTF8String.fromString(spec.spellRemapped(syms(k))); k += 1 }
    new GenericArrayData(out)
  }

  /** The published GPT-2 pre-tokenization pattern (openai/gpt-2
    * encoder.py, public knowledge), compiled once per JVM with
    * UNICODE_CHARACTER_CLASS so `\\s` carries the python re.UNICODE
    * semantics the original uses (`\\p{L}`/`\\p{N}` are Unicode in Java
    * regex by default). The alternatives are TOTAL — every character is
    * matched by one of them — so successive matches tile the input:
    * concat(pieces) == input (the partition law the spec locks). */
  private val Gpt2Pretokenize: java.util.regex.Pattern = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** The GPT-2 pre-tokenization split — see [[PretokenizeGpt2]]. */
  def pretokenizeJava(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val m = Gpt2Pretokenize.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    while (pos < s.length && m.find(pos)) {
      require(m.start == pos,
        s"pretokenize_gpt2: pattern left a gap at $pos — alternatives must be total")
      out += m.group
      pos = m.end
    }
    require(pos == s.length, s"pretokenize_gpt2: unmatched tail at $pos")
    out.toArray
  }

  def pretokenize(u: UTF8String): ArrayData = {
    if (u == null) return null
    val pieces = pretokenizeJava(u.toString)
    new GenericArrayData(pieces.map(p => UTF8String.fromString(p): Any))
  }

  /** [[encode]] within each GPT-2 pre-token, ids concatenated. */
  def encodeGpt2(u: UTF8String, spec: Spec): ArrayData = {
    if (u == null) return null
    val pieces = pretokenizeJava(u.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    pieces.foreach { p =>
      val bytes = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val syms = new Array[Int](math.max(bytes.length, 1))
      var i = 0
      while (i < bytes.length) { syms(i) = bytes(i) & 0xff; i += 1 }
      val m = BpeIntKit.replayMinRank(syms, bytes.length, spec.rank, IdBase)
      var k = 0
      while (k < m) { out += syms(k); k += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  def decode(ids: ArrayData, spec: Spec): UTF8String = {
    if (ids == null) return null
    val n = ids.numElements()
    val buf = new java.io.ByteArrayOutputStream(n * 2)
    var i = 0
    while (i < n) {
      if (ids.isNullAt(i))
        throw new IllegalArgumentException(
          "bpe_decode_bytes: null id at position " + i + " — token streams carry no nulls")
      buf.write(spec.spellBytes(ids.getInt(i)))
      i += 1
    }
    UTF8String.fromBytes(buf.toByteArray)
  }
}

/**
 * `pretokenize_gpt2(text) -> array<string>`: the published GPT-2
 * PRE-TOKENIZATION split (openai/gpt-2 encoder.py's pattern, public
 * knowledge) — production byte-BPE runs WITHIN these pieces, so merges
 * never cross word/space/punctuation boundaries. The pattern itself is
 * the implementation (compiled once with UNICODE_CHARACTER_CLASS — the
 * python re.UNICODE semantics the original uses):
 *
 *   's|'t|'re|'ve|'m|'ll|'d       (the seven contraction suffixes)
 *   | ?\p{L}+ | ?\p{N}+          (optional ONE leading space + run)
 *   | ?[^\s\p{L}\p{N}]+          (optional space + symbol run)
 *   |\s+(?!\S) |\s+              (whitespace; the last space before a
 *                                  non-space detaches and joins it)
 *
 * Alternation order is part of the contract; the alternatives are total,
 * so the matches TILE the input — concatenation of the pieces is the
 * original text (a partition, enforced loudly). Null -> null.
 *
 * `bpe_encode_gpt2(text, spec)`: [[BpeEncodeBytes]] applied WITHIN each
 * pre-token, ids concatenated — the full production tokenizer path
 * (pre-tokenize -> byte-level BPE per piece). Same spec contract;
 * `bpe_decode_bytes` remains the exact inverse (the pieces partition
 * the byte stream).
 */
case class PretokenizeGpt2(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"pretokenize_gpt2 expects string, got $other")
    }

  override protected def nullSafeEval(text: Any): Any =
    BpeByteKit.pretokenize(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.BpeByteKit.pretokenize($t)")

  override protected def withNewChildInternal(newChild: Expression): PretokenizeGpt2 =
    copy(child = newChild)
}

case class BpeEncodeGpt2(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        BpeIntKit.checkSpecArg("bpe_encode_gpt2", right, BpeByteKit.IdBase)
      case other =>
        TypeCheckResult.TypeCheckFailure(s"bpe_encode_gpt2 expects (string, string), got $other")
    }

  @transient private lazy val spec: BpeByteKit.Spec =
    BpeByteKit.parse(right.eval(null).toString)

  override protected def nullSafeEval(text: Any, specArg: Any): Any =
    BpeByteKit.encodeGpt2(text.asInstanceOf[UTF8String], spec)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val specRef = ctx.addReferenceObj("bpeByteSpec", spec, classOf[BpeByteKit.Spec].getName)
    defineCodeGen(ctx, ev, (t, _) => s"graft.functions.BpeByteKit.encodeGpt2($t, $specRef)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncodeGpt2 =
    copy(left = newLeft, right = newRight)
}

object BpeByteExpressions {
  private def builder2(
      name: String, mk: (Expression, Expression) => Expression): Seq[Expression] => Expression = {
    exprs =>
      require(exprs.length == 2, s"$name takes 2 arguments, got ${exprs.length}")
      mk(exprs(0), exprs(1))
  }

  private[functions] val encodeBytesBuilder = builder2("bpe_encode_bytes", BpeEncodeBytes.apply)
  private[functions] val decodeBytesBuilder = builder2("bpe_decode_bytes", BpeDecodeBytes.apply)
  private[functions] val segmentBytesBuilder = builder2("bpe_segment_bytes", BpeSegmentBytes.apply)
  private[functions] val encodeGpt2Builder = builder2("bpe_encode_gpt2", BpeEncodeGpt2.apply)
  private[functions] val pretokenizeGpt2Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"pretokenize_gpt2 takes 1 argument, got ${exprs.length}")
    PretokenizeGpt2(exprs.head)
  }
}
