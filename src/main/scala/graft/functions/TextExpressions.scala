package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native word n-gram shingling: `word_ngrams(toks, n)` turns an
 * `array<string>` of tokens into the `array<string>` of its space-joined
 * overlapping n-grams (the MinHash/Jaccard "shingles" of the dedup family).
 *
 * Why a custom Catalyst Expression: the built-in spelling
 * `transform(sequence(1, size(toks)-n+1), i -> concat(element_at(toks,i), ' ', ...))`
 * runs one INTERPRETED lambda dispatch per shingle — measured ~5us per
 * invocation, ~1.2s per full pass over the sf0.1 corpus — and the dedup
 * pipelines evaluate it several times (join sides + filters inferred from
 * the explode). This expression builds each row's shingle array in one
 * compiled loop; codegen emits a single static call so the surrounding
 * whole-stage-codegen span stays intact.
 *
 * Semantics contract (must stay EXACTLY in sync with the HOF spelling it
 * replaces and the DuckDB oracle `list_transform(range(1, len(toks)-n+2),
 * i -> toks[i] || ' ' || ...)`): fewer than n tokens yields an empty array;
 * a null token inside a window yields a null shingle (concat-with-null
 * semantics); token bytes are joined with a single 0x20.
 */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "word_ngrams window must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_ngrams expects array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WordNgrams.build(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgrams.build($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  private val Space = UTF8String.fromString(" ")

  /** One compiled pass: tokens -> overlapping space-joined n-grams.
    * Called from both interpreted eval and generated code. */
  def build(arr: ArrayData, n: Int): ArrayData = {
    val num = arr.numElements()
    val out = num - n + 1
    if (out <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](num)
    var i = 0
    while (i < num) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val res = new Array[Any](out)
    var j = 0
    while (j < out) {
      var anyNull = false
      var k = 0
      while (k < n && !anyNull) { if (toks(j + k) == null) anyNull = true; k += 1 }
      if (!anyNull) {
        // concat(t0, ' ', t1, ' ', ..., tn-1) — byte-level, no re-encode
        val parts = new Array[UTF8String](2 * n - 1)
        var m = 0
        while (m < n) {
          parts(2 * m) = toks(j + m)
          if (m < n - 1) parts(2 * m + 1) = Space
          m += 1
        }
        res(j) = UTF8String.concat(parts: _*)
      }
      j += 1
    }
    new GenericArrayData(res)
  }
}

/**
 * Fused shingle hashing: `word_ngram_hash48(toks, n)` = the library's
 * 48-bit md5 convention ([[HashConventions.md5long48]]) applied to every
 * word n-gram of a token array, in ONE compiled pass — semantically
 * identical to `transform(word_ngrams(toks, n), s -> cast(conv(substr(
 * md5(s), 1, 12), 16, 10) as bigint))` (spec-locked equal), but without
 * materializing shingle strings, hex text, or per-element interpreted
 * lambda dispatches. This is the single hottest inner loop of the dedup
 * family (MinHash q24/q25, posting lists q48, keep-list q57, incremental
 * screen q79, SimHash q26/q35 at n=1): every document's every shingle
 * passes through it, usually several times (join sides re-evaluate).
 *
 * Null semantics match the HOF spelling: fewer than n tokens -> empty
 * array; a null token inside a window -> null element (md5(null) is null).
 */
case class WordNgramHash48(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "word_ngram_hash48 window must be >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_ngram_hash48 expects array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WordNgramHash48.build(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordNgramHash48.build($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramHash48 =
    copy(child = newChild)
}

object WordNgramHash48 {

  /** Per-thread digest: MessageDigest is not thread-safe and allocation
    * per row would dominate the loop. */
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** One compiled pass: tokens -> 48-bit md5-prefix hash per n-gram.
    * Called from both interpreted eval and generated code. */
  def build(arr: ArrayData, n: Int): ArrayData = {
    val num = arr.numElements()
    val out = num - n + 1
    if (out <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[Array[Byte]](num)
    var i = 0
    while (i < num) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = digest.get()
    val res = new Array[Any](out)
    var j = 0
    while (j < out) {
      var anyNull = false
      var k = 0
      while (k < n && !anyNull) { if (toks(j + k) == null) anyNull = true; k += 1 }
      if (!anyNull) {
        md.reset()
        var m = 0
        while (m < n) {
          md.update(toks(j + m))
          if (m < n - 1) md.update(' '.toByte)
          m += 1
        }
        val d = md.digest()
        // first 12 hex chars = first 6 bytes, big-endian unsigned -> long
        var v = 0L
        var b = 0
        while (b < 6) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        res(j) = v
      }
      j += 1
    }
    new GenericArrayData(res)
  }
}

/**
 * Native majority-vote SimHash: `simhash_bits(hs, nBits)` folds an
 * `array<long>` of token/shingle hashes into one long whose bit j is set
 * iff at least half the elements have bit j set — semantically identical
 * to the HOF spelling `aggregate(transform(sequence(0, nBits-1), j -> case
 * when 2 * size(filter(hs, h -> (shiftright(h, j) & 1) = 1)) >= size(hs)
 * ...), ...)` (spec-locked equal), which evaluates nBits INTERPRETED
 * filter passes per row, each allocating a filtered copy of `hs`. This
 * expression tallies all nBits counters in ONE pass over the array and
 * codegen emits a single static call, keeping the surrounding
 * whole-stage-codegen span intact (the q26/q35/q117 SimHash family).
 *
 * Null semantics match the HOF: a null element sets no bits but DOES
 * count toward the majority threshold (filter drops null predicates,
 * size(hs) counts all elements); an empty array yields all bits set
 * (2*0 >= 0); a null array yields null.
 */
/**
 * Fused hashed-char-3-gram bucket rates:
 * `char3_bucket_rates(text, nBuckets)` returns the length-`nBuckets`
 * `array<double>` whose element j is the fraction of the text's
 * char-3-grams (code-point windows, the `substring(text, i, 3)` grams)
 * hashing to bucket j under the library's 48-bit md5 convention
 * ([[HashConventions.md5long48]] `% nBuckets`) — semantically identical
 * to hashing every gram through an interpreted `transform` and counting
 * each bucket with its own `filter` lambda (spec-locked equal), but in
 * ONE compiled pass with no gram strings, no hex text, and no per-bucket
 * array copies. This is q283's feature extractor — the measured dominant
 * cost of the quality-model query (grams 1.5 s + md5 1.1 s + 32
 * interpreted filters 0.9 s at sf0.1 before fusing).
 *
 * Semantics: fewer than 3 code points -> all-zero rates (the HOF
 * spelling's empty-gram-array `coalesce(..., 0.0)`); otherwise
 * rate_j = count_j / nGrams in IEEE double division. Null text -> null
 * (callers `coalesce` with a zero array for exact HOF parity).
 */
case class Char3BucketRates(child: Expression, nBuckets: Int) extends UnaryExpression {

  require(nBuckets >= 1, "char3_bucket_rates bucket count must be >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"char3_bucket_rates expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    Char3BucketRates.build(input.asInstanceOf[UTF8String], nBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Char3BucketRates.build($c, $nBuckets)")

  override protected def withNewChildInternal(newChild: Expression): Char3BucketRates =
    copy(child = newChild)
}

object Char3BucketRates {

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** One compiled pass: text -> md5long48(gram) % nBuckets histogram ->
    * rates. Grams are 3-code-point windows; each gram's UTF-8 bytes are a
    * slice of the text's bytes, so no strings are materialized. */
  def build(u: UTF8String, nBuckets: Int): ArrayData = {
    val bytes = u.getBytes
    // code-point start offsets (UTF-8: starts are bytes not matching 10xxxxxx)
    var nCp = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) nCp += 1
      i += 1
    }
    val out = new Array[Any](nBuckets)
    if (nCp < 3) {
      var j = 0
      while (j < nBuckets) { out(j) = 0.0d; j += 1 }
      return new GenericArrayData(out)
    }
    val starts = new Array[Int](nCp + 1)
    var k = 0
    i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(k) = i; k += 1 }
      i += 1
    }
    starts(nCp) = bytes.length
    val nGrams = nCp - 2
    val counts = new Array[Long](nBuckets)
    val md = digest.get()
    var g = 0
    while (g < nGrams) {
      md.reset()
      md.update(bytes, starts(g), starts(g + 3) - starts(g))
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 6) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      counts((v % nBuckets).toInt) += 1L
      g += 1
    }
    var j = 0
    while (j < nBuckets) { out(j) = counts(j).toDouble / nGrams.toDouble; j += 1 }
    new GenericArrayData(out)
  }
}

case class SimHashBits(child: Expression, nBits: Int) extends UnaryExpression {

  require(nBits >= 1 && nBits <= 64, s"simhash_bits width ($nBits) must be in [1, 64]")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_bits expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHashBits.build(input.asInstanceOf[ArrayData], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashBits.build($c, $nBits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {

  /** One compiled pass: hash array -> nBits majority-vote fingerprint.
    * Called from both interpreted eval and generated code. */
  def build(arr: ArrayData, nBits: Int): Long = {
    val num = arr.numElements()
    val counts = new Array[Int](nBits)
    var i = 0
    while (i < num) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < nBits) {
          counts(j) += ((h >>> j) & 1L).toInt
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < nBits) {
      if (2 * counts(j) >= num) sig |= 1L << j
      j += 1
    }
    sig
  }
}

/**
 * Native longest-run scan: `max_token_run(toks)` returns
 * `struct<run_tok: string, max_run: int>` — the longest consecutive run of
 * an identical token and the token achieving it (ties to the binary-smallest
 * token, matching `ORDER BY runlen DESC, tok ASC` in both engines' default
 * collation).
 *
 * Why a custom Catalyst Expression: the relational spelling (posexplode ->
 * lag window -> running-sum window -> per-doc rollup -> election window)
 * costs one corpus shuffle plus three window evaluations for what is a
 * single forward scan over each row's token array. This runs the scan as
 * one compiled loop per row — map-only, no shuffle, whole-stage codegen
 * intact — and is the q132 engine (the Gopher repetition rule at 100 TB).
 *
 * Null/empty contract: an empty array yields a null struct; null tokens
 * break runs and are never candidates (whitespace `split` never produces
 * nulls, so this only matters for hand-built arrays).
 */
case class MaxTokenRun(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MaxTokenRun.Out

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"max_token_run expects array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    MaxTokenRun.scan(input.asInstanceOf[ArrayData])

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // scan() returns null for empty/all-null arrays even when the input
    // array itself is non-null, so set the null flag from the call result
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MaxTokenRun.scan($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): MaxTokenRun =
    copy(child = newChild)
}

object MaxTokenRun {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val Out: StructType = StructType(Seq(
    StructField("run_tok", StringType, nullable = false),
    StructField("max_run", IntegerType, nullable = false)))

  /** One forward pass: longest run, ties to the binary-smallest token.
    * Returns null (no struct) when the array has no non-null tokens. */
  def scan(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val num = arr.numElements()
    var bestTok: UTF8String = null
    var bestLen = 0
    var curTok: UTF8String = null
    var curLen = 0
    var i = 0
    while (i < num) {
      val t = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (t == null) {
        curTok = null; curLen = 0
      } else if (curTok != null && t.equals(curTok)) {
        curLen += 1
      } else {
        curTok = t; curLen = 1
      }
      if (curTok != null &&
          (curLen > bestLen ||
            (curLen == bestLen && curTok.compareTo(bestTok) < 0))) {
        bestTok = curTok; bestLen = curLen
      }
      i += 1
    }
    if (bestTok == null) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestTok, bestLen))
  }
}

/**
 * Native per-row Shannon token entropy: `token_entropy(toks)` returns the
 * entropy in bits of the token frequency distribution of one document —
 * the repetition/templating quality signal (low entropy = boilerplate,
 * keyword-stuffing, or generator loops; Gopher-style filters threshold it).
 *
 * Why a custom Catalyst Expression: the pure-SQL spelling needs either an
 * explode + per-doc group-by (a corpus-sized shuffle for a per-ROW signal)
 * or an O(uniq x n) nested HOF (`transform(array_distinct(toks), t ->
 * size(filter(toks, x -> x = t)))`). This is one compiled hash-count pass
 * per row, map-only, inside whole-stage codegen.
 *
 * Determinism contract: terms are summed in token-sorted order (TreeMap),
 * matching the DuckDB oracle's `list_reduce(list_prepend(0.0, list(term
 * ORDER BY tok)))` — same adds in the same order; the residual cross-libm
 * `log2` ulp difference is absorbed by the queries' final round(..., 6).
 * Null tokens are ignored; a row with no non-null tokens yields null.
 */
case class TokenEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_entropy expects array<string>, got $other")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    TokenEntropy.scan(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // scan() returns null for empty/all-null arrays even when the input
    // array itself is non-null, so set the null flag from the call result
    val boxed = ctx.freshName("tokEntropy")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double $boxed = graft.functions.TokenEntropy.scan($c);
      if ($boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $boxed.doubleValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}

object TokenEntropy {

  private val Ln2 = Math.log(2.0)

  /** One counting pass + one sorted-order sum. Returns null when the array
    * has no non-null tokens (entropy of nothing is undefined, not 0). */
  def scan(arr: ArrayData): java.lang.Double = {
    val num = arr.numElements()
    // TreeMap: the entropy terms must be added in token-sorted order so the
    // float sum is bit-reproducible and engine-independent (see Scaladoc)
    val counts = new java.util.TreeMap[UTF8String, Int]()
    var n = 0
    var i = 0
    while (i < num) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        counts.put(t, counts.getOrDefault(t, 0) + 1)
        n += 1
      }
      i += 1
    }
    if (n == 0) null
    else {
      var h = 0.0
      val it = counts.values().iterator()
      while (it.hasNext) {
        val p = it.next().toDouble / n
        h += -(p * (Math.log(p) / Ln2))
      }
      java.lang.Double.valueOf(h)
    }
  }
}

/**
 * Native content-defined-chunking boundary scan: `cdc_cuts(text, w, divisor)`
 * returns the `array<int>` of 1-indexed byte positions `i` (`w <= i <= n`)
 * where the Rabin-Karp window hash of the last `w` bytes,
 * `h_i = sum_{j=0..w-1} byte[i-j] * 31^j`, satisfies `h_i % divisor == 0` —
 * the FastCDC-family cut rule with expected chunk length ~`divisor` bytes.
 * Content-defined cuts re-synchronize after an insertion/edit, so chunk-level
 * dedup catches shared substrings that fixed-size blocks would misalign
 * (the storage-dedup trick applied to corpus text).
 *
 * Why a custom Catalyst Expression: the per-position spelling re-sums the
 * w-byte window at every position (O(n*w) interpreted lambdas); this is ONE
 * compiled rolling pass (`h = 31*h - byte[i-w]*31^w + byte[i]`, exact in a
 * long: max h = 255*(31^8-1)/30 ~ 7.3e12) emitted as a single static call,
 * keeping whole-stage codegen intact. The per-position recompute survives as
 * the DuckDB oracle and the spec cross-check.
 *
 * Positions are BYTE offsets of the UTF8 encoding; on the pure-ASCII test
 * corpus byte == character, which is what keeps the DuckDB twin
 * (`unicode(substr(text, i, 1))`) identical. Null text yields null; text
 * shorter than `w` yields an empty array (no window fits).
 */
case class CdcCuts(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression {

  require(window >= 1 && window <= 64, s"cdc_cuts window ($window) must be in [1, 64]")
  require(divisor >= 2, s"cdc_cuts divisor ($divisor) must be >= 2")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cdc_cuts expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    CdcCuts.scan(input.asInstanceOf[UTF8String], window, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcCuts.scan($c, $window, $divisor)")

  override protected def withNewChildInternal(newChild: Expression): CdcCuts =
    copy(child = newChild)
}

object CdcCuts {

  /** One rolling pass over the text bytes; exact long arithmetic.
    * Called from both interpreted eval and generated code. */
  def scan(text: UTF8String, w: Int, divisor: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    // 31^j coefficients; topPow = 31^w for the aging-out term
    var topPow = 1L
    var j = 0
    while (j < w) { topPow *= 31L; j += 1 }
    val out = new java.util.ArrayList[Any]()
    // seed h with the first window: h = sum byte[w-1-j]*31^j (newest coeff 1)
    var h = 0L
    var i = 0
    while (i < w) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    if (h % divisor == 0) out.add(w)
    i = w
    while (i < n) {
      h = 31L * h - (bytes(i - w) & 0xffL) * topPow + (bytes(i) & 0xffL)
      if (h % divisor == 0) out.add(i + 1)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/**
 * Native sliding-window minimum: `window_mins(hs, w)` maps an `array<long>`
 * to the array of per-window minimums (windows of length w, one per start
 * position) — the winnowing fingerprint selector (q191). Semantically
 * identical to the HOF spelling `transform(sequence(0, size(hs) - w),
 * i -> array_min(slice(hs, i + 1, w)))` (spec-locked equal), but that
 * spelling evaluates INTERPRETED at O(n*w) with a slice allocation per
 * window; this is one O(n) monotonic-deque pass emitted as a single
 * static call inside whole-stage codegen (~13x on the q191 hot path).
 *
 * Null semantics match the HOF FOR size(hs) >= w (the q191 guard, and
 * what the equivalence spec exercises): array_min ignores null elements,
 * so a window's min is over its non-null values and an all-null window
 * yields a null element; null input -> null. For size(hs) < w the two
 * spellings DIVERGE: sequence(0, size-w) with size < w produces a
 * descending sequence and slice(...) then raises a runtime error, whereas
 * this expression extends the contract safely to an empty array.
 */
case class WindowMins(child: Expression, window: Int) extends UnaryExpression {

  require(window >= 1, s"window_mins window ($window) must be >= 1")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"window_mins expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WindowMins.build(input.asInstanceOf[ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WindowMins.build($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): WindowMins =
    copy(child = newChild)
}

object WindowMins {

  /** Monotonic-deque sliding minimum, one O(n) pass; nulls are skipped
    * (never enter the deque) so each window's min is over its non-null
    * values, null if the whole window is null — array_min semantics.
    * Called from both interpreted eval and generated code. */
  def build(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val out = n - w + 1
    if (out <= 0) return new GenericArrayData(Array.empty[Any])
    val res = new Array[Any](out)
    // deque of candidate indices with increasing value; head = window min
    val idx = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = arr.getLong(i)
        while (tail > head && arr.getLong(idx(tail - 1)) >= v) tail -= 1
        idx(tail) = i
        tail += 1
      }
      val start = i - w + 1
      if (start >= 0) {
        // age out candidates left of the window
        while (tail > head && idx(head) < start) head += 1
        if (tail > head) res(start) = arr.getLong(idx(head))
      }
      i += 1
    }
    new GenericArrayData(res)
  }
}

object TextExpressions {

  /** The value of a builder's integer argument, which must be a foldable
    * int or long literal; `what` names it in the error message. */
  private def foldInt(e: Expression, what: String): Int = {
    // guard first: eval(null) on a column reference would throw an opaque
    // unresolved/NPE error at parse time
    require(e.foldable, s"$what must be a foldable (literal) integer, got ${e.sql}")
    e.eval(null) match {
      case i: Int  => i
      case l: Long => math.toIntExact(l)
      case null    => throw new IllegalArgumentException(s"$what must not be null")
      case other =>
        throw new IllegalArgumentException(s"$what must be a foldable integer, got $other")
    }
  }

  private[functions] val wordNgramsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"word_ngrams expects 2 arguments, got ${exprs.length}")
    WordNgrams(exprs(0), foldInt(exprs(1), "word_ngrams window"))
  }

  private[functions] val wordNgramHash48Builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"word_ngram_hash48 expects 2 arguments, got ${exprs.length}")
    WordNgramHash48(exprs(0), foldInt(exprs(1), "word_ngram_hash48 window"))
  }

  private[functions] val simhashBitsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"simhash_bits expects 2 arguments, got ${exprs.length}")
    SimHashBits(exprs(0), foldInt(exprs(1), "simhash_bits width"))
  }

  private[functions] val maxTokenRunBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"max_token_run expects 1 argument, got ${exprs.length}")
    MaxTokenRun(exprs(0))
  }

  private[functions] val tokenEntropyBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"token_entropy expects 1 argument, got ${exprs.length}")
    TokenEntropy(exprs(0))
  }

  private[functions] val cdcCutsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3, s"cdc_cuts expects 3 arguments, got ${exprs.length}")
    CdcCuts(exprs(0), foldInt(exprs(1), "cdc_cuts window"), foldInt(exprs(2), "cdc_cuts divisor"))
  }

  private[functions] val windowMinsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"window_mins expects 2 arguments, got ${exprs.length}")
    WindowMins(exprs(0), foldInt(exprs(1), "window_mins window"))
  }

  private[functions] val char3BucketRatesBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2,
      s"char3_bucket_rates expects 2 arguments, got ${exprs.length}")
    Char3BucketRates(exprs(0), foldInt(exprs(1), "char3_bucket_rates bucket count"))
  }

  /** Registers every native function, not only this family's: the
    * perfbench harness calls this entry point, so it stays as a delegation
    * to [[NativeFunctions.register]]. */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark)
}
