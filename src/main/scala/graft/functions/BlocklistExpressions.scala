package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `blocklist_hits(text, phrases)` — multi-pattern substring matching in
 * ONE pass over the text: the number of DISTINCT blocklist phrases that
 * occur in `text` (case-sensitive, plain substrings). The blocklist stage
 * every curation pipeline runs (toxic phrases, boilerplate markers,
 * known-contaminated strings), where the naive spelling — N `contains`
 * probes or a `filter` HOF — re-scans the text once per phrase and dies
 * as the blocklist grows; real blocklists carry thousands of entries.
 *
 * The phrase argument must be FOLDABLE (a literal array or something the
 * optimizer collapses to one): the Aho-Corasick automaton (goto/fail/
 * output links over a per-node sorted char alphabet) is built ONCE from
 * the evaluated constant — on the driver at expression construction, and
 * once per executor after deserialization — then every row is a single
 * O(|text|) walk. Matching is exact codepoint-sequence containment; a
 * phrase occurring several times counts once (distinct-phrase census).
 * Null text → null; null/empty phrase entries are rejected loudly at
 * build time (a null blocklist entry is a broken blocklist, not data).
 */
case class BlocklistHits(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        if (right.foldable)
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        else
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            "blocklist_hits requires a FOLDABLE phrase array (the automaton is " +
              "built once per constant blocklist, not per row)")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"blocklist_hits expects (string, array<string>), got $other")
    }

  /** The automaton: built lazily from the foldable phrase argument — once
    * on the driver, once per executor after deserialization. */
  @transient private lazy val automaton: AhoCorasick = {
    val arr = right.eval(InternalRow.empty).asInstanceOf[ArrayData]
    require(arr != null, "blocklist_hits: the phrase array must not be null")
    val phrases = (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i), "blocklist_hits: blocklist entries must be non-null")
      val p = arr.getUTF8String(i).toString
      require(p.nonEmpty, "blocklist_hits: blocklist entries must be non-empty")
      p
    }
    AhoCorasick.build(phrases)
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else automaton.distinctHits(t.asInstanceOf[UTF8String].toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val acRef = ctx.addReferenceObj("graftAhoCorasick", automaton,
      classOf[AhoCorasick].getName)
    val t = left.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      int ${ev.value} = -1;
      if (!${ev.isNull}) {
        ${ev.value} = $acRef.distinctHits(${t.value}.toString());
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlocklistHits =
    copy(left = newLeft, right = newRight)
}

/**
 * Classic Aho-Corasick over chars: flat arrays, per-node binary-searched
 * sorted edges, BFS-built fail links, output = bitset of pattern ids
 * reachable via fail chain. Immutable and serializable — one instance is
 * shared by every task via the expression's reference object.
 */
final class AhoCorasick private (
    edgeOffset: Array[Int], // node -> first edge index
    edgeChar: Array[Char], // sorted within each node's range
    edgeTo: Array[Int],
    fail: Array[Int],
    outBits: Array[Array[Long]], // node -> pattern-id bitset (null = empty)
    val nPatterns: Int)
    extends Serializable {

  private def step(fromNode: Int, c: Char): Int = {
    var node = fromNode
    while (true) {
      val lo = edgeOffset(node)
      val hi = edgeOffset(node + 1)
      var a = lo
      var b = hi - 1
      while (a <= b) {
        val m = (a + b) >>> 1
        val mc = edgeChar(m)
        if (mc == c) return edgeTo(m)
        else if (mc < c) a = m + 1
        else b = m - 1
      }
      if (node == 0) return 0
      node = fail(node)
    }
    0
  }

  /** Number of DISTINCT patterns occurring in `text`. */
  def distinctHits(text: String): Int = {
    val seen = new Array[Long]((nPatterns + 63) >> 6)
    var node = 0
    var i = 0
    val n = text.length
    while (i < n) {
      node = step(node, text.charAt(i))
      val bits = outBits(node)
      if (bits != null) {
        var w = 0
        while (w < bits.length) { seen(w) |= bits(w); w += 1 }
      }
      i += 1
    }
    var count = 0
    var w = 0
    while (w < seen.length) { count += java.lang.Long.bitCount(seen(w)); w += 1 }
    count
  }
}

object AhoCorasick {

  def build(patterns: Seq[String]): AhoCorasick = {
    val n = patterns.length
    // trie with mutable child maps, then flatten
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.TreeMap.empty[Char, Int])
    val patEnd = scala.collection.mutable.ArrayBuffer.fill(1)(-1)
    patterns.zipWithIndex.foreach { case (p, id) =>
      var node = 0
      p.foreach { c =>
        node = children(node).getOrElseUpdate(c, {
          children += scala.collection.mutable.TreeMap.empty[Char, Int]
          patEnd += -1
          children.length - 1
        })
      }
      // duplicate phrase entries keep the FIRST id (and so count once)
      if (patEnd(node) < 0) patEnd(node) = id
    }
    val nn = children.length
    val fail = new Array[Int](nn)
    // BFS fail links
    val queue = scala.collection.mutable.Queue.empty[Int]
    children(0).values.foreach { c => fail(c) = 0; queue += c }
    val order = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      order += u
      children(u).foreach { case (ch, v) =>
        // walk u's fail chain for ch
        var f = fail(u)
        var to = 0
        var found = false
        while (!found) {
          children(f).get(ch) match {
            case Some(w) => to = w; found = true
            case None => if (f == 0) { to = 0; found = true } else f = fail(f)
          }
        }
        fail(v) = to
        queue += v
      }
    }
    // output bitsets: own pattern + fail target's set (BFS order makes the
    // fail target's set final before its dependents read it)
    val words = (n + 63) >> 6
    val out = new Array[Array[Long]](nn)
    def ensure(i: Int): Array[Long] = {
      if (out(i) == null) out(i) = new Array[Long](words)
      out(i)
    }
    for (i <- 0 until nn if patEnd(i) >= 0)
      ensure(i)(patEnd(i) >> 6) |= 1L << (patEnd(i) & 63)
    order.foreach { u =>
      val fb = out(fail(u))
      if (fb != null) {
        val b = ensure(u)
        var w = 0
        while (w < words) { b(w) |= fb(w); w += 1 }
      }
    }
    // flatten edges
    val edgeOffset = new Array[Int](nn + 1)
    var total = 0
    for (i <- 0 until nn) { edgeOffset(i) = total; total += children(i).size }
    edgeOffset(nn) = total
    val edgeChar = new Array[Char](total)
    val edgeTo = new Array[Int](total)
    var e = 0
    for (i <- 0 until nn; (ch, v) <- children(i)) { // TreeMap: sorted
      edgeChar(e) = ch; edgeTo(e) = v; e += 1
    }
    new AhoCorasick(edgeOffset, edgeChar, edgeTo, fail, out, n)
  }
}

object BlocklistExpressions {
  private[functions] val blocklistHitsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"blocklist_hits takes 2 arguments, got ${exprs.length}")
    BlocklistHits(exprs(0), exprs(1))
  }
}
