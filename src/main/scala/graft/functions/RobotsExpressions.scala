package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `robots_match(pattern, path)` — RFC 9309 path-pattern matching, the
 * predicate under every robots.txt allow/disallow verdict:
 *
 *  - the pattern matches as a PREFIX of the path;
 *  - `*` matches any run of characters (including empty, across `/`);
 *  - `$` at the pattern END anchors the match to the path end (anywhere
 *    else `$` is a literal octet, per the RFC's grammar note);
 *  - matching is byte-exact otherwise (case-sensitive — URL paths are).
 *
 * Greedy-with-backtrack glob matcher, one compiled pass, codegen'd via
 * static call (the [[StripHtml]] discipline). Null in → null out.
 */
case class RobotsMatch(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"robots_match expects (string, string), got $other")
    }

  override protected def nullSafeEval(pattern: Any, path: Any): Any =
    RobotsKit.matches(pattern.asInstanceOf[UTF8String], path.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, s) => s"graft.functions.RobotsKit.matches($p, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsMatch =
    copy(left = newLeft, right = newRight)
}

object RobotsKit {

  def matches(pattern: UTF8String, path: UTF8String): Boolean =
    matchesJava(pattern.toString, path.toString)

  def matchesJava(pattern: String, path: String): Boolean = {
    // trailing '$': anchor to path end; elsewhere '$' is literal
    val anchored = pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$'
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    globPrefix(pat, path, anchored)
  }

  /** Does `pat` ('*' wildcards) match a prefix of `path` (the whole path
    * when `anchored`)? Iterative greedy matcher with star backtracking —
    * O(|pat| * |path|) worst case, linear on real rules. */
  private def globPrefix(pat: String, path: String, anchored: Boolean): Boolean = {
    val pn = pat.length
    val sn = path.length
    var p = 0
    var s = 0
    var starP = -1
    var starS = -1
    while (s < sn) {
      if (p >= pn) {
        // pattern consumed mid-path: a prefix match succeeds; an anchored
        // match must consume more path through the last star, if any
        if (!anchored) return true
        if (starP >= 0) { p = starP + 1; starS += 1; s = starS }
        else return false
      }
      else if (pat.charAt(p) == path.charAt(s)) { p += 1; s += 1 }
      else if (pat.charAt(p) == '*') { starP = p; p += 1; starS = s }
      else if (starP >= 0) { p = starP + 1; starS += 1; s = starS }
      else return false
    }
    // path exhausted: remaining pattern must be all '*'
    while (p < pn && pat.charAt(p) == '*') p += 1
    p >= pn
  }
}

object RobotsExpressions {
  private[functions] val robotsMatchBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"robots_match takes 2 arguments, got ${exprs.length}")
    RobotsMatch(exprs(0), exprs(1))
  }
}
