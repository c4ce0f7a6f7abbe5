package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/**
 * Native (whole-stage-codegen) count-min-sketch point-frequency read over
 * the wire bytes produced by [[graft.operators.CmsAgg]]:
 * `cms_estimate(cms, key)`.
 *
 * Why a custom Catalyst Expression: frequency probes sit on the innermost
 * loop of a screen — one call per (row, token) when filtering a corpus by
 * estimated frequency — so the read must stay inside the same codegen
 * stage as the surrounding explode/filter. A Scala UDF would break the
 * stage and pay serialization per probe.
 *
 * Layout and hashing must stay EXACTLY in sync with
 * [[graft.operators.CmsSketch.estimate]], the interpreted reference
 * implementation this expression is spec-locked against.
 */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cms_estimate expects (binary, bigint), got ${left.dataType} / ${right.dataType}")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(cms: Any, key: Any): Any =
    graft.operators.CmsSketch.estimate(
      cms.asInstanceOf[Array[Byte]], key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cms, key) => {
      val depth = ctx.freshName("depth")
      val width = ctx.freshName("width")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val off = ctx.freshName("off")
      val v = ctx.freshName("v")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best")
      // splitmix64 inlined twice — keep in sync with BloomSketch.splitmix64;
      // same expansion discipline as BloomMightContain.doGenCode
      def mix(src: String, dst: String): String =
        s"""
          long ${dst}z = ($src) + 0x9e3779b97f4a7c15L;
          ${dst}z = (${dst}z ^ (${dst}z >>> 30)) * 0xbf58476d1ce4e5b9L;
          ${dst}z = (${dst}z ^ (${dst}z >>> 27)) * 0x94d049bb133111ebL;
          long $dst = ${dst}z ^ (${dst}z >>> 31);
        """
      s"""
        int $depth = $cms[0] & 0xff;
        int $width = ($cms.length - 1) / 8 / $depth;
        long $best = Long.MAX_VALUE;
        { ${mix(key, h1)}
          { ${mix(s"$key ^ ${graft.operators.BloomSketch.H2Tweak}L", s"${h2}0")}
            long $h2 = ${h2}0 | 1L;
            for (int $i = 0; $i < $depth; $i++) {
              int $c = (int) ((($h1 + (long) $i * $h2) & Long.MAX_VALUE) % $width);
              int $off = 1 + ($i * $width + $c) * 8;
              long $v = 0L;
              for (int $j = 0; $j < 8; $j++) {
                $v = ($v << 8) | ($cms[$off + $j] & 0xffL);
              }
              if ($v < $best) $best = $v;
            }
          }
        }
        ${ev.value} = $best;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsExpressions {
  private[functions] val cmsEstimateBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"cms_estimate takes 2 arguments, got ${exprs.length}")
    CmsEstimate(exprs(0), exprs(1))
  }
}
