package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/**
 * Native (whole-stage-codegen) Bloom membership probe over the wire bytes
 * produced by [[graft.operators.BloomAgg]]: `bloom_might_contain(bloom,
 * key)`.
 *
 * Why a custom Catalyst Expression: the probe sits on the innermost loop of
 * a corpus screen — one call per (row, shingle) at 100 TB — so it must stay
 * inside the same codegen stage as the surrounding explode/filter/aggregate.
 * A Scala UDF would break the stage and pay serialization per probe.
 *
 * Bit layout and hashing must stay EXACTLY in sync with
 * [[graft.operators.BloomSketch.mightContain]], the interpreted reference
 * implementation this expression is spec-locked against (interpreted ==
 * codegen on random keys).
 */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_might_contain expects (binary, bigint), got ${left.dataType} / ${right.dataType}")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(bloom: Any, key: Any): Any =
    graft.operators.BloomSketch.mightContain(
      bloom.asInstanceOf[Array[Byte]], key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bloom, key) => {
      val k = ctx.freshName("k")
      val m = ctx.freshName("m")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val i = ctx.freshName("i")
      val bit = ctx.freshName("bit")
      val inWord = ctx.freshName("inWord")
      val by = ctx.freshName("by")
      val res = ctx.freshName("res")
      // splitmix64 inlined twice — keep in sync with BloomSketch.splitmix64;
      // each expansion gets its own scratch var ($dst + "z") because Java
      // forbids shadowing a local in a nested block
      // $src is parenthesized: it can be a compound expression like
      // `key ^ tweak`, and Java's `+` binds tighter than `^`
      def mix(src: String, dst: String): String =
        s"""
          long ${dst}z = ($src) + 0x9e3779b97f4a7c15L;
          ${dst}z = (${dst}z ^ (${dst}z >>> 30)) * 0xbf58476d1ce4e5b9L;
          ${dst}z = (${dst}z ^ (${dst}z >>> 27)) * 0x94d049bb133111ebL;
          long $dst = ${dst}z ^ (${dst}z >>> 31);
        """
      s"""
        int $k = $bloom[0] & 0xff;
        long $m = ($bloom.length - 1) * 8L;
        boolean $res = true;
        { ${mix(key, h1)}
          { ${mix(s"$key ^ ${graft.operators.BloomSketch.H2Tweak}L", s"${h2}0")}
            long $h2 = ${h2}0 | 1L;
            for (int $i = 0; $i < $k; $i++) {
              long $bit = (($h1 + (long) $i * $h2) & Long.MAX_VALUE) % $m;
              int $inWord = (int) ($bit & 63L);
              byte $by = $bloom[1 + ((int) ($bit >> 6)) * 8 + (7 - $inWord / 8)];
              if ((($by >> ($inWord % 8)) & 1) == 0) { $res = false; break; }
            }
          }
        }
        ${ev.value} = $res;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomExpressions {
  private[functions] val bloomMightContainBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"bloom_might_contain takes 2 arguments, got ${exprs.length}")
    BloomMightContain(exprs(0), exprs(1))
  }
}
