package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Native (whole-stage-codegen) float-vector dot product.
 *
 * Why a custom Catalyst Expression: Spark's higher-order functions
 * (`aggregate`/`zip_with`) run INTERPRETED — every lambda step allocates and
 * dispatches — which measures ~23 microseconds per 64-dim dot product
 * (4.6 s for 200k pairs at sf0.1). This expression emits a tight primitive
 * loop inside the generated code instead, keeping similarity search in the
 * same codegen stage as the surrounding join/filter.
 *
 * Numeric contract (must stay EXACTLY in sync with the DuckDB oracle and
 * the HOF spelling it replaces): terms are double(a_i) * double(b_i) — each
 * exact in IEEE — accumulated strictly left-to-right from +0.0. Bit-identical
 * to `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)` and to
 * DuckDB's `list_reduce(list_transform(...), +)`.
 */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_dot expects two array<float> arguments, got ${left.dataType} / ${right.dataType}")
    }
  }

  // NULL contract mirrors the HOF spelling exactly: null input array,
  // mismatched lengths (zip_with pads with null), or any null element all
  // yield NULL — a ragged/corrupt embedding surfaces as a detectable NULL,
  // never a silently-partial dot product.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
          }
          if (!${ev.isNull}) { ${ev.value} = $acc; }
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  private[functions] val vecDotBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"vec_dot takes 2 arguments, got ${exprs.length}")
    FloatVecDot(exprs(0), exprs(1))
  }

  /** Registers every native function, not only this family's: the
    * perfbench harness calls this entry point, so it stays as a delegation
    * to [[NativeFunctions.register]]. */
  def register(spark: SparkSession): Unit = NativeFunctions.register(spark)
}
