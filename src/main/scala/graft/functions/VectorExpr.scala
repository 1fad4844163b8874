package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two array<float> columns with full codegen.
  *
  * Semantics are EXACTLY the 64-term left-associative sum of per-element
  * double casts used by the DuckDB oracles (graft.ops.Vector.dotDuck):
  * acc = acc + (double)a[i] * (double)b[i], i ascending — IEEE-identical
  * results, so fixed-point floors match bitwise. Arrays must be
  * same-length, non-null elements (the embeddings table guarantees it).
  *
  * This is the preferred custom-function shape from the build brief:
  * a Catalyst Expression with doGenCode stays inside whole-stage
  * codegen — no UDF serialization, no interpreted lambda dispatch.
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {
  // Callers are internal (array<float> embedding columns only), so no
  // ExpectsInputTypes coercion machinery (AbstractDataType is
  // private[sql] in Spark 4).
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      code"""
        double ${ev.value}_acc = 0.0;
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        for (int $i = 0; $i < $n; $i++) {
          ${ev.value}_acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
        }
        ${ev.value} = ${ev.value}_acc;
      """.toString
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

object VectorExpr {
  def dot_f32(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      DotF32(org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))
}
