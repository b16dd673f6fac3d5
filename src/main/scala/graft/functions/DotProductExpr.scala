package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Native array dot product accumulated in doubles left-to-right —
  * bitwise identical to the sequential fold the DuckDB oracle uses, but
  * codegen'd (the higher-order-function fold is interpreted and ~50x
  * slower on the ANN hot path). Each side may be array<float> or
  * array<double> (floats widen exactly; the element-type dispatch is
  * static, resolved at codegen from the child schema). */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
  // analysis-time check: misuse fails the query plan with a typed
  // error instead of a mid-job ClassCastException that differs between
  // the interpreted and codegen paths
  override def inputTypes: Seq[org.apache.spark.sql.graft.Bridge.AbstractType] = Seq(
    org.apache.spark.sql.graft.Bridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)),
    org.apache.spark.sql.graft.Bridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_ff"

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"dot_ff needs array<float|double>, got $other")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val lf = isFloatArr(left)
    val rf = isFloatArr(right)
    var sum = 0.0
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xv * yv
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloatArr(left)) "getFloat" else "getDouble"
    val rGet = if (isFloatArr(right)) "getFloat" else "getDouble"
    // freshName everything: with NON-nullable children nullSafeCodeGen
    // emits this block unbraced, so two dot_ffs in one projection would
    // redeclare fixed names, fail Janino, and silently fall back to the
    // interpreted path for the whole stage
    val n = ctx.freshName("dotN")
    val i = ctx.freshName("dotI")
    val sum = ctx.freshName("dotSum")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $sum;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
