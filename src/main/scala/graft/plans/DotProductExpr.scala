package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen dot product over two array<double> columns.
  *
  * Semantically identical to the higher-order formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,e) -> acc+e)` —
  * same strict left-to-right accumulation order, so results stay
  * bit-identical to the DuckDB `list_reduce` oracle mirror — but compiled
  * into a tight loop inside whole-stage codegen instead of interpreted
  * lambda dispatch. Measured ~10x on the pairwise-similarity queries
  * (200k-1.25M pairs x 64 dims at sf0.1), and the gap widens at cluster
  * scale where the pair count is billions.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // nullable even for non-null children: length mismatch produces NULL
  // (otherwise codegen would constant-fold isNull and fail to compile).
  override def nullable: Boolean = true

  // Reject non-double arrays at analysis time: ArrayData.getDouble on a
  // float-backed array would silently read garbage. (SQL registration
  // inserts casts, so array<float> callers still work there.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // Length mismatch yields NULL — matching zip_with (NULL-padded pairs
  // poison the fold) and the DuckDB list_zip mirror, so the documented
  // bit-identity holds even for ragged inputs.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $s += $a.getDouble($i) * $b.getDouble($i);
          }
          ${ev.value} = $s;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-level entry point. Inputs must already be array<double>. */
  def apply(a: Column, b: Column): Column =
    SqlBridge.column(
      DotProduct(SqlBridge.expression(a), SqlBridge.expression(b)))
}
