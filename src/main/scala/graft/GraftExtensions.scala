package graft

import graft.plans.{DotProduct, H60, NearestCell}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, LongType, StringType}

/** Session-construction extension point (SURVEY.md §2B-11 / §4.2): the
  * one install path for the engine's custom SQL functions (`h60`,
  * `dot_product`, `nearest_cell`), its optimizer rule and its planner
  * strategy. `Engine.session` builds every session with it; a cluster
  * deployment sets `spark.sql.extensions=graft.GraftExtensions` at submit
  * time instead.
  *
  * Injects [[RewriteComposedH60]], so portable SQL written against the
  * md5/conv formulation is silently upgraded to the native codegen
  * expression, and [[graft.plans.GroupTopKStrategy]], which plans
  * `GroupTopK` as partial + final per-group heaps.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("h60"),
      new ExpressionInfo(classOf[H60].getName, "h60"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"h60 requires exactly 1 argument, got ${exprs.length}")
        H60(Cast(exprs.head, StringType))
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"dot_product requires exactly 2 arguments, got ${exprs.length}")
        DotProduct(
          Cast(exprs(0), ArrayType(DoubleType)),
          Cast(exprs(1), ArrayType(DoubleType)))
      }))
    ext.injectFunction((
      FunctionIdentifier("nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "nearest_cell"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"nearest_cell requires exactly 2 arguments, got ${exprs.length}")
        // cast the vector side (float embeddings welcome); the centroid
        // array's struct shape is validated by the expression itself
        NearestCell(Cast(exprs(0), ArrayType(DoubleType)), exprs(1))
      }))
    ext.injectOptimizerRule(_ => RewriteComposedH60)
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
  }
}

/** Rewrite the portable 60-bit-hash idiom
  * `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)` to the native
  * [[graft.plans.H60]] expression — bit-identical semantics (see H60's
  * scaladoc), but digest-direct and codegen'd instead of paying the hex
  * encode + substring + per-character base-16 parse per row.
  */
object RewriteComposedH60 extends Rule[LogicalPlan] {

  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Cast(
          Conv(Substring(Md5(input), IntLit(1), IntLit(15)),
            IntLit(16), IntLit(10), _),
          LongType, _, _) =>
        // md5(str) analyzes as Md5(Cast(str, binary)); hash the string
        // directly (same bytes), otherwise hash the binary input as-is.
        input match {
          case Cast(s, BinaryType, _, _) if s.dataType == StringType => H60(s)
          case b => H60(b)
        }
    }
}
