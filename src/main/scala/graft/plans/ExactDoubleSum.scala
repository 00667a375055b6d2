package graft.plans

import org.apache.spark.QueryContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `sum(cast(x AS DECIMAL(28,10)))` over a DOUBLE column without per-row
  * BigDecimal work: same DECIMAL(38,10) value, same NULLs, same errors.
  *
  * A row that [[ExactDecimal.unscaled]] converts (the fast path: every
  * 2-dp value of magnitude below 2^19 = 524,288) adds its unscaled value
  * u to two longs, `hi += u >> 32` and `lo += u & 0xFFFFFFFF`, both with
  * ANSI adds, so an overflow fails loudly; it takes about 2^31 rows in
  * one group of one partition (merges carry `lo`'s high half into `hi`).
  * Every other non-null row runs Spark's own `Cast` and adds the result,
  * as Sum does, into a DECIMAL(38,10) `slot` that stays NULL until such a
  * row arrives — fast rows never touch a decimal buffer. A cast that
  * yields NULL (NaN, or a magnitude past DECIMAL(28,10) with ANSI off)
  * skips the row, as it does under Sum. A slot overflow (some 10^10
  * fallback rows in one group) fails loudly too, where Sum would carry a
  * NULL to its final check.
  *
  * The result is hi·2^32 + lo at scale 10 plus the slot, through Sum's
  * final overflow check (NULL with ANSI off, an error with ANSI on); an
  * empty or all-NULL group is NULL.
  */
case class ExactDoubleSum(
    child: Expression,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
  extends DeclarativeAggregate with UnaryLike[Expression]
  with SupportQueryContext {

  import ExactDoubleSum._

  override def nullable: Boolean = true
  override def dataType: DataType = SumType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"exact double sum takes a DOUBLE, got ${child.dataType.simpleString}")

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val slot = AttributeReference("slot", SumType)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, slot, isEmpty)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(0L), Literal(0L), Literal(null, SumType), Literal(true))

  private lazy val u = FastUnscaled(child, RowType.precision, RowType.scale)
  private lazy val fast = Not(EqualTo(u, Literal(ExactDecimal.NoFast)))
  private lazy val cast = Cast(child, RowType, None, evalMode)

  // The cast sits only in the non-fast branches: subexpression
  // elimination hoists what And/Or operands share across the update
  // expressions, and would then run the cast on every row.
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(fast, ansiAdd(hi, ShiftRight(u, Literal(32))), hi),
    If(fast, ansiAdd(lo, BitwiseAnd(u, LowMask)), lo),
    If(fast, slot, addSlot(slot, Cast(cast, SumType))),
    If(fast, Literal(false), And(isEmpty, IsNull(cast))))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    ansiAdd(ansiAdd(hi.left, hi.right),
      ansiAdd(ShiftRight(lo.left, Literal(32)), ShiftRight(lo.right, Literal(32)))),
    ansiAdd(BitwiseAnd(lo.left, LowMask), BitwiseAnd(lo.right, LowMask)),
    addSlot(slot.left, slot.right),
    And(isEmpty.left, isEmpty.right))

  override lazy val evaluateExpression: Expression = If(isEmpty,
    Literal(null, SumType),
    CheckOverflowInSum(
      DecimalAddNoOverflowCheck(PairDecimal(hi, lo, SumType),
        Coalesce(Seq(slot, Literal.default(SumType))), SumType),
      SumType, evalMode != EvalMode.ANSI, getContextOrNull()))

  override def initQueryContext(): Option[QueryContext] =
    if (evalMode == EvalMode.ANSI) Some(origin.context) else None

  override def prettyName: String = "exact_double_sum"

  override protected def withNewChildInternal(c: Expression): ExactDoubleSum =
    copy(child = c)
}

object ExactDoubleSum {
  /** Each row's cast type, and Sum's buffer and result type over it. */
  val RowType: DecimalType = DecimalType(28, 10)
  val SumType: DecimalType = DecimalType(38, 10)

  private val LowMask = Literal(0xFFFFFFFFL)

  private def ansiAdd(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))

  /** NULL-as-absent decimal add; overflow past DECIMAL(38,10) raises. */
  private def addSlot(a: Expression, b: Expression): Expression =
    If(IsNull(a), b, If(IsNull(b), a,
      CheckOverflow(DecimalAddNoOverflowCheck(a, b, SumType), SumType,
        nullOnOverflow = false)))

  /** `sum(cast(c AS DECIMAL(28,10)))`, on this kernel when `c` is DOUBLE. */
  def dsum(c: Column): Column =
    SqlBridge.column(DecimalSum(SqlBridge.expression(c)).toAggregateExpression())
}

/** The type dispatch behind [[ExactDoubleSum.dsum]]: the input type is only
  * known after analysis, so the optimizer's `ReplaceExpressions` swaps
  * this for [[ExactDoubleSum]] over a DOUBLE and for Spark's own
  * `sum(cast(x AS DECIMAL(28,10)))` over anything else.
  */
case class DecimalSum(child: Expression)
  extends AggregateFunction with RuntimeReplaceableAggregate
  with UnaryLike[Expression] {

  override lazy val replacement: Expression =
    if (child.dataType == DoubleType) ExactDoubleSum(child)
    else Sum(Cast(child, ExactDoubleSum.RowType))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dsum takes a numeric column, got ${t.simpleString}")
  }

  override def prettyName: String = "dsum"

  override protected def withNewChildInternal(c: Expression): DecimalSum =
    copy(child = c)
}
