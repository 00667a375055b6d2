package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** Exact double → DECIMAL(precision, scale) conversion in integer
  * arithmetic, bit-identical to Spark's `Cast` wherever it answers.
  *
  * Spark casts a double to a decimal by parsing `Double.toString(d)` into
  * a BigDecimal and rounding it HALF_UP to `scale`. [[unscaled]] gets the
  * same unscaled integer without the string or the BigDecimal:
  *
  *   - write |d| = m·2^-k, m the 53-bit significand, and p = 10^scale;
  *   - the 128-bit product m·p = q·2^k + r (`Math.multiplyHigh`), so
  *     |d|·p = q + r/2^k;
  *   - `Double.toString(d)` parses back to d, so the string is within half
  *     an ulp of d: at most p/2^(k+1) units (of 10^-scale) from q + r/2^k;
  *   - the HALF_UP boundary q + ½ is farther away than that exactly when
  *     2·|r − 2^(k−1)| > p. Then the string and d round to the same
  *     integer — q + 1 if r > 2^(k−1), else q — and the sign goes on
  *     afterwards (HALF_UP is symmetric).
  *
  * The answer is taken only when that margin holds, 1 ≤ k ≤ 63
  * (2^-11 ≤ |d| < 2^52), q < 10^18 and the result fits `precision`;
  * ±0.0 gives 0. The margin can only hold when 2^k > p, so at scale 10
  * the window is 2^-11 ≤ |d| < 2^19. Everything else — NaN, ±Inf,
  * subnormals, magnitudes outside the window, values within the margin
  * of a boundary — returns [[NoFast]], and the caller runs Spark's own
  * `Cast` for that value, so its exact result and its errors (both ANSI
  * modes) are kept.
  */
object ExactDecimal {

  /** "Not proven": the caller falls back to Spark's `Cast`. Never a
    * proven result (those have |u| ≤ 10^18).
    */
  final val NoFast: Long = Long.MinValue

  private val pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Unscaled value of `d` as DECIMAL(precision, scale), or [[NoFast]]. */
  def unscaled(d: Double, precision: Int, scale: Int): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val k = 1075 - ((bits >>> 52) & 0x7FF).toInt
    if ((bits & Long.MaxValue) == 0L) 0L
    else if (k < 1 || k > 63 || scale < 0 || scale > 18) NoFast
    else {
      val m = (bits & 0xFFFFFFFFFFFFFL) | (1L << 52)
      val p = pow10(scale)
      val hi = Math.multiplyHigh(m, p)
      val lo = m * p
      val q = (hi << (64 - k)) | (lo >>> k)
      val r = lo & ((1L << k) - 1)
      val fromHalf = r - (1L << (k - 1))
      // 2·|fromHalf| > p, written without the doubling (p is 1 or even)
      if ((hi >>> k) != 0L || q < 0L || q >= pow10(18) ||
          Math.abs(fromHalf) <= (p >> 1)) NoFast
      else {
        val u = if (fromHalf > 0L) q + 1 else q
        if (precision <= 18 && u >= pow10(precision)) NoFast
        else if (bits < 0L) -u
        else u
      }
    }
  }

  /** hi·2^32 + lo at `scale` — the [[ExactDoubleSum]] accumulator's value.
    * Fits DECIMAL(38, s): |hi| < 2^63, so |value| < 2^96 < 10^29.
    */
  def pairDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal = {
    val top = hi + (lo >> 32)
    if ((top >> 31) == 0L || (top >> 31) == -1L)
      Decimal((top << 32) + (lo & 0xFFFFFFFFL), precision, scale)
    else {
      val big = java.math.BigInteger.valueOf(hi).shiftLeft(32)
        .add(java.math.BigInteger.valueOf(lo))
      Decimal(new java.math.BigDecimal(big, scale), precision, scale)
    }
  }
}

/** Codegen form of [[ExactDecimal.unscaled]] over a DOUBLE child: the
  * proven unscaled DECIMAL(precision, scale) value, or
  * [[ExactDecimal.NoFast]] when the child is NULL or the value is not
  * proven. Never NULL.
  */
case class FastUnscaled(child: Expression, precision: Int, scale: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"FastUnscaled takes a DOUBLE, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => ExactDecimal.NoFast
    case d: Double => ExactDecimal.unscaled(d, precision, scale)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? ${ExactDecimal.NoFast}L
        : graft.plans.ExactDecimal.unscaled(${c.value}, $precision, $scale);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): FastUnscaled =
    copy(child = c)
}

/** Codegen form of [[ExactDecimal.pairDecimal]]: two non-null LONGs to a
  * DECIMAL(precision, scale).
  */
case class PairDecimal(left: Expression, right: Expression, dataType: DecimalType)
  extends BinaryExpression {

  override def nullable: Boolean = false

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    ExactDecimal.pairDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long],
      dataType.precision, dataType.scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) => "graft.plans.ExactDecimal.pairDecimal(" +
      s"$h, $l, ${dataType.precision}, ${dataType.scale})")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PairDecimal = copy(left = l, right = r)
}
