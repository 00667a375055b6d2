package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine-deterministic building blocks shared by the query corpus.
  *
  * The t2 gate hash-compares engine output against DuckDB, so every
  * floating-point aggregate must be bit-identical across engines, not just
  * "close". Strategy: per-row double arithmetic is IEEE-identical
  * everywhere; only aggregation ORDER differs between engines — so we sum
  * exactly in DECIMAL (associative, order-insensitive) and cast the exact
  * result back to double.
  */
object Fns {

  /** Exact sum of a double column: cast each row to DECIMAL(28,10)
    * (exact, order-insensitive) and sum — the result STAYS decimal.
    * DuckDB mirror: sum(CAST(x AS DECIMAL(28,10))).
    *
    * Why no cast back to double: for sums >= ~1e9, decimal->double
    * conversion differs by 1 ulp between engines (Spark converts the
    * exact decimal correctly-rounded; DuckDB divides an int128-derived
    * double by 10^scale), and 1 ulp at 1e9 is ~1e-7 — right at the
    * 6-dp hash-rounding boundary. Decimal-vs-decimal compares exactly.
    *
    * Kernel: [[graft.plans.ExactDoubleSum]] for a DOUBLE column (any other
    * type plans Spark's own sum over the cast). Its values, NULLs and
    * errors are identical to Spark's cast-and-sum: each row whose
    * DECIMAL(28,10) value [[graft.plans.ExactDecimal]] proves in integer
    * arithmetic (2^-11 <= |x| < 2^19 and not within half an ulp of a
    * rounding boundary: every 2-dp value in that range) adds to a two-long
    * accumulator; every other row runs Spark's Cast and a decimal add.
    * Cost on q_join_theta (~300k joined rows into one task; sf0.1, 4
    * cores, warm JVM, median of 8): ~500 ms with the per-row BigDecimal
    * cast, ~200 ms on the kernel, ~170 ms for a plain (inexact) double
    * sum.
    */
  def dsum(c: Column): Column = graft.plans.ExactDoubleSum.dsum(c)

  /** Gate-safe final projection of a [[dsum]] result to DOUBLE.
    *
    * Raw DECIMAL output columns break the external comparator (Spark
    * parquet decimals arrive as objects while DuckDB yields float64), and
    * a direct decimal(38,10)→double cast is double-rounded in DuckDB
    * (int128→double, then /1e10 — 1 ulp off at sums ≥ ~1e9). Narrowing
    * the exact decimal to DECIMAL(18,6) first makes the conversion safe:
    * both engines round the SAME exact decimal at 6 dp (half-away-from-
    * zero in both), and the scale-6 scaled integer fits a 53-bit mantissa
    * for |x| < ~9e9, so each engine's decimal→double step is a single
    * correctly-rounded operation — bit-identical results.
    *
    * Bound note: |sum| must stay < ~9e9 for bit-exactness (holds through
    * sf0.1 per-group sums). Out-of-contract magnitudes FAIL LOUDLY via
    * raise_error instead of silently double-rounding (and, past ~1e12,
    * returning non-ANSI NULL where DuckDB errors). DuckDB mirror:
    * [[dgateSql]].
    */
  def dgate(c: Column): Column =
    // NULL passes through per SQL semantics (sum over an empty/all-NULL
    // group is NULL in both engines); only genuine out-of-bound magnitudes
    // raise. Without the leading isNull branch a NULL input falls to
    // `otherwise` (the <= comparison is NULL, not true) and raises with a
    // NULL-concat message.
    when(c.isNull, lit(null).cast(DoubleType))
      .when(abs(c) <= lit(9e9), c.cast(DecimalType(18, 6)).cast(DoubleType))
      .otherwise(raise_error(concat(
        lit("dgate: |value| exceeds the 9e9 cross-engine bit-exact bound: "),
        c.cast(StringType))))

  /** [[dsum]] + [[dgate]]: exact decimal accumulation, double output. */
  def dsumGate(c: Column): Column = dgate(dsum(c))

  /** Deterministic average: exact decimal sum (cast to double — averages
    * have bounded magnitude, where the conversion is ulp-safe) / count.
    * DuckDB mirror: CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(x).
    */
  def davg(c: Column): Column = dsum(c).cast(DoubleType) / count(c)

  /** Per-row exact revenue units: cents(price) x (100 - pct(discount)) as
    * an int64 at fixed scale 1e4. The money columns ARE exact 2-dp
    * decimals stored as doubles, so `floor(x*100+0.5)` recovers the exact
    * integer and every product/sum below is exact integer arithmetic that
    * stays in whole-stage codegen (the q_agg_stats quantization
    * pattern). Revenue over sf0.1 lineitem by l_returnflag, 4 cores, warm
    * JVM: ~180 ms on revUnits, ~225 ms through [[dsum]].
    * Overflow bound: |units| <= ~1e9/row, so int64 sums hold past 1e9
    * rows per group (sf1000). DuckDB mirror: [[revUnitsSql]].
    */
  def revUnits(price: Column, discount: Column): Column =
    floor(price * 100.0 + 0.5).cast(LongType) *
      (lit(100L) - floor(discount * 100.0 + 0.5).cast(LongType))

  /** Exact `sum(price * (1 - discount))` on quantized longs (scale 1e4
    * reconstituted once per group). DuckDB mirror: [[qrevSql]].
    */
  def qrev(price: Column, discount: Column): Column =
    sum(revUnits(price, discount)).cast(DoubleType) / 10000.0

  /** DuckDB-side mirror of [[revUnits]]. */
  def revUnitsSql(price: String, discount: String): String =
    s"(CAST(floor(($price) * 100.0 + 0.5) AS BIGINT)" +
      s" * (100 - CAST(floor(($discount) * 100.0 + 0.5) AS BIGINT)))"

  /** DuckDB-side mirror of [[qrev]]. */
  def qrevSql(price: String, discount: String): String =
    s"CAST(CAST(sum(${revUnitsSql(price, discount)}) AS BIGINT) AS DOUBLE) / 10000.0"

  /** 60-bit cross-engine hash of a string: first 15 hex chars of md5,
    * parsed base-16. DuckDB mirror: ('0x' || substr(md5(x),1,15))::BIGINT.
    * Used as the shared hash primitive for MinHash/SimHash/fingerprints
    * (xxhash64 is Spark-only; DuckDB hash() is DuckDB-only).
    *
    * Backed by the native [[graft.plans.H60]] codegen expression, which
    * reads the 60 bits straight from the digest — bit-identical to (and
    * hot-path-faster than) conv(substring(md5(x),1,15),16,10).
    */
  def h60(c: Column): Column = graft.plans.H60(c.cast(StringType))

  /** DuckDB-side mirror of [[h60]] as a SQL fragment. */
  def h60Sql(expr: String): String =
    s"CAST(('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 15)) AS BIGINT)"

  // standard 2-D bit-spreading constants (bit i of a 31-bit input lands
  // at bit 2i): shared verbatim by the Column chain and the SQL mirror
  private val spreadMasks: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  private def spreadBits(c: Column): Column =
    spreadMasks.foldLeft(
      c.cast(LongType).bitwiseAND(lit(0x7FFFFFFFL))) {
      case (x, (sh, m)) =>
        x.bitwiseOR(shiftleft(x, sh)).bitwiseAND(lit(m))
    }

  /** 2-D Morton (Z-order) key of two non-negative ints (each capped to
    * 31 bits): bit i of `a` lands at bit 2i, bit i of `b` at 2i + 1 —
    * the clustering key for multi-dimensional data-skipping layouts.
    * Pure integer bit math, so bit-identical cross-engine. DuckDB
    * mirror: [[mortonSql]].
    */
  def morton(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  private def spreadSql(e: String): String =
    spreadMasks.foldLeft(s"((CAST(($e) AS BIGINT)) & 2147483647)") {
      case (x, (sh, m)) => s"(($x | ($x << $sh)) & $m)"
    }

  /** DuckDB-side mirror of [[morton]]. */
  def mortonSql(a: String, b: String): String =
    s"(${spreadSql(a)} | (${spreadSql(b)} << 1))"

  /** DuckDB-side mirror of [[dsum]] (decimal result, no double cast). */
  def dsumSql(expr: String): String =
    s"sum(CAST(($expr) AS DECIMAL(28,10)))"

  /** DuckDB-side mirror of [[dgate]]. */
  def dgateSql(expr: String): String =
    s"CAST(CAST(($expr) AS DECIMAL(18,6)) AS DOUBLE)"

  /** DuckDB-side mirror of [[dsumGate]]. */
  def dsumGateSql(expr: String): String = dgateSql(dsumSql(expr))
}
