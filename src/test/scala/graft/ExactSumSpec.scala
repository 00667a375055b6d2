package graft

import graft.functions.Fns
import graft.plans.{ExactDecimal, ExactDoubleSum}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** [[ExactDecimal]] and [[ExactDoubleSum]] against the Spark expressions
  * they stand in for: the conversion against `Cast`, the aggregate against
  * `sum(cast(x AS DECIMAL(28,10)))`, in both ANSI modes.
  */
class ExactSumSpec extends AnyFunSuite {
  import SparkTestSession._

  private val types = Seq((28, 10), (18, 6), (38, 18), (10, 2), (20, 0))

  /** `n` doubles from every input family: random bit patterns, random
    * values inside the fast window, 2-dp values and their differences,
    * values within ±3 ulps of a HALF_UP boundary at `scale`, tiny, huge,
    * ±0, NaN, ±Inf and subnormals.
    */
  private def inputs(n: Int, scale: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    def cents(): Double = (rnd.nextLong() % 2000000000L) / 100.0
    def window(): Double = java.lang.Double.longBitsToDouble(
      (rnd.nextLong() & 0x800FFFFFFFFFFFFFL) |
        ((1012L + rnd.nextInt(63)) << 52))
    def boundary(): Double = {
      val digits = 1 + rnd.nextInt(15)
      val n = (rnd.nextLong() & Long.MaxValue) % math.pow(10, digits).toLong
      var d = (n + 0.5) / math.pow(10, scale)
      val steps = rnd.nextInt(7) - 3
      (0 until math.abs(steps)).foreach(_ =>
        d = if (steps > 0) Math.nextUp(d) else Math.nextDown(d))
      if (rnd.nextBoolean()) d else -d
    }
    val specials = Array(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -4.9e-320,
      java.lang.Double.MIN_NORMAL, 1e-300, 1e300, Double.MaxValue)
    Array.tabulate(n) { i =>
      (i % 8) match {
        case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 1 => window()
        case 2 => cents()
        case 3 => cents() - cents()
        case 4 | 5 => boundary()
        case 6 => math.pow(2, -12 - rnd.nextInt(60)) * rnd.nextDouble() *
          (if (rnd.nextBoolean()) 1 else -1)
        case _ =>
          if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length))
          else math.pow(2, 52 + rnd.nextInt(20)) * (1 + rnd.nextDouble())
      }
    }
  }

  test("ExactDecimal.unscaled equals Spark's Cast for five decimal types in both ANSI modes") {
    val n = 1200000
    val report = for ((p, s) <- types; ansi <- Seq(false, true)) yield {
      val cast = UnsafeProjection.create(Seq(Cast(
        BoundReference(0, DoubleType, nullable = false), DecimalType(p, s),
        None, EvalMode.fromBoolean(ansi))))
      val row = new SpecificInternalRow(Seq(DoubleType))
      var fast = 0
      var mismatches = List.empty[String]
      inputs(n, s, seed = p * 100 + s).foreach { d =>
        val u = ExactDecimal.unscaled(d, p, s)
        if (u != ExactDecimal.NoFast) {
          fast += 1
          row.setDouble(0, d)
          val out = cast(row)
          val want = if (out.isNullAt(0)) null
            else out.getDecimal(0, p, s).toJavaBigDecimal
          if (want == null ||
              want.compareTo(java.math.BigDecimal.valueOf(u, s)) != 0)
            mismatches ::= s"$d -> $u, cast $want"
        }
      }
      assert(mismatches.isEmpty,
        s"DECIMAL($p,$s) ansi=$ansi: ${mismatches.size} mismatches, " +
          mismatches.take(5).mkString("; "))
      s"($p,$s) ansi=$ansi: $n doubles, $fast fast, 0 mismatches"
    }
    info(report.mkString("\n"))
    // the kernel answers for money values at scale 10 up to 2^19, where
    // half an ulp is still below half a unit of 1e-10
    val money = Seq(0.01, 0.1, 0.3, 1.5, 12.34, 99999.99, 524287.99,
      -0.07, -45.5, 0.1 + 0.2, 2.675, 1.005)
    money.foreach(d =>
      assert(ExactDecimal.unscaled(d, 28, 10) != ExactDecimal.NoFast, d))
    assert(ExactDecimal.unscaled(524288.01, 28, 10) === ExactDecimal.NoFast)
  }

  /** (group, value) rows over 200 groups: every tenth group all NULL, the
    * rest 2-dp values, differences, in-window random doubles, NULLs, and
    * fallback rows (1e8..1e17, below 2^-11, subnormal), with NaN rows
    * when `nan`.
    */
  private def groupedRows(nan: Boolean): Seq[(Int, Option[Double])] = {
    val rnd = new scala.util.Random(7)
    def cents(): Double = (rnd.nextLong() % 100000000L) / 100.0
    (0 until 400000).map { i =>
      val g = i % 200
      val x =
        if (g % 10 == 0 || rnd.nextInt(50) == 0) None
        else Some((rnd.nextInt(40), g % 10) match {
          case (0, 1) => if (nan) Double.NaN else 0.5
          case (1, _) | (0, 2) => math.pow(10, 8 + rnd.nextInt(10)) * rnd.nextDouble()
          case (2, _) | (0, 3) => math.pow(2, -12 - rnd.nextInt(40)) * rnd.nextDouble()
          case (3, _) => -4.9e-320
          case (k, _) if k < 20 => cents()
          case (k, _) if k < 30 => cents() - cents()
          case _ => rnd.nextGaussian() * 1e5
        })
      (g, x)
    }
  }

  private def withAnsi[T](ansi: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("ExactDoubleSum equals sum(cast(x AS DECIMAL(28,10))) across partitions, NULLs, NaN and fallback rows") {
    import spark.implicits._
    for (ansi <- Seq(false, true); nan <- Seq(false, true)) withAnsi(ansi) {
      val df = spark.sparkContext.parallelize(groupedRows(nan), 7).toDF("g", "x")
      val rows = df.groupBy("g")
        .agg(Fns.dsum($"x").as("exact"),
          sum($"x".cast(DecimalType(28, 10))).as("spark"))
        .collect()
      assert(rows.length === 200)
      val off = rows.filterNot(r => r.get(1) == r.get(2) ||
        (r.get(1) != null && r.get(2) != null &&
          r.getDecimal(1).compareTo(r.getDecimal(2)) == 0))
      assert(off.isEmpty, s"ansi=$ansi nan=$nan: ${off.take(5).mkString}")
      assert(rows.count(_.isNullAt(1)) === 20)
      // global aggregate: one group, every partition merged
      val Array(all) = df.agg(Fns.dsum($"x"),
        sum($"x".cast(DecimalType(28, 10)))).collect()
      assert(all.getDecimal(0).compareTo(all.getDecimal(1)) == 0, all)
    }
  }

  test("ExactDoubleSum keeps Spark's NULLs and errors for NaN, overflowing rows and empty input") {
    import spark.implicits._
    def both(xs: Seq[Option[Double]]): (Either[String, Any], Either[String, Any]) = {
      val df = xs.toDF("x")
      def run(c: org.apache.spark.sql.Column): Either[String, Any] =
        try Right(df.agg(c).head.get(0))
        catch { case e: Exception => Left(e.getClass.getName) }
      (run(Fns.dsum($"x")), run(sum($"x".cast(DecimalType(28, 10)))))
    }
    val cases = Seq(
      Seq(None, None), Seq(), Seq(Some(Double.NaN)),
      Seq(Some(1.5), Some(Double.NaN)), Seq(Some(1e18), Some(2.5)),
      Seq(Some(Double.PositiveInfinity)), Seq(Some(-0.0)),
      Seq(Some(9.9e17), Some(9.9e17), Some(0.25)))
    for (ansi <- Seq(false, true); xs <- cases) withAnsi(ansi) {
      val (exact, ref) = both(xs)
      val same = (exact, ref) match {
        case (Right(a: java.math.BigDecimal), Right(b: java.math.BigDecimal)) =>
          a.compareTo(b) == 0
        case _ => exact == ref
      }
      assert(same, s"ansi=$ansi $xs: exact $exact, spark $ref")
    }
  }

  test("Fns.dsum plans ExactDoubleSum over DOUBLE and Spark's Sum over BIGINT") {
    import spark.implicits._
    val doubles = Seq(1.5, 2.25).toDF("x").groupBy().agg(Fns.dsum($"x"))
    def has(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        p: Any => Boolean) = plan.flatMap(_.expressions).exists(_.exists(p))
    val opt = doubles.queryExecution.optimizedPlan
    assert(has(opt, _.isInstanceOf[ExactDoubleSum]), opt)
    assert(!has(opt, _.isInstanceOf[Sum]), opt)
    doubles.collect()
    val plan = doubles.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("exact_double_sum") && l.contains("*(")), plan)
    val longs = Seq(1L, 2L).toDF("x").groupBy().agg(Fns.dsum($"x"))
    val lopt = longs.queryExecution.optimizedPlan
    assert(has(lopt, _.isInstanceOf[Sum]), lopt)
    assert(!has(lopt, _.isInstanceOf[ExactDoubleSum]), lopt)
    assert(longs.head.getDecimal(0).compareTo(new java.math.BigDecimal(3)) == 0)
  }
}
