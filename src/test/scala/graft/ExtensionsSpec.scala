package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: functions and the composed-h60 rewrite are live in
  * the sessions `Engine.session` builds — the shared test session is one.
  */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession.{spark => s}

  test("extension-injected h60 and dot_product are callable from SQL") {
    val h = s.sql("SELECT h60('graft') AS h").head.getLong(0)
    val expected = graft.plans.H60.first60Bits(
      java.security.MessageDigest.getInstance("MD5")
        .digest("graft".getBytes("UTF-8")))
    assert(h === expected)
    val d = s.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(d === 11.0)
    // nearest_cell: (0.9, 0) is closest to centroid 1 at (1, 0);
    // an exact tie (origin vs two equidistant centroids) goes to the
    // smaller cid
    val c = s.sql("""
      SELECT nearest_cell(array(0.9D, 0.0D), array(
        named_struct('cid', 0, 'cv', array(-1.0D, 0.0D)),
        named_struct('cid', 1, 'cv', array(1.0D, 0.0D)))) AS c""")
      .head.getInt(0)
    assert(c === 1)
    val tie = s.sql("""
      SELECT nearest_cell(array(0.0D, 0.0D), array(
        named_struct('cid', 7, 'cv', array(0.0D, 2.0D)),
        named_struct('cid', 3, 'cv', array(0.0D, -2.0D)))) AS c""")
      .head.getInt(0)
    assert(tie === 3)
    // hand-written SQL can hand the function null struct fields —
    // those entries are SKIPPED (never an NPE, never garbage), and
    // an all-null centroid array yields NULL
    val nulls = s.sql("""
      SELECT nearest_cell(array(1.0D), array(
        named_struct('cid', 1, 'cv', CAST(NULL AS ARRAY<DOUBLE>)),
        named_struct('cid', CAST(NULL AS INT), 'cv', array(9.0D)),
        named_struct('cid', 5, 'cv', array(2.0D)))) AS c""")
      .head.getInt(0)
    assert(nulls === 5)
    assert(s.sql("""
      SELECT nearest_cell(array(1.0D), array(
        named_struct('cid', 1, 'cv', CAST(NULL AS ARRAY<DOUBLE>))))
      IS NULL AS n""").head.getBoolean(0))
  }

  test("optimizer rewrites composed md5/conv hash to native h60") {
    // non-foldable input (literals would be constant-folded away
    // before the rewrite is observable)
    val df = s.sql("""
      SELECT CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10)
        AS BIGINT) AS h
      FROM range(3)""")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("h60"), optimized)
    assert(!optimized.contains("conv"), optimized)
    // and the rewritten plan computes the original values
    val got = df.collect().map(_.getLong(0)).toSeq
    val expected = Seq("0", "1", "2").map(v =>
      graft.plans.H60.first60Bits(
        java.security.MessageDigest.getInstance("MD5")
          .digest(v.getBytes("UTF-8"))))
    assert(got === expected)
  }
}
