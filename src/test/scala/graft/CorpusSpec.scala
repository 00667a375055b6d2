package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, local[4]). */
object SparkTestSession {
  lazy val spark: SparkSession = Engine.session("graft-test", cores = "4")
  val sf: String = "/root/testdata/sf0.001"

  /** A scratch dir under [[Engine.scratchRoot]] that the JVM removes
    * at exit ([[graft.streaming.Replay.removedAtExit]]), so a suite run
    * leaves no spec tables or checkpoints on the (tmpfs) scratch root. */
  def scratch(tag: String): String = graft.streaming.Replay.removedAtExit(tag)

  /** The WARN-and-above messages logged anywhere while `body` runs,
    * through an appender on the root logger (no logger level moves). */
  def rootWarns(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val name = s"graft-spec-warns-${System.nanoTime()}"
    val appender = new AbstractAppender(
        name, null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(name)
      ctx.updateLoggers()
    }
    warns.toArray.map(_.toString).toSeq
  }
}

/** t1 smoke: every declared query executes and returns rows at sf0.001. */
class CorpusSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has unique entry and runs at sf0.001") {
    SparkEntry.all.foreach { case (name, d) =>
      val n = d.fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("event rollups plan no single-partition window") {
    // WindowExec warns "No Partition Defined" on every unpartitioned
    // window it plans; the daily series' rolling frame must not be one
    // (collected, so no column pruning drops the frame)
    val warns = rootWarns(SparkEntry.all.map(_._1)
      .filter(_.startsWith("q_evt_")).foreach(q =>
        assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)))
    assert(!warns.exists(_.contains("No Partition Defined")),
      warns.filter(_.contains("Window")).mkString("\n"))
  }

  test("approx_count_distinct within 5% of exact") {
    import org.apache.spark.sql.functions._
    val li = Engine.table(spark, sf, "lineitem")
    val approx = li.agg(approx_count_distinct("l_orderkey", 0.01)).head.getLong(0)
    val exact = li.agg(countDistinct("l_orderkey")).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("threshold-sweep prefix join prunes below the full posting join") {
    import org.apache.spark.sql.functions._
    // Candidate pairs from the prefix-prefix join must undercut the
    // pair volume the full token self-join would shuffle (sum over
    // tokens of df·(df−1)/2, computable without running it). Asserted
    // here, NOT in the query: a degenerate corpus where every token is
    // rare must produce a correct sweep rather than an exception.
    val docs = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val (sets, cand) = queries.LlmText.sweepCandidates(spark, docs)
    val candPairs = cand.count()
    val fullJoinPairs = sets
      .select(explode(col("hs")).as("wh"))
      .groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1L) / 2)).head.getDouble(0)
    assert(candPairs > 0, "sweep candidate generation found no pairs")
    assert(candPairs < fullJoinPairs,
      s"prefix filter pruned nothing: $candPairs >= $fullJoinPairs")
  }

  test("builtin stddev/corr agree with decimal-expanded formulation") {
    import org.apache.spark.sql.functions._
    val li = Engine.table(spark, sf, "lineitem")
    val builtin = li.agg(
      stddev_samp("l_quantity"), corr("l_quantity", "l_extendedprice")).head
    val expanded = SparkEntry.queries("q_agg_stats")(spark, sf)
      .agg(avg("std_qty")).head // not same grouping; just sanity on magnitude
    val global = li.agg(variance("l_quantity")).head.getDouble(0)
    assert(math.abs(builtin.getDouble(0) - math.sqrt(global)) < 1e-6)
    assert(builtin.getDouble(1) > -1.0 && builtin.getDouble(1) < 1.0)
  }
}
