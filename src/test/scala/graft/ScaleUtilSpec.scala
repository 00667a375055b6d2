package graft

import java.nio.file.Files
import graft.operators.Salt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale utilities: salted joins and AQE's skew-join split (skew) and
  * bucketed co-located joins (shuffle elimination) — plan- and
  * result-verified.
  */
class ScaleUtilSpec extends AnyFunSuite {
  import SparkTestSession._

  test("salted join equals unsalted join on skewed data") {
    import spark.implicits._
    // heavily skewed: 90% of fact rows share one key
    val big = spark.range(20000)
      .select((when($"id" % 10 === 0, $"id" % 50).otherwise(lit(7L)))
        .as("k"), ($"id" * 2).as("v"))
    val small = spark.range(50).select($"id".as("k"), ($"id" + 100).as("w"))
    val expected = big.join(small, "k")
      .agg(count(lit(1)), sum($"v" + $"w")).head
    val salted = Salt.saltedJoin(big, small, Seq("k"), factor = 8,
        saltCols = Seq("v"))
      .agg(count(lit(1)), sum($"v" + $"w")).head
    assert(salted === expected)
  }

  test("AQE splits a skewed join's hot partition") {
    import spark.implicits._
    // broadcast off so the join shuffles; the skew thresholds (256 MB
    // by default, sized for cluster partitions) scaled down to this
    // test's partition sizes
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of the fact rows share one key
      val fact = spark.range(200000)
        .select(when($"id" % 10 === 0, $"id" % 1000).otherwise(lit(7L))
          .as("k"), $"id".as("v"))
      val dim = spark.range(1000).select($"id".as("k"), ($"id" % 5).as("g"))
      // grouped on a dim column, so the split adds no shuffle of its
      // own; summing `v` keeps the payload in the shuffle (a key-only
      // hot partition compresses below the 64k threshold)
      val q = fact.join(dim, "k").groupBy($"g")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      // collect, so this queryExecution carries the finalized adaptive plan
      val got = q.collect()
      assert(got.map(_.getLong(1)).sum === 200000L)
      assert(got.map(_.getLong(2)).sum === 199999L * 200000L / 2)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without an exchange on the bucketed key") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_wh").toFile.getAbsolutePath
    val prev = spark.conf.getOption("spark.sql.sources.bucketing.enabled")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try {
      Engine.table(spark, sf, "orders")
        .write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      Engine.table(spark, sf, "customer")
        .write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("customer_b")
      val j = spark.table("orders_b").join(spark.table("customer_b"),
        $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the join itself must not re-shuffle either bucketed side
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning(o_custkey") &&
        !joinSection.contains("Exchange hashpartitioning(c_custkey"), plan)
      // and results match the plain join
      val expected = Engine.table(spark, sf, "orders")
        .join(Engine.table(spark, sf, "customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      prev.foreach(spark.conf.set("spark.sql.sources.bucketing.enabled", _))
    }
  }

  test("JobStats files jobs and task metrics under the declared section") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // an independent count of every job and task the context runs
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val plain = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(): Unit }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        { tasks.incrementAndGet(): Unit }
    }
    spark.sparkContext.addSparkListener(plain)
    val stats = JobStats.register(spark)
    try {
      def counted(body: => Unit): (Long, Long) = {
        stats.drain()
        val (j0, k0) = (jobs.get(), tasks.get())
        body
        stats.drain()
        (jobs.get() - j0, tasks.get() - k0)
      }
      // outside any section: "ungrouped"
      val untagged = counted(spark.range(1000).count(): Unit)
      // a shuffle of incompressible rows under one section
      val shuffled = counted(stats.section("t_shuffle") {
        spark.range(0, 50000, 1, 4)
          .select(sha2($"id".cast("string"), 256).as("h"))
          .repartition(4).agg(max($"h")).collect(): Unit
      })
      // a two-trigger stream drain: its micro-batches run on the
      // stream's own thread under a runId job group, and must still
      // land under the declared section
      val replayed = counted(stats.section("t_replay") {
        graft.streaming.Replay.run(spark,
          graft.streaming.Replay.events(spark, sf).limit(200),
          mode = "append", filesPerTrigger = 2, nFiles = 4)(st => st)
          .collect(): Unit
      })
      assert(stats.jobs === untagged._1 + shuffled._1 + replayed._1)
      assert(stats.tasks === untagged._2 + shuffled._2 + replayed._2)

      val json = stats.toJson
      val groups = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json).get("groups")
      assert(groups.fieldNames.asScala.toSeq ===
        Seq("ungrouped", "t_shuffle", "t_replay"), json)
      Seq("ungrouped" -> untagged, "t_shuffle" -> shuffled,
          "t_replay" -> replayed).foreach { case (g, (nj, nk)) =>
        assert(groups.get(g).get("jobs").asLong === nj, g)
        assert(groups.get(g).get("tasks").asLong === nk, g)
      }
      // the Replay setup writes its input once, then each of the two
      // triggers runs at least one job
      assert(replayed._1 >= 3, json)
      assert(groups.get("t_shuffle").get("sh_write_mb").asDouble > 0, json)
      assert(groups.get("t_shuffle").get("sh_read_mb").asDouble > 0, json)
      groups.fields.asScala.foreach { e =>
        assert(e.getValue.get("sched_delay_s").asDouble >= 0, e.getKey)
      }
      // the bench_stages.json schema tools/stage_report.py reads: field
      // names and order, seconds to 2 dp, MiB to 1 dp
      val row = ("""\{"jobs":\d+,"job_wall_s":\d+\.\d\d,"tasks":\d+,""" +
        """"task_s":\d+\.\d\d,"run_s":\d+\.\d\d,"gc_s":\d+\.\d\d,""" +
        """"fetch_wait_s":\d+\.\d\d,"sched_delay_s":\d+\.\d\d,""" +
        """"input_mb":\d+\.\d,"sh_read_mb":\d+\.\d,"sh_write_mb":\d+\.\d\}""")
      assert(json.matches(
        s"""\\{"groups":\\{"ungrouped":$row,"t_shuffle":$row,"t_replay":$row\\}\\}"""),
        json)
    } finally {
      spark.sparkContext.removeSparkListener(stats)
      spark.sparkContext.removeSparkListener(plain)
    }
  }
}
