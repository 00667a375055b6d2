package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.SqlBridge

/** Live per-group job and task metrics: the one listener behind
  * `Bench`'s per-run job/task counts and its `bench_stages.json` table.
  *
  * Jobs are filed under the group the caller declares current with
  * [[section]], not under the submitting thread's job group: a streaming query's micro-batches run on `StreamExecution`'s
  * own thread under a runId job group, and would otherwise land under an
  * anonymous UUID. A task is filed under the group its stage's job
  * started in ("ungrouped" outside any section).
  *
  * Per group, summed over every job started in it:
  *   - jobs / job_wall_s: job count and sum of job end - job start
  *     (driver-side planning/listing time is bench wall MINUS this)
  *   - tasks / task_s: task count and sum of per-task wall
  *   - run_s / gc_s: executor run time and JVM GC time inside it
  *   - fetch_wait_s: shuffle-read blocked time
  *   - sched_delay_s: per-task (wall - run - deser - resultSer -
  *     shuffleWrite), clamped at 0 - the scheduler/dispatch component
  *   - input_mb / sh_read_mb / sh_write_mb: bytes through the scan and
  *     the shuffle
  * Reading it: healthy compute has task_s ~= run_s, gc_s and
  * sched_delay_s near 0, and job_wall_s ~= task_s / cores. An inflated
  * box shows up as one dominant column: gc_s (memory pressure),
  * sched_delay_s (CPU contention from a co-tenant), fetch_wait_s or a
  * job_wall_s >> task_s/cores gap (IO stall / driver starvation).
  */
final class JobStats private (spark: SparkSession) extends SparkListener {
  import JobStats.Agg

  @volatile private var group: String = JobStats.Ungrouped

  private var nJobs = 0L
  private var nTasks = 0L
  private val stageToGroup = scala.collection.mutable.Map[Int, String]()
  private val jobStart = scala.collection.mutable.Map[Int, (String, Long)]()
  private val groups = scala.collection.mutable.LinkedHashMap[String, Agg]()
  private def agg(g: String): Agg = groups.getOrElseUpdate(g, Agg())

  /** Wait until every queued listener event has been handled. */
  def drain(): Unit = SqlBridge.waitListenerBus(spark)

  /** Run `body` with `name` as the declared group. Events arrive
    * asynchronously, so the bus is drained at both ends: each event is
    * handled while its own section is the declared one. */
  def section[A](name: String)(body: => A): A = {
    drain()
    group = name
    try body
    finally { drain(); group = JobStats.Ungrouped }
  }

  /** JVM-wide job and task totals since registration; exact after
    * [[drain]]. */
  def jobs: Long = synchronized(nJobs)
  def tasks: Long = synchronized(nTasks)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val g = group
    nJobs += 1
    jobStart(j.jobId) = (g, j.time)
    j.stageIds.foreach(stageToGroup(_) = g)
    agg(g).jobs += 1
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach { case (g, t0) =>
      if (j.time > t0) agg(g).jobWallMs += j.time - t0
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    nTasks += 1
    val a = agg(stageToGroup.getOrElse(t.stageId, JobStats.Ungrouped))
    val wall = t.taskInfo.finishTime - t.taskInfo.launchTime
    a.tasks += 1
    a.taskMs += math.max(0L, wall)
    val m = t.taskMetrics
    if (m != null) {
      val shWriteMs = m.shuffleWriteMetrics.writeTime / 1000000L
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shReadBytes +=
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      a.inputBytes += m.inputMetrics.bytesRead
      a.schedDelayMs += math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - shWriteMs)
    }
  }

  /** Number of groups seen so far. */
  def size: Int = synchronized(groups.size)

  /** The stage table: `{"groups":{name:{jobs, job_wall_s, tasks, task_s,
    * run_s, gc_s, fetch_wait_s, sched_delay_s, input_mb, sh_read_mb,
    * sh_write_mb}}}`, seconds to 2 dp and MiB to 1 dp, groups in order of
    * first appearance. */
  def toJson: String = synchronized {
    def s(ms: Long): String = f"${ms / 1e3}%.2f"
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    groups.map { case (g, a) =>
      s""""$g":{"jobs":${a.jobs},"job_wall_s":${s(a.jobWallMs)},""" +
        s""""tasks":${a.tasks},"task_s":${s(a.taskMs)},""" +
        s""""run_s":${s(a.runMs)},"gc_s":${s(a.gcMs)},""" +
        s""""fetch_wait_s":${s(a.fetchWaitMs)},""" +
        s""""sched_delay_s":${s(a.schedDelayMs)},""" +
        s""""input_mb":${mb(a.inputBytes)},""" +
        s""""sh_read_mb":${mb(a.shReadBytes)},""" +
        s""""sh_write_mb":${mb(a.shWriteBytes)}}"""
    }.mkString("{\"groups\":{", ",", "}}")
  }
}

object JobStats {
  private val Ungrouped = "ungrouped"

  /** A collector listening on `spark`'s context from now on. */
  def register(spark: SparkSession): JobStats = {
    val s = new JobStats(spark)
    spark.sparkContext.addSparkListener(s)
    s
  }

  private final case class Agg(
      var jobs: Int = 0, var jobWallMs: Long = 0L,
      var tasks: Int = 0, var taskMs: Long = 0L,
      var runMs: Long = 0L, var gcMs: Long = 0L,
      var fetchWaitMs: Long = 0L, var schedDelayMs: Long = 0L,
      var inputBytes: Long = 0L, var shReadBytes: Long = 0L,
      var shWriteBytes: Long = 0L)
}
