package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds; `parent` is the
  * id of the span that caused this one (0 for a root). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty)

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Batch(query: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], inputRows: Long, stateRows: Long,
    stateMemBytes: Long, stateCommitMs: Long)

/** Task, stage and job totals; one instance per attributed interval. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var scanBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var actions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** (start, end) epoch-ms of every job that ran in the interval. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's only window into the engine's layers: Spark's public
  * listener interfaces, registered from outside `src/`.
  *
  * Untraced runs register only the streaming-progress listener, which the
  * micro-batch report needs. Traced runs register all three and attribute
  * every event to the query that was running: the harness drains the
  * listener bus after each query, so every event delivered up to that
  * point belongs to it (one client, one query at a time).
  */
final class Tracer(spark: SparkSession, val full: Boolean) {
  private val lock = new Object
  private var current = new Counters
  private val openJobs = mutable.Map.empty[Int, Long]
  private val pendingSpans = mutable.ArrayBuffer.empty[Span]
  private val pendingBatches = mutable.ArrayBuffer.empty[Batch]
  private val streamNames = mutable.Map.empty[java.util.UUID, String]
  private val streamStarts = mutable.Map.empty[java.util.UUID, Double]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)

  val spans = mutable.ArrayBuffer.empty[Span]
  def newId(): Long = nextId.incrementAndGet()

  private val clock0Ms = System.currentTimeMillis().toDouble
  private val clock0Ns = System.nanoTime()
  /** Epoch milliseconds from the monotonic clock (sub-ms resolution). */
  def nowMs(): Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized {
        streamNames(e.id) = Option(e.name).getOrElse(e.id.toString)
        streamStarts(e.id) = nowMs()
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      lock.synchronized {
        pendingBatches += Batch(Option(p.name).getOrElse(p.id.toString),
          p.batchId, start, d, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized {
        val name = streamNames.remove(e.id).getOrElse(e.id.toString)
        val start = streamStarts.remove(e.id).getOrElse(nowMs())
        pendingSpans += Span(newId(), 0, "stream", name, start, nowMs())
      }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = lock.synchronized {
      current.jobs += 1
      openJobs(j.jobId) = j.time
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = lock.synchronized {
      val start = openJobs.remove(j.jobId).getOrElse(j.time)
      current.jobIntervals += ((start, j.time))
      pendingSpans += Span(newId(), 0, "job", s"job ${j.jobId}",
        start.toDouble, j.time.toDouble)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      lock.synchronized { current.stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) lock.synchronized {
        val c = current
        val i = t.taskInfo
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) -
          m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        c.scanBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution,
        e: Exception): Unit = record(funcName, qe, 0L)
    private def record(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val starts = ph.values.map(_.startTimeMs)
      val planEnd = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      lock.synchronized {
        val c = current
        c.actions += 1
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        if (starts.nonEmpty) pendingSpans += Span(newId(), 0, "action",
          funcName, starts.min.toDouble, planEnd + durationNs / 1e6,
          Map("analysis_ms" -> ms("analysis"),
            "optimization_ms" -> ms("optimization"),
            "planning_ms" -> ms("planning")))
      }
    }
  }

  def install(): Unit = {
    spark.streams.addListener(streamListener)
    if (full) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    }
  }

  def remove(): Unit = {
    spark.streams.removeListener(streamListener)
    if (full) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Deliver every queued listener event. */
  def drain(): Unit =
    org.apache.spark.sql.graftbridge.SqlBridge.waitListenerBus(spark, 60000L)

  /** Close the current interval: drain the bus, hand back its counters and
    * micro-batches, keep its listener spans under `parent` (or drop them
    * when `parent` is 0: an interval outside the timed passes), and start
    * a fresh interval. */
  def cut(parent: Long): (Counters, Seq[Batch]) = {
    drain()
    lock.synchronized {
      val c = current
      current = new Counters
      val batches = pendingBatches.toList
      pendingBatches.clear()
      if (full && parent != 0) {
        spans ++= reparent(pendingSpans.toList, parent)
        spans ++= batches.map { b =>
          Span(newId(), 0, "batch", s"${b.query}#${b.batchId}", b.startMs,
            b.startMs + b.durations.getOrElse("triggerExecution", 0L),
            b.durations ++ Map("input_rows" -> b.inputRows,
              "state_rows" -> b.stateRows,
              "state_commit_ms" -> b.stateCommitMs))
        }
      }
      pendingSpans.clear()
      (c, batches)
    }
  }

  /** Nest listener spans: a job under the action whose interval holds its
    * start, an action or stream under `parent`. Batches are nested under
    * their stream by `parentOf` when the report is written. */
  private def reparent(ss: List[Span], parent: Long): List[Span] = {
    val actions = ss.filter(_.kind == "action")
    ss.map {
      case j if j.kind == "job" =>
        val a = actions.find(a => a.startMs <= j.startMs && j.startMs <= a.endMs)
        j.copy(parent = a.map(_.id).getOrElse(parent))
      case s => s.copy(parent = parent)
    }
  }

  /** Nest micro-batch spans under the stream span with the same query
    * name whose interval holds the batch start. */
  def nestBatches(): Unit = {
    val streams = spans.filter(_.kind == "stream")
    for (i <- spans.indices if spans(i).kind == "batch") {
      val b = spans(i)
      val q = b.name.takeWhile(_ != '#')
      streams.find(s => s.name == q && s.startMs <= b.startMs + 1 &&
          b.startMs <= s.endMs)
        .foreach(s => spans(i) = b.copy(parent = s.id))
    }
  }
}

object Tracer {
  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
