package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Engine, SparkEntry}
import graft.{queries => q}

/** One benchmark process. `perfbench/run.py` starts it once per set-up
  * sample (`--phase setup`: session and the discarded warm pass, then
  * exit) and once for the measured run (`--phase main`: the same
  * set-up, then the output check and the timed passes). `--phase pin`
  * computes the pinned output hashes instead.
  *
  * One client issues queries one at a time (a closed loop). Each
  * execution is the query function (`queries.build_s`: DataFrame
  * construction; for a replay, the whole stream drain) followed by the
  * terminal `noop` write (`queries.exec_s`). The process writes its raw
  * samples as JSON to `--out`; run.py turns them into metrics.
  */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Workload(name: String, queries: Seq[String],
      builds: Seq[String], settlePasses: Int)

  /** Read one workload from the spec: its queries in declared order,
    * its builds and its settle passes. */
  def workload(spec: JsonNode, name: String): Workload = {
    val w = spec.get("workloads").get(name)
    require(w != null, s"unknown workload $name")
    def strings(k: String): Seq[String] =
      Option(w.get(k)).map(n => (0 until n.size).map(n.get(_).asText))
        .getOrElse(Nil)
    val unknown = strings("queries").filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"$name: unknown queries $unknown")
    Workload(name, strings("queries"), strings("builds"),
      Option(w.get("settle_passes")).map(_.asInt).getOrElse(0))
  }

  /** Timed passes per run at least, however short `--seconds` is: the
    * run reports medians over passes, and a median of three still drops
    * one pass slowed by a burst on the machine. */
  val MinPasses = 3

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-insensitive, float-rounded fingerprint of a result: columns
    * sorted by name, doubles rounded to 6 decimals (as tools/t2.py
    * compares), one xxhash64 per row, summed in two 32-bit halves so the
    * sums cannot overflow. Schema names and types are part of it. */
  def fingerprint(df: DataFrame): (String, Long) = {
    def canon(c: Column, t: DataType): Column = t match {
      case FloatType | DoubleType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case MapType(kt, vt, _) =>
        array_sort(transform(map_entries(c), e => struct(
          canon(e.getField("key"), kt).as("key"),
          canon(e.getField("value"), vt).as("value"))))
      case StructType(fs) =>
        struct(fs.toIndexedSeq.map(f =>
          canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    val fields = df.schema.fields.toIndexedSeq.zipWithIndex
      .sortBy { case (f, i) => (f.name, i) }
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val rows = r.getLong(0)
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val schema = fields.map { case (f, _) =>
      s"${f.name}:${f.dataType.simpleString}" }.mkString(",")
    val sig = scala.util.hashing.MurmurHash3.stringHash(schema)
    (f"$rows:${l(1)}%x:${l(2)}%x:$sig%08x", rows)
  }

  /** The engine's own storage layout (warehouse under
    * `Engine.scratchRoot`, shuffle and spill under `Engine.spillRoot`),
    * in subdirectories of this process's own, so every JVM starts from an
    * empty warehouse. run.py deletes them when the run ends. */
  private def freshDirs(warehouse: String): Map[String, String] = {
    val tag = s"perfbench-${ProcessHandle.current.pid}"
    Map("spark.sql.warehouse.dir" ->
        new java.io.File(new java.io.File(Engine.scratchRoot, tag), warehouse)
          .getAbsolutePath,
      "spark.local.dir" ->
        new java.io.File(new java.io.File(Engine.spillRoot, tag), "local")
          .getAbsolutePath)
  }

  private def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .linesIterator.take(1).mkString.take(300)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spec = mapper.readTree(new java.io.File(opt("spec")))
    val sf = opt("sf")
    val cores = opt("cores")
    val phase = opt("phase")
    sys.props.put("graft.sf.dir", sf)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("phase") = phase
    out("cores") = cores.toInt
    out("sf") = sf
    val t0 = System.nanoTime()
    val spark = Engine.session("perfbench", cores = cores,
      extraConfs = freshDirs("warehouse"))
    out("session_s") = since(t0)
    try {
      if (phase == "pin")
        pin(spark, workload(spec, opt("workload")), sf, opt.get("dump"), out)
      else run(spark, spec, sf, opt, out)
    } finally {
      val w = new java.io.File(opt("out") + ".tmp")
      mapper.writeValue(w, out)
      w.renameTo(new java.io.File(opt("out")))
      if (!spark.sparkContext.isStopped) spark.stop()
    }
  }

  /** Fingerprint every query of one workload, then run its builds and
    * count their jobs, in the order a main run meets them; with `dump`,
    * also write each result as parquet beside the oracle SQL for
    * perfbench/crosscheck.py. */
  private def pin(spark: SparkSession, w: Workload, sf: String,
      dump: Option[String], out: mutable.Map[String, Any]): Unit = {
    val res = mutable.LinkedHashMap.empty[String, Any]
    def one(name: String): Unit = {
      res(name) = try {
        val df = SparkEntry.queries(name)(spark, sf)
        dump.foreach(d => df.coalesce(1).write.mode("overwrite")
          .parquet(s"$d/$name"))
        val (h, rows) = fingerprint(df)
        Map("hash" -> h, "rows" -> rows)
      } catch { case e: Throwable => Map("error" -> errText(e)) }
      spark.catalog.clearCache()
    }
    w.queries.foreach(one)
    val builds = q.LlmSim.annArtifactBuilds(spark, sf).toMap
    out("builds") = w.builds.map { b =>
      val (_, jobs, err) = runBuild(spark, b, builds(b))
      err.foreach(e => sys.error(s"build $b failed: $e"))
      b -> jobs
    }.toMap
    out("queries") = res
    dump.foreach { d =>
      val oracle = SparkEntry.oracleSql
        .filter { case (n, _) => res.contains(n) }
      mapper.writeValue(new java.io.File(s"$d/oracle_sql.json.${w.name}"), oracle)
    }
  }

  /** Run one build on its own job group: its seconds, jobs and error. */
  private def runBuild(spark: SparkSession, name: String, f: () => Unit)
      : (Double, Int, Option[String]) = {
    val group = s"build_$name"
    spark.sparkContext.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val err = try { f(); None }
      catch { case e: Throwable => Some(errText(e)) }
      finally spark.sparkContext.clearJobGroup()
    val s = since(t0)
    org.apache.spark.sql.graftbridge.SqlBridge.waitListenerBus(spark)
    (s, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length, err)
  }

  private def run(spark: SparkSession, spec: JsonNode, sf: String,
      opt: Map[String, String], out: mutable.Map[String, Any]): Unit = {
    val w = workload(spec, opt("workload"))
    val traced = opt("trace") == "1"
    val main = opt("phase") == "main"
    val seed = opt("seed").toLong
    val tracer = new Tracer(spark, full = traced)
    tracer.install()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    def sampleHeap(): Unit =
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)

    val pinned = mapper.readTree(new java.io.File(opt("pinned")))
      .get("queries")
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmErrors = mutable.ArrayBuffer.empty[Map[String, Any]]
    var checkS = 0.0
    // A discarded execution. With `check` it also fingerprints the result
    // against the pinned hash; that time is reported so run.py can leave it
    // out of set-up.
    var warmed = 0
    def warm(name: String, check: Boolean): Unit = {
      warmed += 1
      try {
        val df = SparkEntry.queries(name)(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        if (check) {
          val tc = System.nanoTime()
          val want = Option(pinned.get(name)).flatMap(n =>
            Option(n.get("hash"))).map(_.asText)
          val got = try fingerprint(df)._1
            catch { case e: Throwable => "error: " + errText(e) }
          checks += Map("name" -> name, "hash" -> got,
            "expected" -> want.getOrElse("unpinned"),
            "ok" -> want.contains(got))
          checkS += since(tc)
        }
      } catch {
        case e: Throwable =>
          warmErrors += Map("name" -> name, "error" -> errText(e))
      }
      spark.catalog.clearCache()
      sampleHeap()
    }
    val tw = System.nanoTime()
    // the warm pass runs in declared order; the main process checks outputs
    w.queries.foreach(warm(_, check = main))
    tracer.cut(0)
    out("warm_s") = since(tw) - checkS
    println(s"PERFBENCH_SETUP_DONE $checkS")
    System.out.flush()
    if (!main) {
      out("builds") = Nil
      out("warmed") = warmed
      out("warm_errors") = warmErrors
      out("heap_peak_mb") = heapPeak / 1048576.0
      return
    }

    // Builds: each paid in full in this JVM's fresh warehouse, on its own
    // job group, outside the timed passes.
    val buildFns = q.LlmSim.annArtifactBuilds(spark, sf).toMap
    out("builds") = w.builds.map { b =>
      val (s, jobs, err) = runBuild(spark, b, buildFns(b))
      val (c, _) = tracer.cut(0)
      val rec = mutable.LinkedHashMap[String, Any](
        "name" -> b, "s" -> s, "jobs" -> jobs, "ok" -> err.isEmpty)
      err.foreach(rec("error") = _)
      if (traced) rec("outside_jobs_s") =
        math.max(0.0, s - Tracer.unionMs(c.jobIntervals.toSeq) / 1e3)
      rec
    }
    // Discarded passes that let the JIT settle before timing; a workload
    // of short queries keeps getting faster for several passes.
    (0 until w.settlePasses).foreach(_ => w.queries.foreach(warm(_, check = false)))
    tracer.cut(0)
    out("check_s") = checkS
    out("warmed") = warmed
    out("warm_errors") = warmErrors
    out("checks") = checks

    val seconds = opt("seconds").toDouble
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val workloadSpan = tracer.newId()
    val wStart = tracer.nowMs()
    val tStart = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || since(tStart) < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass)
        .shuffle(w.queries)
      val passSpan = tracer.newId()
      val pStart = tracer.nowMs()
      val tp = System.nanoTime()
      order.foreach { name =>
        val r = timedQuery(spark, tracer, sf, name, passSpan, pass)
        runs += r._1
        batches ++= r._2
        sampleHeap()
      }
      val wall = since(tp)
      passes += Map("pass" -> pass, "wall_s" -> wall)
      if (traced) tracer.spans += Span(passSpan, workloadSpan, "pass",
        s"pass $pass", pStart, tracer.nowMs())
      pass += 1
    }
    if (traced) tracer.spans += Span(workloadSpan, 0, "workload", w.name,
      wStart, tracer.nowMs())
    else batches ++= tracer.cut(0)._2.map(batchRec(_, -1, ""))
    out("passes") = passes
    out("runs") = runs
    out("batches") = batches
    out("heap_peak_mb") = heapPeak / 1048576.0

    tracer.remove()
    if (traced) {
      tracer.nestBatches()
      out("spans") = tracer.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
      if (w.name == "streaming") out("single_core") =
        singleCorePass(spark, w, sf)
    }
  }

  /** One timed execution: the query function, then the noop write. */
  private def timedQuery(spark: SparkSession, tracer: Tracer, sf: String,
      name: String, passSpan: Long, pass: Int)
      : (Map[String, Any], Seq[Map[String, Any]]) = {
    val qSpan = tracer.newId()
    val bSpan = tracer.newId()
    val eSpan = tracer.newId()
    spark.sparkContext.setJobGroup(name, name)
    val q0 = tracer.nowMs()
    val tb = System.nanoTime()
    var buildS = 0.0
    var execS = 0.0
    var b1 = q0
    var dfAnalysisMs = 0L
    val err = try {
      val df = SparkEntry.queries(name)(spark, sf)
      buildS = since(tb)
      dfAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
        .map(_.durationMs).getOrElse(0L)
      b1 = tracer.nowMs()
      val te = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      execS = since(te)
      None
    } catch { case e: Throwable => Some(errText(e)) }
    finally spark.sparkContext.clearJobGroup()
    val q1 = tracer.nowMs()
    spark.catalog.clearCache()
    val rec = mutable.LinkedHashMap[String, Any]("pass" -> pass,
      "name" -> name, "build_s" -> buildS, "exec_s" -> execS,
      "ok" -> err.isEmpty)
    err.foreach(rec("error") = _)
    // untraced: no per-query drain; the caller collects batches at the end
    if (!tracer.full) return (rec.toMap, Nil)
    val (c, bs) = tracer.cut(qSpan)
    // listener spans that started during the build phase hang under it
    tracer.spans.transform { s =>
      if (s.parent == qSpan && s.kind != "stream")
        s.copy(parent = if (s.startMs < b1) bSpan else eSpan)
      else if (s.parent == qSpan) s.copy(parent = bSpan)
      else s
    }
    tracer.spans += Span(qSpan, passSpan, "query", name, q0, q1)
    tracer.spans += Span(bSpan, qSpan, "build", name, q0, b1)
    tracer.spans += Span(eSpan, qSpan, "exec", name, b1, q1)
    rec ++= Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "job_s" -> Tracer.unionMs(c.jobIntervals.toSeq) / 1e3,
      "task_run_s" -> c.runMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
      "task_gc_s" -> c.gcMs / 1e3, "sched_delay_s" -> c.schedDelayMs / 1e3,
      "scan_bytes" -> c.scanBytes, "output_bytes" -> c.outputBytes,
      "spill_bytes" -> c.spillBytes,
      "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes,
      "fetch_wait_s" -> c.fetchWaitMs / 1e3, "actions" -> c.actions,
      "analysis_ms" -> (c.analysisMs + dfAnalysisMs),
      "optimization_ms" -> c.optimizationMs,
      "planning_ms" -> c.planningMs)
    (rec.toMap, bs.map(batchRec(_, pass, name)))
  }

  private def batchRec(b: Batch, pass: Int, query: String): Map[String, Any] =
    Map("pass" -> pass, "query" -> query, "stream" -> b.query,
      "batch" -> b.batchId, "durations" -> b.durations,
      "input_rows" -> b.inputRows, "state_rows" -> b.stateRows,
      "state_mem_bytes" -> b.stateMemBytes,
      "state_commit_ms" -> b.stateCommitMs)

  /** The streaming floor at one core: a local[1] session in the same JVM
    * (replay inputs and JIT already warm), one pass in declared order. */
  private def singleCorePass(spark: SparkSession, w: Workload, sf: String)
      : Map[String, Any] = {
    spark.stop()
    val s1 = Engine.session("perfbench-1core", cores = "1",
      extraConfs = freshDirs("warehouse1"))
    val t = new Tracer(s1, full = false)
    t.install()
    val tp = System.nanoTime()
    val rs = w.queries.map(name => timedQuery(s1, t, sf, name, 0L, 0))
    val wall = since(tp)
    val bs = t.cut(0)._2.map(batchRec(_, 0, ""))
    t.remove()
    s1.stop()
    Map("cores" -> 1, "wall_s" -> wall, "runs" -> rs.map(_._1),
      "batches" -> bs)
  }
}
