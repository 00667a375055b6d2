package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Engine core: session factory with scale-aware defaults and the table
  * registry (the Spark-native analog of the reference's subject library —
  * SURVEY.md §2A A2/A6; the session catalog replaces ZooKeeper).
  *
  * Design notes for cluster scale (tested on local[32], designed for
  * 1000 executors / 100 TB):
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join
  *     splitting, and broadcast-join demotion/promotion.
  *   - `spark.sql.shuffle.partitions` defaults to the local core count;
  *     on a real cluster this is overridden to ~2-3x total cores (AQE
  *     coalesces down, so erring high is safe).
  *   - All scans are parquet via the vectorized reader; queries select
  *     narrow column sets so pushdown + pruning reach the footer.
  *   - `file:` paths go through [[graft.io.NioLocalFileSystem]] and
  *     streaming checkpoints through Spark's FileSystem-based checkpoint
  *     manager. Without libhadoop, Hadoop forks `chmod` for every file
  *     it creates and the default FileContext-based manager forks
  *     `readlink` for every path it checks; a micro-batch writes several
  *     small files (offset and commit logs, one state delta per
  *     partition), so those forks dominated the streaming batch floor.
  *     The FileSystem manager's temp-file-then-rename is still atomic on
  *     a local filesystem (POSIX rename).
  *   - Generated code is compiled once per JVM, not once per stream
  *     drain. Spark caches compiled classes by (context class loader,
  *     source). Every streaming query runs on a cloned session, and with
  *     `spark.sql.artifact.isolation.enabled` at its default each clone
  *     has its own artifact state, so the local executor gave each
  *     drain's tasks a new class loader: every `q_retraction_bag` run
  *     recompiled 13 classes and every `q_stream_static_join` run 3, and
  *     then ran them before the JIT had compiled them. This engine adds
  *     no session artifacts, so isolation buys nothing here and is off.
  *     Runs after the first now compile nothing; perfbench `streaming`
  *     (sf0.1, 4 cores, 10 alternating pairs) went from a median
  *     `wall_s` of 1.434 to 1.030 s, the saving in task time
  *     (`task.cpu_s` 1.44 -> 0.86 s per pass, same jobs, stages and
  *     tasks).
  *     The cache keeps Spark's default of 100 entries. A full
  *     `graft.Bench` sitting (sf0.1, 4 cores) with a 100,000-entry cache
  *     compiled 4,007 classes, but a 6,000-entry cache did not pay on
  *     the 21 `Replay` queries: two warm `graft.Bench` pairs, order
  *     swapped, summed 12.22 and 13.53 s at the default against 13.73
  *     and 12.69 s at 6,000.
  */
object Engine {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scratch root for engine-internal ephemera (shuffle files, replay
    * inputs, streaming checkpoints, managed tables): prefer tmpfs
    * (/dev/shm) when present — on a container /tmp is ordinary disk and
    * the many small fsync-ed files a streaming checkpoint writes are
    * latency-bound there. A cluster deployment would instead point
    * spark.local.dir at the executors' local SSDs; checkpoints for
    * RESTARTABLE jobs belong on durable storage (q_stream_restart keeps
    * its explicit checkpointLocation), but drain-and-discard replay
    * checkpoints are ephemeral by construction.
    */
  lazy val scratchRoot: String = {
    val shm = new java.io.File("/dev/shm")
    val root =
      if (shm.isDirectory && shm.canWrite) new java.io.File(shm, "graft-scratch")
      else new java.io.File(System.getProperty("java.io.tmpdir"), "graft-scratch")
    root.mkdirs()
    root.getAbsolutePath
  }

  /** The active scale-factor directory, when a contract main (Verify /
    * Bench) has declared it — lets [[spillRoot]] size its tmpfs
    * headroom check against the DATA, not a fixed constant. System
    * property first (set by Verify.main from its args before any
    * session exists), env second (Bench's contract). */
  private def declaredSfDir: Option[String] =
    sys.props.get("graft.sf.dir").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) 0L
    else {
      var total = 0L
      java.nio.file.Files.walk(p).forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) total += f.toFile.length()
      }
      total
    }
  }

  /** Root for shuffle/spill files (spark.local.dir). Spill exists to
    * RELIEVE memory pressure, so tmpfs is only used when it demonstrably
    * has headroom: explicitly via SPARK_GRAFT_SHM_SPILL=1/0, or by
    * default when /dev/shm's free space covers max(4 GiB, 16x the
    * declared SF dir's on-disk bytes). The fixed 4 GiB floor alone was
    * sized for sf0.1 (~hundreds of MB of shuffle); scaling with the
    * dataset means a larger-SF run on a box with a modest /dev/shm
    * demotes to real disk instead of spilling multi-GiB shuffles into
    * RAM-backed tmpfs and OOMing the host — spill into RAM is only a
    * win while it is provably not needed as RAM. 16x compressed parquet
    * comfortably bounds the decompressed+serialized shuffle footprint
    * of every corpus query. Streaming-checkpoint ephemera stay on
    * [[scratchRoot]] (tmpfs-preferring): small, fsync-latency bound,
    * drained in-run.
    */
  lazy val spillRoot: String = {
    val shm = new java.io.File("/dev/shm")
    val shmOk = shm.isDirectory && shm.canWrite
    val needed = math.max(4L << 30,
      16L * declaredSfDir.map(dirBytes).getOrElse(0L))
    val useShm = sys.env.get("SPARK_GRAFT_SHM_SPILL") match {
      case Some("1") => shmOk
      case Some(_)   => false
      case None      => shmOk && shm.getUsableSpace >= needed
    }
    val root =
      if (useShm) new java.io.File(shm, "graft-spill")
      else new java.io.File(System.getProperty("java.io.tmpdir"), "graft-spill")
    root.mkdirs()
    root.getAbsolutePath
  }

  /** A per-tag scratch subdirectory under [[scratchRoot]]. */
  def scratchDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchRoot), tag)
    d.toFile.getAbsolutePath
  }

  /** Sessions whose observed-metrics listener is already registered
    * (weak keys: a retired session must not be pinned by the guard). */
  private val observedHooked: java.util.Set[SparkSession] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def session(
      appName: String = "graft",
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString),
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val builder0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep managed-table state (bucketed writes) out of the caller's
      // cwd — Verify/Bench may run with cwd anywhere
      .config("spark.sql.warehouse.dir",
        new java.io.File(scratchRoot, "warehouse").getAbsolutePath)
      // shuffle/spill files on [[spillRoot]] (real disk unless tmpfs has
      // verified headroom — a cluster would use executor-local SSDs). NO
      // default streaming checkpointLocation: {default}/{queryName}
      // collides across JVM runs (tmpfs outlives the process) and
      // resurrects stale offsets — streaming sites pass explicit per-run
      // locations instead.
      .config("spark.local.dir",
        new java.io.File(spillRoot, "local").getAbsolutePath)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .withExtensions(new GraftExtensions)
    val spark = extraConfs.foldLeft(builder0) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // No-silent-caps surfacing: any query that declares an `observe`
    // metric (semdedup's within-cell pair count, q_agg_observe, …)
    // gets it printed to stderr after each successful action, so the
    // volumes a scale claim rests on ride every Bench/Verify record
    // instead of living in comments. Stderr only —
    // stdout stays reserved for the one parseable record line.
    // (getOrCreate may hand back an existing session — register once.)
    if (observedHooked.add(spark)) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val m = qe.observedMetrics
          if (m.nonEmpty) System.err.println("[observed] " +
            m.map { case (k, r) => s"$k=$r" }.mkString(" "))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    spark
  }

  // Schema cache: the test tables are immutable per scale-factor dir, so
  // pay the parquet footer read once per (dir, table) per JVM instead of
  // on every query's analysis pass. With an explicit .schema() Spark
  // skips schema inference entirely; a long benchmark run over 100+
  // queries otherwise re-reads the same footers hundreds of times.
  private val schemaCache =
    scala.collection.concurrent.TrieMap[String, org.apache.spark.sql.types.StructType]()

  /** Load one table from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else {
      val path = s"$sfDir/$name.parquet"
      val schema = schemaCache.getOrElseUpdate(path,
        spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }

  /** The events table's `ts` physical type varies by data generation:
    * parquet TIMESTAMP(NANOS) (which Spark 4 rejects by default — read
    * as long via the legacy conf and convert ns->us with integer
    * division: `div`, not `/`, because ns-since-epoch ~1.7e18 exceeds
    * exact double range and float division would corrupt timestamps),
    * or plain TIMESTAMP(MICROS) without UTC adjustment (surfaces as
    * TIMESTAMP_NTZ). Normalize BOTH to session-zone TimestampType so
    * every downstream window/watermark/oracle sees one type; the
    * session zone is pinned UTC, so the NTZ->LTZ cast is
    * value-identical. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = schemaCache.getOrElseUpdate(path,
      spark.read.parquet(path).schema)
    val raw = spark.read.schema(schema).parquet(path)
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS) with isAdjustedToUTC=false; session zone is
        // pinned UTC so the NTZ->LTZ cast is value-identical
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case other =>
        // Any other physical type means the file is corrupt or was
        // generated by something this reader was never taught: casting
        // (e.g. StringType) can silently yield NULLs, so fail at read
        // time instead of poisoning every downstream watermark.
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other " +
            "(expected TIMESTAMP, TIMESTAMP_NTZ, or TIMESTAMP(NANOS)-as-long)")
    }
  }

  /** Register every test table as a temp view (enables spark.sql paths). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      table(spark, sfDir, n).createOrReplaceTempView(n)
    }
}
