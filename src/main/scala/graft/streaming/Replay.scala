package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Batch -> stream replay harness (SURVEY.md §2B-9, FIXTURES.md pattern):
  * materialize a batch DataFrame as a multi-file parquet directory, then
  * read it back with readStream + AvailableNow so a real incremental
  * MicroBatchExecution (with state, watermarks, and multiple triggers via
  * maxFilesPerTrigger) drives the query to completion synchronously.
  *
  * This is how the engine's streaming operators are made t2-checkable:
  * the drained sink table is an ordinary DataFrame the DuckDB oracle can
  * hash-match.
  */
object Replay {

  private val counter = new java.util.concurrent.atomic.AtomicLong()
  // Materialized replay inputs (dir + schema), keyed by caller tag
  // (bench reruns the same streaming query several times; the input
  // parquet is identical, so both the write and the footer read are
  // paid once per key per JVM).
  private val inputCache = scala.collection.concurrent.TrieMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** Replay `input` as a stream through `build`, drain with AvailableNow,
    * return the sink contents. `mode` is the sink output mode
    * ("complete" for windowed aggs, "append" for joins/dedup/fMGWS).
    * `cacheKey`, when set, reuses the materialized input across calls.
    */
  def run(
      spark: SparkSession,
      input: DataFrame,
      mode: String,
      filesPerTrigger: Int = 2,
      nFiles: Int = 4,
      cacheKey: String = "",
      bigSink: Boolean = false)(build: DataFrame => DataFrame): DataFrame = {
    val key = if (cacheKey.isEmpty) s"anon_${counter.incrementAndGet()}"
      else s"$cacheKey/$nFiles"
    val (dir, schema) = inputCache.getOrElseUpdate(key, {
      val d = graft.Engine.scratchDir("graft_replay")
      input.repartition(nFiles).write.mode("overwrite").parquet(s"$d/in")
      (d, spark.read.parquet(s"$d/in").schema)
    })
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(s"$dir/in")
    val qname = s"graft_sink_${counter.incrementAndGet()}"
    // Sink rule: an append-mode replay whose output is large (tens of
    // thousands of rows per batch) opts in with `bigSink` and drains
    // into PARQUET on the scratch root; everything else uses the memory
    // sink. The memory sink Java-serializes each batch's rows into task
    // commit messages and the driver deserializes them in addBatch
    // (q_retraction_bag: ~100k delta rows in its largest batch); the
    // parquet sink writes from the executors and the drained result is
    // read back as an ordinary scan. Identical rows (append emits each
    // row exactly once in both sinks). For small outputs the per-file
    // commit costs more than the collect it saves, and complete/update
    // modes need the memory sink (parquet is append-only).
    // q_retraction_bag at sf0.1 on 4 cores, median of 3 warm passes, two
    // seeds: memory sink 1.75-1.84 s, parquet sink 1.21-1.32 s (both on
    // Engine's non-forking local filesystem, which makes the file
    // commits cheap enough). SPARK_GRAFT_STREAM_PARQUET_SINK=0 forces
    // the memory sink everywhere (A/B lever).
    val parquetSink = mode == "append" && bigSink &&
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARQUET_SINK", "1") == "1"
    val sinkDir = if (parquetSink) graft.Engine.scratchDir("sinkout") else ""
    // Stateful streaming ops create one state-store partition per shuffle
    // partition PER MICRO-BATCH; at replay scale 4 is plenty (a cluster
    // deployment would size this to executor count instead).
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4"))
    var outSchema: org.apache.spark.sql.types.StructType = null
    val q =
      try {
        val streamed = build(stream)
        outSchema = streamed.schema
        val writer = streamed.writeStream
          .outputMode(mode)
          // fresh per-run scratch checkpoint (tmpfs when available): this
          // replay drains once and discards; restart-durable checkpoints
          // are exercised by q_stream_restart with an explicit location
          .option("checkpointLocation", graft.Engine.scratchDir("ckpt"))
          .trigger(Trigger.AvailableNow())
        if (parquetSink)
          writer.format("parquet").option("path", s"$sinkDir/out").start()
        else writer.format("memory").queryName(qname).start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    if (parquetSink)
      // explicit schema: a replay whose every batch emitted zero rows
      // leaves only _spark_metadata behind, and schema inference would
      // fail on it; the streamed frame's schema is authoritative
      spark.read.schema(outSchema).parquet(s"$sinkDir/out")
    else {
      // spark.table analyzes eagerly, so the returned frame's plan holds
      // a direct reference to the memory sink's rows; dropping the temp
      // view immediately after removes the session-lifetime catalog pin
      // without copying the data. The sink stays readable for as long as
      // the caller references the frame and becomes GC-able afterwards —
      // bench runs every streaming query 3x, so without this each run
      // leaked one driver-resident sink for the life of the session.
      val out = spark.table(qname)
      spark.catalog.dropTempView(qname)
      out
    }
  }

  /** Time-ordered replay of the events table. */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    graft.Engine.events(spark, sfDir).orderBy(col("ts"))
}
