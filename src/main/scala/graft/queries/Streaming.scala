package graft.queries

import graft.{Engine, QueryDef, QueryModule}
import graft.functions.Fns.dsum
import graft.operators.TxnMarker
import graft.streaming.Replay
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2B-9) made t2-checkable:
  * each query REALLY runs a streaming MicroBatchExecution (file replay,
  * multiple triggers, watermarks, state) and the drained sink is compared
  * against a batch DuckDB oracle.
  *
  * Scale: these are the per-trigger incremental versions of the batch
  * plans — state is keyed and watermark-bounded, so executor state stays
  * O(active windows/keys), not O(stream length).
  */
object Streaming extends QueryModule {

  private val dirs = scala.collection.concurrent.TrieMap[String, String]()

  private def tempFor(tag: String, dir: String): String =
    dirs.getOrElseUpdate(s"$tag:$dir", Replay.removedAtExit(s"graft_$tag"))

  def defs: Vector[(String, QueryDef)] = Vector(

    // Tumbling 1h event-time window (Complete mode: all windows emitted).
    "q_stream_tumbling" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "complete", cacheKey = s"events:$dir") { st =>
          st.withWatermark("ts", "1 hour")
            .groupBy(window($"ts", "1 hour"), $"event_type")
            .agg(count(lit(1)).as("n"),
              dsum($"value").cast(DoubleType).as("sum_v"))
            .select($"window.start".as("wstart"), $"window.end".as("wend"),
              $"event_type", $"n", $"sum_v")
        }
      },
      oracle = Some("""
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS wstart,
          CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS wend,
          event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY 1, 2, 3"""),
      headline = true),

    // Sliding 1h/15min windows (each event lands in 4 windows; Spark
    // aligns starts to the slide grid at epoch origin — mirrored exactly).
    "q_stream_sliding" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "complete", cacheKey = s"events:$dir") { st =>
          st.withWatermark("ts", "1 hour")
            .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
            .agg(count(lit(1)).as("n"))
            .select($"window.start".as("wstart"), $"event_type", $"n")
        }
      },
      oracle = Some("""
        SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900 - g.i * 900)
            AS TIMESTAMP) AS wstart,
          event_type, count(*) AS n
        FROM events, (VALUES (0),(1),(2),(3)) g(i)
        GROUP BY 1, 2""")),

    // Session windows, 30-minute gap. Spark starts a NEW session when the
    // time since the previous event is >= gap; the oracle sessionizes with
    // the same rule via lag + running sum.
    "q_stream_session" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        // Single-trigger replay: session merging + watermark late-drop
        // interact with arrival order; one AvailableNow batch keeps the
        // watermark at -inf during processing so semantics match batch.
        Replay.run(s, Replay.events(s, dir), mode = "complete",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"events:$dir") { st =>
          st.withWatermark("ts", "1 hour")
            .groupBy(session_window($"ts", "30 minutes"), $"user_id")
            .agg(count(lit(1)).as("n_events"),
              dsum($"value").cast(DoubleType).as("sum_v"))
            .select($"session_window.start".as("sstart"),
              $"session_window.end".as("send"), $"user_id", $"n_events", $"sum_v")
        }
      },
      oracle = Some("""
        WITH marked AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sessions AS (
          SELECT user_id, ts, value,
            sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked)
        SELECT CAST(min(ts) AS TIMESTAMP) AS sstart,
          CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS send,
          user_id, count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM sessions GROUP BY user_id, sid""")),

    // Stateful streaming dedup: first row per (user_id, event_type) wins;
    // output only the key columns so the result set is deterministic
    // regardless of arrival order.
    "q_stream_dedup" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "append", cacheKey = s"events:$dir") { st =>
          st.dropDuplicates(Seq("user_id", "event_type"))
            .select($"user_id", $"event_type")
        }
      },
      oracle = Some(
        "SELECT DISTINCT user_id, event_type FROM events")),

    // Stream-stream inner join: purchase followed by a click of the same
    // user within 1 hour. Watermarks bound both sides' state.
    "q_stream_join" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        // Single-trigger replay (see q_stream_session note): join state
        // eviction by watermark must not race unordered file arrival.
        Replay.run(s, Replay.events(s, dir), mode = "append",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"events:$dir",
          bigSink = true) { st =>
          val clicks = st.filter($"event_type" === "click")
            .select($"user_id".as("c_user"), $"ts".as("c_ts"),
              $"event_id".as("c_id"))
            .withWatermark("c_ts", "2 hours")
          val purchases = st.filter($"event_type" === "purchase")
            .select($"user_id".as("p_user"), $"ts".as("p_ts"),
              $"event_id".as("p_id"), $"value".as("p_value"))
            .withWatermark("p_ts", "2 hours")
          purchases.join(clicks,
            expr("""p_user = c_user AND
                    c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 1 HOUR"""))
            .select($"p_id", $"c_id", $"p_user", $"p_value")
        }
      },
      oracle = Some("""
        SELECT p.event_id AS p_id, c.event_id AS c_id,
          p.user_id AS p_user, p.value AS p_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
          AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR""")),

    // Stream-stream LEFT OUTER join: every purchase with its matching
    // click within 1 hour, or a null-side row once the watermark PROVES
    // no click can still arrive. Outer rows are emitted on state
    // eviction, so the unmatched set is exactly the purchases whose join
    // window closed below the final watermark
    // (min(max click ts, max purchase ts) - 2h); purchases above it are
    // still live state at drain time and are NOT emitted — the oracle
    // mirrors that watermark-truth set. The evicted null c_id is rendered
    // as -1 (gate outputs stay non-null longs for the comparator).
    "q_stream_join_outer" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "append",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"events:$dir",
          bigSink = true) { st =>
          val clicks = st.filter($"event_type" === "click")
            .select($"user_id".as("c_user"), $"ts".as("c_ts"),
              $"event_id".as("c_id"))
            .withWatermark("c_ts", "2 hours")
          val purchases = st.filter($"event_type" === "purchase")
            .select($"user_id".as("p_user"), $"ts".as("p_ts"),
              $"event_id".as("p_id"), $"value".as("p_value"))
            .withWatermark("p_ts", "2 hours")
          purchases.join(clicks,
            expr("""p_user = c_user AND
                    c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 1 HOUR"""),
            "leftOuter")
            .select($"p_id", coalesce($"c_id", lit(-1L)).as("c_id"),
              $"p_user", $"p_value")
        }
      },
      oracle = Some("""
        WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        c AS (SELECT * FROM events WHERE event_type = 'click'),
        wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                 - INTERVAL 2 HOUR AS w),
        matched AS (
          SELECT p.event_id AS p_id, c.event_id AS c_id,
            p.user_id AS p_user, p.value AS p_value
          FROM p JOIN c ON p.user_id = c.user_id
            AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR),
        unmatched AS (
          SELECT p.event_id AS p_id, CAST(-1 AS BIGINT) AS c_id,
            p.user_id AS p_user, p.value AS p_value
          FROM p, wm
          WHERE p.ts + INTERVAL 1 HOUR < wm.w
            AND NOT EXISTS (SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR))
        SELECT p_id, c_id, p_user, p_value FROM matched
        UNION ALL SELECT p_id, c_id, p_user, p_value FROM unmatched""")),

    // Stream-stream FULL OUTER join: completes the outer family — both
    // sides emit watermark-evicted null rows. Eviction truth per side
    // follows from the time bounds: a purchase is provably unmatched
    // once the watermark passes p_ts + 1h (no click in its window can
    // still arrive); a click once the watermark passes c_ts (any future
    // purchase has p_ts >= wm > c_ts, outside c_ts >= p_ts). Purchases/
    // clicks above those lines are live state at drain time and are NOT
    // emitted — the oracle mirrors both watermark-truth sets. Null sides
    // render as -1 (gate outputs stay non-null for the comparator);
    // user_id coalesces across sides so it is never null.
    "q_stream_join_full" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "append",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"events:$dir",
          bigSink = true) { st =>
          val clicks = st.filter($"event_type" === "click")
            .select($"user_id".as("c_user"), $"ts".as("c_ts"),
              $"event_id".as("c_id"))
            .withWatermark("c_ts", "2 hours")
          val purchases = st.filter($"event_type" === "purchase")
            .select($"user_id".as("p_user"), $"ts".as("p_ts"),
              $"event_id".as("p_id"), $"value".as("p_value"))
            .withWatermark("p_ts", "2 hours")
          purchases.join(clicks,
            expr("""p_user = c_user AND
                    c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 1 HOUR"""),
            "fullOuter")
            .select(
              coalesce($"p_id", lit(-1L)).as("p_id"),
              coalesce($"c_id", lit(-1L)).as("c_id"),
              coalesce($"p_user", $"c_user").as("user_id"),
              coalesce($"p_value", lit(-1.0)).as("p_value"))
        }
      },
      oracle = Some("""
        WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        c AS (SELECT * FROM events WHERE event_type = 'click'),
        wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                 - INTERVAL 2 HOUR AS w),
        matched AS (
          SELECT p.event_id AS p_id, c.event_id AS c_id,
            p.user_id AS user_id, p.value AS p_value
          FROM p JOIN c ON p.user_id = c.user_id
            AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR),
        un_p AS (
          SELECT p.event_id AS p_id, CAST(-1 AS BIGINT) AS c_id,
            p.user_id AS user_id, p.value AS p_value
          FROM p, wm
          WHERE p.ts + INTERVAL 1 HOUR < wm.w
            AND NOT EXISTS (SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR)),
        un_c AS (
          SELECT CAST(-1 AS BIGINT) AS p_id, c.event_id AS c_id,
            c.user_id AS user_id, CAST(-1.0 AS DOUBLE) AS p_value
          FROM c, wm
          WHERE c.ts < wm.w
            AND NOT EXISTS (SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR))
        SELECT p_id, c_id, user_id, p_value FROM matched
        UNION ALL SELECT p_id, c_id, user_id, p_value FROM un_p
        UNION ALL SELECT p_id, c_id, user_id, p_value FROM un_c""")),

    // Stream-stream LEFT SEMI join: "purchase that HAS a click within
    // the hour" without materializing the matches — the streaming
    // existence filter. Unlike the outer variants, emission needs no
    // watermark proof (a semi row is final the moment one match
    // arrives), so the oracle is a plain EXISTS with no eviction-truth
    // clause; watermarks still bound both sides' state.
    "q_stream_join_semi" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "append",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"events:$dir",
          bigSink = true) { st =>
          val clicks = st.filter($"event_type" === "click")
            .select($"user_id".as("c_user"), $"ts".as("c_ts"))
            .withWatermark("c_ts", "2 hours")
          val purchases = st.filter($"event_type" === "purchase")
            .select($"user_id".as("p_user"), $"ts".as("p_ts"),
              $"event_id".as("p_id"), $"value".as("p_value"))
            .withWatermark("p_ts", "2 hours")
          purchases.join(clicks,
            expr("""p_user = c_user AND
                    c_ts >= p_ts AND c_ts <= p_ts + INTERVAL 1 HOUR"""),
            "leftSemi")
            .select($"p_id", $"p_user", $"p_value")
        }
      },
      oracle = Some("""
        SELECT p.event_id AS p_id, p.user_id AS p_user, p.value AS p_value
        FROM events p
        WHERE p.event_type = 'purchase'
          AND EXISTS (SELECT 1 FROM events c
            WHERE c.event_type = 'click' AND c.user_id = p.user_id
              AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR)""")),

    // Update output mode: with a single AvailableNow trigger the sink
    // holds exactly one (final) update per key — batch-equivalent and
    // t2-checkable. (Multi-trigger update streams are exercised by the
    // retraction-join tests, where deltas are the point.)
    "q_stream_update_mode" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "update",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"events:$dir") { st =>
          st.withWatermark("ts", "1 hour")
            .groupBy($"user_id", $"event_type")
            .agg(count(lit(1)).as("n"),
              dsum($"value").cast(DoubleType).as("sum_v"))
        }
      },
      oracle = Some("""
        SELECT user_id, event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY user_id, event_type""")),

    // foreachBatch sink (the reference's programmable-sink analog): each
    // micro-batch appended to a parquet directory by user code, then the
    // accumulated sink is batch-read and aggregated. Batch boundaries
    // don't affect the batch-insensitive aggregate.
    "q_stream_foreach_batch" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val root = tempFor("feb", dir)
        val inDir = s"$root/in"
        if (!new java.io.File(inDir).exists()) {
          Replay.events(s, dir).repartition(4).write.mode("overwrite").parquet(inDir)
        }
        // idempotent per call: the sink and checkpoint restart fresh
        val sink = s"$root/sink"
        TxnMarker.rmTree(new java.io.File(sink))
        TxnMarker.rmTree(new java.io.File(s"$root/ckpt"))
        val schema = s.read.parquet(inDir).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(inDir)
          .select($"event_id", $"event_type", $"value")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(sink)
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(sink)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            dsum($"value").cast(DoubleType).as("sum_v"))
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY event_type""")),

    // EXACTLY-ONCE STREAMING INGEST into the log-backed ACID table:
    // foreachBatch commits each micro-batch to graft.operators.TxLog via
    // appendIdempotent, and the sink DELIBERATELY delivers every batch
    // TWICE (Spark's failure contract: foreachBatch may re-run the same
    // batchId) — the txn marker in the log makes the re-delivery a
    // no-op, so the readback aggregate equals the plain batch oracle.
    // If idempotence broke, every count would double and the gate would
    // hash-mismatch. This is the lakehouse version of the parquet-append
    // sink in q_stream_foreach_batch: atomic visibility per batch, no
    // torn reads, and orphaned retry files stay unreferenced by the log.
    "q_stream_txlog_sink" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val root = tempFor("txsink", dir)
        val inDir = s"$root/in"
        if (!new java.io.File(inDir).exists()) {
          Replay.events(s, dir).repartition(4)
            .write.mode("overwrite").parquet(inDir)
        }
        val table = s"$root/table"
        TxnMarker.rmTree(new java.io.File(table))
        TxnMarker.rmTree(new java.io.File(s"$root/ckpt"))
        val schema = s.read.parquet(inDir).schema
        val q = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(inDir)
          .select($"event_id", $"event_type", $"value")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            TxLog.appendIdempotent(s, df, table, txn = s"batch-$id")
            // simulated re-delivery of the SAME batch: must be a no-op
            TxLog.appendIdempotent(s, df, table, txn = s"batch-$id")
            ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        TxLog.read(s, table)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            dsum($"value").cast(DoubleType).as("sum_v"))
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY event_type""")),

    // STREAMING SOURCE over the log-backed ACID table — the read half of
    // the exactly-once pipeline (q_stream_txlog_sink is the write half).
    // TxLog.streamChanges subscribes to the table's COMMIT LOG as a
    // checkpointed file stream (commit metadata only; each batch reads
    // exactly the parquet files that commit added), and TxLog.mirror
    // log-ships a 3-commit source table into a second ACID table with
    // txn = source version. The mirror then re-runs from a FRESH
    // checkpoint: every commit re-delivers and every append must no-op
    // on its txn marker — a replay leak doubles the counts and the gate
    // hash-mismatches. Readback equals the plain batch oracle.
    "q_stream_txlog_source" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val root = tempFor("txsrc", dir)
        val srcTable = s"$root/src"
        val dstTable = s"$root/dst"
        Seq("src", "dst", "ckpt", "ckpt2")
          .foreach(d => TxnMarker.rmTree(new java.io.File(s"$root/$d")))
        val ev = Replay.events(s, dir)
          .select($"event_id", $"event_type", $"value")
        for (i <- 0 until 3) // three append commits, deterministic split
          TxLog.append(s, ev.filter(pmod($"event_id", lit(3)) === i), srcTable)
        TxLog.mirror(s, srcTable, dstTable, s"$root/ckpt").awaitTermination()
        // from-scratch re-subscription: all 3 commits re-deliver, all no-op
        TxLog.mirror(s, srcTable, dstTable, s"$root/ckpt2").awaitTermination()
        TxLog.read(s, dstTable)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            dsum($"value").cast(DoubleType).as("sum_v"))
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY event_type""")),

    // CDC STREAMING over the log-backed ACID table: TxLog.streamCdc
    // forwards EVERY commit as insert/delete change rows (the streaming
    // twin of the q_src_txlog_changes batch read) — a COW delete commit
    // surfaces exactly the deleted rows as `_change='delete'` while
    // carried-over rows cancel under EXCEPT ALL. The subscriber
    // replays the feed into a parquet changelog, and the final state is
    // reconstructed PURELY from the stream (inserts EXCEPT ALL
    // deletes): it must equal the head table, which the oracle
    // recomputes relationally from the base events table. Any
    // mis-tagged, duplicated, or lost change row breaks the
    // reconstruction and hash-mismatches.
    "q_stream_txlog_cdc" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val root = tempFor("txcdc", dir)
        val srcTable = s"$root/src"
        val sink = s"$root/changelog"
        Seq("src", "changelog", "ckpt")
          .foreach(d => TxnMarker.rmTree(new java.io.File(s"$root/$d")))
        val ev = Replay.events(s, dir)
          .select($"event_id", $"event_type", $"value")
        // v0: append everything (range-clustered so the delete is
        // file-granular); v1: COW-delete one event type
        TxLog.append(s, ev.repartitionByRange(4, $"event_id"), srcTable)
        TxLog.deleteWhere(s, srcTable, $"event_type" === "click")
        TxLog.streamCdc(s, srcTable, s"$root/ckpt") { (cdc, v) =>
          cdc.withColumn("_v", lit(v)).write.mode("append").parquet(sink)
          ()
        }.awaitTermination()
        val log = s.read.parquet(sink)
        log.filter($"_change" === "insert").drop("_change", "_v")
          .exceptAll(log.filter($"_change" === "delete").drop("_change", "_v"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            dsum($"value").cast(DoubleType).as("sum_v"))
      },
      oracle = Some("""
        SELECT event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events WHERE event_type <> 'click'
        GROUP BY event_type""")),

    // CDC streaming ACROSS a schema mutation (field-id mapping): the
    // subscribed table renames its value column and widens its key
    // mid-history, then MOR-deletes and appends under the new schema.
    // The mapped-start stream must deliver EVERY commit's rows under
    // the start-time (current) names — pre-mutation files resolve by
    // field id per epoch — and the feed must reconstruct the head
    // snapshot exactly. The oracle replays the history relationally.
    "q_stream_txlog_schema_cdc" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        import org.apache.spark.sql.types.LongType
        val root = tempFor("txscdc", dir)
        val srcTable = s"$root/src"
        val sink = s"$root/changelog"
        Seq("src", "changelog", "ckpt")
          .foreach(d => TxnMarker.rmTree(new java.io.File(s"$root/$d")))
        val sup = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey".cast("int").as("nation"),
            $"s_acctbal")
        val maxKey = sup.agg(max($"s_suppkey")).first().getLong(0) // scalar
        TxLog.append(s, sup.repartitionByRange(4, $"s_suppkey"),
          srcTable)                                            // v0
        TxLog.renameColumn(s, srcTable, "s_acctbal", "bal")    // v1
        TxLog.widenColumn(s, srcTable, "nation", LongType)     // v2
        TxLog.deleteWhereMor(s, srcTable, $"nation" % 4 === 1) // v3
        TxLog.append(s, s.range(1, 11).select(
          ($"id" + maxKey).as("s_suppkey"),
          ($"id" % 5).cast("long").as("nation"),
          ($"id" * 10.0).as("bal")).repartition(1), srcTable)  // v4
        TxLog.streamCdc(s, srcTable, s"$root/ckpt") { (cdc, v) =>
          cdc.withColumn("_v", lit(v)).write.mode("append").parquet(sink)
          ()
        }.awaitTermination()
        val log = s.read.parquet(sink)
        log.filter($"_change" === "insert").drop("_change", "_v")
          .exceptAll(log.filter($"_change" === "delete")
            .drop("_change", "_v"))
          .groupBy($"nation")
          .agg(count(lit(1)).as("n"),
            sum(floor($"bal" * 100.0 + 0.5).cast("long")).as("sum_cents"))
      },
      oracle = Some("""
        WITH mx AS (SELECT max(s_suppkey) AS m FROM supplier),
        head AS (
          SELECT CAST(CAST(s_nationkey AS INTEGER) AS BIGINT) AS nation,
            s_acctbal AS bal
          FROM supplier WHERE CAST(s_nationkey AS INTEGER) % 4 <> 1
          UNION ALL
          SELECT CAST(r.range % 5 AS BIGINT), r.range * 10.0
          FROM range(1, 11) r)
        SELECT nation, count(*) AS n,
          CAST(sum(CAST(floor(bal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
            AS sum_cents
        FROM head GROUP BY nation""")),

    // Stateful dedup bounded by watermark (state TTL variant of
    // dropDuplicates): the input stream carries exact duplicates; a
    // single AvailableNow batch keeps every duplicate inside the
    // watermark so the result equals exact distinct.
    "q_stream_dedup_watermark" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val ev = Replay.events(s, dir).select($"event_id", $"event_type", $"ts")
        Replay.run(s, ev.unionByName(ev), mode = "append",
          filesPerTrigger = 1, nFiles = 1, cacheKey = s"evdup:$dir") { st =>
          st.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(Seq("event_id"))
            .select($"event_id", $"event_type")
        }
      },
      oracle = Some("SELECT DISTINCT event_id, event_type FROM events")),

    // Arbitrary keyed state via mapGroupsWithState (update mode, multiple
    // triggers): running (count, min ts, max ts) per user. The sink holds
    // one row per key per updating batch; count is monotone, so the final
    // state is the max-count row — deterministic across replays.
    "q_stream_mapgroups" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.GroupStateTimeout
        Replay.run(s, Replay.events(s, dir).select($"user_id", $"ts"),
          mode = "update", cacheKey = s"events_uid:$dir") { st =>
          st.as[(Long, java.sql.Timestamp)]
            .groupByKey(_._1)
            .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
              GroupStateTimeout.NoTimeout) { (k, it, state) =>
              var (n, mn, mx) = state.getOption
                .getOrElse((0L, Long.MaxValue, Long.MinValue))
              it.foreach { case (_, ts) =>
                val t = ts.getTime
                n += 1
                mn = math.min(mn, t)
                mx = math.max(mx, t)
              }
              state.update((n, mn, mx))
              (k, n, mn, mx)
            }
            .toDF("user_id", "n", "min_ms", "max_ms")
        }
          .groupBy($"user_id")
          .agg(max($"n").as("n"), min($"min_ms").as("min_ms"),
            max($"max_ms").as("max_ms"))
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n,
          epoch_ms(min(ts)) AS min_ms, epoch_ms(max(ts)) AS max_ms
        FROM events GROUP BY user_id""")),

    // The SAME running aggregate through Spark 4's NEW arbitrary-state
    // API: transformWithState with a typed ValueState handle on the
    // RocksDB state store (transformWithState requires the RocksDB
    // provider; the conf is restored after the drained replay so the
    // rest of the corpus keeps the default HDFS-backed store). Covers
    // the modern stateful API next to the classic mapGroupsWithState
    // row with the identical monotone-recovery oracle.
    "q_stream_transform_state" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
        val drained =
          try Replay.run(s,
            Replay.events(s, dir)
              .select($"user_id", unix_millis($"ts").as("ms")),
            mode = "update", cacheKey = s"events_ms:$dir") { st =>
            st.as[(Long, Long)]
              .groupByKey(_._1)
              .transformWithState(new graft.streaming.RunningStatsProcessor,
                TimeMode.None(), OutputMode.Update())
              .toDF("user_id", "n", "min_ms", "max_ms")
          }
          finally prev match {
            case Some(p) => s.conf.set(key, p)
            case None    => s.conf.unset(key)
          }
        drained.groupBy($"user_id")
          .agg(max($"n").as("n"), min($"min_ms").as("min_ms"),
            max($"max_ms").as("max_ms"))
      },
      oracle = Some("""
        SELECT user_id, count(*) AS n,
          epoch_ms(min(ts)) AS min_ms, epoch_ms(max(ts)) AS max_ms
        FROM events GROUP BY user_id""")),

    // Update mode across MULTIPLE triggers: the sink accumulates one row
    // per key per updating micro-batch (running prefix aggregates); the
    // final state is recovered deterministically because both running
    // aggregates are monotone (count always grows; event values are
    // positive, so the running sum grows too).
    "q_stream_update_multi" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Replay.run(s, Replay.events(s, dir), mode = "update",
          cacheKey = s"events:$dir") { st =>
          st.withWatermark("ts", "1 hour")
            .groupBy($"user_id", $"event_type")
            .agg(count(lit(1)).as("n"),
              dsum($"value").cast(DoubleType).as("sum_v"))
        }
          .groupBy($"user_id", $"event_type")
          .agg(max($"n").as("n"), max($"sum_v").as("sum_v"))
      },
      oracle = Some("""
        SELECT user_id, event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY user_id, event_type""")),

    // Checkpoint recovery (exactly-once resumption): run a stateful
    // streaming aggregation over wave 1 of the input, let it terminate,
    // drop wave 2's files into the source directory, then START A NEW
    // QUERY from the SAME checkpoint. The restarted query must resume
    // from the recovered offsets + state store: if state were lost the
    // final counts would be too low, if wave-1 files were re-read they
    // would be too high — either way the batch oracle catches it. The
    // update-mode sink accumulates running per-key rows across both runs;
    // both aggregates are monotone (count grows; event values are
    // positive), so max-per-key recovers the final state.
    "q_stream_restart" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val root = tempFor("restart", dir)
        val inDir = s"$root/in"
        val sink = s"$root/sink"
        val ckpt = s"$root/ckpt"
        Seq(inDir, sink, ckpt)
          .foreach(p => TxnMarker.rmTree(new java.io.File(p)))
        val ev = Engine.events(s, dir)
          .select($"event_id", $"user_id", $"event_type", $"value")
        // wave 1 now; wave 2 arrives only after the first run terminates.
        // 2 files per wave: the proof is recovery across RESTARTS, not
        // batches-per-wave (q_stream_update_multi covers multi-trigger).
        ev.filter($"event_id" % 2 === 0)
          .repartition(2).write.mode("overwrite").parquet(inDir)
        val schema = s.read.parquet(inDir).schema
        def runWave(): Unit = {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2).parquet(inDir)
            .groupBy($"user_id", $"event_type")
            .agg(count(lit(1)).as("n"),
              dsum($"value").cast(DoubleType).as("sum_v"))
            .writeStream
            .outputMode("update")
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.write.mode("append").parquet(sink)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runWave()
        ev.filter($"event_id" % 2 === 1)
          .repartition(2).write.mode("append").parquet(inDir)
        runWave() // same checkpoint: only the new files are processed
        s.read.parquet(sink)
          .groupBy($"user_id", $"event_type")
          .agg(max($"n").as("n"), max($"sum_v").as("sum_v"))
      },
      oracle = Some("""
        SELECT user_id, event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY user_id, event_type""")),

    // Stream-static join: streaming events against the static customer
    // dim (broadcast at scale), then keyless windowless agg per segment.
    "q_stream_static_join" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val cust = Engine.table(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment")
        Replay.run(s, Replay.events(s, dir), mode = "append", cacheKey = s"events:$dir") { st =>
          st.join(broadcast(cust), st("user_id") === cust("c_custkey"))
            .select($"event_id", $"user_id", $"c_mktsegment", $"event_type")
        }
      },
      oracle = Some("""
        SELECT event_id, user_id, c_mktsegment, event_type
        FROM events JOIN customer ON user_id = c_custkey"""))
  )
}
