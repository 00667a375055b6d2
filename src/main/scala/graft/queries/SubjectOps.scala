package graft.queries

import graft.{Engine, QueryDef, QueryModule}
import graft.streaming.{Replay, RetractionJoin}
import graft.subjects.{SubjectRegistry, Trail}
import org.apache.spark.sql.functions._

/** Reference-parity subject/provenance/retraction surface (SURVEY.md
  * §2A A2/A6/A7/A8/A9): trailed subjects, composed join trails, and the
  * streaming add/remove bag join checked against a batch oracle.
  */
object SubjectOps extends QueryModule {

  def defs: Vector[(String, QueryDef)] = Vector(

    // Publish two subjects with provenance trails, join them, emit the
    // composed trail key — trails are md5-derived, so DuckDB recomputes
    // the identical provenance hashes.
    "q_subject_trail" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val reg = new SubjectRegistry(s)
        val o = reg.publish("subj_orders",
          Engine.table(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
          Seq("o_orderkey"))
          .select($"o_orderkey", $"o_custkey", $"_trail".as("l_trail"))
        val c = reg.publish("subj_customer",
          Engine.table(s, dir, "customer").select($"c_custkey", $"c_mktsegment"),
          Seq("c_custkey"))
          .select($"c_custkey", $"c_mktsegment", $"_trail".as("r_trail"))
        o.join(c, o("o_custkey") === c("c_custkey"))
          .select(
            $"o_orderkey", $"c_custkey", $"c_mktsegment",
            $"l_trail".getField("key").as("l_key"),
            $"r_trail".getField("key").as("r_key"),
            Trail.combine($"l_trail", $"r_trail").getField("key").as("trail_key"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT o_orderkey, c_custkey, c_mktsegment,
            CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS l_key,
            CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS r_key
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT o_orderkey, c_custkey, c_mktsegment, l_key, r_key,
          CAST(('0x' || substr(md5(concat(CAST(l_key AS VARCHAR), ':',
            CAST(r_key AS VARCHAR))), 1, 15)) AS BIGINT) AS trail_key
        FROM t""")),

    // The A9 centerpiece: orders stream (adds for all, retractions for
    // status F) bag-joined with a customer add stream, across multiple
    // real micro-batches. Summed deltas must equal the batch join of the
    // FINAL bags — which is exactly the DuckDB oracle.
    "q_retraction_bag" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val orders = Engine.table(s, dir, "orders")
        val cust = Engine.table(s, dir, "customer")
        val addO = orders.select($"o_custkey".as("key"), lit("L").as("side"),
          $"o_orderkey".as("id"), $"o_totalprice".as("payload"), lit(1).as("action"))
        val remO = orders.filter($"o_orderstatus" === "F")
          .select($"o_custkey".as("key"), lit("L").as("side"),
            $"o_orderkey".as("id"), $"o_totalprice".as("payload"), lit(-1).as("action"))
        val addC = cust.select($"c_custkey".as("key"), lit("R").as("side"),
          $"c_custkey".as("id"), $"c_acctbal".as("payload"), lit(1).as("action"))
        val updates = addO.unionByName(addC).unionByName(remO)
        Replay.run(s, updates, mode = "append", cacheKey = s"updates:$dir",
            bigSink = true) { st =>
          RetractionJoin(st.as(RetractionJoin.UpdEnc)).toDF()
        }
          .groupBy($"leftId", $"rightId", $"combined")
          .agg(sum($"action").as("net"))
          .filter($"net" =!= 0)
          .select($"leftId".as("left_id"), $"rightId".as("right_id"),
            $"combined", $"net")
      },
      oracle = Some("""
        SELECT o_orderkey AS left_id, c_custkey AS right_id,
          o_totalprice + c_acctbal AS combined, CAST(1 AS BIGINT) AS net
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus <> 'F'""")),

    // Ordered-funnel analysis over the event trail: per user, the first
    // view, the first click within the HOUR after that view, the first
    // purchase within the hour after that click — stage reached = steps
    // completed in order within the step windows.
    // Shape: ONE groupBy(user_id) pass over a single events scan — the
    // per-user step resolution runs on collected click/purchase
    // timestamp arrays (bounded by per-user event count), then a 4-row
    // distribution. The earlier three-chained-groupBy+join formulation
    // was correct but paid ~6 shuffles of fixed cost on the same scan
    // (31x DuckDB at sf0.1); this is the single-shuffle plan that holds
    // at 100x user cardinality.
    "q_evt_funnel" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val hour = expr("INTERVAL 1 HOUR")
        val byUser = Engine.events(s, dir)
          .select($"user_id", $"event_type", $"ts")
          .groupBy($"user_id")
          .agg(
            min(when($"event_type" === "view", $"ts")).as("v_ts"),
            collect_list(when($"event_type" === "click", $"ts")).as("clicks"),
            collect_list(when($"event_type" === "purchase", $"ts")).as("purch"))
        byUser
          // first qualifying click: earliest click in [v_ts, v_ts + 1h];
          // a NULL v_ts nulls the predicate, so filter keeps nothing —
          // exactly the no-view => no-qualifying-click semantics
          .withColumn("c_ts", array_min(filter($"clicks",
            t => t >= $"v_ts" && t <= $"v_ts" + hour)))
          .withColumn("p_ts", array_min(filter($"purch",
            t => t >= $"c_ts" && t <= $"c_ts" + hour)))
          .select(when($"p_ts".isNotNull, 3)
            .when($"c_ts".isNotNull, 2)
            .when($"v_ts".isNotNull, 1)
            .otherwise(0).as("stage"))
          .groupBy($"stage").agg(count(lit(1)).as("n_users"))
      },
      oracle = Some("""
        WITH v AS (
          SELECT user_id, min(ts) AS v_ts FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.v_ts
            AND e.ts <= v.v_ts + INTERVAL 1 HOUR
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
            AND e.ts <= c.c_ts + INTERVAL 1 HOUR
          GROUP BY e.user_id),
        u AS (SELECT DISTINCT user_id FROM events)
        SELECT stage, count(*) AS n_users FROM (
          SELECT CASE WHEN p_ts IS NOT NULL THEN 3
            WHEN c_ts IS NOT NULL THEN 2
            WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END AS stage
          FROM u LEFT JOIN v USING (user_id)
            LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        GROUP BY stage""")),

    // Weekly retention cohorts: users grouped by first-activity week,
    // counted in each later week they return. Two user-keyed
    // aggregations and one co-partitioned join — the canonical cohort
    // triangle at any corpus size.
    "q_evt_retention" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val ev = Engine.events(s, dir)
          .select($"user_id", date_trunc("week", $"ts").as("wk"))
          .distinct()
        val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort"))
        ev.join(first, "user_id")
          .groupBy($"cohort",
            (datediff($"wk", $"cohort") / 7).cast("int").as("week_no"))
          .agg(count(lit(1)).as("n_active"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT DISTINCT user_id,
            CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
          FROM events),
        first AS (
          SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id)
        SELECT cohort,
          CAST(date_diff('day', cohort, wk) / 7 AS INT) AS week_no,
          count(*) AS n_active
        FROM ev JOIN first USING (user_id)
        GROUP BY cohort, week_no""")),

    // Gap-based SESSIONIZATION of the event trail (batch form; the
    // streaming form is q_stream_session's session_window): a session
    // breaks after 30 idle minutes. One window pass computes both the
    // lag-gap flag and its running sum (same partition+order spec →
    // single shuffle+sort), then per-session stats aggregate on the
    // already-co-partitioned (user_id, sess_seq) keys. Session revenue
    // routes through the exact decimal sum.
    "q_evt_sessionize" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.functions.Fns.{dsumGate}
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Engine.events(s, dir)
          .select($"user_id", $"ts", $"event_id", $"value")
          .withColumn("gap_s",
            $"ts".cast("long") - lag($"ts", 1).over(w).cast("long"))
          .withColumn("new_sess",
            when($"gap_s".isNull || $"gap_s" > 1800, 1L).otherwise(0L))
          .withColumn("sess_seq", sum($"new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"sess_seq")
          .agg(count(lit(1)).as("n_events"),
            min($"ts").as("sess_start"), max($"ts").as("sess_end"),
            dsumGate($"value").as("sess_value"))
      },
      oracle = Some(s"""
        WITH g AS (
          SELECT user_id, ts, event_id, value,
            date_diff('second', lag(ts, 1) OVER
              (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
          FROM events),
        f AS (
          SELECT user_id, ts, value,
            CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END
              AS new_sess, event_id
          FROM g),
        r AS (
          SELECT user_id, ts, value,
            CAST(sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS sess_seq
          FROM f)
        SELECT user_id, sess_seq, count(*) AS n_events,
          min(ts) AS sess_start, max(ts) AS sess_end,
          ${graft.functions.Fns.dsumGateSql("value")} AS sess_value
        FROM r GROUP BY user_id, sess_seq""")),

    // DAILY ACTIVE USERS + 7-day rolling mean — the engagement rollup
    // every trail pipeline publishes: distinct users per day (one
    // dedup + tiny agg), then a 7-row frame over the daily series.
    // The series is one row per day, so the frame is computed over
    // the collected series rather than as a window with no
    // partition key (which Spark plans as one single-partition
    // exchange, and warns about). The rolling mean divides an exact
    // long sum by the frame count — one IEEE op, bit-identical
    // cross-engine.
    "q_evt_dau" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.Row
        val daily = Engine.events(s, dir)
          .select(date_trunc("day", $"ts").as("d"), $"user_id")
          .distinct()
          .groupBy($"d").agg(count(lit(1)).as("dau"))
        val days = daily.orderBy($"d").collect()
        val dau = days.map(_.getLong(1))
        val rows = days.indices.map { i =>
          val frame = dau.slice(math.max(0, i - 6), i + 1)
          Row(days(i).get(0), dau(i),
            frame.sum.toDouble / frame.length.toDouble)
        }
        s.createDataFrame(java.util.Arrays.asList(rows: _*),
          daily.schema.add("avg7", "double"))
      },
      oracle = Some("""
        WITH daily AS (
          SELECT d, count(*) AS dau FROM (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
              user_id FROM events)
          GROUP BY d)
        SELECT d, dau,
          CAST(sum(dau) OVER w AS DOUBLE)
            / CAST(count(dau) OVER w AS DOUBLE) AS avg7
        FROM daily
        WINDOW w AS (ORDER BY d
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""")),

    // INTER-EVENT GAP statistics per event type: the latency/cadence
    // profile (median and p95 seconds between a user's consecutive
    // events of each type) — the ops dashboard metric over the trail.
    // One window pass for the lag gap, one aggregate; percentile's
    // linear interpolation over integer seconds is identical IEEE math
    // in both engines (q_agg_percentile precedent).
    "q_evt_gap_stats" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts", $"event_id")
        Engine.events(s, dir)
          .select($"user_id", $"event_type", $"ts", $"event_id")
          .withColumn("gap_s",
            $"ts".cast("long") - lag($"ts", 1).over(w).cast("long"))
          .filter($"gap_s".isNotNull)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_gaps"),
            expr("percentile(gap_s, 0.5)").as("p50_s"),
            expr("percentile(gap_s, 0.95)").as("p95_s"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT event_type,
            date_diff('second', lag(ts, 1) OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts, event_id), ts) AS gap_s
          FROM events)
        SELECT event_type, count(*) AS n_gaps,
          quantile_cont(gap_s, 0.5) AS p50_s,
          quantile_cont(gap_s, 0.95) AS p95_s
        FROM g WHERE gap_s IS NOT NULL
        GROUP BY event_type""")),

    // Z-SCORE ANOMALY DETECTION per user: flag events whose value sits
    // more than 3 sigma from the user's own mean — the per-entity
    // outlier monitor over the event trail. Stats are exact quantized-
    // long sums (the q_agg_stats pattern, value at 1e4 units) broadcast
    // back onto the scan; per-row z is identical IEEE double math both
    // engines. Users with n < 2 or zero variance are excluded BEFORE
    // the division (NaN compares as greater-than-everything in DuckDB
    // but false in Spark — never let a NaN reach the filter).
    "q_evt_anomaly" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val ev = Engine.events(s, dir)
          .select($"user_id", $"event_id",
            floor($"value" * 10000.0).cast("long").as("vq"))
        val st = ev.groupBy($"user_id")
          .agg(count(lit(1)).cast("double").as("n"),
            sum($"vq").cast("double").as("sx"),
            sum($"vq" * $"vq").cast("double").as("sxx"))
          .filter($"n" >= 2.0)
          .select($"user_id", ($"sx" / $"n").as("mean"),
            sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1.0)).as("std"))
          .filter($"std" > 0.0)
        ev.join(st, "user_id")
          .withColumn("z", ($"vq".cast("double") - $"mean") / $"std")
          .filter(abs($"z") > 3.0)
          .select($"user_id", $"event_id", $"z")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id,
            CAST(floor(value * 10000.0) AS BIGINT) AS vq
          FROM events),
        st AS (
          SELECT user_id, sx / n AS mean,
            sqrt((sxx - sx * sx / n) / (n - 1.0)) AS std
          FROM (SELECT user_id,
                  CAST(count(*) AS DOUBLE) AS n,
                  CAST(CAST(sum(vq) AS BIGINT) AS DOUBLE) AS sx,
                  CAST(CAST(sum(vq * vq) AS BIGINT) AS DOUBLE) AS sxx
                FROM ev GROUP BY user_id)
          WHERE n >= 2.0)
        SELECT user_id, event_id,
          (CAST(vq AS DOUBLE) - mean) / std AS z
        FROM ev JOIN st USING (user_id)
        WHERE std > 0.0 AND abs((CAST(vq AS DOUBLE) - mean) / std) > 3.0""")),

    // Most common 3-step event-type paths per user trail: lag windows
    // over (ts, event_id) total order, then a count-ranked top 10 via
    // TakeOrderedAndProject (seq tiebreak keeps the cut deterministic).
    "q_evt_paths" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Engine.events(s, dir)
          .select($"user_id", $"event_type", $"ts", $"event_id")
          .withColumn("e2", lag($"event_type", 2).over(w))
          .withColumn("e1", lag($"event_type", 1).over(w))
          .filter($"e2".isNotNull)
          .select(concat_ws(">", $"e2", $"e1", $"event_type").as("path"))
          .groupBy($"path").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"path")
          .limit(10)
      },
      oracle = Some("""
        SELECT path, count(*) AS n FROM (
          SELECT concat_ws('>',
            lag(event_type, 2) OVER w, lag(event_type, 1) OVER w,
            event_type) AS path,
            lag(event_type, 2) OVER w AS e2
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        WHERE e2 IS NOT NULL
        GROUP BY path
        ORDER BY n DESC, path LIMIT 10"""))
  )
}
