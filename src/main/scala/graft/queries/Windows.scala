package graft.queries

import graft.{Engine, QueryDef, QueryModule}
import graft.functions.Fns.dsum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Analytic window functions + sort/limit/top-k (SURVEY.md §2B-5/6).
  *
  * Determinism rules used throughout:
  *   - rank/dense_rank/percent_rank/cume_dist depend only on ORDER BY key
  *     VALUES, so they are deterministic even with ties;
  *   - row_number/ntile/lag/lead need a TOTAL order -> always include a
  *     unique tiebreaker key in their window's ORDER BY;
  *   - windowed sums of doubles route through DECIMAL (DuckDB's segment
  *     tree associates differently than Spark's running accumulation).
  *
  * Scale: one shuffle per distinct partitioning; frames evaluated
  * streaming per partition — no state blowup.
  */
object Windows extends QueryModule {

  def defs: Vector[(String, QueryDef)] = Vector(

    // Ranking family; bucketed order key produces real ties.
    "q_win_rank" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val o = Engine.table(s, dir, "orders")
          .withColumn("bucket", floor($"o_totalprice" / 10000))
        val wTies = Window.partitionBy($"o_orderpriority").orderBy($"bucket")
        val wTotal = Window.partitionBy($"o_orderpriority")
          .orderBy($"bucket", $"o_orderkey")
        o.select(
          $"o_orderkey", $"o_orderpriority", $"bucket",
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"),
          percent_rank().over(wTies).as("prnk"),
          cume_dist().over(wTies).as("cdist"),
          row_number().over(wTotal).as("rn"),
          ntile(4).over(wTotal).as("quartile"))
      },
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority, bucket,
          rank() OVER w1 AS rnk,
          dense_rank() OVER w1 AS drnk,
          percent_rank() OVER w1 AS prnk,
          cume_dist() OVER w1 AS cdist,
          row_number() OVER w2 AS rn,
          ntile(4) OVER w2 AS quartile
        FROM (SELECT *, CAST(floor(o_totalprice / 10000) AS BIGINT) AS bucket
              FROM orders)
        WINDOW
          w1 AS (PARTITION BY o_orderpriority ORDER BY bucket),
          w2 AS (PARTITION BY o_orderpriority ORDER BY bucket, o_orderkey)""")),

    // lag/lead with per-customer order history.
    "q_win_lag" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        Engine.table(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
          lag($"o_totalprice", 1).over(w).as("prev_price"),
          lead($"o_totalprice", 1).over(w).as("next_price"),
          ($"o_totalprice" - lag($"o_totalprice", 1).over(w)).as("delta_prev"))
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
          o_totalprice,
          lag(o_totalprice, 1) OVER w AS prev_price,
          lead(o_totalprice, 1) OVER w AS next_price,
          o_totalprice - lag(o_totalprice, 1) OVER w AS delta_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    // Frames: running totals (decimal-routed) + moving min/max/count.
    "q_win_frames" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val moving = w.rowsBetween(-2, Window.currentRow)
        Engine.table(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          dsum($"o_totalprice").over(running)
            .cast(DoubleType).as("running_total"),
          count(lit(1)).over(running).as("running_n"),
          min($"o_totalprice").over(moving).as("moving_min"),
          max($"o_totalprice").over(moving).as("moving_max"),
          // value-RANGE frame (vs the row-count frames above): peers are
          // rows within 1000 price units, independent of row position
          count(lit(1)).over(Window.partitionBy($"o_custkey")
            .orderBy($"o_totalprice").rangeBetween(-1000L, 0L))
            .as("n_within_1000"))
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(28,10)))
            OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS running_total,
          count(*) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS running_n,
          min(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS moving_min,
          max(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS moving_max,
          count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    // first/last/nth over an explicit full frame.
    "q_win_firstlast" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Engine.table(s, dir, "orders").select(
          $"o_orderkey", $"o_orderpriority",
          first($"o_totalprice").over(w).as("top_price"),
          last($"o_totalprice").over(w).as("bottom_price"),
          nth_value($"o_totalprice", 2).over(w).as("second_price"))
      },
      oracle = Some("""
        SELECT o_orderkey, o_orderpriority,
          first_value(o_totalprice) OVER w AS top_price,
          last_value(o_totalprice) OVER w AS bottom_price,
          nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),

    // RUNNING DISTINCT COUNT ("new items seen so far"): count(DISTINCT)
    // isn't a window function, but first-occurrence flags (row_number
    // over the per-(entity, item) order == 1) summed over the running
    // frame compute it exactly — the discovery-curve formulation that
    // scales (two window passes, no per-row set state).
    "q_win_running_distinct" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val wfirst = Window.partitionBy($"user_id", $"event_type")
          .orderBy($"ts", $"event_id")
        val wrun = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Engine.events(s, dir)
          .select($"user_id", $"event_id", $"event_type", $"ts")
          .withColumn("is_new",
            when(row_number().over(wfirst) === 1, 1L).otherwise(0L))
          .withColumn("types_seen", sum($"is_new").over(wrun))
          .select($"user_id", $"event_id", $"types_seen")
      },
      oracle = Some("""
        SELECT user_id, event_id,
          CAST(sum(is_new) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS types_seen
        FROM (
          SELECT user_id, event_id, ts,
            CASE WHEN row_number() OVER (
              PARTITION BY user_id, event_type
              ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS is_new
          FROM events)""")),

    // LOCF forward-fill (last observation carried forward): gap-fill a
    // sparse measure column with the most recent non-null value per
    // entity — the time-series repair pass before feature extraction.
    // last(ignoreNulls) over a running frame; nulls injected
    // deterministically so the fill is load-bearing.
    "q_win_locf" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Engine.events(s, dir)
          .select($"user_id", $"event_id", $"ts",
            when($"event_id" % 5 === 0, lit(null).cast("double"))
              .otherwise($"value").as("v"))
          .withColumn("v_filled", last($"v", ignoreNulls = true).over(w))
          .select($"user_id", $"event_id", $"v", $"v_filled")
      },
      oracle = Some("""
        SELECT user_id, event_id, v,
          last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        FROM (SELECT user_id, event_id, ts,
                CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
              FROM events)""")),

    // LINEAR INTERPOLATION between the surrounding observations — the
    // LOCF sibling for continuous measures: a null sample is
    // reconstructed from the previous and next non-null points weighted
    // by time distance. Two window passes (backward last + forward
    // first, both ignoreNulls) share the same partitioning; the blend is
    // plain per-row IEEE math mirrored term-for-term. Degenerate cases
    // (no neighbor on either side, zero time gap) resolve BEFORE the
    // division, so no NaN/Inf ever reaches the output.
    "q_win_interpolate" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val back = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val fwd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(1, Window.unboundedFollowing)
        Engine.events(s, dir)
          .select($"user_id", $"event_id", $"ts",
            $"ts".cast("long").as("tsl"),
            when($"event_id" % 5 === 0, lit(null).cast("double"))
              .otherwise($"value").as("v"))
          .withColumn("pv", last($"v", ignoreNulls = true).over(back))
          .withColumn("ptl", last(when($"v".isNotNull, $"tsl"),
            ignoreNulls = true).over(back))
          .withColumn("nv", first($"v", ignoreNulls = true).over(fwd))
          .withColumn("ntl", first(when($"v".isNotNull, $"tsl"),
            ignoreNulls = true).over(fwd))
          .withColumn("v_interp",
            when($"v".isNotNull, $"v")
              .when($"pv".isNull || $"nv".isNull, lit(null).cast("double"))
              .when($"ntl" === $"ptl", $"pv")
              .otherwise($"pv" + ($"nv" - $"pv")
                * (($"tsl" - $"ptl").cast("double")
                  / ($"ntl" - $"ptl").cast("double"))))
          .select($"user_id", $"event_id", $"v", $"v_interp")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, ts,
            CAST(date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
              AS BIGINT) AS tsl,
            CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
          FROM events),
        w AS (
          SELECT user_id, event_id, v, tsl,
            last_value(v IGNORE NULLS) OVER wb AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN tsl END IGNORE NULLS)
              OVER wb AS ptl,
            first_value(v IGNORE NULLS) OVER wf AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN tsl END IGNORE NULLS)
              OVER wf AS ntl
          FROM e
          WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            wf AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        SELECT user_id, event_id, v,
          CASE WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL OR nv IS NULL THEN NULL
               WHEN ntl = ptl THEN pv
               ELSE pv + (nv - pv)
                 * (CAST(tsl - ptl AS DOUBLE) / CAST(ntl - ptl AS DOUBLE))
          END AS v_interp
        FROM w""")),

    // Per-group top-k (row_number <= k).
    "q_win_topk_group" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal".desc, $"c_custkey")
        Engine.table(s, dir, "customer")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3)
          .select($"c_mktsegment", $"rn", $"c_custkey", $"c_name", $"c_acctbal")
      },
      oracle = Some("""
        SELECT c_mktsegment, rn, c_custkey, c_name, c_acctbal FROM (
          SELECT *, row_number() OVER (PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer) WHERE rn <= 3""")),

    // Global top-k: Spark plans TakeOrderedAndProject (no full sort).
    "q_sort_topk_global" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "lineitem")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .limit(100)
          .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    // Multi-key sort with explicit NULL placement (nulls manufactured
    // via nullif) + limit.
    "q_sort_nulls" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "orders")
          .withColumn("status_np", nullif($"o_orderstatus", lit("P")))
          .orderBy($"status_np".asc_nulls_first, $"o_totalprice".desc, $"o_orderkey")
          .limit(50)
          .select($"o_orderkey", $"status_np", $"o_totalprice")
      },
      oracle = Some("""
        SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np, o_totalprice
        FROM orders
        ORDER BY nullif(o_orderstatus, 'P') ASC NULLS FIRST,
                 o_totalprice DESC, o_orderkey
        LIMIT 50"""))
  )
}
