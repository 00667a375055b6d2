package graft.queries

import graft.{Engine, QueryDef, QueryModule}
import graft.functions.Fns._
import org.apache.spark.sql.functions._

/** Multi-join analytical headliners in TPC-H Q3/Q5 shape: the plans that
  * exercise Catalyst's join ordering, broadcast selection, and partial
  * aggregation across 3- and 5-way joins — the backbone shapes of a
  * 100 TB warehouse workload.
  */
/** SQL texts that run IDENTICALLY on Spark and DuckDB (shared ANSI
  * subset, exact quantized/decimal arithmetic) — the engine side submits
  * the same string through spark.sql, so the oracle is the text itself.
  */
private[queries] object TpchSql {

  /** Q17 shape: note DuckDB rounds double→bigint casts while Spark
    * truncates — quantities are integral-valued doubles (dataset
    * invariant), so the comparison threshold is the only float path and
    * it routes through the exact decimal average. */
  val q17: String = """
    SELECT CAST(CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
          AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
      count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'PROMO'
      AND lineitem.l_quantity < (
        SELECT 0.2 * (CAST(CAST(sum(CAST(l2.l_quantity AS DECIMAL(28,10)))
            AS DECIMAL(18,6)) AS DOUBLE) / count(l2.l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)"""

  val q18: String = """
    SELECT c_custkey, c_name, o.o_orderkey,
      CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
      o.o_totalprice, t.sum_qty
    FROM (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
          AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 250) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer ON c_custkey = o.o_custkey"""

  val q15: String = """
    WITH rev AS (
      SELECT l_suppkey,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
          * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
          AS BIGINT) AS rev_units
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
      CAST(rev_units AS DOUBLE) / 10000.0 AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE rev_units = (SELECT max(rev_units) FROM rev)"""

  /** Top-2 orders per high-balance customer via a LATERAL correlated
    * subquery with ORDER BY + LIMIT — runs identically on both engines.
    */
  val lateral: String = """
    SELECT c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) o
    WHERE c_acctbal > 9000.0"""

  /** Q2 shape: min-cost supplier per part in a region — the supply
    * relation is proxied by (l_partkey, l_suppkey, min price) from
    * lineitem (no partsupp table in the test schema); min over doubles
    * is exact, so the correlated-min equality is bit-safe. The ORDER BY
    * key (s_name, p_partkey unique per row) makes the LIMIT
    * deterministic.
    */
  val q2: String = """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, cost
    FROM ps
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND r_name = 'ASIA'
      AND cost = (
        SELECT min(ps2.cost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'ASIA')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100"""

  /** Q11 shape: parts whose supply value exceeds a fraction of the
    * national total — scalar-subquery threshold over the same aggregate
    * CTE. The comparison is PURE INTEGER (v * 1000 > total) on exact
    * quantized units: no float crosses the engines.
    */
  val q11: String = """
    WITH val AS (
      SELECT l_partkey,
        CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
          * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
          AS BIGINT) AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l_partkey)
    SELECT l_partkey AS p_partkey, CAST(v AS DOUBLE) / 10000.0 AS part_value
    FROM val
    WHERE v * 1000 > (SELECT CAST(sum(v) AS BIGINT) FROM val)"""

  /** Q16 shape: supplier diversity per part attribute — distinct
    * (part, supplier) pairs from lineitem (partsupp proxy), a NOT IN
    * null-aware anti subquery excluding flagged suppliers (negative
    * balance proxies the complaints predicate), count-distinct per
    * (brand, type, size).
    */
  val q16: String = """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size"""

  /** Q21 shape: suppliers who were the SOLE late shipper on a
    * multi-supplier finished order — EXISTS + NOT EXISTS self-joins on
    * the fact table, both correlated on l_orderkey with residual
    * predicates (the not-exists also references the outer order's date).
    * Lateness is proxied by shipdate > orderdate + 700 days (no
    * commit/receipt dates in the test schema; 700 sits between the
    * corpus's p50 and p90 ship gaps).
    */
  val q21: String = """
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 700 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 700 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25"""
}

object Tpch extends QueryModule {

  def defs: Vector[(String, QueryDef)] = Vector(

    // Q3 shape: shipping priority — 3-way join, filtered both ends,
    // revenue top-10.
    "q3_shipping" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val c = Engine.table(s, dir, "customer")
          .filter($"c_mktsegment" === "BUILDING")
        val o = Engine.table(s, dir, "orders")
          .filter($"o_orderdate" < lit("1998-03-15").cast("timestamp"))
        val l = Engine.table(s, dir, "lineitem")
          .filter($"l_shipdate" > lit("1996-03-15").cast("timestamp"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
          .agg(qrev($"l_extendedprice", $"l_discount").as("revenue"))
          .orderBy($"revenue".desc, $"l_orderkey")
          .limit(10)
      },
      oracle = Some(s"""
        SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
          o_orderpriority,
          ${qrevSql("l_extendedprice", "l_discount")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      headline = true),

    // Q5 shape: local supplier volume — 5-way join through the full
    // star (dims broadcast, facts shuffled on keys).
    "q5_local_supplier" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val r = Engine.table(s, dir, "region")
        val n = Engine.table(s, dir, "nation")
        val c = Engine.table(s, dir, "customer")
        val o = Engine.table(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp")
            && $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        val l = Engine.table(s, dir, "lineitem")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy($"r_name", $"n_name")
          .agg(
            qrev($"l_extendedprice", $"l_discount").as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      oracle = Some(s"""
        SELECT r_name, n_name,
          ${qrevSql("l_extendedprice", "l_discount")} AS revenue,
          count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY r_name, n_name"""),
      headline = true),

    // The custom DotProduct expression through the SQL surface:
    // `GraftExtensions` installs it in every `Engine.session`, and the
    // query calls it from SQL text (B-11 row: custom Expression exposed
    // as a SQL function).
    "q_sql_dot_product" -> QueryDef(
      fn = (s, dir) => {
        Engine.table(s, dir, "embeddings").createOrReplaceTempView("emb_v")
        s.sql("""
          SELECT vec_id, label,
            dot_product(CAST(embedding AS ARRAY<DOUBLE>),
                        CAST(embedding AS ARRAY<DOUBLE>)) AS norm2
          FROM emb_v""")
      },
      oracle = Some("""
        SELECT vec_id, label,
          list_reduce(list_prepend(0.0, list_transform(
            list_transform(embedding, x -> CAST(x AS DOUBLE)),
            x -> x * x)), (a, b) -> a + b) AS norm2
        FROM embeddings""")),

    // Q7 shape: volume between customer-nation pairs through the full
    // order chain, yearly buckets.
    "q7_nation_volume" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val n1 = Engine.table(s, dir, "nation")
          .select($"n_nationkey".as("cust_nk"), $"n_name".as("cust_nation"))
        val n2 = Engine.table(s, dir, "nation")
          .select($"n_nationkey".as("supp_nk"), $"n_name".as("supp_nation"))
        val c = Engine.table(s, dir, "customer")
        val sup = Engine.table(s, dir, "supplier")
        val o = Engine.table(s, dir, "orders")
        val l = Engine.table(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp")
            && $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n1), c("c_nationkey") === $"cust_nk")
          .join(broadcast(n2), sup("s_nationkey") === $"supp_nk")
          .filter($"cust_nation" < $"supp_nation")
          .groupBy($"cust_nation", $"supp_nation",
            year($"l_shipdate").as("ship_year"))
          .agg(qrev($"l_extendedprice", $"l_discount").as("volume"),
            count(lit(1)).as("n_lines"))
      },
      oracle = Some(s"""
        SELECT cust_nation, supp_nation, ship_year,
          ${qrevSql("l_extendedprice", "l_discount")} AS volume,
          count(*) AS n_lines
        FROM (
          SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
            CAST(year(l_shipdate) AS INT) AS ship_year,
            l_extendedprice, l_discount
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            AND n1.n_name < n2.n_name)
        GROUP BY cust_nation, supp_nation, ship_year""")),

    // Q20 shape: nested correlated subqueries — suppliers whose stockable
    // parts saw above-average shipped quantity (exercises two levels of
    // decorrelation through the SQL entry path).
    "q20_excess_suppliers" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql("""
          SELECT s_suppkey, s_name
          FROM supplier
          WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            GROUP BY l_suppkey, l_partkey
            HAVING sum(l_quantity) > (
              SELECT 4.0 * avg(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = lineitem.l_partkey))""")
      },
      oracle = Some("""
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          GROUP BY l_suppkey, l_partkey
          HAVING sum(l_quantity) > (
            SELECT 4.0 * avg(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = lineitem.l_partkey))""")),

    // Q10 shape: returned-item customers — revenue from 'R' lineitems per
    // customer, top 20 (fact-fact shuffle join, dims broadcast, global
    // top-k via TakeOrderedAndProject).
    "q10_returned_items" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val l = Engine.table(s, dir, "lineitem").filter($"l_returnflag" === "R")
        val o = Engine.table(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp")
            && $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        val c = Engine.table(s, dir, "customer")
        val n = Engine.table(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy($"c_custkey", $"c_name", $"n_name")
          .agg(qrev($"l_extendedprice", $"l_discount").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"revenue".desc, $"c_custkey")
          .limit(20)
      },
      oracle = Some(s"""
        SELECT c_custkey, c_name, n_name,
          ${qrevSql("l_extendedprice", "l_discount")} AS revenue,
          count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // Q12 shape: conditional aggregation — count urgent vs non-urgent
    // order lines per return flag (sum-of-CASE, single shuffle).
    "q12_priority_class" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val l = Engine.table(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp")
            && $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
        val o = Engine.table(s, dir, "orders")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy($"l_returnflag")
          .agg(
            sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(!$"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("low_line_count"))
      },
      oracle = Some("""
        SELECT l_returnflag,
          CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
              THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag""")),

    // Q14 shape: promo revenue share — ratio of two conditional exact
    // sums (both gated to double before the division, which is then
    // plain bounded-magnitude IEEE arithmetic).
    "q14_promo_share" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val l = Engine.table(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-09-01").cast("timestamp")
            && $"l_shipdate" < lit("1996-10-01").cast("timestamp"))
        val p = Engine.table(s, dir, "part")
        l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
          .agg(
            (sum(when($"p_type" === "PROMO",
              revUnits($"l_extendedprice", $"l_discount")).otherwise(lit(0L)))
              .cast(org.apache.spark.sql.types.DoubleType) / 10000.0).as("promo_rev"),
            qrev($"l_extendedprice", $"l_discount").as("total_rev"))
          .select(
            (lit(100.0) * $"promo_rev" / $"total_rev").as("promo_share"),
            $"promo_rev", $"total_rev")
      },
      oracle = Some {
        val promo = "CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
          revUnitsSql("l_extendedprice", "l_discount") +
          " ELSE 0 END) AS BIGINT) AS DOUBLE) / 10000.0"
        val total = qrevSql("l_extendedprice", "l_discount")
        s"""
        WITH t AS (
          SELECT $promo AS promo_rev, $total AS total_rev
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')
        SELECT 100.0 * promo_rev / total_rev AS promo_share,
          promo_rev, total_rev
        FROM t"""
      }),

    // Q19 shape: disjunction of conjunctive bands as the join residual —
    // Catalyst extracts the common equi key (l_partkey = p_partkey) so
    // this stays a broadcast hash join with an OR-of-ANDs filter, not a
    // nested-loop over the cross product.
    "q19_disjunctive_pred" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val l = Engine.table(s, dir, "lineitem")
        val p = Engine.table(s, dir, "part")
        l.join(broadcast(p), l("l_partkey") === p("p_partkey")
          && ((p("p_brand") === "Brand#12" && p("p_size").between(1, 15)
                && l("l_quantity").between(1, 11))
            || (p("p_brand") === "Brand#23" && p("p_size").between(1, 25)
                && l("l_quantity").between(10, 20))
            || (p("p_brand") === "Brand#34" && p("p_size").between(1, 35)
                && l("l_quantity").between(20, 30))))
          .agg(qrev($"l_extendedprice", $"l_discount").as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      oracle = Some(s"""
        SELECT ${qrevSql("l_extendedprice", "l_discount")} AS revenue,
          count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)""")),

    // Q9 shape: profit by supplier nation and order year (no partsupp
    // table in the test data, so unit cost is proxied by
    // p_retailprice * 0.1 — same expression on both engines).
    "q9_profit_nation" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val l = Engine.table(s, dir, "lineitem")
        val o = Engine.table(s, dir, "orders")
        val p = Engine.table(s, dir, "part").filter($"p_type".isin("PROMO", "ECONOMY"))
        val sup = Engine.table(s, dir, "supplier")
        val n = Engine.table(s, dir, "nation")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(p), l("l_partkey") === p("p_partkey"))
          .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy($"n_name".as("nation"), year($"o_orderdate").as("o_year"))
          // profit units at scale 1e4: revUnits - retail_cents x qty x 10
          // (retailprice x qty x 0.1 = retail_cents x qty x 10 / 1e4, exact)
          .agg((sum(revUnits($"l_extendedprice", $"l_discount")
            - floor($"p_retailprice" * 100.0 + 0.5)
              .cast(org.apache.spark.sql.types.LongType)
              * $"l_quantity".cast(org.apache.spark.sql.types.LongType) * lit(10L))
            .cast(org.apache.spark.sql.types.DoubleType) / 10000.0).as("profit"))
      },
      oracle = Some(s"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
          CAST(CAST(sum(${revUnitsSql("l_extendedprice", "l_discount")}
            - CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
              * CAST(l_quantity AS BIGINT) * 10) AS BIGINT) AS DOUBLE) / 10000.0
            AS profit
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type IN ('PROMO', 'ECONOMY')
        GROUP BY n_name, year(o_orderdate)""")),

    // Q6 shape: forecast revenue — pure scan-aggregate, no join. The
    // plan that proves pushdown: both date bounds, the discount band,
    // and the quantity cap all reach the parquet scan as PushedFilters,
    // and the whole query is one WholeStageCodegen over a 2-column read.
    "q6_forecast_revenue" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.types.{DoubleType, LongType}
        Engine.table(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp")
            && $"l_shipdate" < lit("1997-01-01").cast("timestamp")
            && $"l_discount".between(0.05, 0.07)
            && $"l_quantity" < 24.0)
          // revenue = price * discount, exact: cents x pct at scale 1e4
          .agg((sum(floor($"l_extendedprice" * 100.0 + 0.5).cast(LongType)
              * floor($"l_discount" * 100.0 + 0.5).cast(LongType))
            .cast(DoubleType) / 10000.0).as("revenue"),
            count(lit(1)).as("n_lines"))
      },
      oracle = Some("""
        SELECT CAST(CAST(sum(
            CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
            * CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))
          AS BIGINT) AS DOUBLE) / 10000.0 AS revenue,
          count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
          AND l_quantity < 24.0""")),

    // Q4 shape: order-priority checking — correlated EXISTS over the
    // fact table (no l_commitdate/l_receiptdate in the test schema, so
    // the late-delivery predicate is proxied by l_shipdate > o_orderdate;
    // same shape: EXISTS decorrelates to a left-semi hash join on
    // l_orderkey with the correlated comparison as the join residual).
    "q4_order_priority" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql("""
          SELECT o_orderpriority, count(*) AS order_count
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
            AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
          GROUP BY o_orderpriority""")
      },
      oracle = Some("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority""")),

    // Q13 shape: customer order-count distribution — LEFT OUTER join
    // (filter on the preserved-null side pre-applied to orders), then
    // two aggregations: per-customer count (co-partitioned with the join
    // shuffle, so no extra exchange), then the tiny distribution agg.
    "q13_order_distribution" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val c = Engine.table(s, dir, "customer").select($"c_custkey")
        val o = Engine.table(s, dir, "orders")
          .filter($"o_orderpriority" =!= "1-URGENT")
          .select($"o_custkey", $"o_orderkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).as("custdist"))
      },
      oracle = Some("""
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count""")),

    // Q22 shape: high-balance customers with no large orders — scalar subquery
    // threshold (exact decimal average, so both engines compute the
    // identical double before the comparison) + NOT EXISTS anti join,
    // grouped by a nationkey-derived country-code proxy (no c_phone in
    // the test schema).
    "q22_global_sales_opportunity" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql("""
          SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
            count(*) AS numcust,
            CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10)))
              AS DECIMAL(18,6)) AS DOUBLE) AS totacctbal
          FROM customer
          WHERE c_acctbal > (
              SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10)))
                  AS DECIMAL(18,6)) AS DOUBLE) / count(c_acctbal)
              FROM customer WHERE c_acctbal > 0.0)
            AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
          GROUP BY c_nationkey % 5""")
      },
      oracle = Some("""
        SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
          count(*) AS numcust,
          CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10)))
            AS DECIMAL(18,6)) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10)))
                AS DECIMAL(18,6)) AS DOUBLE) / count(c_acctbal)
            FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        GROUP BY c_nationkey % 5""")),

    // Q17 shape: small-quantity-order revenue — correlated scalar AVG
    // subquery per part, decorrelated by Catalyst into an aggregate +
    // join (no per-row probe). Threshold arithmetic routes through the
    // exact decimal average so both engines compare against the
    // identical double.
    "q17_small_qty_revenue" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q17)
      },
      oracle = Some(TpchSql.q17)),

    // Q18 shape: large-volume orders — groupBy-HAVING on the fact table,
    // then join the qualifying keys back to orders + customer (the
    // having-set is tiny relative to the fact table, so the join back is
    // broadcast-able at scale).
    "q18_large_orders" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q18)
      },
      oracle = Some(TpchSql.q18)),

    // Q15 shape: top supplier by windowed revenue — aggregated CTE used
    // twice (join + scalar MAX subquery); revenue is exact quantized
    // units so the equality against the max is bit-safe cross-engine.
    "q15_top_supplier" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q15)
      },
      oracle = Some(TpchSql.q15)),

    // Q2 shape: min-cost supplier per part — correlated scalar-min
    // subquery over the supply CTE, decorrelated by Catalyst into an
    // aggregate + join back; the dims (part filter, nation, region)
    // broadcast and the supply aggregation is the only big shuffle.
    "q2_min_cost_supplier" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q2)
      },
      oracle = Some(TpchSql.q2)),

    // Q8 shape: national market share within a region per order year —
    // the widest star in the set (lineitem against part, orders,
    // customer, two nation roles, region), with a conditional-ratio
    // aggregate. All dims broadcast; the fact table shuffles once for
    // the (o_year) aggregation. The share is a single double division
    // of two exact unit sums, so it is bit-identical cross-engine.
    "q8_market_share" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val li = Engine.table(s, dir, "lineitem").select($"l_partkey",
          $"l_suppkey", $"l_orderkey",
          revUnits($"l_extendedprice", $"l_discount").as("rev_units"))
        val part = Engine.table(s, dir, "part")
          .filter($"p_type" === "PROMO").select($"p_partkey")
        val ord = Engine.table(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("o_year"))
        val cust = Engine.table(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey")
        val cnat = Engine.table(s, dir, "nation")
          .select($"n_nationkey".as("c_nkey"), $"n_regionkey")
        val reg = Engine.table(s, dir, "region")
          .filter($"r_name" === "ASIA").select($"r_regionkey")
        val supp = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey")
        val snat = Engine.table(s, dir, "nation")
          .select($"n_nationkey".as("s_nkey"), $"n_name".as("supp_nation"))
        li.join(broadcast(part), $"l_partkey" === $"p_partkey")
          .join(ord, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .join(broadcast(cnat), $"c_nationkey" === $"c_nkey")
          .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
          .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
          .join(broadcast(snat), $"s_nationkey" === $"s_nkey")
          .groupBy($"o_year")
          .agg(
            sum(when($"supp_nation" === "NATION_5", $"rev_units")
              .otherwise(0L)).as("nat_units"),
            sum($"rev_units").as("all_units"))
          .select($"o_year", $"nat_units", $"all_units",
            ($"nat_units".cast("double") / $"all_units".cast("double"))
              .as("mkt_share"))
      },
      oracle = Some(s"""
        SELECT o_year, nat_units, all_units,
          CAST(nat_units AS DOUBLE) / CAST(all_units AS DOUBLE) AS mkt_share
        FROM (
          SELECT year(o_orderdate) AS o_year,
            CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
              THEN ${revUnitsSql("l_extendedprice", "l_discount")}
              ELSE 0 END) AS BIGINT) AS nat_units,
            CAST(sum(${revUnitsSql("l_extendedprice", "l_discount")})
              AS BIGINT) AS all_units
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE p_type = 'PROMO' AND r_name = 'ASIA'
          GROUP BY year(o_orderdate))""")),

    // Q11 shape: important parts by national supply value — HAVING-style
    // filter against a scalar subquery over the same aggregate CTE.
    "q11_important_parts" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q11)
      },
      oracle = Some(TpchSql.q11)),

    // Q16 shape: supplier diversity per part attribute — NOT IN
    // null-aware anti join + count distinct.
    "q16_supplier_diversity" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q16)
      },
      oracle = Some(TpchSql.q16)),

    // Q21 shape: sole late shipper on multi-supplier orders — EXISTS +
    // NOT EXISTS self-joins on the fact table (left-semi and left-anti
    // hash joins on l_orderkey after decorrelation).
    "q21_waiting_suppliers" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.q21)
      },
      oracle = Some(TpchSql.q21)),

    // Q21 scale-safe rewrite: the decorrelated EXISTS/NOT-EXISTS plan
    // above scans lineitem three times and self-joins the fact table
    // twice — at 100 TB those sides stop broadcasting and become two full
    // fact shuffles. This variant derives the same answer from ONE
    // lineitem scan: classify each line late/on-time against its order's
    // date, reduce to (order, supplier) grain (map-side partial agg eats
    // the fan-in), then to order grain — an order qualifies iff it has
    // >= 2 suppliers and EXACTLY ONE of them shipped late; every late
    // line then belongs to that sole supplier, so its late-line count is
    // the order's numwait contribution. Two orderkey-clustered shuffles
    // (pair agg reuses the first's partitioning prefix) replace the two
    // fact-fact semi/anti joins. Oracle = the original q21 SQL, so the
    // gate proves the rewrite hash-matches the subquery formulation.
    "q21_waiting_suppliers_fast" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val orders = Engine.table(s, dir, "orders")
          .filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate")
        val lines = Engine.table(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
          .join(orders, $"l_orderkey" === $"o_orderkey")
          .select($"l_orderkey", $"l_suppkey",
            ($"l_shipdate" > date_add($"o_orderdate", 700)).as("late"))
        val perPair = lines
          .groupBy($"l_orderkey", $"l_suppkey")
          .agg(
            max(when($"late", 1).otherwise(0)).as("any_late"),
            sum(when($"late", 1L).otherwise(0L)).as("late_lines"))
        val soleLate = perPair
          .groupBy($"l_orderkey")
          .agg(
            count(lit(1)).as("n_supp"),
            sum($"any_late").as("n_late_supp"),
            max(when($"any_late" === 1, $"l_suppkey")).as("late_supp"),
            sum(when($"any_late" === 1, $"late_lines")).as("late_supp_lines"))
          .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
        val supplier = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_name")
        soleLate
          .join(supplier, $"late_supp" === $"s_suppkey")
          .groupBy($"s_name")
          .agg(sum($"late_supp_lines").as("numwait"))
          .orderBy($"numwait".desc, $"s_name")
          .limit(25)
      },
      oracle = Some(TpchSql.q21)),

    // Custom TypedImperativeAggregate: exact sorted distinct-set per
    // group (the imperative-buffer extension point for sketches).
    // Gate output is the ','-joined set (raw arrays crash the external
    // comparator); the raw-array form is covered in OperatorSpec.
    "q_agg_imperative_set" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(graft.plans.DistinctSetAgg($"l_suppkey").as("raw_set"),
            count(lit(1)).as("n"))
          .select($"l_returnflag",
            array_join(transform($"raw_set", _.cast("string")), ",").as("supp_set"),
            $"n")
      },
      oracle = Some("""
        SELECT l_returnflag,
          array_to_string(list_transform(
            list(DISTINCT l_suppkey ORDER BY l_suppkey),
            x -> CAST(x AS VARCHAR)), ',') AS supp_set,
          count(*) AS n
        FROM lineitem GROUP BY l_returnflag"""))
  )
}
