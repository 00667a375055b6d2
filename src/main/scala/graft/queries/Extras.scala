package graft.queries

import graft.{Engine, QueryDef, QueryModule}
import org.apache.spark.sql.functions._

/** Coverage extras: pivot, min_by/max_by, the SQL entry path (scalar /
  * IN / correlated-EXISTS subqueries through Catalyst decorrelation),
  * explode_outer + inline generators, json_tuple, map entry functions,
  * stratified sampling.
  */
object Extras extends QueryModule {

  /** The sparse-LONG id transform of the dense-BFS gates. */
  private def denseSparseId(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c * lit(1000003L) + lit(17L)

  /** The VARCHAR id transform of the string-id gates. */
  private def denseStrId(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("u"), lpad(c.cast("string"), 12, "0"))

  /** The dense mapping's table name (tag "" = the long-id gate's). */
  private def denseMapTable(dir: String, tag: String = ""): String =
    s"graft_dense_${tag}map_${math.abs(dir.hashCode)}"

  /** The dense-BFS pipeline shared by the long- and string-id gates:
    * orders-derived edges through `idOf` (any type), node set =
    * endpoints ∪ source, mapping AND encoded edges persisted as
    * bucketed write-once artifacts (repeat graph calls on the same
    * node set pay neither encode join — r16), bitmap BFS on [0, N),
    * result decoded to original ids as (node, d). One skeleton, so a
    * fix to the round-trip lands on every id type or none. */
  private def denseBfs(
      s: org.apache.spark.sql.SparkSession, dir: String, tag: String,
      idOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val n = Engine.table(s, dir, "customer").count()
    val raw = Engine.table(s, dir, "orders")
      .select(least($"o_custkey", $"o_orderkey" % n).as("a"),
        greatest($"o_custkey", $"o_orderkey" % n).as("b"))
      .filter($"a" =!= $"b")
      .distinct()
    val sraw = raw.select(idOf($"a").as("a"), idOf($"b").as("b"))
    val sedges = sraw.select($"a".as("src"), $"b".as("dst"))
      .unionByName(sraw.select($"b".as("src"), $"a".as("dst")))
    val sources = s.range(1, 2).select(idOf($"id").as("node"))
    // node set = edge endpoints ∪ sources (a source outside the edge
    // relation must still densify — it settles at d=0)
    val nodes = sedges.select($"src".as("id"))
      .unionByName(sedges.select($"dst".as("id")))
      .unionByName(sources.select($"node".as("id")))
    val mapT = LlmText.writeOnceTable(s, denseMapTable(dir, tag),
      Seq("orig"), graft.operators.Densify.mapping(nodes, "id"))
    // the ENCODED EDGES persist beside the mapping (r16): the two
    // encode joins are build-once work exactly like the mapping
    // itself — every repeat BFS/CC/PageRank call on the same node
    // set reads the bucketed artifact and pays NEITHER join (the
    // r15 perf note; A/B in PLANS.md r16 densab)
    val enc = LlmText.writeOnceTable(s,
      s"graft_dense_${tag}edges_${math.abs(dir.hashCode)}", Seq("src"),
      sedges
        .join(mapT.select($"orig".as("src"), $"dense_id".as("dsrc")),
          Seq("src"))
        .join(mapT.select($"orig".as("dst"), $"dense_id".as("ddst")),
          Seq("dst"))
        .select($"dsrc".as("src"), $"ddst".as("dst")))
    val dsrc = sources
      .join(mapT, sources("node") === mapT("orig"))
      .select($"dense_id".as("node"))
    val dres = graft.operators.Bfs.hopDistanceBitmap(enc, dsrc,
      maxHops = 8, maxId = mapT.count())
    dres.join(mapT, dres("node") === mapT("dense_id"))
      .select($"orig".as("node"), $"d")
  }

  def defs: Vector[(String, QueryDef)] = Vector(

    // Pivot (conditional aggregation under the hood; oracle spells it out).
    "q_agg_pivot" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "lineitem")
          .groupBy($"l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(sum($"l_quantity"))
      },
      oracle = Some("""
        SELECT l_linestatus,
          sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
          sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
          sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        FROM lineitem GROUP BY l_linestatus""")),

    // LATERAL correlated subquery in FROM (SQL surface): top-2 orders
    // PER customer via a correlated ORDER BY ... LIMIT — Catalyst
    // decorrelates the lateral into a window-filter; DuckDB executes the
    // same text natively. Deterministic tiebreak inside the LIMIT.
    "q_sql_lateral" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql(TpchSql.lateral)
      },
      oracle = Some(TpchSql.lateral)),

    // Contingency table (crosstab semantics). Deliberately NOT
    // DataFrameStatFunctions.crosstab: that API collects the distinct
    // (a, b) pair counts to the driver to assemble the wide frame — fine
    // at 3x2, a driver-killer on a high-cardinality pair at 100x. With
    // the category values supplied explicitly, groupBy(a).pivot(b, vals)
    // builds the identical table fully distributed (one partial-agg
    // shuffle, no driver materialization beyond the final rows); empty
    // cells are 0-filled to match crosstab's contract.
    "q_agg_crosstab" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "lineitem")
          .groupBy($"l_returnflag".as("l_returnflag_l_linestatus"))
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("F", "O"))
      },
      oracle = Some("""
        SELECT l_returnflag AS l_returnflag_l_linestatus,
          CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS F,
          CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
            AS BIGINT) AS O
        FROM lineitem GROUP BY l_returnflag""")),

    // Unpivot/melt — the inverse surface: the pivoted wide frame melted
    // back to (status, flag, qty) long form. Dataset.unpivot is a pure
    // row-local generator (each wide row -> 3 long rows, no shuffle
    // beyond the pivot's own agg); nulls from empty cells are dropped to
    // keep the melt lossless-invertible.
    "q_agg_unpivot" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "lineitem")
          .groupBy($"l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(sum($"l_quantity"))
          .unpivot(Array($"l_linestatus"), Array($"A", $"N", $"R"),
            "l_returnflag", "sum_qty")
          .filter($"sum_qty".isNotNull)
      },
      oracle = Some("""
        SELECT l_linestatus, l_returnflag, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_linestatus, l_returnflag""")),

    // min_by / max_by with a deterministic ordering key. The synthetic
    // generator REUSES (l_orderkey, l_linenumber) pairs, so that pair is
    // not unique — the key packs price-cents into the low 24 bits as a
    // tiebreak; since the output IS the price, the winner is fully
    // determined even for exact duplicate keys.
    "q_agg_minby_maxby" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val key = ($"l_orderkey" * 10 + $"l_linenumber") * 16777216L +
          round($"l_extendedprice" * 100).cast("long")
        Engine.table(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            max_by($"l_extendedprice", key).as("price_of_last"),
            min_by($"l_extendedprice", key).as("price_of_first"),
            max(key).as("max_key"))
      },
      oracle = Some("""
        SELECT l_returnflag,
          arg_max(l_extendedprice, (l_orderkey * 10 + l_linenumber) * 16777216
            + CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_of_last,
          arg_min(l_extendedprice, (l_orderkey * 10 + l_linenumber) * 16777216
            + CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_of_first,
          max((l_orderkey * 10 + l_linenumber) * 16777216
            + CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_key
        FROM lineitem GROUP BY l_returnflag""")),

    // PAGERANK, 3 iterations, INTEGER-EXACT: the canonical iterative
    // sparse-matvec beyond connected components — each round is one
    // join (ranks onto edges) + one sum-by-destination shuffle, the
    // exact shape a 1000-executor PageRank runs (per-round lineage is
    // shallow at 3 rounds; a deep fixpoint would localCheckpoint like
    // ConnectedComponents). Ranks are scaled longs (1.0 = 1e12 units)
    // with damping applied as (85 * sum) div 100 — pure integer
    // arithmetic, so both engines produce bit-identical ranks with NO
    // float tolerance anywhere. Edges are derived deterministically
    // from orders (src = o_custkey, dst = o_orderkey % |customer|:
    // out-degree ~10, pseudo-random destinations). Dangling-node mass
    // is dropped (standard simplification) identically on both sides.
    "q_graph_pagerank" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val S = 1000000000000L
        val nodes = Engine.table(s, dir, "customer")
          .select($"c_custkey".as("node"))
        val n = nodes.count()
        // Overflow guard for the integer-exact damping below: the worst
        // case for any single destination's in_sum is the ENTIRE rank
        // mass (n * S units, if every edge pointed at one node), and the
        // Spark side computes 85 * in_sum in Int64 (silent wrap) while
        // DuckDB sums in HUGEINT (loud cast error) — a latent divergence
        // unless the mass bound holds. Fail loudly at the same place on
        // both engines' behalf: n * S * 85 must fit in a signed 64-bit.
        require(n <= Long.MaxValue / 85 / S,
          s"pagerank integer-exact scale bound exceeded: n=$n nodes at " +
            s"S=$S rank units; shrink S to keep 85*in_sum inside Int64")
        val edges = Engine.table(s, dir, "orders")
          .select($"o_custkey".as("src"), ($"o_orderkey" % n).as("dst"))
        val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
        var ranks = nodes.select($"node", lit(S).as("rank"))
        for (_ <- 1 to 3) {
          val sums = edges.join(deg, "src")
            .join(ranks, $"src" === $"node")
            .select($"dst", expr("rank div deg").as("c"))
            .groupBy($"dst").agg(sum($"c").as("in_sum"))
          ranks = nodes.join(sums, $"node" === $"dst", "left")
            .select($"node",
              (lit(15L * S / 100)
                + expr("85 * coalesce(in_sum, CAST(0 AS BIGINT)) div 100"))
                .as("rank"))
        }
        ranks.orderBy($"rank".desc, $"node").limit(20)
      },
      oracle = Some {
        val S = 1000000000000L
        val iters = (1 to 3).map { i =>
          s"""s$i AS (
            SELECT dst, sum(rank // deg) AS in_sum
            FROM edges JOIN deg USING (src)
            JOIN r${i - 1} ON src = node GROUP BY dst),
          r$i AS (
            SELECT node, CAST(${15L * S / 100}
              + (85 * coalesce(in_sum, 0)) // 100 AS BIGINT) AS rank
            FROM nodes LEFT JOIN s$i ON node = dst)"""
        }.mkString(",\n          ")
        s"""
        WITH nodes AS (SELECT c_custkey AS node FROM customer),
        edges AS (
          SELECT o_custkey AS src,
            o_orderkey % (SELECT count(*) FROM customer) AS dst
          FROM orders),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT node, CAST($S AS BIGINT) AS rank FROM nodes),
        $iters
        SELECT node, rank FROM r3
        ORDER BY rank DESC, node LIMIT 20"""
      }),

    // TRIANGLE COUNTING via degree-ordered orientation — the third
    // iterative-graph shape next to ConnectedComponents and PageRank.
    // Each undirected edge is oriented from its lower-(degree, id) to
    // higher-(degree, id) endpoint (materialized as one long key), so
    // every triangle a≺b≺c is counted exactly once as wedge (a→b, a→c)
    // closed by edge b→c — and, the scale property, out-degree is
    // bounded by O(sqrt(m)): the wedge self-join never explodes on a
    // hub node the way a naive neighbor join does. The wedge join is
    // compute-dense and byte-light, so its parallelism is pinned with
    // the user-numbered repartition (the r6 AQE-coalesce lesson).
    // Integer-exact throughout; the oracle replays the identical
    // orientation relationally.
    "q_graph_triangles" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val n = Engine.table(s, dir, "customer").count()
        // node ids stay below the key stride, so k = deg*1e7 + v is a
        // collision-free (degree, id) order key
        require(n < 10000000L, s"triangle key stride needs node ids < 1e7, n=$n")
        val raw = Engine.table(s, dir, "orders")
          .select(least($"o_custkey", $"o_orderkey" % n).as("a"),
            greatest($"o_custkey", $"o_orderkey" % n).as("b"))
          .filter($"a" =!= $"b")
          .distinct()
        val deg = raw.select(explode(array($"a", $"b")).as("v"))
          .groupBy($"v").agg(count(lit(1)).as("deg"))
        val nk = deg.select($"v", ($"deg" * 10000000L + $"v").as("k"))
        val oriented = raw
          .join(nk.select($"v".as("a"), $"k".as("ka")), "a")
          .join(nk.select($"v".as("b"), $"k".as("kb")), "b")
          .select(
            when($"ka" < $"kb", $"a").otherwise($"b").as("src"),
            when($"ka" < $"kb", $"b").otherwise($"a").as("dst"),
            greatest($"ka", $"kb").as("dk"))
          .repartition(s.sparkContext.defaultParallelism * 2, $"src")
        val wedges = oriented.as("x").join(oriented.as("y"),
            col("x.src") === col("y.src") && col("x.dk") < col("y.dk"))
          .select(col("x.dst").as("u"), col("y.dst").as("w"))
        wedges.join(oriented.select($"src".as("u"), $"dst".as("w")),
            Seq("u", "w"))
          .agg(count(lit(1)).as("n_triangles"),
            sum($"u").as("sum_u"), sum($"w").as("sum_w"))
      },
      oracle = Some("""
        WITH raw AS (
          SELECT DISTINCT
            least(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS a,
            greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS b
          FROM orders
          WHERE least(o_custkey, o_orderkey % (SELECT count(*) FROM customer))
            <> greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer))),
        deg AS (
          SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM raw UNION ALL SELECT b FROM raw)
          GROUP BY v),
        nk AS (SELECT v, deg * 10000000 + v AS k FROM deg),
        ori AS (
          SELECT CASE WHEN ka.k < kb.k THEN raw.a ELSE raw.b END AS src,
                 CASE WHEN ka.k < kb.k THEN raw.b ELSE raw.a END AS dst,
                 greatest(ka.k, kb.k) AS dk
          FROM raw JOIN nk ka ON ka.v = raw.a JOIN nk kb ON kb.v = raw.b),
        wed AS (
          SELECT x.dst AS u, y.dst AS w
          FROM ori x JOIN ori y ON x.src = y.src AND x.dk < y.dk)
        SELECT count(*) AS n_triangles,
          CAST(sum(u) AS BIGINT) AS sum_u, CAST(sum(w) AS BIGINT) AS sum_w
        FROM wed JOIN ori z ON z.src = wed.u AND z.dst = wed.w""")),

    // BFS HOP DISTANCE — the fourth iterative-graph shape next to
    // ConnectedComponents, PageRank, and triangles: frontier expansion
    // settles each node exactly once at its minimum hop count from the
    // source (integer-exact, capped at 8 hops on both engines). This
    // graph's node ids are DOMAIN-BOUNDED by construction (every node
    // < max(max custkey, |customer|)), so the query rides the
    // bitmap-frontier formulation (Bfs.hopDistanceBitmap): frontier
    // and settled sets are exact driver-held bitmaps (KBs here, MBs
    // at any TPC-H scale), each round is ONE map-side edge scan — no
    // join, no distinct, no anti-join, no per-round shuffle — and the
    // r13 A/B measured 4.9× over the join-frontier general-graph
    // operator (hopDistance, which remains the unbounded-domain
    // path; grid in PLANS.md r13). Result = per-distance histogram;
    // the oracle replays it as a depth-capped recursive CTE with
    // min-over-walks, which equals hop distance for every node
    // reachable within the cap.
    "q_graph_bfs" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val n = Engine.table(s, dir, "customer").count()
        val maxCust = Engine.table(s, dir, "customer")
          .agg(max($"c_custkey")).head.getLong(0)
        val raw = Engine.table(s, dir, "orders")
          .select(least($"o_custkey", $"o_orderkey" % n).as("a"),
            greatest($"o_custkey", $"o_orderkey" % n).as("b"))
          .filter($"a" =!= $"b")
          .distinct()
        val edges = raw.select($"a".as("src"), $"b".as("dst"))
          .unionByName(raw.select($"b".as("src"), $"a".as("dst")))
        val sources = s.range(1, 2).select($"id".as("node"))
        graft.operators.Bfs.hopDistanceBitmap(edges, sources,
            maxHops = 8, maxId = math.max(maxCust + 1, n))
          .groupBy($"d")
          .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_node"))
      },
      oracle = Some("""
        WITH RECURSIVE raw AS (
          SELECT DISTINCT
            least(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS a,
            greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS b
          FROM orders
          WHERE least(o_custkey, o_orderkey % (SELECT count(*) FROM customer))
            <> greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer))),
        edges AS (
          SELECT a AS src, b AS dst FROM raw
          UNION ALL SELECT b, a FROM raw),
        walk(node, d) AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS d
          UNION
          SELECT e.dst, w.d + 1
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.d < 8)
        SELECT d, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_node
        FROM (SELECT node, min(d) AS d FROM walk GROUP BY node)
        GROUP BY d""")),

    // BFS OVER A SPARSE ID SPACE — the densification path the bitmap
    // formulation's 2^28 cap points to ("densify ids first"), now an
    // operator instead of user homework (the r14 verdict's #3): node
    // ids here are SPARSE by construction (id·1000003 + 17 — max ~1.5
    // e9 at sf0.01, past the bitmap cap, the shape a hash- or
    // UUID-keyed graph has). Pipeline: Densify.mapping builds the
    // deterministic ascending-rank bijection onto [0, N) WITHOUT a
    // global window (range-repartition + per-partition zipWithIndex),
    // persisted once as a bucketed artifact; edges encode through it
    // (two joins — at 100 TB both co-bucketed on the artifact's key);
    // the bitmap BFS runs on the dense domain (N = |nodes|, the
    // smallest domain any id space can densify to); the INVERSE
    // mapping decodes the result back to original ids. The oracle
    // never sees the mapping — it walks the sparse graph directly —
    // so the gate proves the round-trip is lossless, not merely
    // self-consistent.
    "q_graph_bfs_dense" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        denseBfs(s, dir, tag = "", denseSparseId)
          .groupBy($"d")
          .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_node"))
      },
      oracle = Some("""
        WITH RECURSIVE raw AS (
          SELECT DISTINCT
            least(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS a,
            greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS b
          FROM orders
          WHERE least(o_custkey, o_orderkey % (SELECT count(*) FROM customer))
            <> greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer))),
        edges AS (
          SELECT a * 1000003 + 17 AS src, b * 1000003 + 17 AS dst FROM raw
          UNION ALL SELECT b * 1000003 + 17, a * 1000003 + 17 FROM raw),
        walk(node, d) AS (
          SELECT CAST(1000020 AS BIGINT) AS node, 0 AS d
          UNION
          SELECT e.dst, w.d + 1
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.d < 8)
        SELECT d, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_node
        FROM (SELECT node, min(d) AS d FROM walk GROUP BY node)
        GROUP BY d""")),

    // STRING-ID DENSIFICATION — the type the operator's scaladoc
    // promises ("hashes, UUIDs, or sparse keys") gated on its hardest
    // case: Densify.mapping preserves the orig column's TYPE, so a
    // VARCHAR-keyed node set densifies through the same
    // range-repartition + zipWithIndex pass (rank = ascending rank in
    // BINARY string order — the one order both engines share). This
    // gate pins the mapping itself: (orig, dense_id) hash-exact
    // against row_number() OVER (ORDER BY id) − 1 on VARCHAR ids. The
    // spec pins NULL-string rejection (ascending sort would otherwise
    // rank NULL first and shift every real rank).
    "q_graph_densify_str" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val n = Engine.table(s, dir, "customer").count()
        val raw = Engine.table(s, dir, "orders")
          .select(least($"o_custkey", $"o_orderkey" % n).as("a"),
            greatest($"o_custkey", $"o_orderkey" % n).as("b"))
          .filter($"a" =!= $"b")
          .distinct()
        val nodes = raw.select(denseStrId($"a").as("id"))
          .unionByName(raw.select(denseStrId($"b").as("id")))
        LlmText.writeOnceTable(s,
          s"graft_dense_smap_${math.abs(dir.hashCode)}", Seq("orig"),
          graft.operators.Densify.mapping(nodes, "id"))
      },
      oracle = Some("""
        WITH raw AS (
          SELECT DISTINCT
            least(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS a,
            greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS b
          FROM orders
          WHERE least(o_custkey, o_orderkey % (SELECT count(*) FROM customer))
            <> greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer))),
        ids AS (
          SELECT DISTINCT id FROM (
            SELECT 'u' || lpad(CAST(a AS VARCHAR), 12, '0') AS id FROM raw
            UNION ALL
            SELECT 'u' || lpad(CAST(b AS VARCHAR), 12, '0') FROM raw))
        SELECT id AS orig,
          CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS dense_id
        FROM ids""")),

    // BFS OVER STRING IDS — the densify round-trip on a VARCHAR-keyed
    // graph: mapping → encode → bitmap BFS on [0, N) → inverse,
    // result decoded back to the original string ids. The oracle
    // walks the STRING graph directly (recursive CTE on VARCHAR) and
    // never sees the mapping — lossless round-trip, not mere
    // self-consistency. min/max over the per-distance node sets are
    // the string-typed stand-ins for the long gate's sum_node.
    "q_graph_bfs_dense_str" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        denseBfs(s, dir, tag = "s_", denseStrId)
          .groupBy($"d")
          .agg(count(lit(1)).as("n_nodes"),
            min($"node").as("min_node"), max($"node").as("max_node"))
      },
      oracle = Some("""
        WITH RECURSIVE raw AS (
          SELECT DISTINCT
            least(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS a,
            greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer)) AS b
          FROM orders
          WHERE least(o_custkey, o_orderkey % (SELECT count(*) FROM customer))
            <> greatest(o_custkey, o_orderkey % (SELECT count(*) FROM customer))),
        edges AS (
          SELECT 'u' || lpad(CAST(a AS VARCHAR), 12, '0') AS src,
                 'u' || lpad(CAST(b AS VARCHAR), 12, '0') AS dst FROM raw
          UNION ALL
          SELECT 'u' || lpad(CAST(b AS VARCHAR), 12, '0'),
                 'u' || lpad(CAST(a AS VARCHAR), 12, '0') FROM raw),
        walk(node, d) AS (
          SELECT 'u' || lpad('1', 12, '0') AS node, 0 AS d
          UNION
          SELECT e.dst, w.d + 1
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.d < 8)
        SELECT d, count(*) AS n_nodes,
          min(node) AS min_node, max(node) AS max_node
        FROM (SELECT node, min(d) AS d FROM walk GROUP BY node)
        GROUP BY d""")),

    // The SQL entry path (E2' with spark.sql): scalar subquery, IN
    // subquery, and correlated EXISTS — Catalyst decorrelates all three.
    "q_sql_subqueries" -> QueryDef(
      fn = (s, dir) => {
        Engine.registerAll(s, dir)
        s.sql("""
          SELECT c_mktsegment, count(*) AS n
          FROM customer
          WHERE c_custkey IN (SELECT o_custkey FROM orders
                              WHERE o_totalprice > 400000.0)
            AND EXISTS (SELECT 1 FROM nation
                        WHERE n_nationkey = c_nationkey AND n_regionkey <= 2)
            AND c_acctbal > (SELECT min(c_acctbal) FROM customer)
          GROUP BY c_mktsegment""")
      },
      oracle = Some("""
        SELECT c_mktsegment, count(*) AS n
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 400000.0)
          AND EXISTS (SELECT 1 FROM nation
                      WHERE n_nationkey = c_nationkey AND n_regionkey <= 2)
          AND c_acctbal > (SELECT min(c_acctbal) FROM customer)
        GROUP BY c_mktsegment""")),

    // explode_outer keeps rows whose generator input is empty (NULL row).
    "q_row_explode_outer" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .withColumn("long_words",
            filter(split($"text", " "), w => length(w) >= 8))
          .select($"doc_id", explode_outer($"long_words").as("w"))
      },
      oracle = Some("""
        SELECT doc_id, unnest(lw2) AS w FROM (
          SELECT doc_id,
            CASE WHEN len(lw) = 0 THEN [NULL] ELSE lw END AS lw2
          FROM (SELECT doc_id,
                  list_filter(string_split(text, ' '),
                    w -> length(w) >= 8) AS lw
                FROM documents))""")),

    // inline: expand an array of structs into columns + rows.
    "q_row_inline" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select(inline(array(
            struct($"doc_id".as("id"), lit("orig").as("tag")),
            struct(($"doc_id" + 100000L).as("id"), lit("shadow").as("tag")))))
      },
      oracle = Some("""
        SELECT doc_id AS id, 'orig' AS tag FROM documents
        UNION ALL
        SELECT doc_id + 100000, 'shadow' FROM documents""")),

    // json_tuple (multi-field JSON extraction generator).
    "q_fn_json_tuple" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "events")
          .select($"event_id", json_tuple($"props", "k").as("k_str"))
      },
      oracle = Some("""
        SELECT event_id, json_extract_string(props, '$.k') AS k_str
        FROM events""")),

    // map_entries / map_from_entries / map_concat (entry-level roundtrip;
    // outputs flattened to deterministic scalars/arrays).
    "q_fn_map_entries" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "events")
          .withColumn("m", map_concat(
            map(lit("type"), $"event_type"),
            map(lit("id"), $"user_id".cast("string"))))
          .withColumn("ents", map_entries($"m"))
          .withColumn("m2", map_from_entries($"ents"))
          .select(
            $"event_id",
            array_join(transform($"ents",
              e => concat(e.getField("key"), lit("="), e.getField("value"))),
              "|").as("ents"),
            concat_ws(",", array_sort(map_keys($"m2"))).as("keys2"),
            element_at($"m2", "type").as("type2"))
      },
      oracle = Some("""
        SELECT event_id,
          'type=' || event_type || '|id=' || CAST(user_id AS VARCHAR) AS ents,
          'id,type' AS keys2,
          event_type AS type2
        FROM events""")),

    // Custom whole-operator path (logical node + strategy + physical
    // exec): per-group top-k by bounded heaps instead of a full window
    // sort. Total order (price desc, orderkey) keeps it deterministic.
    "q_custom_group_topk" -> QueryDef(
      fn = (s, dir) => {
        val o = Engine.table(s, dir, "orders")
        graft.plans.GroupTopK(o, Seq("o_orderpriority"),
          Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 3)
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority
        FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rn <= 3""")),

    // Stratified sampling (seeded, engine-specific RNG): assertion-
    // oracled like q_row_sample — per-stratum source counts and 6-sigma
    // binomial bounds are recomputed by DuckDB from the same table
    // (hash-matched arithmetic), while Spark verifies the sample's
    // properties distributedly: per-stratum size within bounds and
    // every sampled row present in its stratum (anti-join count 0).
    "q_row_sample_by" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val fr = Map("A" -> 0.05, "N" -> 0.1, "R" -> 0.05)
        val li = Engine.table(s, dir, "lineitem")
        val cols = Seq($"l_returnflag", $"l_orderkey", $"l_linenumber")
        val src = li.select(cols: _*)
        val samp = li.stat.sampleBy("l_returnflag", fr, 42L).select(cols: _*)
        val nSrc = src.groupBy($"l_returnflag").agg(count(lit(1)).as("n_src"))
        val nSamp = samp.groupBy($"l_returnflag").agg(count(lit(1)).as("n_samp"))
        val notIn = samp
          .join(src, Seq("l_returnflag", "l_orderkey", "l_linenumber"), "left_anti")
          .groupBy($"l_returnflag").agg(count(lit(1)).as("bad"))
        val f = element_at(typedLit(fr), $"l_returnflag")
        val lo = col("n_src") * f - lit(6.0) * sqrt(col("n_src") * f * (lit(1) - f))
        val hi = col("n_src") * f + lit(6.0) * sqrt(col("n_src") * f * (lit(1) - f))
        nSrc.join(nSamp, Seq("l_returnflag"))
          .join(notIn, Seq("l_returnflag"), "left")
          .select($"l_returnflag", $"n_src", lo.as("lo"), hi.as("hi"),
            ($"n_samp" >= lo && $"n_samp" <= hi).as("in_bounds"),
            coalesce($"bad", lit(0L)).as("not_in_src"))
      },
      oracle = Some("""
        WITH f(flag, fr) AS (VALUES
          ('A', CAST(0.05 AS DOUBLE)),
          ('N', CAST(0.1  AS DOUBLE)),
          ('R', CAST(0.05 AS DOUBLE))),
        s AS (SELECT l_returnflag, count(*) AS n_src
              FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n_src,
          n_src * fr - 6.0 * sqrt(n_src * fr * (1 - fr)) AS lo,
          n_src * fr + 6.0 * sqrt(n_src * fr * (1 - fr)) AS hi,
          TRUE AS in_bounds,
          CAST(0 AS BIGINT) AS not_in_src
        FROM s JOIN f ON f.flag = s.l_returnflag"""))
  )
}
