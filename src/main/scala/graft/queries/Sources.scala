package graft.queries

import java.nio.file.Files
import graft.{Engine, QueryDef, QueryModule}
import graft.functions.Fns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Source/sink surface (SURVEY.md §2B-1): CSV and JSON scans, partitioned
  * parquet sinks, and the streaming parquet sink — each exercised as a
  * write-then-read round trip whose final aggregate is oracle-checked
  * against the original parquet table (so the formats themselves are on
  * the hot path, not just declared).
  *
  * Round-trip temp outputs are cached per (sfDir) — identical across
  * repeated bench runs.
  */
object Sources extends QueryModule {

  private val dirs = scala.collection.concurrent.TrieMap[String, String]()

  private def tempFor(tag: String, dir: String): String =
    dirs.getOrElseUpdate(s"$tag:$dir",
      graft.streaming.Replay.removedAtExit(s"graft_$tag"))

  /** The shared three-version TxLog history artifact (build-once per
    * JVM, the standard artifact lifecycle): v0 appends even suppliers,
    * v1 appends odd, v2 COW-deletes nationkey%5==0 — consumed by
    * q_src_txlog_timetravel (per-version reads) and
    * q_src_txlog_changes (the v0→v2 change feed). */
  private def txlogHistory(s: org.apache.spark.sql.SparkSession,
                           dir: String): String = {
    import s.implicits._
    import graft.operators.TxLog
    val table = tempFor("txlog", dir)
    val src = Engine.table(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
    if (TxLog.version(table) < 0) {
      TxLog.append(s, src.filter($"s_suppkey" % 2 === 0), table) // v0
      TxLog.append(s, src.filter($"s_suppkey" % 2 === 1), table) // v1
      TxLog.deleteWhere(s, table, $"s_nationkey" % 5 === 0)      // v2
    }
    table
  }

  private def parquetFileCount(path: String): Int = {
    val fs = new java.io.File(path)
      .listFiles()
    if (fs == null) 0
    else fs.count(f => f.getName.endsWith(".parquet") && f.length() > 0)
  }

  def defs: Vector[(String, QueryDef)] = Vector(

    // CSV sink + scan round trip (header, explicit schema on read —
    // never infer in production: inference is a full extra pass).
    "q_src_csv_roundtrip" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("csv", dir)
        val src = Engine.table(s, dir, "nation")
        src.write.mode("overwrite").option("header", "true").csv(out)
        s.read.schema(src.schema).option("header", "true").csv(out)
          .groupBy($"n_regionkey")
          .agg(count(lit(1)).as("n"), min($"n_name").as("first_nation"))
      },
      oracle = Some("""
        SELECT n_regionkey, count(*) AS n, min(n_name) AS first_nation
        FROM nation GROUP BY n_regionkey""")),

    // ORC sink + scan round trip (the other columnar format Spark ships
    // natively; same vectorized-reader + pushdown path as parquet).
    "q_src_orc_roundtrip" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("orc", dir)
        val src = Engine.table(s, dir, "part")
        src.write.mode("overwrite").orc(out)
        s.read.schema(src.schema).orc(out)
          .filter($"p_size" <= 10) // pushed to the ORC scan
          .groupBy($"p_brand")
          .agg(count(lit(1)).as("n"), min($"p_retailprice").as("min_price"))
      },
      oracle = Some("""
        SELECT p_brand, count(*) AS n, min(p_retailprice) AS min_price
        FROM part WHERE p_size <= 10 GROUP BY p_brand""")),

    // Plain-text sink + scan round trip: one line per doc, tab-framed
    // id prefix, recovered by a limit-2 split on read (doc text is
    // newline/tab-free in this corpus — the framing a text-format
    // pipeline must guarantee, since the format has no escaping).
    "q_src_text_roundtrip" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("text", dir)
        Engine.table(s, dir, "documents")
          .select(concat_ws("\t", $"doc_id".cast("string"), $"text")
            .as("value"))
          .write.mode("overwrite").text(out)
        val parts = split(col("value"), "\t", 2)
        s.read.text(out)
          .select(parts.getItem(0).cast("long").as("doc_id"),
            length(parts.getItem(1)).cast("long").as("n_chars_rt"))
      },
      oracle = Some("""
        SELECT doc_id, length(text) AS n_chars_rt FROM documents""")),

    // JSON sink + scan round trip.
    "q_src_json_roundtrip" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("json", dir)
        val src = Engine.table(s, dir, "supplier")
        src.write.mode("overwrite").json(out)
        s.read.schema(src.schema).json(out)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"), sum($"s_acctbal".cast("decimal(28,10)"))
            .cast("double").as("sum_bal"))
      },
      oracle = Some("""
        SELECT s_nationkey, count(*) AS n,
          CAST(sum(CAST(s_acctbal AS DECIMAL(28,10))) AS DOUBLE) AS sum_bal
        FROM supplier GROUP BY s_nationkey""")),

    // Hive-style partitioned parquet sink + partition-pruned scan: the
    // filter on the partition column prunes directories (verified by the
    // PartitionFilters entry in the plan).
    "q_src_partitioned_parquet" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("ppq", dir)
        // write-once per JVM (the q_src_bucketed pattern): the operator
        // under test is the partition-PRUNED scan; re-writing the
        // partitioned layout every run would measure the setup instead
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          Engine.table(s, dir, "lineitem")
            .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        }
        s.read.parquet(out)
          .filter($"l_returnflag" === "R") // partition pruning
          .groupBy($"l_linestatus")
          .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum_qty"))
      },
      oracle = Some("""
        SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_linestatus""")),

    // DYNAMIC partition pruning: the fact table is partitioned on ship
    // year and joined to a dim whose filter is on a NON-key attribute
    // (per-year urgent-order count), so no static rewrite can turn it
    // into a partition predicate — the years to keep only exist at
    // RUNTIME, after the dim side executes. Spark's DPP runs the
    // (broadcast) dim first and injects its year set into the fact
    // scan's partition filters, so the fact side never reads the
    // pruned years' files at all. At 100 TB this is THE star-join scan
    // reducer: the selective dim decides which partitions of the big
    // table exist for this query. `dynamicpruningexpression` in the
    // scan is plan-asserted in OperatorSpec.
    "q_src_dpp" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("dpp", dir)
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          Engine.table(s, dir, "lineitem")
            .withColumn("ship_year", year($"l_shipdate"))
            .write.mode("overwrite").partitionBy("ship_year").parquet(out)
        }
        val fact = s.read.parquet(out)
        // parity of the urgent count = a stand-in for any genuinely
        // selective dim attribute; deterministic at every SF
        val dim = Engine.table(s, dir, "orders")
          .groupBy(year($"o_orderdate").as("y"))
          .agg(count(when($"o_orderpriority" === "1-URGENT", 1)).as("urg"))
          .filter($"urg" % 2 === 0)
          .select($"y")
        fact.join(dim, fact("ship_year") === dim("y"))
          .groupBy($"y")
          .agg(count(lit(1)).as("n"),
            sum(floor($"l_extendedprice" * 100.0 + 0.5).cast("long"))
              .as("rev_cents"))
      },
      oracle = Some("""
        WITH dim AS (
          SELECT year(o_orderdate) AS y,
            count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urg
          FROM orders GROUP BY 1),
        sel AS (SELECT y FROM dim WHERE urg % 2 = 0)
        SELECT y, count(*) AS n,
          CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS rev_cents
        FROM lineitem JOIN sel ON year(l_shipdate) = sel.y
        GROUP BY y""")),

    // Small-file COMPACTION — the lakehouse maintenance op a streaming
    // ingest forces at scale (every micro-batch drops a file per
    // partition; scans die by open()/footer overhead long before they
    // die by bytes). Fragment the table into 64 splinter files, compact
    // with a round-robin repartition to 4 right-sized files, then
    // aggregate THROUGH the compacted layout. File counts before/after
    // are asserted (64 -> 4) so the compaction is load-bearing, not
    // decorative; the aggregate proves the rewrite lost nothing.
    "q_src_compaction" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val frag = tempFor("frag", dir)
        val compact = tempFor("compact", dir)
        val src = Engine.table(s, dir, "orders")
        if (!new java.io.File(compact, "_SUCCESS").exists()) {
          src.repartition(64).write.mode("overwrite").parquet(frag)
          val parts = s.read.parquet(frag)
          require(parquetFileCount(frag) == 64,
            s"fragmentation produced ${parquetFileCount(frag)} files")
          parts.repartition(4).write.mode("overwrite").parquet(compact)
          require(parquetFileCount(compact) == 4,
            s"compaction produced ${parquetFileCount(compact)} files")
        }
        // money sums as exact cent-quantized longs: status groups are so
        // coarse that a decimal-gated double sum exceeds the 9e9
        // bit-exact bound at sf0.1 (dgate raises loudly by design)
        s.read.parquet(compact)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"),
            min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      },
      oracle = Some(s"""
        SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents,
          min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM orders GROUP BY o_orderstatus""")),

    // APPEND sink mode — incremental ingest: two writes into one layout
    // (initial load + a later delta with mode("append")) must read back
    // as their union. The split is deterministic so the oracle is the
    // whole table.
    "q_src_append" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("append", dir)
        val src = Engine.table(s, dir, "supplier")
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          src.filter($"s_suppkey" % 2 === 0)
            .write.mode("overwrite").parquet(out)
          src.filter($"s_suppkey" % 2 === 1)
            .write.mode("append").parquet(out)
        }
        s.read.parquet(out)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"),
            Fns.dsumGate($"s_acctbal").as("sum_bal"))
      },
      oracle = Some(s"""
        SELECT s_nationkey, count(*) AS n,
          ${Fns.dsumGateSql("s_acctbal")} AS sum_bal
        FROM supplier GROUP BY s_nationkey""")),

    // DYNAMIC PARTITION OVERWRITE — the insert-overwrite a warehouse
    // backfill runs: rewriting one partition's data must leave every
    // other partition untouched (static mode would truncate the whole
    // table). The R partition is rewritten with zeroed quantities; the
    // readback aggregate proves A/N survived intact and R was replaced.
    "q_src_dynamic_overwrite" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("dynover", dir)
        val src = Engine.table(s, dir, "lineitem")
          .select($"l_returnflag", $"l_linestatus", $"l_quantity")
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          src.write.mode("overwrite")
            .partitionBy("l_returnflag").parquet(out)
          val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try src.filter($"l_returnflag" === "R")
            .withColumn("l_quantity", lit(0.0))
            .write.mode("overwrite")
            .partitionBy("l_returnflag").parquet(out)
          finally s.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev)
        }
        s.read.parquet(out)
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum_qty"))
      },
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n,
          sum(CASE WHEN l_returnflag = 'R' THEN 0.0
                   ELSE l_quantity END) AS sum_qty
        FROM lineitem GROUP BY l_returnflag""")),

    // CORRUPT-RECORD QUARANTINE — schema-enforced JSON ingest with bad
    // lines routed, not dropped: PERMISSIVE parse captures malformed
    // records in _corrupt while good rows parse normally, and the
    // ingest report counts both streams (losing bad lines silently is
    // how a 100 TB crawl ingest corrupts its accounting). Every 7th
    // line is deterministically mangled so the oracle can replay the
    // split from the clean table.
    "q_src_quarantine" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("quar", dir)
        Engine.table(s, dir, "supplier")
          .select(when($"s_suppkey" % 7 === 0,
              concat(lit("{corrupt "), $"s_suppkey".cast("string")))
            .otherwise(to_json(struct($"s_suppkey", $"s_acctbal")))
            .as("value"))
          .write.mode("overwrite").text(out)
        // parse via from_json over a text scan rather than the raw JSON
        // reader: the raw reader forbids plans whose pruned columns are
        // ONLY the corrupt column (e.g. a count() over this query);
        // from_json carries no such restriction and keeps the identical
        // PERMISSIVE + _corrupt routing semantics
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "s_suppkey LONG, s_acctbal DOUBLE, _corrupt STRING")
        s.read.text(out)
          .select(from_json($"value", schema,
            Map("mode" -> "PERMISSIVE",
              "columnNameOfCorruptRecord" -> "_corrupt")).as("r"))
          .groupBy($"r._corrupt".isNull.as("ok"))
          .agg(count(lit(1)).as("n"),
            sum(floor($"r.s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("cents"))
      },
      oracle = Some("""
        SELECT s_suppkey % 7 <> 0 AS ok, count(*) AS n,
          CAST(sum(CASE WHEN s_suppkey % 7 <> 0
            THEN CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) END)
            AS BIGINT) AS cents
        FROM supplier GROUP BY s_suppkey % 7 <> 0""")),

    // UPSERT (merge-into) semantics on an immutable columnar store: the
    // copy-on-write rewrite every parquet-backed warehouse runs for CDC
    // apply — matched keys take the update's values, unmatched updates
    // insert, everything else carries over. One full-outer join on the
    // key, coalesce per column; at scale the join shuffles both sides
    // once (or neither, on a bucketed layout — q_src_bucketed's point).
    // The updates batch is deterministic (+10% price on every 7th order,
    // 50 fresh synthetic orders), so the oracle replays the same merge.
    "q_src_upsert" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val base = Engine.table(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        // Insert keys start ABOVE the live key range (max + id), not at
        // a fixed constant: o_orderkey reaches ~6M*sf, so any hardcoded
        // base collides with real keys at a large enough SF and turns
        // the inserts into duplicate-key fan-out in the merge join. The
        // max() is a one-row scalar fetch, same cost class as a count().
        val maxKey = base.agg(max($"o_orderkey")).first().getLong(0)
        val updates = base.filter($"o_orderkey" % 7 === 0)
          .select($"o_orderkey", lit("U").as("o_orderstatus"),
            ($"o_totalprice" * 1.1).as("o_totalprice"))
          .unionByName(s.range(1, 51).select(
            ($"id" + maxKey).as("o_orderkey"),
            lit("N").as("o_orderstatus"),
            ($"id" * 100.0).as("o_totalprice")))
        base.as("t").join(updates.as("u"), Seq("o_orderkey"), "full_outer")
          .select($"o_orderkey",
            coalesce($"u.o_orderstatus", $"t.o_orderstatus")
              .as("o_orderstatus"),
            coalesce($"u.o_totalprice", $"t.o_totalprice")
              .as("o_totalprice"))
          .groupBy($"o_orderstatus")
          // cent-quantized exact sum (see q_src_compaction note)
          .agg(count(lit(1)).as("n"),
            sum(floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
      },
      oracle = Some(s"""
        WITH updates AS (
          SELECT o_orderkey, 'U' AS o_orderstatus,
            o_totalprice * 1.1 AS o_totalprice
          FROM orders WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT (SELECT max(o_orderkey) FROM orders) + r.range,
            'N', r.range * 100.0
          FROM range(1, 51) r),
        merged AS (
          SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
            coalesce(u.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
            coalesce(u.o_totalprice, t.o_totalprice) AS o_totalprice
          FROM orders t FULL OUTER JOIN updates u
            ON t.o_orderkey = u.o_orderkey)
        SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM merged GROUP BY o_orderstatus""")),

    // TABLE DIFF (CDC extract): given two versions of a table, emit the
    // per-key change log — inserts, deletes, and updates with old/new
    // values. The dual of q_src_upsert: a full-outer join classifying
    // each key by presence and value inequality. Version 2 is derived
    // deterministically from orders (drop every 13th key, re-price every
    // 7th), so both engines diff identical inputs.
    "q_src_table_diff" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val v1 = Engine.table(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice")
        val v2 = v1.filter($"o_orderkey" % 13 =!= 0)
          .select($"o_orderkey",
            when($"o_orderkey" % 7 === 0, $"o_totalprice" * 1.1)
              .otherwise($"o_totalprice").as("o_totalprice"))
        v1.as("a").join(v2.as("b"), Seq("o_orderkey"), "full_outer")
          .withColumn("op",
            when($"b.o_totalprice".isNull, "D")
              .when($"a.o_totalprice".isNull, "I")
              .when($"a.o_totalprice" =!= $"b.o_totalprice", "U"))
          .filter($"op".isNotNull)
          .select($"o_orderkey", $"op",
            $"a.o_totalprice".as("old_price"),
            $"b.o_totalprice".as("new_price"))
      },
      oracle = Some("""
        WITH v2 AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                 ELSE o_totalprice END AS o_totalprice
          FROM orders WHERE o_orderkey % 13 <> 0)
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN b.o_orderkey IS NULL THEN 'D'
               WHEN a.o_orderkey IS NULL THEN 'I'
               WHEN a.o_totalprice <> b.o_totalprice THEN 'U' END AS op,
          a.o_totalprice AS old_price, b.o_totalprice AS new_price
        FROM orders a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
        WHERE (b.o_orderkey IS NULL OR a.o_orderkey IS NULL
               OR a.o_totalprice <> b.o_totalprice)""")),

    // LOG-BACKED TABLE (graft.operators.TxLog): ACID-on-parquet via an
    // ordered transaction log — atomic commits, optimistic concurrency,
    // snapshot isolation, TIME TRAVEL, file-granular copy-on-write
    // delete. Three commits build the table (append evens, append odds,
    // COW-delete one nation group); the query reads ALL THREE versions
    // back through the log and aggregates each — so the oracle replays
    // the same history from the base table and every versioned state is
    // hash-checked, not just the head. Conflict/atomicity semantics are
    // unit-tested in OperatorSpec.
    "q_src_txlog_timetravel" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = txlogHistory(s, dir)
        (0 to 2).map { v =>
          TxLog.read(s, table, Some(v))
            .agg(count(lit(1)).as("n"),
              sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
                .as("sum_cents"))
            .select(lit(v).as("version"), $"n", $"sum_cents")
        }.reduce(_ unionByName _)
      },
      oracle = Some("""
        SELECT 0 AS version, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM supplier WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT 1, count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM supplier
        UNION ALL
        SELECT 2, count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM supplier WHERE s_nationkey % 5 <> 0""")),

    // DATA-SKIPPING READ through the log's per-file min/max statistics:
    // the table is written range-clustered on s_suppkey with
    // statsCol-indexed commits, and the key-range read prunes files at
    // the LOG level before Spark ever lists them (on top of parquet's
    // own row-group pruning). At 100 TB this turns a key-range query
    // from "scan the table" into "scan the overlapping files". File
    // pruning (not just row filtering) is asserted in OperatorSpec.
    "q_src_txlog_skipping" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txskip", dir)
        if (TxLog.version(table) < 0) {
          val src = Engine.table(s, dir, "supplier")
            .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
            .repartitionByRange(8, $"s_suppkey")
          TxLog.append(s, src, table, statsCols = Seq("s_suppkey"))
        }
        TxLog.readPruned(s, table, "s_suppkey", 3L, 7L)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
      },
      oracle = Some("""
        SELECT s_nationkey, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM supplier WHERE s_suppkey BETWEEN 3 AND 7
        GROUP BY s_nationkey""")),

    // MERGE-ON-READ DELETE through the transaction log: two
    // deleteWhereMor commits record DELETION VECTORS — (file, physical
    // row position) parquet artifacts attached to the affected files in
    // the log — instead of rewriting any data file (the COW contrast is
    // q_src_txlog_timetravel's v2). Reads apply the mask as a left-anti
    // join on (file, pos); the two deletes COMPOSE (the second masks
    // rows the first left visible); the change feed surfaces dv commits
    // as exactly the deleted rows; the stats-pruned read masks too.
    // At 100 TB this is the trickle-delete path: commit cost is
    // O(deleted rows), not O(affected files) of rewrite I/O.
    // No-rewrite at file grain is asserted in OperatorSpec.
    "q_src_txlog_mor" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txmor", dir)
        if (TxLog.version(table) < 0) {
          val src = Engine.table(s, dir, "supplier")
            .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
            .repartitionByRange(4, $"s_suppkey")
          TxLog.append(s, src, table, statsCols = Seq("s_suppkey")) // v0
          TxLog.deleteWhereMor(s, table, $"s_nationkey" % 4 === 1)  // v1
          TxLog.deleteWhereMor(s, table, $"s_suppkey" % 10 === 0)   // v2
        }
        def agg0(df: org.apache.spark.sql.DataFrame, part: String) = df
          .agg(count(lit(1)).as("n"),
            coalesce(sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long")),
              lit(0L)).as("sum_cents"))
          .select(lit(part).as("part"), $"n", $"sum_cents")
        agg0(TxLog.read(s, table), "snapshot")
          .unionByName(agg0(TxLog.changes(s, table, 0, 2)
            .filter($"_change" === "delete")
            .drop("_change"), "cdc_deletes"))
          .unionByName(agg0(TxLog.readPruned(s, table, "s_suppkey", 3L, 50L),
            "pruned"))
      },
      oracle = Some("""
        SELECT 'snapshot' AS part, count(*) AS n,
          CAST(coalesce(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS sum_cents
        FROM supplier
        WHERE s_nationkey % 4 <> 1 AND s_suppkey % 10 <> 0
        UNION ALL
        SELECT 'cdc_deletes', count(*),
          CAST(coalesce(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)), 0)
            AS BIGINT)
        FROM supplier
        WHERE s_nationkey % 4 = 1 OR s_suppkey % 10 = 0
        UNION ALL
        SELECT 'pruned', count(*),
          CAST(coalesce(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)), 0)
            AS BIGINT)
        FROM supplier
        WHERE s_nationkey % 4 <> 1 AND s_suppkey % 10 <> 0
          AND s_suppkey BETWEEN 3 AND 50""")),

    // DV MAINTENANCE POLICY (merge-on-read's second half): trickle MOR
    // deletes mask files unevenly; optimizeDvCompact materializes ONLY
    // the files whose masked fraction crossed the threshold, leaving
    // light masks in place — read cost stays flat as deletes
    // accumulate, rewrite cost stays O(heavily-masked files). The
    // compact is content-neutral, proven in-query: the change feed
    // across the compact commit must be EMPTY (exceptAll cancellation
    // over the rewritten files), and every read path answers
    // identically after it. File-level rewrite selectivity is asserted
    // in OperatorSpec (exactly the past-threshold file rewritten).
    "q_src_txlog_dv_compact" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txdvc", dir)
        if (TxLog.version(table) < 0) {
          val src = Engine.table(s, dir, "supplier")
            .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
            .repartitionByRange(4, $"s_suppkey")
          TxLog.append(s, src, table, statsCols = Seq("s_suppkey")) // v0
          // heavy deletes on the low half of the key range (75% of the
          // low files at any sf), a trickle everywhere
          val half = Engine.table(s, dir, "supplier")
            .agg(max($"s_suppkey")).first().getLong(0) / 2 // scalar metadata
          TxLog.deleteWhereMor(s, table,
            $"s_suppkey" % 4 =!= 0 && $"s_suppkey" <= half)         // v1
          TxLog.deleteWhereMor(s, table, $"s_suppkey" % 31 === 0)   // v2
          val vPre = TxLog.version(table)
          val vPost = TxLog.optimizeDvCompact(s, table, 0.5)
          require(vPost > vPre, "expected at least one file past 0.5")
        }
        def agg0(df: org.apache.spark.sql.DataFrame, part: String) = df
          .agg(count(lit(1)).as("n"),
            coalesce(sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long")),
              lit(0L)).as("sum_cents"))
          .select(lit(part).as("part"), $"n", $"sum_cents")
        val vPost = TxLog.version(table)
        agg0(TxLog.read(s, table), "snapshot")
          .unionByName(agg0(TxLog.changes(s, table, vPost - 1, vPost),
            "compact_cdc"))
          .unionByName(agg0(TxLog.readPruned(s, table, "s_suppkey", 3L, 60L),
            "pruned"))
      },
      oracle = Some("""
        SELECT 'snapshot' AS part, count(*) AS n,
          CAST(coalesce(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)), 0)
            AS BIGINT) AS sum_cents
        FROM supplier
        WHERE NOT (s_suppkey % 4 <> 0 AND s_suppkey <=
            (SELECT CAST(floor(max(s_suppkey) / 2) AS BIGINT) FROM supplier))
          AND s_suppkey % 31 <> 0
        UNION ALL
        SELECT 'compact_cdc', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT 'pruned', count(*),
          CAST(coalesce(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)), 0)
            AS BIGINT)
        FROM supplier
        WHERE NOT (s_suppkey % 4 <> 0 AND s_suppkey <=
            (SELECT CAST(floor(max(s_suppkey) / 2) AS BIGINT) FROM supplier))
          AND s_suppkey % 31 <> 0 AND s_suppkey BETWEEN 3 AND 60""")),

    // NON-ADDITIVE SCHEMA EVOLUTION via field-id mapping: rename the
    // key, widen an int to long, drop a column and re-add its NAME
    // (fresh id — old values must NOT resurrect), then append under the
    // new schema. Every mutation is a metadata-only commit (no data
    // rewrite at any table size); pre-mutation files resolve by id on
    // read, time travel renders each version under its own schema, and
    // data skipping survives the rename (the pruned part translates
    // the current name back to each file's write-time stats key). The
    // oracle reconstructs all three parts relationally from supplier.
    "q_src_txlog_schema_map" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        import org.apache.spark.sql.types.{DoubleType, LongType}
        val table = tempFor("txschema", dir)
        val src = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey".cast("int").as("nation"),
            $"s_acctbal")
        val maxKey = src.agg(max($"s_suppkey")).first().getLong(0) // scalar
        val half = maxKey / 2
        if (TxLog.version(table) < 0) {
          TxLog.append(s, src.repartitionByRange(4, $"s_suppkey"), table,
            statsCols = Seq("s_suppkey"))                          // v0
          TxLog.renameColumn(s, table, "s_suppkey", "supp_id")     // v1
          TxLog.widenColumn(s, table, "nation", LongType)          // v2
          TxLog.dropColumn(s, table, "s_acctbal")                  // v3
          TxLog.addColumn(s, table, "s_acctbal", DoubleType)       // v4
          TxLog.append(s, s.range(1, 11).select(
            ($"id" + maxKey).as("supp_id"),
            ($"id" % 5).cast("long").as("nation"),
            ($"id" * 10.0).as("s_acctbal")).repartition(1), table) // v5
        }
        def agg0(df: org.apache.spark.sql.DataFrame, part: String) = df
          .agg(count(lit(1)).as("n"),
            coalesce(sum($"nation"), lit(0L)).cast("long").as("sum_nation"),
            count($"s_acctbal").as("cnt_bal"),
            coalesce(sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long")),
              lit(0L)).as("sum_cents"))
          .select(lit(part).as("part"), $"n", $"sum_nation", $"cnt_bal",
            $"sum_cents")
        agg0(TxLog.read(s, table), "snapshot")
          .unionByName(agg0(
            TxLog.readPruned(s, table, "supp_id", 3L, half), "pruned"))
          .unionByName(agg0(TxLog.read(s, table, Some(0)), "time_travel"))
      },
      oracle = Some("""
        WITH nn AS (SELECT s_suppkey,
            CAST(CAST(s_nationkey AS INTEGER) AS BIGINT) AS nat, s_acctbal
          FROM supplier)
        SELECT 'snapshot' AS part,
          (SELECT count(*) FROM nn) + 10 AS n,
          (SELECT CAST(sum(nat) AS BIGINT) FROM nn) + 20 AS sum_nation,
          CAST(10 AS BIGINT) AS cnt_bal,
          CAST(55000 AS BIGINT) AS sum_cents
        UNION ALL
        SELECT 'pruned', count(*), CAST(sum(nat) AS BIGINT),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM nn
        WHERE s_suppkey BETWEEN 3 AND
          (SELECT CAST(floor(max(s_suppkey) / 2) AS BIGINT) FROM supplier)
        UNION ALL
        SELECT 'time_travel', count(*), CAST(sum(nat) AS BIGINT), count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        FROM nn""")),

    // FILE-GRANULAR MERGE through the transaction log: re-price every
    // 7th supplier and insert 20 fresh rows in ONE TxLog.merge — only
    // the files containing a matched key are rewritten (left-semi file
    // discovery), the rest carry over by reference in the log, and the
    // insert keys derive from max(s_suppkey) so the scheme is collision-
    // free at any SF (same policy as q_src_upsert). The oracle replays
    // the identical merge relationally. File-granularity is asserted in
    // OperatorSpec (q_src_upsert remains the log-free COW contrast).
    "q_src_txlog_merge" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txmerge", dir)
        val src = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
        if (TxLog.version(table) < 0) {
          TxLog.append(s, src.repartitionByRange(8, $"s_suppkey"), table)
          val maxKey = src.agg(max($"s_suppkey")).first().getLong(0)
          val updates = src.filter($"s_suppkey" % 7 === 0)
            .select($"s_suppkey", $"s_nationkey",
              ($"s_acctbal" * 1.1).as("s_acctbal"))
            .unionByName(s.range(1, 21).select(
              ($"id" + maxKey).as("s_suppkey"),
              ($"id" % 5).cast("int").as("s_nationkey"),
              ($"id" * 10.0).as("s_acctbal")))
          TxLog.merge(s, table, updates, "s_suppkey")
        }
        TxLog.read(s, table)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
      },
      oracle = Some("""
        WITH mx AS (SELECT max(s_suppkey) AS m FROM supplier),
        updates AS (
          SELECT s_suppkey, s_nationkey, s_acctbal * 1.1 AS s_acctbal
          FROM supplier WHERE s_suppkey % 7 = 0
          UNION ALL
          SELECT (SELECT m FROM mx) + r.range,
            CAST(r.range % 5 AS INTEGER), r.range * 10.0
          FROM range(1, 21) r),
        merged AS (
          SELECT s_suppkey, s_nationkey, s_acctbal FROM supplier
          WHERE s_suppkey NOT IN (SELECT s_suppkey FROM updates)
          UNION ALL
          SELECT s_suppkey, s_nationkey, s_acctbal FROM updates)
        SELECT s_nationkey, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM merged GROUP BY s_nationkey""")),

    // OPTIMIZE through the transaction log: 16 splinter files compacted
    // to 2 as ONE commit (file counts require-asserted so the compaction
    // is load-bearing), and the query reads BOTH versions back — the
    // pre-optimize splinters via time travel and the compacted head —
    // proving the rewrite lost nothing and history survived it. The
    // log-backed sibling of q_src_compaction (which rewrites a bare
    // directory and has no history to keep).
    "q_src_txlog_optimize" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txopt", dir)
        val src = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
        if (TxLog.version(table) < 0) {
          TxLog.append(s, src.repartition(16), table)
          TxLog.optimize(s, table, targetFiles = 2)
        }
        // empty partitions write no file, so tiny SFs yield < 16
        // splinters; the invariant is "more splinters than compacted"
        require(TxLog.files(table, Some(0)).size > 2,
          "pre-optimize version should hold splinter files")
        require(TxLog.files(table, Some(1)).size == 2,
          "optimize should compact to 2 files")
        (0 to 1).map { v =>
          TxLog.read(s, table, Some(v))
            .agg(count(lit(1)).as("n"),
              sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
                .as("sum_cents"))
            .select(lit(v).as("version"), $"n", $"sum_cents")
        }.reduce(_ unionByName _)
      },
      oracle = Some("""
        SELECT 0 AS version, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM supplier
        UNION ALL
        SELECT 1, count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM supplier""")),

    // CHANGE FEED (CDC read) through the transaction log: the rows
    // inserted/deleted between v0 and v2 of the shared three-version
    // history, derived from the log's FILE diff — only files added or
    // removed between the versions are scanned, carried-over files are
    // never touched, and rows merely rewritten through the COW delete
    // cancel under EXCEPT ALL. The oracle recomputes the same feed
    // relationally: inserts = the odd-key wave minus what v2 deleted;
    // deletes = even-key rows the delete removed (odd-key deleted rows
    // net out — inserted AND deleted inside the window).
    "q_src_txlog_changes" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = txlogHistory(s, dir)
        TxLog.changes(s, table, fromV = 0, toV = 2)
          .groupBy($"_change", $"s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
      },
      oracle = Some("""
        WITH feed AS (
          SELECT 'insert' AS _change, s_nationkey, s_acctbal
          FROM supplier WHERE s_suppkey % 2 = 1 AND s_nationkey % 5 <> 0
          UNION ALL
          SELECT 'delete', s_nationkey, s_acctbal
          FROM supplier WHERE s_suppkey % 2 = 0 AND s_nationkey % 5 = 0)
        SELECT _change, s_nationkey, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM feed GROUP BY _change, s_nationkey""")),

    // MESSAGE-BUS VALUE CODEC — the broker-free half of the Kafka row
    // (SURVEY §2B-1; the broker itself is environment-blocked: zero
    // egress). A Kafka message is (key bytes, value bytes); the part
    // the ENGINE owns is decoding value bytes to typed columns.
    // Supplier rows are encoded to Avro binary message bodies (the
    // dominant bus wire format, plain Apache Avro API) and decoded
    // back, both as narrow mapPartitions with per-partition codec
    // reuse; the aggregate hash-matches the source, proving the wire
    // roundtrip lossless across long/string/int/double fields.
    "q_src_avro_roundtrip" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val src = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
        val wire = graft.operators.AvroCodec.encode(src)
        graft.operators.AvroCodec.decode(wire, src.schema)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(length($"s_name")).as("name_chars"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
      },
      oracle = Some("""
        SELECT s_nationkey, count(*) AS n,
          CAST(sum(length(s_name)) AS BIGINT) AS name_chars,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM supplier GROUP BY s_nationkey""")),

    // MULTI-COLUMN data skipping through the log: the table is written
    // range-clustered on (source, doc_id) with per-file min/max recorded
    // for BOTH columns — a STRING and a LONG, compared each in its own
    // domain — and the read prunes on both bounds at once. This is what
    // composes with a Z-order layout at 100 TB: one clustered write, and
    // every dimension's stats stay selective. The prune is load-bearing:
    // the query REQUIRES fewer files kept than live before scanning.
    "q_src_txlog_skipping2" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txskip2", dir)
        if (TxLog.version(table) < 0) {
          val src = Engine.table(s, dir, "documents")
            .select($"doc_id", $"source", $"n_chars")
            .repartitionByRange(8, $"source", $"doc_id")
          TxLog.append(s, src, table, statsCols = Seq("source", "doc_id"))
        }
        val all = TxLog.filesWithStats(table)
        val kept = all.count { case (_, st) =>
          st("source").overlaps("S", "src12", "src14") &&
            st("doc_id").overlaps("L", "0", "250")
        }
        require(kept < all.size,
          s"two-column stats pruned nothing: kept $kept of ${all.size}")
        TxLog.readPrunedAll(s, table,
          Seq(("source", "src12", "src14"), ("doc_id", 0L, 250L)))
          .groupBy($"source")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
      },
      oracle = Some("""
        SELECT source, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE source BETWEEN 'src12' AND 'src14'
          AND doc_id BETWEEN 0 AND 250
        GROUP BY source""")),

    // OPTIMIZE ... ZORDER through the transaction log: v0 appends the
    // documents projection RANDOMLY partitioned with two-column stats —
    // every file spans nearly the full (n_chars, doc_id) range, so the
    // stats prune NOTHING (require-asserted). One optimizeZorder commit
    // compacts and re-lays the table along the Morton curve of the two
    // keys, records fresh stats, and the SAME 2-D box read now skips
    // files at the log level (require-asserted). This is the
    // maintenance op that keeps data skipping alive on a table whose
    // appends arrive in arbitrary key order: at 100 TB one clustered
    // rewrite buys every later 2-D range query a few-file scan.
    "q_src_txlog_zorder" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txzorder", dir)
        if (TxLog.version(table) < 0) {
          val src = Engine.table(s, dir, "documents")
            .select($"doc_id", $"source", $"n_chars")
            .repartition(8) // deliberately unclustered
          TxLog.append(s, src, table, statsCols = Seq("n_chars", "doc_id"))
          def kept(v: Int) = TxLog.filesWithStats(table, Some(v)).count {
            case (_, st) =>
              st.get("n_chars").forall(_.overlaps("L", "100", "400")) &&
                st.get("doc_id").forall(_.overlaps("L", "0", "250"))
          }
          val before = (kept(0), TxLog.files(table, Some(0)).size)
          require(before._1 == before._2,
            s"random layout should prune nothing, kept $before")
          TxLog.optimizeZorder(s, table, targetFiles = 8,
            colA = "n_chars", colB = "doc_id")
          require(kept(1) < TxLog.files(table, Some(1)).size,
            "z-order layout should make 2-D stats selective")
        }
        TxLog.readPrunedAll(s, table,
          Seq(("n_chars", 100L, 400L), ("doc_id", 0L, 250L)))
          .groupBy($"source")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"))
      },
      oracle = Some("""
        SELECT source, count(*) AS n,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE n_chars BETWEEN 100 AND 400 AND doc_id BETWEEN 0 AND 250
        GROUP BY source""")),

    // SCHEMA EVOLUTION through the log: v0 appends a 2-column supplier
    // projection, v1 appendEvolve adds s_acctbal — an explicit additive
    // log action, never a drifted writer (plain append still rejects
    // shape drift, unit-tested). Reads merge schemas so pre-evolution
    // rows surface NULL in the new column; the aggregate proves the
    // backfill (n vs n_evolved) and the evolved values hash-match the
    // oracle's replay of the same two-wave history.
    "q_src_txlog_evolve" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txevolve", dir)
        val src = Engine.table(s, dir, "supplier")
        if (TxLog.version(table) < 0) {
          TxLog.append(s, src.filter($"s_suppkey" % 2 === 0)
            .select($"s_suppkey", $"s_nationkey"), table)          // v0
          TxLog.appendEvolve(s, src.filter($"s_suppkey" % 2 === 1)
            .select($"s_suppkey", $"s_nationkey", $"s_acctbal"), table) // v1
        }
        TxLog.read(s, table)
          .groupBy($"s_nationkey")
          .agg(count(lit(1)).as("n"),
            count($"s_acctbal").as("n_evolved"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT s_suppkey, s_nationkey, CAST(NULL AS DOUBLE) AS s_acctbal
          FROM supplier WHERE s_suppkey % 2 = 0
          UNION ALL
          SELECT s_suppkey, s_nationkey, s_acctbal
          FROM supplier WHERE s_suppkey % 2 = 1)
        SELECT s_nationkey, count(*) AS n,
          count(s_acctbal) AS n_evolved,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM t GROUP BY s_nationkey""")),

    // PER-FILE BLOOM FILTERS in the log: the table is written RANDOMLY
    // laid out on the key (every file spans the whole domain, so
    // min/max stats prune NOTHING — require-asserted), with a
    // `bloom:s_suppkey` stats spec recording a 1024-bit / 4-probe
    // Bloom filter per file at commit time. Point lookups then scan
    // only the files whose bloom may contain the key — the skipping
    // primitive for needle-in-haystack reads on high-cardinality keys
    // at 100 TB (a false positive costs one extra file, never a wrong
    // row). Bloom pruning being load-bearing is require()d in-query;
    // the lookup results are oracled exactly.
    "q_src_txlog_bloom" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txbloom", dir)
        if (TxLog.version(table) < 0) {
          // round-robin layout: every file holds keys scattered across
          // the whole domain — the worst case for min/max skipping
          val src = Engine.table(s, dir, "customer")
            .select($"c_custkey", $"c_nationkey", $"c_acctbal")
            .repartition(8)
          TxLog.append(s, src, table,
            statsCols = Seq("c_custkey", "bloom:c_custkey"))
        }
        val total = TxLog.files(table).size
        val keysHit = Seq(50L, 97L) // mid-range keys: exist at every SF
        val keyMiss = -12345L
        keysHit.foreach { k =>
          // min/max keeps MOST files on this layout...
          val rangeKept = TxLog.filesWithStats(table).count { case (_, st) =>
            st.get("c_custkey").forall(_.overlaps("L", s"$k", s"$k"))
          }
          require(rangeKept * 2 > total,
            s"layout unexpectedly range-prunable ($rangeKept of $total)")
          // ...while the bloom narrows the same probe further
          val kept = TxLog.bloomKeptFiles(table, "c_custkey", k).size
          require(kept < rangeKept,
            s"bloom did not beat range stats for key $k " +
              s"($kept vs $rangeKept of $total)")
        }
        require(TxLog.bloomKeptFiles(table, "c_custkey", keyMiss).size
          < total, "bloom kept every file for an absent key")
        (keysHit :+ keyMiss).map { k =>
          TxLog.readPoint(s, table, "c_custkey", k)
            .agg(count(lit(1)).as("n"),
              sum(floor($"c_acctbal" * 100.0 + 0.5).cast("long"))
                .as("sum_cents"))
            .select(lit(k).as("key"), $"n", $"sum_cents")
        }.reduce(_ unionByName _)
      },
      oracle = Some("""
        SELECT CAST(50 AS BIGINT) AS key, count(*) AS n,
          CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM customer WHERE c_custkey = 50
        UNION ALL
        SELECT 97, count(*),
          CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM customer WHERE c_custkey = 97
        UNION ALL
        SELECT -12345, count(*),
          CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM customer WHERE c_custkey = -12345""")),

    // SHALLOW CLONE: branch the shared history table at zero copy cost
    // (one metadata commit referencing the source's files in place),
    // then DIVERGE the clone with a COW delete — the clone rewrites
    // only its affected files under its OWN directory while the source
    // head stays bit-identical. Dev-branching a 100 TB production
    // table costs one commit; the oracle recomputes both sides'
    // states relationally. Zero-copy + isolation are unit-asserted.
    "q_src_txlog_clone" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val src = txlogHistory(s, dir)
        val clone = tempFor("txclone", dir)
        if (TxLog.version(clone) < 0) {
          TxLog.cloneShallow(src, clone)                       // v0
          TxLog.deleteWhere(s, clone, $"s_suppkey" % 3 === 0)  // v1
        }
        def agg(t: String, tag: String) = TxLog.read(s, t)
          .agg(count(lit(1)).as("n"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
          .select(lit(tag).as("side"), $"n", $"sum_cents")
        agg(src, "source").unionByName(agg(clone, "clone"))
      },
      oracle = Some("""
        SELECT 'source' AS side, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM supplier WHERE s_nationkey % 5 <> 0
        UNION ALL
        SELECT 'clone', count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM supplier
        WHERE s_nationkey % 5 <> 0 AND s_suppkey % 3 <> 0""")),

    // RESTORE (rollback-as-commit): a bad batch lands at v1, restore
    // publishes v2 whose live set IS v0's — the bad files drop out by
    // reference, no data is read or written (metadata-only commit, the
    // same cost at 100 TB as at 100 rows), and v1 stays time-travelable
    // for the audit. The three per-version reads prove head == v0
    // content while the poison version remains reachable. File-set
    // equality and the no-new-files property are unit-asserted.
    "q_src_txlog_restore" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txrestore", dir)
        val src = Engine.table(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
        if (TxLog.version(table) < 0) {
          TxLog.append(s, src.filter($"s_suppkey" % 2 === 0), table) // v0
          TxLog.append(s, src.filter($"s_suppkey" % 2 === 1), table) // v1
          TxLog.restore(table, 0)                                    // v2
        }
        (0 to 2).map { v =>
          TxLog.read(s, table, Some(v))
            .agg(count(lit(1)).as("n"),
              sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
                .as("sum_cents"))
            .select(lit(v).as("version"), $"n", $"sum_cents")
        }.reduce(_ unionByName _)
      },
      oracle = Some("""
        SELECT 0 AS version, count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents
        FROM supplier WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT 1, count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM supplier
        UNION ALL
        SELECT 2, count(*),
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT)
        FROM supplier WHERE s_suppkey % 2 = 0""")),

    // CHECK CONSTRAINTS at the table boundary: register a predicate on
    // the log, then prove (a) a conforming append lands, (b) a
    // violating append is REJECTED before any file is written — the
    // table never holds a bad row and the version never advances.
    // Enforcement is a short-circuiting limit(1) probe over the
    // incoming batch only (never a table scan), so the cost at 100 TB
    // is proportional to the write, not the table. The result proves
    // the final table state equals "all suppliers" — the rejected batch
    // left no trace — plus the registered-constraint count and the
    // observed rejection, all recomputed relationally by the oracle.
    "q_src_txlog_check" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import graft.operators.TxLog
        val table = tempFor("txcheck", dir)
        if (TxLog.version(table) < 0) {
          val src = Engine.table(s, dir, "supplier")
            .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
          TxLog.append(s, src.filter($"s_suppkey" % 2 === 0), table)
          TxLog.addCheck(s, table, "acctbal_floor", "s_acctbal >= -1000.0")
        }
        val rejected =
          try {
            TxLog.append(s,
              Engine.table(s, dir, "supplier")
                .select($"s_suppkey", $"s_nationkey",
                  lit(-5000.0).as("s_acctbal")).limit(3),
              table)
            false
          } catch { case _: IllegalArgumentException => true }
        if (TxLog.version(table) == 1) // v0=evens, v1=the check commit
          TxLog.append(s,
            Engine.table(s, dir, "supplier")
              .select($"s_suppkey", $"s_nationkey", $"s_acctbal")
              .filter($"s_suppkey" % 2 === 1),
            table)
        TxLog.read(s, table)
          .agg(count(lit(1)).as("n"),
            sum(floor($"s_acctbal" * 100.0 + 0.5).cast("long"))
              .as("sum_cents"))
          .select($"n", $"sum_cents",
            lit(TxLog.checks(table).size).as("n_checks"),
            lit(rejected).as("rejected"))
      },
      oracle = Some("""
        SELECT count(*) AS n,
          CAST(sum(CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents,
          1 AS n_checks, true AS rejected
        FROM supplier""")),

    // Z-ORDER clustered layout: documents rewritten range-partitioned +
    // sorted by the Morton key of (n_chars, doc_id), then scanned with a
    // 2-D range filter. Z-ordering makes BOTH dimensions' parquet
    // row-group min/max stats selective at once — the data-skipping
    // layout trick for multi-dimensional predicates at 100 TB (a sort on
    // one column leaves the other's stats useless). The Morton key is
    // pure integer bit math (Fns.morton), recomputed and hash-matched by
    // the oracle row-by-row; the layout write is once-per-JVM like the
    // other artifact queries.
    "q_src_zorder" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("zorder", dir)
        if (!new java.io.File(out, "_SUCCESS").exists()) {
          Engine.table(s, dir, "documents")
            .select($"doc_id", $"source", $"n_chars")
            .withColumn("z", Fns.morton($"n_chars", $"doc_id"))
            .repartitionByRange(4, $"z")
            .sortWithinPartitions($"z")
            .write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out)
          .filter($"n_chars".between(150, 300) && $"doc_id".between(100, 400))
          .select($"doc_id", $"source", $"n_chars", $"z")
      },
      oracle = Some(s"""
        SELECT doc_id, source, n_chars,
          ${Fns.mortonSql("n_chars", "doc_id")} AS z
        FROM documents
        WHERE n_chars BETWEEN 150 AND 300 AND doc_id BETWEEN 100 AND 400""")),

    // Bucketed tables: write lineitem and orders bucketed (+sorted) on
    // the join key, then join the two bucketed tables. With
    // bucket-join enabled both sides read pre-clustered — no exchange on
    // either side (plan-asserted in ScaleUtilSpec/OperatorSpec). This is
    // THE co-located-join primitive at 100 TB: pay the shuffle once at
    // write time, amortize across every subsequent join/agg on the key.
    // Managed-table data lands under spark.sql.warehouse.dir, which the
    // session pins to the system temp dir (not the caller's cwd).
    "q_src_bucketed" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val suffix = math.abs(dir.hashCode).toString
        // write-once per JVM: bucketing pays its shuffle at WRITE time and
        // amortizes it over every later join — re-bucketing per run would
        // measure the setup, not the co-located join under test
        if (!s.catalog.tableExists(s"graft_li_bkt_$suffix")) {
          // the scratch warehouse outlives the JVM while the in-memory
          // catalog does not: drop stale table locations from a previous
          // run or CTAS refuses the non-empty directory
          val wh = new java.io.File(
            new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath)
          Seq(s"graft_li_bkt_$suffix", s"graft_ord_bkt_$suffix")
            .foreach(t => graft.operators.TxnMarker.rmTree(new java.io.File(wh, t)))
          Engine.table(s, dir, "lineitem")
            .select($"l_orderkey", $"l_extendedprice")
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .saveAsTable(s"graft_li_bkt_$suffix")
          Engine.table(s, dir, "orders")
            .select($"o_orderkey", $"o_orderpriority")
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .saveAsTable(s"graft_ord_bkt_$suffix")
        }
        s.table(s"graft_li_bkt_$suffix")
          .join(s.table(s"graft_ord_bkt_$suffix"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            graft.functions.Fns.dsumGate($"l_extendedprice").as("rev"))
      },
      oracle = Some(s"""
        SELECT o_orderpriority, count(*) AS n,
          ${graft.functions.Fns.dsumGateSql("l_extendedprice")} AS rev
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority""")),

    // Parquet schema evolution: two generations of files with different
    // column sets, read as one table with mergeSchema (missing columns
    // null-filled per file) — the add-a-column migration path a long-lived
    // 100 TB table needs.
    "q_src_merge_schema" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("msq", dir)
        val n = Engine.table(s, dir, "nation")
        n.filter($"n_nationkey" < 13).select($"n_nationkey", $"n_name")
          .write.mode("overwrite").parquet(s"$out/gen1")
        n.filter($"n_nationkey" >= 13).select($"n_nationkey", $"n_regionkey")
          .write.mode("overwrite").parquet(s"$out/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$out/gen1", s"$out/gen2")
      },
      oracle = Some("""
        SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        FROM nation WHERE n_nationkey < 13
        UNION ALL
        SELECT n_nationkey, CAST(NULL AS VARCHAR), n_regionkey
        FROM nation WHERE n_nationkey >= 13""")),

    // Streaming parquet sink: stream events through a windowed projection
    // into a parquet directory (checkpointed), then batch-read the sink.
    "q_src_stream_parquet_sink" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val out = tempFor("spq", dir)
        val input = graft.streaming.Replay.events(s, dir)
        val inDir = s"$out/in"
        if (!new java.io.File(inDir).exists()) {
          input.repartition(4).write.mode("overwrite").parquet(inDir)
        }
        val schema = s.read.parquet(inDir).schema
        val q = s.readStream.schema(schema).parquet(inDir)
          .withColumn("day", to_date($"ts"))
          .select($"event_id", $"day", $"event_type", $"value")
          .writeStream
          .format("parquet")
          .option("path", s"$out/sink")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.read.parquet(s"$out/sink")
          .groupBy($"day", $"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast("decimal(28,10)")).cast("double").as("sum_v"))
      },
      oracle = Some("""
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v
        FROM events GROUP BY 1, 2"""))
  )
}
