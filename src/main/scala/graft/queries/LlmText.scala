package graft.queries

import graft.{Engine, QueryDef, QueryModule}
import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline text operators (SURVEY.md §2B-10): exact dedup,
  * MinHash+LSH banding, SimHash, n-gram Jaccard, language ID, quality
  * scoring, token counting, document fingerprinting.
  *
  * The source documents contain no natural duplicates (verified), so the
  * dedup queries union in DETERMINISTIC synthetic copies: exact copies
  * for exact dedup, one-word-appended copies (doc_id + 100000) for the
  * near-dup detectors — both mirrored in the oracle CTEs.
  *
  * Scale shapes: exact dedup = hash groupBy (one shuffle); MinHash = map
  * (signatures) -> explode bands -> shuffle on (band, hash) -> self-join
  * within buckets (the candidate set, NOT the n^2 cross product — this is
  * the formulation that survives 100 TB); SimHash pairs come from a
  * hamming-LSH band equi-join (4 x 6-bit bands, lossless for hamming <= 3
  * by pigeonhole), so no cartesian anywhere.
  */
object LlmText extends QueryModule {

  private val K = 8 // minhash signatures
  private val Bands = 4 // x 2 rows/band
  private val SimBits = 24
  private val P = 144115188075855872L // 2^57, fingerprint modulus
  private val MinP = 2147483647L // 2^31-1, minhash rehash modulus
  // affine rehash constants live with the native expression
  private def affineA(j: Int): Long = graft.plans.MinHashSigs.affineA(j)
  private def affineB(j: Int): Long = graft.plans.MinHashSigs.affineB(j)

  /** Per-source sampling rates (permille) for the training-mixture
    * query — a deterministic stand-in for a configured mixing recipe,
    * mirrored verbatim into the oracle's VALUES list.
    */
  private val mixtureRates: Seq[(String, Long)] =
    Seq.tabulate(20)(i => (s"src$i", (i % 4) match {
      case 0 => 900L
      case 1 => 500L
      case 2 => 250L
      case _ => 100L
    }))

  /** Fixed query strings for the top-k search op (terms drawn from the
    * corpus vocabulary), mirrored into the oracle's VALUES list.
    */
  private val searchQueries: Seq[(String, String)] = Seq(
    "q_hash_join"  -> "hash join scan",
    "q_stream_dup" -> "stream window dup",
    "q_fast_vec"   -> "fast vector query")

  /** documents + near-dup copies (one appended word). */
  private def withNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Engine.table(s, dir, "documents")
    d.select(d("doc_id"), d("text"), d("source"))
      .unionByName(d.filter(d("doc_id") % 10 === 0).select(
        (d("doc_id") + 100000L).as("doc_id"),
        concat(d("text"), lit(" graftdup")).as("text"),
        d("source")))
  }

  /** The q_llm_dedup_jaccard_pf pipeline over an arbitrary (doc_id,
    * source, text) corpus — r8: the sweep rewrite's cuts applied at
    * θ=0.7. Tokens as xxhash64(token, source) (8-byte posting keys,
    * same-source in key equality), θ-size filter and the AllPairs
    * positional filter (a pair survives only via a match with
    * min(na−pa, nb−pb)+1 >= α = ceil(7(na+nb)/17); the witness token of
    * the shortened-prefix lemma always passes) inside the join
    * condition. See q_llm_threshold_sweep for the lemma. */
  private def jaccardPf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val sets = docs
      .select($"doc_id", $"source",
        array_distinct(transform(split($"text", " "),
          t => xxhash64(t, $"source"))).as("hs"))
      .withColumn("nw", size($"hs"))
    val tok = sets.select($"doc_id", $"nw", explode($"hs").as("wh"))
    val dfreq = tok.groupBy($"wh").agg(count(lit(1)).as("df"))
    // Per-doc prefix = the (nw - ceil(0.7*nw) + 1) rarest tokens in
    // (df, hash) order with their rarity rank, selected by regrouping
    // each doc's (df, hash) structs and slicing the sorted array — a
    // per-row sort of one doc's bounded token set. (The earlier
    // row_number() window sorted the WHOLE exploded posting list per
    // partition: correct, but the SortExec made this query the
    // driver-run variance outlier — 2.5x its local cost while every
    // other query tracked ~1.3x.)
    val prefix = tok.join(dfreq, Seq("wh"))
      .groupBy($"doc_id", $"nw")
      .agg(collect_list(struct($"df", $"wh")).as("tw"))
      .withColumn("plen",
        ($"nw" - expr("(nw * 7 + 9) div 10") + 1).cast("int"))
      .select($"doc_id", $"nw",
        posexplode(slice(array_sort($"tw"), lit(1), $"plen")))
      .select($"doc_id", $"nw", $"col.wh".as("wh"),
        ($"pos" + 1).as("rk"))
    // CPU-dense, byte-light stages (see q_llm_containment): pin the
    // prefix self-join to cluster parallelism with a user-numbered
    // repartition on the join key so AQE's byte-based coalescing can't
    // shrink it to 1-5 tasks.
    val par = s.sparkContext.defaultParallelism * 2
    val prefixR = prefix.repartition(par, $"wh")
    val cand = prefixR.as("a").join(prefixR.as("b"),
      $"a.wh" === $"b.wh" && $"a.doc_id" < $"b.doc_id"
        && $"b.nw" * 10L >= $"a.nw" * 7L
        && $"a.nw" * 10L >= $"b.nw" * 7L
        && (least($"a.nw" - $"a.rk", $"b.nw" - $"b.rk") + 1) * 17L
             >= ($"a.nw" + $"b.nw") * 7L)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    cand.join(sets.as("da"), $"doc_a" === $"da.doc_id")
      .join(sets.as("db"), $"doc_b" === $"db.doc_id"
        && $"da.source" === $"db.source")
      .withColumn("inter", size(array_intersect($"da.hs", $"db.hs")))
      .withColumn("jaccard", $"inter".cast("double")
        / ($"da.nw" + $"db.nw" - $"inter"))
      .filter($"jaccard" >= 0.7)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  private val nearDupSql =
    """base AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000, concat(text, ' graftdup'), source
      FROM documents WHERE doc_id % 10 = 0)"""

  /** The q_llm_threshold_sweep pipeline over an arbitrary (doc_id,
    * source, text) corpus. See the QueryDef comment for the
    * filter-correctness argument.
    */
  private def thresholdSweep(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    import s.implicits._
    val (sets, cand) = sweepCandidates(s, docs)
    cand.join(sets.as("da"), $"doc_a" === $"da.doc_id")
      .join(sets.as("db"), $"doc_b" === $"db.doc_id"
        && $"da.source" === $"db.source")
      .withColumn("inter", size(array_intersect($"da.hs", $"db.hs")))
      .select(($"inter".cast("double")
        / ($"da.nw" + $"db.nw" - $"inter")).as("jac"))
      .agg(
        sum(when($"jac" >= 0.5, 1L).otherwise(0L)).as("ge_50"),
        sum(when($"jac" >= 0.7, 1L).otherwise(0L)).as("ge_70"),
        sum(when($"jac" >= 0.8, 1L).otherwise(0L)).as("ge_80"),
        sum(when($"jac" >= 0.9, 1L).otherwise(0L)).as("ge_90"))
  }

  /** Candidate-generation half of [[thresholdSweep]]: returns the
    * hashed corpus `sets` (doc_id, source, hs, nw) and the pruned
    * candidate pairs (doc_a, doc_b).  Split out so CorpusSpec can
    * assert the prefix join actually prunes without re-deriving the
    * pipeline.
    */
  private[graft] def sweepCandidates(s: SparkSession, docs: DataFrame)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val par = s.sparkContext.defaultParallelism * 2
    // `sets` is NOT repartitioned: the doc-set side is re-scanned
    // from the page cache by each consumer (measured cheaper than
    // shuffling the token arrays — see q_llm_containment's note at
    // the verify join).  The only pinned exchange is the prefix
    // join's repartition(par, wh) below: AQE never coalesces a
    // user-numbered repartition, so the CPU-dense prefix-prefix
    // join keeps full cluster parallelism.
    val sets = docs
      .select($"doc_id", $"source",
        array_distinct(transform(split($"text", " "),
          t => xxhash64(t, $"source"))).as("hs"))
      .withColumn("nw", size($"hs"))
    val tok = sets.select($"doc_id", $"nw", explode($"hs").as("wh"))
    val dfreq = tok.groupBy($"wh").agg(count(lit(1)).as("df"))
    // prefix = the (nw - ceil(0.5·nw) + 1) rarest tokens per doc
    // with their 1-based rarity rank, global order = (df asc, hash).
    // dfreq is vocabulary-sized (sublinear in corpus, Heaps' law)
    // so AQE turns the df lookup into a broadcast join, and the
    // collect_list grouping runs shuffle-free on the doc_id
    // partitioning already in place.
    val prefix = tok.join(dfreq, Seq("wh"))
      .groupBy($"doc_id", $"nw")
      .agg(collect_list(struct($"df", $"wh")).as("tw"))
      .withColumn("plen",
        ($"nw" - expr("(nw + 1) div 2") + 1).cast("int"))
      .select($"doc_id", $"nw",
        posexplode(slice(array_sort($"tw"), lit(1), $"plen")))
      .select($"doc_id", $"nw", $"col.wh".as("wh"),
        ($"pos" + 1).as("rk"))
    val pp = prefix.repartition(par, $"wh")
    val cand = pp.as("a")
      .join(pp.as("b"),
        $"a.wh" === $"b.wh" && $"a.doc_id" < $"b.doc_id"
          && $"b.nw" <= $"a.nw" * 2 && $"a.nw" <= $"b.nw" * 2
          && (least($"a.nw" - $"a.rk", $"b.nw" - $"b.rk") + 1) * 3
               >= ($"a.nw" + $"b.nw"))
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    (sets, cand)
  }

  private def h60Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Oracle CTE `sh$sfx`: word-trigram shingle arrays of a (doc_id,
    * text) base CTE named `base$sfx` — the DuckDB mirror of the native
    * [[graft.plans.Shingles]] expression (short docs fall back to the
    * whole text, same as the expression). */
  private def shingleCteSql(sfx: String): String = s"""sh$sfx AS (
          SELECT doc_id,
            CASE WHEN len(words) >= 3
              THEN [concat_ws(' ', words[i+1], words[i+2], words[i+3])
                    FOR i IN generate_series(0, len(words)-3)]
              ELSE [text] END AS shingles
          FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM base$sfx))"""

  /** Oracle CTE chain `sh$sfx, sig$sfx, bands$sfx` producing the (doc_id,
    * band, bh) banding rows from a base CTE named `base$sfx` — the
    * DuckDB mirror of [[bandFrameOf]] (identical signature math on both
    * engines). Parameterized by suffix so one oracle can band two
    * corpora (the incremental-dedup old/new split).
    */
  private def bandChainSql(sfx: String): String = {
    val sigExprs = (0 until K).map(j =>
      s"list_min(list_transform(shingles, x -> (${affineA(j)} * (${h60Sql("x")} % $MinP) + ${affineB(j)}) % $MinP)) AS s$j")
      .mkString(",\n            ")
    val bandSelects = (0 until Bands).map(b =>
      s"""SELECT doc_id, $b AS band, ${h60Sql(
        s"concat(CAST(s${2 * b} AS VARCHAR), ',', CAST(s${2 * b + 1} AS VARCHAR))")} AS bh FROM sig$sfx""")
      .mkString("\n          UNION ALL ")
    s"""${shingleCteSql(sfx)},
        sig$sfx AS (
          SELECT doc_id, shingles,
            $sigExprs
          FROM sh$sfx),
        bands$sfx AS (
          $bandSelects)"""
  }

  /** `base, sh, sig, bands` over the near-dup corpus — shared by
    * q_llm_dedup_minhash and the persisted-index probe.
    */
  private def bandCtesSql: String = s"""$nearDupSql,
        ${bandChainSql("")}"""

  /** The (doc_id, band, bh) minhash banding rows of any (doc_id, text)
    * frame: native Shingles → MinHashSigs → per-band hash, one narrow
    * codegen pass over the corpus. This IS the index payload
    * [[persistedBands]] materializes. DuckDB mirror: [[bandChainSql]].
    */
  /** (doc_id, s0..s7) minhash signature columns of a (doc_id, text)
    * frame — the per-doc sketch [[bandFrameOf]] bands, also consumed
    * directly by the LSH precision audit.
    */
  private def sigFrameOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("shingles", graft.plans.Shingles(col("text"), 3))
      .withColumn("sigs", graft.plans.MinHashSigs(col("shingles"), K, MinP))
      .select(Seq(col("doc_id")) ++
        (0 until K).map(j => col("sigs").getItem(j).as(s"s$j")): _*)

  private def bandFrameOf(docs: DataFrame): DataFrame = {
    val sig = sigFrameOf(docs)
    val bandStructs = (0 until Bands).map(b => struct(
      lit(b).as("band"),
      Fns.h60(concat_ws(",", col(s"s${2 * b}").cast("string"),
        col(s"s${2 * b + 1}").cast("string"))).as("bh")))
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.bh").as("bh"))
  }

  /** [[bandFrameOf]] over the near-dup corpus. */
  private[graft] def bandFrame(
      s: SparkSession, dir: String): DataFrame =
    bandFrameOf(withNearDups(s, dir))

  /** The minhash signature index as a PERSISTED artifact: the banding
    * table written once as a managed table bucketed + sorted on the probe
    * key (band, bh). At 100 TB the signature table is not a transient
    * cache but a materialized index — pay its shuffle once at write time;
    * every later candidate probe/self-join reads pre-clustered buckets
    * with NO exchange on the indexed side (plan-asserted in
    * OperatorSpec). Write-once per (JVM, sfDir), the q_src_bucketed
    * pattern.
    */
  private[graft] def persistedBands(
      s: SparkSession, dir: String): DataFrame =
    bucketedBandTable(s, s"graft_mh_idx_${math.abs(dir.hashCode)}",
      bandFrame(s, dir))

  /** Write `df` once per (JVM, table name) as a managed table bucketed +
    * sorted on `keys`; return it from the catalog. The scratch warehouse
    * outlives the JVM while the in-memory catalog does not, so a stale
    * location from a previous run is dropped before the write.
    */
  private[queries] def writeOnceTable(
      s: SparkSession, tbl: String, keys: Seq[String],
      df: => DataFrame): DataFrame = {
    if (!s.catalog.tableExists(tbl)) {
      val wh = new java.io.File(
        new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath)
      graft.operators.TxnMarker.rmTree(new java.io.File(wh, tbl))
      df.write.mode("overwrite")
        .bucketBy(8, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .saveAsTable(tbl)
    }
    s.table(tbl)
  }

  private def bucketedBandTable(
      s: SparkSession, tbl: String, bands: => DataFrame): DataFrame =
    writeOnceTable(s, tbl, Seq("band", "bh"), bands)

  /** The (id, lab) cluster-label table persisted once per (JVM, sfDir) —
    * the artifact a pipeline materializes from ONE labeling job
    * (q_llm_dedup_clusters measures that job) and then consumes from
    * every rewrite, audit, and re-ingest pass without re-running the
    * fixpoint. Bucketed on id, the corpus join key.
    */
  private def persistedLabels(s: SparkSession, dir: String): DataFrame =
    writeOnceTable(s, s"graft_cc_labels_${math.abs(dir.hashCode)}",
      Seq("id"), {
        import s.implicits._
        // r19 A/B note: pair generation via the θ=0.7 prefix-filter
        // pipeline (jaccardPf — identical pair set by the
        // shortened-prefix lemma, 527 → 38 MB candidate shuffle) was
        // built, oracle-gated PASS, and MEASURED SLOWER at sf0.1 on
        // local[32] (+2.3 s on q_llm_dedup_clusters in a clean
        // sitting): at this corpus size the pf pipeline's extra fixed
        // stages (dfreq join, per-doc prefix slice, candidate
        // distinct, verify re-join) dominate the shuffle it saves —
        // exactly the measured contrast of the gated jaccard (1.20 s)
        // vs jaccard_pf (1.55 s) pair. Kept on the all-pairs
        // inverted-index form, which is cheapest at bench scale; the
        // pf form remains the documented 100 TB escape when Σ df(w)²
        // outgrows the cluster (the crossover the two gated queries
        // pin).
        val d = withNearDups(s, dir)
          .select($"doc_id", $"source",
            array_distinct(split($"text", " ")).as("ws"))
          .withColumn("nw", size($"ws"))
        val tok = d.select($"doc_id", $"source", $"nw",
          explode($"ws").as("w"))
          // CPU-dense byte-light self-join: pin to cluster parallelism
          // (see q_llm_containment's rationale on AQE coalescing)
          .repartition(s.sparkContext.defaultParallelism * 2,
            $"source", $"w")
        val pairs = tok.as("a").join(tok.as("b"),
          $"a.w" === $"b.w" && $"a.source" === $"b.source"
            && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            $"a.nw".as("na"), $"b.nw".as("nb"))
          .agg(count(lit(1)).as("inter"))
          .filter($"inter".cast("double")
            / ($"na" + $"nb" - $"inter") >= 0.7)
          .select($"doc_a", $"doc_b")
        graft.operators.ConnectedComponents.label(pairs, "doc_a", "doc_b")
      })

  /** The signature index of the ORIGINAL corpus only — the artifact an
    * incremental (new-batch-vs-corpus) dedup probes. Bucketed on the
    * probe key so the batch join shuffles ONLY the new side.
    */
  private def persistedOldIndex(
      s: SparkSession, dir: String): DataFrame =
    bucketedBandTable(s, s"graft_mh_old_${math.abs(dir.hashCode)}",
      bandFrameOf(Engine.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))))

  /** The "new batch" an incremental dedup screens against the corpus:
    * near-dup copies of every 10th doc (true duplicates the probe must
    * catch) plus genuinely-new short docs (doc_id + 200000, unique
    * synthetic text the probe must pass through). Deterministic, so the
    * oracle mirrors it exactly ([[newBatchSql]]).
    */
  private[queries] def newBatch(s: SparkSession, dir: String): DataFrame = {
    val d = Engine.table(s, dir, "documents")
    d.filter(d("doc_id") % 10 === 0).select(
        (d("doc_id") + 100000L).as("doc_id"),
        concat(d("text"), lit(" graftdup")).as("text"))
      .unionByName(d.filter(d("doc_id") % 17 === 3).select(
        (d("doc_id") + 200000L).as("doc_id"),
        concat_ws(" ", lit("zqx"), d("doc_id").cast("string"),
          lit("fresh"), d("doc_id").cast("string")).as("text")))
  }

  private val newBatchSql =
    """base_n AS (
      SELECT doc_id + 100000 AS doc_id, concat(text, ' graftdup') AS text
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000,
        concat_ws(' ', 'zqx', CAST(doc_id AS VARCHAR),
                  'fresh', CAST(doc_id AS VARCHAR))
      FROM documents WHERE doc_id % 17 = 3)"""

  /** Candidate self-join against the persisted index — both sides read
    * the bucketed artifact, so the equi-join on (band, bh) consumes the
    * bucket clustering directly (no Exchange, no Sort below the join).
    */
  private[graft] def indexProbeJoin(
      s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = persistedBands(s, dir)
    bands.as("a").join(bands.as("b"),
      $"a.band" === $"b.band" && $"a.bh" === $"b.bh"
        && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
  }

  def defs: Vector[(String, QueryDef)] = Vector(

    // Exact dedup: hash-groupBy on content, keep min id, count copies.
    "q_llm_dedup_exact" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
        val base = d.select($"doc_id", $"text")
          .unionByName(d.filter($"doc_id" % 10 === 0)
            .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
        base.groupBy($"text")
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select($"keep_id", $"n_copies")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM base GROUP BY text""")),

    // MinHash over word trigram shingles + LSH banding self-join, with
    // signature agreement and true shingle Jaccard per candidate pair.
    "q_llm_dedup_minhash" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val words = split($"text", " ")
        // Shingle ONCE per doc, then explode: the min-hash signatures are
        // computed as plain groupBy-min over codegen'd md5 expressions.
        // (The earlier transform/array_min lambda formulation was 10x
        // slower: higher-order lambdas are interpreted, and projection
        // collapse re-inlined the shingling into all K signature columns.)
        // All signatures per doc in ONE narrow pass: native Shingles
        // (fused split + sliding 3-gram join) into native MinHashSigs
        // (one md5 per shingle + K affine rehashes mod 2^31-1,
        // overflow-free in both engines) — no explode, no groupBy-min
        // shuffle, no join-back. Earlier formulations: explode/groupBy
        // paid two extra shuffles; interpreted transform/array_min
        // lambdas were 10x slower (re-inlined by projection collapse).
        val sig = withNearDups(s, dir)
          .withColumn("shingles", graft.plans.Shingles($"text", 3))
          .withColumn("sigs",
            graft.plans.MinHashSigs($"shingles", K, MinP))
          .select(Seq($"doc_id", $"shingles") ++
            (0 until K).map(j => $"sigs".getItem(j).as(s"s$j")): _*)
        // NOT cached: sig is consumed three times (banding + both pair-join
        // sides) but the whole pipeline is narrow codegen over one scan, so
        // recomputation is cheaper than pinning the wide shingles arrays in
        // storage — a round-2 `.cache()` here was never unpersisted and
        // degraded every query that ran after it in the driver's
        // sequential bench (VERDICT r2 "What's wrong" #4). At 100 TB the
        // signature table would be a materialized artifact, not a cache.
        val bandStructs = (0 until Bands).map(b => struct(
          lit(b).as("band"),
          Fns.h60(concat_ws(",", col(s"s${2 * b}").cast("string"),
            col(s"s${2 * b + 1}").cast("string"))).as("bh")))
        val bands = sig.select($"doc_id", explode(array(bandStructs: _*)).as("bs"))
          .select($"doc_id", $"bs.band".as("band"), $"bs.bh".as("bh"))
        val pairs = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.bh" === $"b.bh"
            && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
        val sa = sig.as("sa")
        val sb = sig.as("sb")
        val agree: Column = (0 until K).map(j =>
          when(col(s"sa.s$j") === col(s"sb.s$j"), 1).otherwise(0): Column)
          .reduce(_ + _)
        pairs.join(sa, $"doc_a" === $"sa.doc_id")
          .join(sb, $"doc_b" === $"sb.doc_id")
          .select($"doc_a", $"doc_b",
            (agree / lit(8.0)).as("sig_frac"),
            (size(array_intersect(array_distinct($"sa.shingles"),
              array_distinct($"sb.shingles"))).cast("double")
              / size(array_distinct(concat($"sa.shingles", $"sb.shingles"))))
              .as("jaccard"))
      },
      oracle = Some {
        val agree = (0 until K).map(j =>
          s"(CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""
        WITH $bandCtesSql,
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        SELECT p.doc_a, p.doc_b,
          ($agree) / 8.0 AS sig_frac,
          CAST(len(list_intersect(list_distinct(sa.shingles),
              list_distinct(sb.shingles))) AS DOUBLE)
            / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
        FROM pairs p
        JOIN sig sa ON p.doc_a = sa.doc_id
        JOIN sig sb ON p.doc_b = sb.doc_id"""
      },
      headline = true),

    // SimHash (24-bit) + hamming-distance near-dup pairs.
    "q_llm_dedup_simhash" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val tok = withNearDups(s, dir)
          // spread source rows before the explode+hash fan-out (cheap
          // bytes, expensive compute — see q_llm_char_ngrams)
          .repartition(s.sparkContext.defaultParallelism)
          .select($"doc_id", explode(split($"text", " ")).as("w"))
          .withColumn("h", Fns.h60($"w"))
        val bitSums = (0 until SimBits).map(i =>
          sum(when(shiftright($"h", i).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)).as(s"b$i"))
        val sims = tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
          .select($"doc_id",
            (0 until SimBits).map(i =>
              when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)): Column)
              .reduce(_ + _).as("simhash"))
        // Hamming-LSH banding: split the 24-bit simhash into 4 disjoint
        // 6-bit bands. A pair at hamming distance <= 3 must agree EXACTLY
        // on at least one band (pigeonhole: 4 differing bands would mean
        // hamming >= 4), so an equi-join on (band, bits) yields a
        // candidate superset and the post-filter output is IDENTICAL to
        // the all-pairs scan — but the plan is a shuffled hash join on
        // the band key instead of an O(n^2) nested-loop cartesian, the
        // formulation that survives 100 TB.
        val bandKeys = sims.select($"doc_id", $"simhash",
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftright($"simhash", 6 * b).bitwiseAND(lit(63L))
                .as("bits"))): _*)).as("bk"))
          .select($"doc_id", $"simhash",
            $"bk.band".as("band"), $"bk.bits".as("bits"))
          // CPU-dense byte-light self-join: pin to cluster parallelism
          // (see q_llm_containment's rationale on AQE coalescing)
          .repartition(s.sparkContext.defaultParallelism * 2,
            $"band", $"bits")
        bandKeys.as("a").join(bandKeys.as("b"),
          $"a.band" === $"b.band" && $"a.bits" === $"b.bits"
            && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            $"a.simhash".as("sha"), $"b.simhash".as("shb"))
          .distinct()
          .withColumn("hamming", bit_count($"sha".bitwiseXOR($"shb")))
          .filter($"hamming" <= 3)
          .select($"doc_a", $"doc_b", $"hamming".cast("int").as("hamming"))
      },
      oracle = Some {
        val bitSums = (0 until SimBits).map(i =>
          s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(",\n            ")
        val assemble = (0 until SimBits).map(i =>
          s"(CASE WHEN b$i >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH $nearDupSql,
        tok AS (
          SELECT doc_id, ${h60Sql("w")} AS h
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM base)),
        bits AS (
          SELECT doc_id,
            $bitSums
          FROM tok GROUP BY doc_id),
        sims AS (SELECT doc_id, $assemble AS simhash FROM bits)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
      }),

    // Unigram-set Jaccard within same source, as an inverted-index
    // set-similarity join: explode distinct tokens, equi-join on
    // (token, source), count shared tokens per pair, then
    // |A∪B| = |A|+|B|-|A∩B|. Fully codegen'd (no interpreted
    // array_intersect per pair) and the shape that scales: work is
    // proportional to actual token co-occurrences, not candidate pairs.
    "q_llm_dedup_jaccard" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = withNearDups(s, dir)
          .select($"doc_id", $"source",
            array_distinct(split($"text", " ")).as("ws"))
          .withColumn("nw", size($"ws"))
        val tok = d.select($"doc_id", $"source", $"nw",
          explode($"ws").as("w"))
          // pinned like the other token self-joins (the prefix-filter
          // CONTRAST with q_llm_dedup_jaccard_pf is algorithmic; both
          // run at the same parallelism)
          .repartition(s.sparkContext.defaultParallelism * 2,
            $"source", $"w")
        tok.as("a").join(tok.as("b"),
          $"a.w" === $"b.w" && $"a.source" === $"b.source"
            && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            $"a.nw".as("na"), $"b.nw".as("nb"))
          .agg(count(lit(1)).as("inter"))
          .withColumn("jaccard", $"inter".cast("double")
            / ($"na" + $"nb" - $"inter"))
          .filter($"jaccard" >= 0.7)
          .select($"doc_a", $"doc_b", $"jaccard")
      },
      oracle = Some(s"""
        WITH $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7""")),

    // DATASET CARD: the one-row corpus summary published with a training
    // set — volumes, token/char totals, source/language breadth, length
    // distribution anchors. One scan, one aggregate (count distinct
    // pays its expand only over this single pass).
    "q_llm_dataset_card" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select($"source", $"lang", $"n_chars",
            size(split($"text", " ")).cast("long").as("n_words"))
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("total_chars"),
            sum($"n_words").as("total_words"),
            countDistinct($"source").as("n_sources"),
            countDistinct($"lang").as("n_langs"),
            min($"n_chars").as("min_chars"),
            max($"n_chars").as("max_chars"),
            expr("percentile(n_chars, 0.5)").as("median_chars"))
      },
      oracle = Some("""
        SELECT count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
          count(DISTINCT source) AS n_sources,
          count(DISTINCT lang) AS n_langs,
          min(n_chars) AS min_chars, max(n_chars) AS max_chars,
          quantile_cont(n_chars, 0.5) AS median_chars
        FROM documents""")),

    // PER-SOURCE DUPLICATION RATE: what fraction of each source's docs
    // are exact duplicates — the contamination KPI that decides which
    // crawl gets re-cleaned first. Content groups from one hash-groupBy
    // (the exact-dedup shape), dup flags joined back, integer-exact
    // permille rate.
    "q_llm_dup_rate" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
        val base = d.select($"doc_id", $"source", $"text")
          .unionByName(d.filter($"doc_id" % 10 === 0).select(
            ($"doc_id" + 100000L).as("doc_id"), $"source", $"text"))
        val groups = base.groupBy($"text")
          .agg(count(lit(1)).as("copies"), min($"doc_id").as("keep_id"))
        base.join(groups, "text")
          .select($"source",
            when($"copies" > 1 && $"doc_id" =!= $"keep_id", 1L)
              .otherwise(0L).as("is_dup"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"is_dup").as("n_dups"))
          .withColumn("dup_permille",
            expr("n_dups * 1000 div n_docs"))
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, source, text FROM documents
          WHERE doc_id % 10 = 0),
        g AS (SELECT text, count(*) AS copies, min(doc_id) AS keep_id
              FROM base GROUP BY text)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN copies > 1 AND doc_id <> keep_id
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
          CAST((sum(CASE WHEN copies > 1 AND doc_id <> keep_id
            THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT)
            AS dup_permille
        FROM base JOIN g USING (text)
        GROUP BY source""")),

    // COMPOSITE QUALITY GATE: the accept/reject decision with a REASON
    // BITMASK (which rules fired) — what a filtering pipeline actually
    // emits, so rejected docs are auditable by rule. Three cheap per-row
    // rules (short doc, low lexical diversity, high top-word share);
    // pure codegen, no shuffle.
    "q_llm_quality_gate" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val ws = split($"text", " ")
        Engine.table(s, dir, "documents")
          .select($"doc_id", $"source", $"n_chars", $"text")
          .withColumn("n_words", size(ws))
          .withColumn("n_distinct", size(array_distinct(ws)))
          .withColumn("mask",
            when($"n_chars" < 100, 1L).otherwise(0L)
              + when($"n_distinct".cast("double")
                  / $"n_words" < 0.3, 2L).otherwise(0L)
              + when($"n_words" < 20, 4L).otherwise(0L))
          .select($"doc_id", $"source", $"mask",
            ($"mask" === 0L).as("accepted"))
      },
      oracle = Some("""
        SELECT doc_id, source, CAST(mask AS BIGINT) AS mask,
          mask = 0 AS accepted FROM (
          SELECT doc_id, source,
            (CASE WHEN n_chars < 100 THEN 1 ELSE 0 END)
            + (CASE WHEN CAST(len(list_distinct(ws)) AS DOUBLE)
                  / len(ws) < 0.3 THEN 2 ELSE 0 END)
            + (CASE WHEN len(ws) < 20 THEN 4 ELSE 0 END) AS mask
          FROM (SELECT doc_id, source, n_chars,
                  string_split(text, ' ') AS ws
                FROM documents))""")),

    // THRESHOLD CALIBRATION SWEEP: pair counts at several jaccard
    // cutoffs from ONE pass over the pair join — the tuning table an
    // operator reads before fixing the dedup threshold (re-running the
    // join per candidate cutoff at 100 TB is the naive alternative).
    // Candidate generation is PREFIX-PREFIX filtered at the sweep's own
    // minimum cutoff θ=0.5 (the AllPairs/PPJoin self-join scheme):
    // jac(A,B) >= θ implies |A∩B| >= α = ceil(θ/(1+θ)·(na+nb)), and if
    // the rarest-first prefixes P(A), P(B) (each of length
    // nw − ceil(θ·nw) + 1 in one global (df, token) order) were
    // disjoint, then — taking wlog max P(A) < max P(B) — every common
    // token would land in A's suffix of ceil(θ·na)−1 tokens, capping
    // |A∩B| < α.  Since nb >= θ·na for any qualifying pair, α >=
    // ceil(θ·na), so the code's per-doc prefix length is sufficient.
    // Joining PREFIX against PREFIX (not prefix against full) keeps
    // BOTH posting lists short: at 100 TB hot tokens land in nobody's
    // prefix, so the quadratic posting blowup of a full×full token
    // self-join cannot form on either side.  Three more cuts, all
    // inside the join condition so junk pairs never materialize:
    //  * θ-size filter (θ·na <= nb <= na/θ, implied by jac >= θ);
    //  * POSITIONAL filter (AllPairs): the lemma's witness token sits
    //    at rank pa <= na−α+1 in A and pb <= nb−α+1 in B, so a pair may
    //    survive only via a token match with
    //    min(na−pa, nb−pb)+1 >= α = ceil((na+nb)/3) — matches deep in
    //    both prefixes cannot carry a qualifying pair;
    //  * tokens ride as xxhash64(token, source): the 8-byte key makes
    //    the posting shuffle narrow and the probes cheap, folds the
    //    same-source predicate into key equality, and a (vanishingly
    //    unlikely, ~2^-64/pair) collision can only ADD a candidate,
    //    which the exact verify then rejects.
    // Exact per-pair jaccard is then recomputed on the FULL (hashed)
    // sets — the same value the dedup queries use.  That the prefix
    // join actually prunes (candidate pairs < full-join pair volume) is
    // asserted in CorpusSpec, not here: a degenerate corpus where every
    // token is rare must produce a correct sweep, not an exception.
    "q_llm_threshold_sweep" -> QueryDef(
      fn = (s, dir) => thresholdSweep(s, withNearDups(s, dir)),
      oracle = Some(s"""
        WITH $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base),
        j AS (
          SELECT CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / (len(a.ws) + len(b.ws)
                 - len(list_intersect(a.ws, b.ws))) AS jac
          FROM d a JOIN d b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.ws, b.ws)) > 0)
        SELECT
          CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
            AS ge_50,
          CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
            AS ge_70,
          CAST(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
            AS ge_80,
          CAST(sum(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
            AS ge_90
        FROM j""")),

    // ASYMMETRIC CONTAINMENT join: |A∩B| / |A| — catches subset
    // duplicates (a doc wholly contained in a longer one) that the
    // symmetric jaccard threshold misses when the container is much
    // larger. Candidate generation is PREFIX-FILTERED (the PPJoin trick
    // adapted to containment's asymmetry): if |A∩B| >= ceil(0.9·|A|),
    // at least one of A's (|A| - ceil(0.9·|A|) + 1) rarest tokens (in
    // global df order) lies in B's FULL set — so candidates come from
    // prefix(x) ⋈ full(y), each side taking a turn as x IN THE SAME
    // JOIN, instead of the full×full posting join. (Prefix-prefix, the
    // symmetric sweep's cheaper scheme, is unsound here: a tiny doc's
    // tokens need not reach a huge container's rarest decile.)
    // Lossless by pigeonhole; verification on full sets computes both
    // directions. Two r8 cuts carried over from the sweep rewrite:
    // the per-direction size filter (containment-of-x needs
    // |y| >= 0.9|x|, and a pair qualifying only the other way round is
    // caught when the roles swap inside this same join) lands in the
    // join condition, and tokens ride as xxhash64(token, source) —
    // 8-byte keys, same-source folded into equality, collisions can
    // only add candidates the exact verify rejects. At 100 TB hot
    // tokens land in nobody's prefix, so the quadratic posting blowup
    // never happens on the candidate side (the full side stays linear).
    "q_llm_containment" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        // The candidate join and the set-intersection rerank are CPU-
        // dense but byte-LIGHT (a few MB of shuffle driving seconds of
        // compute), so AQE's byte-based coalescing would strangle them
        // to 1-5 tasks on 32 cores. Explicit fixed-N repartitions on
        // the join keys pin those stages to cluster parallelism — AQE
        // never coalesces a user-numbered repartition, and the planner
        // reuses it as the join's own exchange (no extra shuffle).
        // (Unlike the sweep, NO doc_id repartition for scan sharing
        // here: at θ=0.9 the prefix pipeline is light, so shuffling the
        // hashed-set arrays once costs more than letting each consumer
        // re-read the page-cached scan — measured +0.4 s.)
        val par = s.sparkContext.defaultParallelism * 2
        val sets = withNearDups(s, dir)
          .select($"doc_id", $"source",
            array_distinct(transform(split($"text", " "),
              t => xxhash64(t, $"source"))).as("hs"))
          .withColumn("nw", size($"hs"))
        val tok = sets.select($"doc_id", $"nw", explode($"hs").as("wh"))
        val dfreq = tok.groupBy($"wh").agg(count(lit(1)).as("df"))
        // prefix = the (nw - ceil(0.9*nw) + 1) rarest tokens per doc
        val prefix = tok.join(dfreq, Seq("wh"))
          .groupBy($"doc_id", $"nw")
          .agg(collect_list(struct($"df", $"wh")).as("tw"))
          .withColumn("plen",
            ($"nw" - expr("(nw * 9 + 9) div 10") + 1).cast("int"))
          .select($"doc_id", $"nw",
            explode(slice(array_sort($"tw"), lit(1), $"plen")).as("p"))
          .select($"doc_id", $"nw", $"p.wh".as("wh"))
        val cand = prefix.repartition(par, $"wh").as("p")
          .join(tok.repartition(par, $"wh").as("t"),
            $"p.wh" === $"t.wh" && $"p.doc_id" =!= $"t.doc_id"
              && $"t.nw" * 10L >= $"p.nw" * 9L)
          .select(least($"p.doc_id", $"t.doc_id").as("doc_a"),
            greatest($"p.doc_id", $"t.doc_id").as("doc_b"))
          .distinct()
        cand.join(sets.as("da"), $"doc_a" === $"da.doc_id")
          .join(sets.as("db"), $"doc_b" === $"db.doc_id"
            && $"da.source" === $"db.source")
          .withColumn("inter", size(array_intersect($"da.hs", $"db.hs")))
          .withColumn("cont_a", $"inter".cast("double") / $"da.nw")
          .withColumn("cont_b", $"inter".cast("double") / $"db.nw")
          .filter($"cont_a" >= 0.9 || $"cont_b" >= 0.9)
          .select($"doc_a", $"doc_b", $"cont_a", $"cont_b")
      },
      oracle = Some(s"""
        WITH $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base)
        SELECT doc_a, doc_b, cont_a, cont_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(a.ws) AS cont_a,
            CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(b.ws) AS cont_b
          FROM d a JOIN d b
            ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE len(list_intersect(a.ws, b.ws)) > 0)
        WHERE cont_a >= 0.9 OR cont_b >= 0.9""")),

    // LSH PRECISION AUDIT: for every banding candidate pair, the
    // signature-agreement estimate (shared minhashes / K) next to the
    // TRUE jaccard — the measurement a pipeline operator runs before
    // trusting an LSH threshold at 100 TB (est_j is computable from the
    // 8-long sketch alone; true_j needs the full token sets and is only
    // affordable on the candidate subset, which is exactly this join).
    "q_llm_lsh_precision" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val base = withNearDups(s, dir)
        val bands = bandFrameOf(base)
        val pairs = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bh" === $"b.bh"
              && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .distinct()
        val sig = sigFrameOf(base)
        val sa = sig.select(Seq($"doc_id".as("doc_a")) ++
          (0 until K).map(j => col(s"s$j").as(s"a$j")): _*)
        val sb = sig.select(Seq($"doc_id".as("doc_b")) ++
          (0 until K).map(j => col(s"s$j").as(s"b$j")): _*)
        val d = base.select($"doc_id",
          array_distinct(split($"text", " ")).as("ws"))
        val da = d.select($"doc_id".as("doc_a"), $"ws".as("wa"))
        val db = d.select($"doc_id".as("doc_b"), $"ws".as("wb"))
        val agree = (0 until K)
          .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
          .reduce(_ + _)
        pairs.join(sa, "doc_a").join(sb, "doc_b")
          .join(da, "doc_a").join(db, "doc_b")
          .withColumn("inter", size(array_intersect($"wa", $"wb")))
          .select($"doc_a", $"doc_b",
            (agree.cast("double") / K).as("est_j"),
            ($"inter".cast("double")
              / (size($"wa") + size($"wb") - $"inter")).as("true_j"))
      },
      oracle = Some(s"""
        WITH $bandCtesSql,
        p AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        d AS (SELECT doc_id,
                list_distinct(string_split(text, ' ')) AS ws FROM base)
        SELECT p.doc_a, p.doc_b,
          (${(0 until K).map(j =>
            s"(CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END)")
            .mkString(" + ")}) / CAST($K AS DOUBLE) AS est_j,
          CAST(len(list_intersect(da.ws, db.ws)) AS DOUBLE)
            / (len(da.ws) + len(db.ws)
               - len(list_intersect(da.ws, db.ws))) AS true_j
        FROM p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
        JOIN d da ON da.doc_id = p.doc_a
        JOIN d db ON db.doc_id = p.doc_b""")),

    // BM25-flavored TOP-K SEARCH: retrieve the best 5 docs per query
    // string by an integer-exact tf/df relevance score — the retrieval
    // op a RAG/data-curation pipeline runs against the corpus. The tiny
    // query term list broadcasts onto the posting lists (corpus side
    // never shuffles for the probe); per-query ranking is the
    // heap-bounded GroupTopK, not a global sort. Score units are
    // tf * 1e6 div df — integral division, so no float crosses engines
    // until the final display cast.
    "q_llm_search" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val queries = searchQueries.toDF("q_id", "q_text")
          .select($"q_id", explode(split($"q_text", " ")).as("w"))
        val tok = Engine.table(s, dir, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("w"))
          .groupBy($"w", $"doc_id").agg(count(lit(1)).as("tf"))
        val dfreq = tok.groupBy($"w")
          .agg(count(lit(1)).as("df"))
        val scored = tok.join(dfreq, "w")
          .join(broadcast(queries), "w")
          .groupBy($"q_id", $"doc_id")
          .agg(sum(expr("tf * 1000000 div df")).as("score_units"))
        graft.plans.GroupTopK(scored, Seq("q_id"),
          Seq("score_units" -> true, "doc_id" -> false), k = 5)
          .select($"q_id", $"doc_id", $"score_units",
            ($"score_units".cast("double") / 1e6).as("score"))
      },
      oracle = Some(s"""
        WITH queries(q_id, q_text) AS (VALUES ${searchQueries
          .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")}),
        qw AS (SELECT q_id, unnest(string_split(q_text, ' ')) AS w
               FROM queries),
        tok AS (
          SELECT w, doc_id, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
          GROUP BY w, doc_id),
        dfreq AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
        scored AS (
          SELECT q_id, doc_id,
            CAST(sum(tf * 1000000 // df) AS BIGINT) AS score_units
          FROM tok JOIN dfreq USING (w) JOIN qw USING (w)
          GROUP BY q_id, doc_id)
        SELECT q_id, doc_id, score_units,
          CAST(score_units AS DOUBLE) / 1e6 AS score
        FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY score_units DESC, doc_id) AS rn
              FROM scored)
        WHERE rn <= 5""")),

    // Connected-component dedup clusters over the near-dup pair graph:
    // cluster id = min doc_id reachable through jaccard>=0.7 edges. Pair
    // generation alone isn't dedup — a training pipeline keeps ONE doc
    // per transitive cluster, so the component labeling is the operator
    // that actually drops rows. Distributed shape: iterative min-label
    // propagation to fixpoint (each round = one join + one min-agg
    // shuffle, lineage cut per round); near-dup graphs have tiny
    // diameter, so rounds ~ O(log n) worst case and 2-3 in practice. At
    // 100 TB the same loop runs with large-star/small-star edge rewrites
    // to bound per-round skew; the fixpoint + convergence check are
    // identical. Oracle: DuckDB recursive-CTE transitive closure.
    "q_llm_dedup_clusters" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        // tokens ride as xxhash64(token, source) — 8-byte posting keys
        // with the same-source predicate folded into key equality (r8,
        // same policy as the sweep/containment/jaccard_pf family; a
        // ~2^-64 collision can only nudge one pair's intersection count)
        // r19 A/B note: the prefix-filter pair generation (identical
        // pair set by the shortened-prefix lemma) was gated PASS and
        // measured SLOWER here (+2.3 s clean sitting) — see
        // persistedLabels for the full negative-result record; the
        // all-pairs inverted-index form stays because it is cheapest
        // at this scale, with the pf crossover documented by the
        // gated jaccard vs jaccard_pf pair.
        val d = withNearDups(s, dir)
          .select($"doc_id",
            array_distinct(transform(split($"text", " "),
              t => xxhash64(t, $"source"))).as("hs"))
          .withColumn("nw", size($"hs"))
        val tok = d.select($"doc_id", $"nw", explode($"hs").as("wh"))
          // CPU-dense byte-light self-join: pin to cluster parallelism
          // (see q_llm_containment's rationale on AQE coalescing)
          .repartition(s.sparkContext.defaultParallelism * 2, $"wh")
        val pairs = tok.as("a").join(tok.as("b"),
          $"a.wh" === $"b.wh" && $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
            $"a.nw".as("na"), $"b.nw".as("nb"))
          .agg(count(lit(1)).as("inter"))
          .filter($"inter".cast("double")
            / ($"na" + $"nb" - $"inter") >= 0.7)
          .select($"doc_a", $"doc_b")
        // simple fixpoint: near-dup graphs are dense blobs with tiny
        // diameter, where plain propagation beats star contraction by
        // ~40% (measured); ConnectedComponents.labelStar is the
        // O(log^2 n)-round variant for adversarial/chain graphs.
        val labels = graft.operators.ConnectedComponents
          .label(pairs, "doc_a", "doc_b")
        val sizes = labels.groupBy($"lab").agg(count(lit(1)).as("csize"))
        labels.join(sizes, "lab")
          .select($"id".as("doc_id"), $"lab".as("cluster_id"), $"csize")
      },
      oracle = Some(s"""
        WITH RECURSIVE $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7),
        e AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION SELECT doc_b, doc_a FROM p
          UNION SELECT doc_a, doc_a FROM p
          UNION SELECT doc_b, doc_b FROM p),
        reach(src, dst) AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        lab AS (
          SELECT src AS doc_id, min(dst) AS cluster_id
          FROM reach GROUP BY src)
        SELECT l.doc_id, l.cluster_id, c.csize
        FROM lab l JOIN (
          SELECT cluster_id, count(*) AS csize FROM lab GROUP BY cluster_id
        ) c USING (cluster_id)""")),

    // The dedup loop CLOSED: emit the deduplicated corpus itself — keep
    // exactly one document per near-dup cluster (the minimum doc_id,
    // which IS the converged min-label), drop the rest, keep every
    // singleton untouched. This is the row-dropping operator a training
    // pipeline actually runs; labeling (q_llm_dedup_clusters) is its
    // input, read here from the persisted label artifact. Shape: ONE
    // corpus-sized left join against the (tiny) label set with a
    // keep-iff-(unlabeled or id == label) filter — equivalently an
    // anti-join against the drop set, but the left join also carries the
    // per-cluster size out for the kept representative.
    "q_llm_dedup_rewrite" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val corpus = withNearDups(s, dir)
        // labels come from the PERSISTED artifact (write-once per JVM,
        // the q_llm_index_persisted lifecycle): the labeling fixpoint is
        // paid by one job and measured by q_llm_dedup_clusters; the
        // rewrite — what a pipeline re-runs — is two joins and a filter.
        val labels = persistedLabels(s, dir)
        val sizes = labels.groupBy($"lab").agg(count(lit(1)).as("csize"))
        val clustered = labels.join(sizes, "lab")
        corpus.join(clustered, corpus("doc_id") === clustered("id"), "left")
          .filter($"id".isNull || $"doc_id" === $"lab")
          .select($"doc_id", $"source",
            coalesce($"lab", $"doc_id").as("cluster_id"),
            coalesce($"csize", lit(1L)).as("cluster_size"),
            substring(md5($"text".cast("binary")), 1, 8).as("content_sig"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7),
        e AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION SELECT doc_b, doc_a FROM p
          UNION SELECT doc_a, doc_a FROM p
          UNION SELECT doc_b, doc_b FROM p),
        reach(src, dst) AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        lab AS (
          SELECT src AS doc_id, min(dst) AS cluster_id
          FROM reach GROUP BY src),
        sz AS (
          SELECT cluster_id, count(*) AS csize FROM lab GROUP BY cluster_id)
        SELECT b.doc_id, b.source,
          coalesce(l.cluster_id, b.doc_id) AS cluster_id,
          coalesce(sz.csize, CAST(1 AS BIGINT)) AS cluster_size,
          substr(md5(b.text), 1, 8) AS content_sig
        FROM base b
        LEFT JOIN lab l ON b.doc_id = l.doc_id
        LEFT JOIN sz ON l.cluster_id = sz.cluster_id
        WHERE l.doc_id IS NULL OR b.doc_id = l.cluster_id""")),

    // Candidate generation against the PERSISTED signature index: the
    // minhash banding table materialized once as a bucketed+sorted
    // managed table on the probe key (band, bh), then the LSH candidate
    // self-join run directly against the artifact — no exchange, no sort
    // under the join (plan-asserted in OperatorSpec). Output: candidate
    // pairs with their band-agreement count. This is the index lifecycle
    // a 100 TB dedup pipeline runs: build the index in one job, probe it
    // from many.
    "q_llm_index_persisted" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        indexProbeJoin(s, dir)
          .groupBy($"doc_a", $"doc_b")
          .agg(count(lit(1)).as("n_shared_bands"))
      },
      oracle = Some(s"""
        WITH $bandCtesSql
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          count(*) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id""")),

    // INCREMENTAL dedup: screen a new ingest batch against the PERSISTED
    // corpus signature index — the steady-state operation of a 100 TB
    // pipeline (the corpus is deduped once; every later crawl delta only
    // probes). The index side is the bucketed artifact on (band, bh), so
    // the left join shuffles ONLY the small new-batch side into the
    // bucket layout; the corpus-sized side moves nothing. Output: one
    // verdict row per new doc — dup (matched an indexed doc) or fresh.
    "q_llm_dedup_incremental" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val idx = persistedOldIndex(s, dir)
          .select($"doc_id".as("old_id"), $"band", $"bh")
        val nb = bandFrameOf(newBatch(s, dir))
          .select($"doc_id".as("new_id"), $"band", $"bh")
        nb.join(idx, Seq("band", "bh"), "left")
          .groupBy($"new_id")
          .agg(min($"old_id").as("match_id"),
            count($"old_id").as("n_hits"))
          .withColumn("is_dup", $"n_hits" > 0)
      },
      oracle = Some(s"""
        WITH base_o AS (SELECT doc_id, text FROM documents),
        $newBatchSql,
        ${bandChainSql("_o")},
        ${bandChainSql("_n")}
        SELECT n.doc_id AS new_id, min(o.doc_id) AS match_id,
          count(o.doc_id) AS n_hits, count(o.doc_id) > 0 AS is_dup
        FROM bands_n n LEFT JOIN bands_o o
          ON n.band = o.band AND n.bh = o.bh
        GROUP BY n.doc_id""")),

    // BLOOM-SCREEN dedup (the fixed-memory corpus membership screen a
    // web-scale pipeline runs before anything exact — the published
    // "Bloom-filter dedup" pattern): the ENTIRE corpus's span
    // (word-trigram shingle) set folds into ONE NDV-independent Bloom
    // filter built EXECUTOR-SIDE by BloomBuildAgg (OR-mergeable
    // partials; only the finished 16 KiB filter crosses to the
    // driver — that bounded transfer IS the operator's design), and
    // the new batch is screened span-by-span against the broadcast
    // filter: a doc with >= half its distinct spans already present is
    // flagged. Versus q_llm_decontaminate's exact broadcast set, the
    // filter's memory is FIXED at any corpus size — the trade is a
    // bounded false-positive rate, which the oracle models EXACTLY
    // (membership = all 4 double-hashed probe bits in the corpus's
    // set-bit set, collisions included), so the gate is deterministic,
    // not tolerance-based.
    "q_llm_dedup_bloom_screen" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val bits = 131072L // 2^17 = 16 KiB filter, fixed by design
        val bytes = Engine.table(s, dir, "documents")
          .select(explode(array_distinct(
            graft.plans.Shingles($"text", 3))).as("span"))
          .agg(graft.plans.BloomBuildAgg(
            Fns.h60($"span"), lit(bits)).as("fw"))
          .head().getAs[Array[Byte]](0) // ONE 16 KiB row by design
        val words = new Array[Long](bytes.length / 8)
        java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(words)
        val probed = newBatch(s, dir)
          .select($"doc_id", explode(array_distinct(
            graft.plans.Shingles($"text", 3))).as("span"))
          .withColumn("__w", typedLit(words.toSeq))
          .withColumn("h", Fns.h60($"span"))
          .withColumn("h1", $"h".bitwiseAND(lit(1073741823L)))
          .withColumn("h2", shiftrightunsigned($"h", 30).bitwiseOR(lit(1L)))
        val withPos = (0 until 4).foldLeft(probed) { (df, i) =>
          df.withColumn(s"p$i", ($"h1" + lit(i.toLong) * $"h2") % lit(bits))
        }
        val hit = (0 until 4).map(i => expr(
          s"(element_at(__w, cast(shiftright(p$i, 6) as int) + 1) & " +
            s"shiftleft(1L, cast(p$i % 64 as int))) != 0"))
          .reduce(_ && _)
        withPos
          .withColumn("hit", hit)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when($"hit", 1L).otherwise(0L)).as("n_hits"))
          .withColumn("flagged", $"n_hits" * 2 >= $"n_spans")
      },
      oracle = Some(s"""
        WITH base_c AS (SELECT doc_id, text FROM documents),
        ${shingleCteSql("_c")},
        cpos AS (
          SELECT DISTINCT
            ((h & 1073741823) + i * ((h >> 30) | 1)) % 131072 AS pos
          FROM (SELECT DISTINCT ${h60Sql("x")} AS h
                FROM (SELECT unnest(list_distinct(shingles)) AS x
                      FROM sh_c)),
               (SELECT unnest([0, 1, 2, 3]) AS i)),
        $newBatchSql,
        ${shingleCteSql("_n")},
        ppos AS (
          SELECT doc_id, x,
            ((h & 1073741823) + i * ((h >> 30) | 1)) % 131072 AS pos
          FROM (SELECT doc_id, x, ${h60Sql("x")} AS h
                FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS x
                      FROM sh_n)),
               (SELECT unnest([0, 1, 2, 3]) AS i)),
        pspan AS (
          SELECT doc_id, x,
            count(DISTINCT pp.pos) AS need, count(DISTINCT c.pos) AS got
          FROM ppos pp LEFT JOIN cpos c ON pp.pos = c.pos
          GROUP BY doc_id, x)
        SELECT doc_id, count(*) AS n_spans,
          CAST(sum(CASE WHEN need = got THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hits,
          sum(CASE WHEN need = got THEN 1 ELSE 0 END) * 2 >= count(*)
            AS flagged
        FROM pspan GROUP BY doc_id""")),

    // STREAMING incremental dedup — the online form of
    // q_llm_dedup_incremental: the new batch arrives as a STREAM, is
    // banded by the same native Shingles/MinHashSigs codegen expressions
    // (stateless, so they run unchanged inside MicroBatchExecution), and
    // probes the persisted corpus index via a stream-static left join;
    // the per-doc verdict aggregate runs in complete mode. This is the
    // ingest-time dedup gate a crawl pipeline runs: index once, screen
    // every arriving shard. Same oracle as the batch query — the stream
    // must converge to the identical verdict table.
    "q_stream_dedup_incremental" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val idx = persistedOldIndex(s, dir)
          .select($"doc_id".as("old_id"), $"band", $"bh")
        graft.streaming.Replay.run(s, newBatch(s, dir), mode = "complete",
          cacheKey = s"newbatch:$dir") { st =>
          bandFrameOf(st)
            .select($"doc_id".as("new_id"), $"band", $"bh")
            .join(idx, Seq("band", "bh"), "left")
            .groupBy($"new_id")
            .agg(min($"old_id").as("match_id"),
              count($"old_id").as("n_hits"))
            .withColumn("is_dup", $"n_hits" > 0)
        }
      },
      oracle = Some(s"""
        WITH base_o AS (SELECT doc_id, text FROM documents),
        $newBatchSql,
        ${bandChainSql("_o")},
        ${bandChainSql("_n")}
        SELECT n.doc_id AS new_id, min(o.doc_id) AS match_id,
          count(o.doc_id) AS n_hits, count(o.doc_id) > 0 AS is_dup
        FROM bands_n n LEFT JOIN bands_o o
          ON n.band = o.band AND n.bh = o.bh
        GROUP BY n.doc_id""")),

    // STREAMING INGEST PIPELINE — the LLM ops COMPOSED as one streaming
    // query, the shape a crawl-ingest service actually deploys:
    // normalize (lowercase/punct-strip/space-collapse) -> exact dedup on
    // the canonical-form hash (stateful dropDuplicates) -> quality gate
    // (length floor) -> sink. Dirt and exact duplicates are injected
    // deterministically; every output column is derived from the
    // CONTENT (not arrival order), so keep-first dedup semantics yield
    // an order-independent result the batch oracle can hash-match.
    "q_stream_pipeline" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
        val input = d.select($"doc_id", $"text")
          .unionByName(d.filter($"doc_id" % 6 === 0).select(
            ($"doc_id" + 300000L).as("doc_id"),
            concat(lit("  "), upper($"text"), lit(" !!")).as("text")))
        graft.streaming.Replay.run(s, input, mode = "append",
          cacheKey = s"pipeline:$dir") { st =>
          val norm = st.withColumn("norm",
            trim(regexp_replace(
              regexp_replace(lower($"text"), "[^a-z0-9 ]", " "),
              " +", " ")))
            .withColumn("norm_key", Fns.h60($"norm"))
          norm.dropDuplicates(Seq("norm_key"))
            .withColumn("n_words", size(split($"norm", " ")))
            .filter($"n_words" >= 5)
            .select($"norm_key", $"norm", $"n_words")
        }
      },
      oracle = Some(s"""
        WITH input AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 300000, concat('  ', upper(text), ' !!')
          FROM documents WHERE doc_id % 6 = 0),
        n AS (
          SELECT trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM input),
        dd AS (SELECT DISTINCT norm FROM n)
        SELECT ${Fns.h60Sql("norm")} AS norm_key, norm,
          CAST(len(string_split(norm, ' ')) AS INT) AS n_words
        FROM dd
        WHERE len(string_split(norm, ' ')) >= 5""")),

    // Cross-source CONTAMINATION MATRIX: how many near-dup pairs link
    // each (source_a, source_b) — the overlap audit run before mixing
    // crawls into a training set. The duplicate copies are injected
    // under a mirror_ source, so the matrix exposes genuine cross-source
    // contamination, not self-overlap. Candidate pairs come from the
    // same bucketed minhash banding as the dedup path (no cartesian);
    // the doc -> source attachment is two joins against the narrow
    // (doc_id, source) projection.
    "q_llm_dedup_matrix" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
        val base = d.select($"doc_id", $"text", $"source")
          .unionByName(d.filter($"doc_id" % 10 === 0).select(
            ($"doc_id" + 100000L).as("doc_id"),
            concat($"text", lit(" graftdup")).as("text"),
            concat(lit("mirror_"), $"source").as("source")))
        val bands = bandFrameOf(base)
        val pairs = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bh" === $"b.bh"
              && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .distinct()
        val src = base.select($"doc_id", $"source")
        pairs.join(src.as("sa"), $"doc_a" === $"sa.doc_id")
          .join(src.as("sb"), $"doc_b" === $"sb.doc_id")
          .select($"sa.source".as("source_a"), $"sb.source".as("source_b"))
          .groupBy($"source_a", $"source_b")
          .agg(count(lit(1)).as("n_pairs"))
      },
      oracle = Some(s"""
        WITH base_m AS (
          SELECT doc_id, text, source FROM documents
          UNION ALL
          SELECT doc_id + 100000, concat(text, ' graftdup'),
            concat('mirror_', source)
          FROM documents WHERE doc_id % 10 = 0),
        ${bandChainSql("_m")},
        p AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands_m a JOIN bands_m b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        SELECT sa.source AS source_a, sb.source AS source_b,
          count(*) AS n_pairs
        FROM p
        JOIN base_m sa ON p.doc_a = sa.doc_id
        JOIN base_m sb ON p.doc_b = sb.doc_id
        GROUP BY sa.source, sb.source""")),

    // Prefix-filtered set-similarity join (PPJoin-style): same output as
    // q_llm_dedup_jaccard, but the pair join runs only over each doc's
    // PREFIX — its (nw - ceil(0.7*nw) + 1) rarest tokens in a global
    // (df, token) order. Pigeonhole: two docs with Jaccard >= t share
    // >= ceil(t*max(na,nb)) tokens, so their smallest shared token falls
    // in BOTH prefixes — candidate generation is lossless. Candidates are
    // then verified on full token sets (native array_intersect).
    // This is the shape that survives real vocabularies: hot (high-df)
    // tokens land in nobody's prefix, so the quadratic posting-list
    // blowup on frequent tokens never happens. (On this 31-word synthetic
    // vocab the df-skew is mild — the operator, not the demo, is the
    // deliverable.)
    "q_llm_dedup_jaccard_pf" -> QueryDef(
      fn = (s, dir) => jaccardPf(s, withNearDups(s, dir)),
      // lossless optimization -> the oracle IS the plain jaccard join
      oracle = Some(s"""
        WITH $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
            / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7""")),

    // Deterministic distributed sampling as a bottom-k sketch: rank every
    // doc by a stable content-independent hash and keep the k smallest
    // per stratum (source). Same sample on any cluster / any partitioning
    // / any day — unlike rand()-based sampling — and it composes the
    // GroupTopK operator, so the per-stratum pass is heap-bounded, not a
    // sort. This is the "give me a reproducible 0.01% of the corpus"
    // primitive a 100 TB training pipeline needs.
    "q_llm_sample_bottomk" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
          .select($"doc_id", $"source", $"lang",
            Fns.h60($"doc_id").as("rank_hash"))
        graft.plans.GroupTopK(d, Seq("source"),
          Seq("rank_hash" -> false, "doc_id" -> false), k = 5)
      },
      oracle = Some(s"""
        SELECT doc_id, source, lang, rank_hash FROM (
          SELECT doc_id, source, lang, rank_hash,
            row_number() OVER (PARTITION BY source
              ORDER BY rank_hash, doc_id) AS rn
          FROM (SELECT doc_id, source, lang,
                  ${h60Sql("CAST(doc_id AS VARCHAR)")} AS rank_hash
                FROM documents))
        WHERE rn <= 5""")),

    // Language ID via stopword-set scoring with a fixed tie priority.
    "q_llm_langid" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val stop = Map(
          "en" -> Seq("the", "a", "of", "and", "to"),
          "de" -> Seq("der", "die", "das", "und", "zu"),
          "es" -> Seq("el", "la", "de", "y", "en"),
          "fr" -> Seq("le", "la", "et", "les", "des"),
          "zh" -> Seq("de5", "shi4", "zai4", "le5", "he2"))
        val words = split($"text", " ")
        def score(l: String): Column =
          size(filter(words, w => w.isin(stop(l).map(lit): _*)))
        val d = Engine.table(s, dir, "documents")
          .select($"doc_id", $"lang",
            score("en").as("s_en"), score("de").as("s_de"),
            score("es").as("s_es"), score("fr").as("s_fr"),
            score("zh").as("s_zh"))
        d.withColumn("pred",
          when($"s_en" >= $"s_de" && $"s_en" >= $"s_es"
            && $"s_en" >= $"s_fr" && $"s_en" >= $"s_zh", "en")
            .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr"
              && $"s_de" >= $"s_zh", "de")
            .when($"s_es" >= $"s_fr" && $"s_es" >= $"s_zh", "es")
            .when($"s_fr" >= $"s_zh", "fr")
            .otherwise("zh"))
          .withColumn("is_match", $"pred" === $"lang")
      },
      oracle = Some {
        val sets = Seq(
          "en" -> Seq("the", "a", "of", "and", "to"),
          "de" -> Seq("der", "die", "das", "und", "zu"),
          "es" -> Seq("el", "la", "de", "y", "en"),
          "fr" -> Seq("le", "la", "et", "les", "des"),
          "zh" -> Seq("de5", "shi4", "zai4", "le5", "he2"))
        val scores = sets.map { case (l, ws) =>
          val inList = ws.map(w => s"'$w'").mkString(", ")
          s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ($inList))) AS INT) AS s_$l"
        }.mkString(",\n            ")
        s"""
        WITH d AS (
          SELECT doc_id, lang,
            $scores
          FROM documents)
        SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
          CASE
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END AS pred,
          CASE
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END = lang AS is_match
        FROM d"""
      }),

    // Quality scoring: length/word/type-token/stopword/punctuation stats
    // + a weighted composite, all per-row double arithmetic.
    // Repetition scoring (the Gopher-rule family): duplicate 2-/3-gram
    // fractions from the native Shingles expression, plus the most-
    // frequent-word share (one explode + two aggregations, both keyed by
    // doc — partition-local after the first shuffle). High-repetition
    // docs are the #1 junk class a crawl-scale corpus filters out.
    "q_llm_repetition" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
          .select($"doc_id", $"text",
            graft.plans.Shingles($"text", 2).as("g2"),
            graft.plans.Shingles($"text", 3).as("g3"))
          .select($"doc_id", $"text",
            (lit(1.0) - size(array_distinct($"g2")).cast("double")
              / size($"g2")).as("dup2_frac"),
            (lit(1.0) - size(array_distinct($"g3")).cast("double")
              / size($"g3")).as("dup3_frac"))
        val top = d.select($"doc_id", explode(split($"text", " ")).as("w"))
          .groupBy($"doc_id", $"w").agg(count(lit(1)).as("n"))
          .groupBy($"doc_id")
          .agg(max($"n").as("top_n"), sum($"n").as("n_words"))
          .select($"doc_id",
            ($"top_n".cast("double") / $"n_words").as("top_word_frac"))
        d.join(top, "doc_id")
          .select($"doc_id", $"dup2_frac", $"dup3_frac", $"top_word_frac",
            when($"dup3_frac" > 0.5 || $"top_word_frac" > 0.3, 1)
              .otherwise(0).as("flagged"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT doc_id,
            CASE WHEN len(words) >= 2
              THEN [concat_ws(' ', words[i+1], words[i+2])
                    FOR i IN generate_series(0, len(words)-2)]
              ELSE [text] END AS g2,
            CASE WHEN len(words) >= 3
              THEN [concat_ws(' ', words[i+1], words[i+2], words[i+3])
                    FOR i IN generate_series(0, len(words)-3)]
              ELSE [text] END AS g3
          FROM (SELECT doc_id, text, string_split(text, ' ') AS words
                FROM documents)),
        fr AS (
          SELECT doc_id,
            1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
              AS dup2_frac,
            1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
              AS dup3_frac
          FROM g),
        top AS (
          SELECT doc_id,
            CAST(max(n) AS DOUBLE) / sum(n) AS top_word_frac
          FROM (SELECT doc_id, w, count(*) AS n
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY doc_id, w)
          GROUP BY doc_id)
        SELECT fr.doc_id, dup2_frac, dup3_frac, top_word_frac,
          CASE WHEN dup3_frac > 0.5 OR top_word_frac > 0.3
            THEN 1 ELSE 0 END AS flagged
        FROM fr JOIN top ON fr.doc_id = top.doc_id""")),

    "q_llm_quality" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val words = split($"text", " ")
        val en = Seq("the", "a", "of", "and", "to")
        Engine.table(s, dir, "documents")
          .select($"doc_id",
            length($"text").cast("long").as("n_chars"),
            size(words).cast("long").as("n_words"),
            size(array_distinct(words)).cast("long").as("n_distinct"),
            size(filter(words, w => w.isin(en.map(lit): _*))).cast("long").as("n_stop"),
            size(filter(words, w => length(w) >= 6)).cast("long").as("n_long"))
          .withColumn("ttr", $"n_distinct".cast("double") / $"n_words")
          .withColumn("stop_ratio", $"n_stop".cast("double") / $"n_words")
          .withColumn("avg_word_len",
            ($"n_chars" - ($"n_words" - 1)).cast("double") / $"n_words")
          .withColumn("score",
            $"ttr" * 0.5 + $"stop_ratio" * 0.2
              + ($"n_long".cast("double") / $"n_words") * 0.3)
          .withColumn("band",
            when($"score" >= 0.4, "HIGH")
              .when($"score" >= 0.25, "MED").otherwise("LOW"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
            CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
            CAST(len(list_filter(string_split(text, ' '),
              w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
            CAST(len(list_filter(string_split(text, ' '),
              w -> length(w) >= 6)) AS BIGINT) AS n_long
          FROM documents)
        SELECT doc_id, n_chars, n_words, n_distinct, n_stop, n_long,
          CAST(n_distinct AS DOUBLE) / n_words AS ttr,
          CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
          CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
          (CAST(n_distinct AS DOUBLE) / n_words) * 0.5
            + (CAST(n_stop AS DOUBLE) / n_words) * 0.2
            + (CAST(n_long AS DOUBLE) / n_words) * 0.3 AS score,
          CASE WHEN (CAST(n_distinct AS DOUBLE) / n_words) * 0.5
              + (CAST(n_stop AS DOUBLE) / n_words) * 0.2
              + (CAST(n_long AS DOUBLE) / n_words) * 0.3 >= 0.4 THEN 'HIGH'
            WHEN (CAST(n_distinct AS DOUBLE) / n_words) * 0.5
              + (CAST(n_stop AS DOUBLE) / n_words) * 0.2
              + (CAST(n_long AS DOUBLE) / n_words) * 0.3 >= 0.25 THEN 'MED'
            ELSE 'LOW' END AS band
        FROM d""")),

    // Token counting: whitespace + BPE-ish regex tokenization.
    "q_llm_tokens" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents").select(
          $"doc_id",
          size(split($"text", " ")).as("ws_tokens"),
          size(regexp_extract_all($"text",
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"),
          (length($"text") / lit(4.0)).as("approx_bpe"))
      },
      oracle = Some("""
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
            AS re_tokens,
          length(text) / 4.0 AS approx_bpe
        FROM documents""")),

    // SUBWORD (BPE) token counting: the real token denomination a
    // training pipeline budgets in — whitespace counts drift 1.3-2x
    // from subword counts. Pure-Scala BPE (operators/Bpe.scala): merges
    // trained deterministically on the corpus word-frequency dict,
    // counts via the codegen BpeCount expression. Cross-engine gate:
    // DuckDB cannot re-run the merge loop, so the oracle pins what IS
    // recomputable exactly and asserts the provable invariants for the
    // rest —
    //  * chars_m0: BPE under ZERO merges = one token per character, so
    //    the engine's kernel output must EQUAL DuckDB's non-space char
    //    arithmetic, numerically, per doc (exercises the whole
    //    splitting/encoding path);
    //  * rank-prefix monotonicity: tok_200 <= tok_50 <= chars_m0 (the
    //    50-merge model is a rank-prefix of the 200-merge one; greedy
    //    lowest-rank encode replays the prefix's merges first, then
    //    every extra merge strictly shrinks the count);
    //  * word floor: tok_200 >= n_words (encoding never crosses a word
    //    boundary);
    //  * compressed: 200 merges actually merged something, corpus-wide.
    // Exact per-word token counts are pinned in BpeSpec against
    // hand-computed encodings.
    "q_llm_tokens_bpe" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val m200 = graft.operators.Bpe.modelFor(s, dir)
        val m50 = m200.truncate(50)
        val m0 = graft.operators.Bpe.Model(Map.empty)
        val perDoc = Engine.table(s, dir, "documents").select(
          $"doc_id", $"source",
          size(split($"text", " ")).as("n_words"),
          graft.plans.BpeCount($"text", m0).as("chars_m0"),
          graft.plans.BpeCount($"text", m50).as("tok_50"),
          graft.plans.BpeCount($"text", m200).as("tok_200"))
        perDoc.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"n_words").as("n_words"),
          sum($"chars_m0").as("chars_m0"),
          (sum(when($"tok_200" <= $"tok_50" && $"tok_50" <= $"chars_m0"
            && $"tok_200" >= $"n_words", 0L).otherwise(1L)) === 0L)
            .as("bounds_ok"),
          (sum($"tok_200") < sum($"chars_m0")).as("compressed"))
      },
      oracle = Some("""
        SELECT source, count(*) AS n_docs,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
          CAST(sum(length(replace(text, ' ', ''))) AS BIGINT) AS chars_m0,
          true AS bounds_ok, true AS compressed
        FROM documents GROUP BY source""")),

    // Greedy sequence packing in BPE tokens (the q_llm_pack shape with
    // the real token denomination): concatenate each source's docs in
    // stable doc_id order, cut at a 512-BPE-token budget via the same
    // exclusive-prefix-sum window. Bin boundaries depend on the learned
    // merges, so the oracle asserts the packing INVARIANTS plus the
    // exact doc count; bin-level content is pinned by BpeSpec's
    // deterministic fixtures. The tight bound: docs in a bin all START
    // inside the 512-token window, so the bin's tokens minus its
    // largest doc (the only one allowed to spill past the cut) must
    // stay under 512.
    "q_llm_pack_bpe" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val m200 = graft.operators.Bpe.modelFor(s, dir)
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val bins = Engine.table(s, dir, "documents")
          .select($"doc_id", $"source",
            graft.plans.BpeCount($"text", m200).cast("long").as("n_tok"))
          .withColumn("start_tok",
            coalesce(sum($"n_tok").over(w), lit(0L)))
          .withColumn("bin", expr("start_tok div 512"))
          .groupBy($"source", $"bin")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"),
            max($"n_tok").as("max_tok"))
        bins.groupBy($"source").agg(
          sum($"n_docs").as("n_docs"),
          (sum(when($"bin_tokens" - $"max_tok" >= 512, 1L)
            .otherwise(0L)) === 0L).as("bins_bounded"),
          (count(lit(1)).between(lit(1), sum($"n_docs"))).as("n_bins_sane"))
      },
      oracle = Some("""
        SELECT source, count(*) AS n_docs,
          true AS bins_bounded, true AS n_bins_sane
        FROM documents GROUP BY source""")),

    // Document fingerprint: left-to-right polynomial rolling hash mod 2^57
    // over word hashes (overflow-free in both engines) + md5 prefix.
    "q_llm_fingerprint" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents").select(
          $"doc_id",
          aggregate(split($"text", " "), lit(7L),
            (acc, w) => (acc * 31L + (Fns.h60(w) % P)) % P).as("poly_fp"),
          substring(md5($"text".cast("binary")), 1, 8).as("md5_8"))
      },
      oracle = Some(s"""
        SELECT doc_id,
          list_reduce(list_prepend(CAST(7 AS BIGINT),
            list_transform(string_split(text, ' '),
              w -> ${h60Sql("w")} % $P)),
            (a, b) -> (a * 31 + b) % $P) AS poly_fp,
          substr(md5(text), 1, 8) AS md5_8
        FROM documents""")),

    // Test-set DECONTAMINATION: flag training docs sharing any 8-gram
    // with the eval set (doc_id % 50 == 0 plays the held-out benchmark).
    // The standard n-gram-overlap decontamination a pretraining corpus
    // runs before training. Shape: shingle both sides with the native
    // Shingles expression, broadcast the eval shingle set (benchmarks
    // are MBs even when the corpus is 100 TB), equi-join + per-doc
    // distinct count. If the eval side ever outgrew broadcast, the same
    // plan runs as a shuffle equi-join on the shingle hash.
    // (On this 31-word synthetic vocab 8-gram collisions are common —
    // the operator, not the hit rate, is the deliverable.)
    "q_llm_decontaminate" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
          .select($"doc_id", explode(graft.plans.Shingles($"text", 8)).as("sh"))
        val eval = d.filter($"doc_id" % 50 === 0).select($"sh").distinct()
        d.filter($"doc_id" % 50 =!= 0)
          .join(broadcast(eval), "sh")
          .groupBy($"doc_id")
          .agg(countDistinct($"sh").as("n_hit_shingles"))
      },
      oracle = Some(s"""
        WITH sh8 AS (
          SELECT doc_id, unnest(
            CASE WHEN len(words) >= 8
              THEN [concat_ws(' ', words[i+1], words[i+2], words[i+3],
                      words[i+4], words[i+5], words[i+6], words[i+7],
                      words[i+8])
                    FOR i IN generate_series(0, len(words)-8)]
              ELSE [text] END) AS sh
          FROM (SELECT doc_id, text, string_split(text, ' ') AS words
                FROM documents)),
        ev AS (SELECT DISTINCT sh FROM sh8 WHERE doc_id % 50 = 0)
        SELECT t.doc_id, count(DISTINCT t.sh) AS n_hit_shingles
        FROM sh8 t JOIN ev ON t.sh = ev.sh
        WHERE t.doc_id % 50 <> 0
        GROUP BY t.doc_id""")),

    // Greedy sequence PACKING: concatenate each source's docs in stable
    // doc_id order and cut at a 2048-token budget — the
    // concat-then-chunk packing a pretraining pipeline runs to fill
    // context windows. bin = exclusive-running-token-count div budget;
    // the per-source prefix sum is one window pass (partitioned by
    // source, so parallelism = source count; at 100 TB the pack runs
    // per shard/file within a source, same plan one level down).
    "q_llm_pack" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"source").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Engine.table(s, dir, "documents")
          .select($"doc_id", $"source",
            size(split($"text", " ")).cast("long").as("n_tok"))
          .withColumn("start_tok",
            coalesce(sum($"n_tok").over(w), lit(0L)))
          .withColumn("bin", expr("start_tok div 2048"))
          .groupBy($"source", $"bin")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("bin_tokens"),
            min($"doc_id").as("first_doc"))
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (
          SELECT doc_id, source, n_tok,
            coalesce(CAST(sum(n_tok) OVER (PARTITION BY source
              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING) AS BIGINT), 0) AS start_tok
          FROM d)
        SELECT source, start_tok // 2048 AS bin, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
          min(doc_id) AS first_doc
        FROM c GROUP BY source, start_tok // 2048""")),

    // Corpus VOCABULARY build: per-source top-20 tokens by document
    // frequency, heap-bounded via the custom GroupTopK operator (no
    // per-source sort at any scale). The df table is the same posting
    // aggregation the prefix-filter join uses.
    "q_llm_vocab" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val dfreq = Engine.table(s, dir, "documents")
          .select($"source",
            explode(array_distinct(split($"text", " "))).as("w"))
          .groupBy($"source", $"w").agg(count(lit(1)).as("df"))
        graft.plans.GroupTopK(dfreq, Seq("source"),
          Seq("df" -> true, "w" -> false), k = 20)
      },
      oracle = Some("""
        SELECT source, w, df FROM (
          SELECT source, w, df, row_number() OVER (
            PARTITION BY source ORDER BY df DESC, w) AS rn
          FROM (
            SELECT source, w, count(*) AS df
            FROM (SELECT source,
                    unnest(list_distinct(string_split(text, ' '))) AS w
                  FROM documents)
            GROUP BY source, w))
        WHERE rn <= 20""")),

    // PII REDACTION: scrub email/phone patterns and count the hits —
    // the compliance pass a crawl corpus runs before training. The
    // corpus is synthetic, so PII is INJECTED deterministically
    // (doc_id % 7) and mirrored in the oracle CTE; the scrub itself is
    // per-row regexp codegen, embarrassingly parallel at any scale.
    "q_llm_redact" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val emailRe = "[a-z]+@[a-z]+\\.[a-z]+"
        val phoneRe = "[0-9]{3}-[0-9]{4}"
        Engine.table(s, dir, "documents")
          .select($"doc_id", when($"doc_id" % 7 === 0,
            concat($"text", lit(" contact bob@example.com or 555-1234 now")))
            .otherwise($"text").as("text"))
          .select($"doc_id",
            size(regexp_extract_all($"text", lit(emailRe), lit(0)))
              .as("n_emails"),
            size(regexp_extract_all($"text", lit(phoneRe), lit(0)))
              .as("n_phones"),
            substring(md5(regexp_replace(
              regexp_replace($"text", emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").cast("binary")), 1, 8)
              .as("redacted_sig"))
      },
      oracle = Some("""
        WITH seeded AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0
              THEN concat(text, ' contact bob@example.com or 555-1234 now')
              ELSE text END AS text
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[a-z]+@[a-z]+\.[a-z]+'))
            AS INT) AS n_emails,
          CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}'))
            AS INT) AS n_phones,
          substr(md5(regexp_replace(regexp_replace(text,
            '[a-z]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
            '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')), 1, 8) AS redacted_sig
        FROM seeded""")),

    // TF-IDF-style salient terms: top-3 terms per doc by tf/df (the
    // N-free monotone variant of tf-idf — ln(N/df) needs a libm log
    // whose last bit differs across engines; tf/df is ONE IEEE division,
    // bit-identical). Two aggregations on the token explode + a
    // broadcast-able df join + heap-bounded GroupTopK per doc.
    "q_llm_tfidf" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val tok = Engine.table(s, dir, "documents")
          .select($"doc_id", explode(split($"text", " ")).as("w"))
        val tf = tok.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy($"w").agg(count(lit(1)).as("df"))
        val scored = tf.join(dfreq, "w")
          .select($"doc_id", $"w", $"tf", $"df",
            ($"tf".cast("double") / $"df").as("score"))
        graft.plans.GroupTopK(scored, Seq("doc_id"),
          Seq("score" -> true, "w" -> false), k = 3)
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
        dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
        SELECT doc_id, w, tf, df, score FROM (
          SELECT tf.doc_id, tf.w, tf.tf, dfr.df,
            CAST(tf.tf AS DOUBLE) / dfr.df AS score,
            row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY CAST(tf.tf AS DOUBLE) / dfr.df DESC, tf.w) AS rn
          FROM tf JOIN dfr ON tf.w = dfr.w)
        WHERE rn <= 3""")),

    // TOKEN CO-OCCURRENCE with INTEGER-EXACT lift — the association
    // matrix (word2vec/PMI prep) over document-level co-occurrence:
    // lift(a,b) = P(a,b)/(P(a)P(b)) scaled to exact integer units
    // (n_ab * N * 1e6 div (n_a * n_b)), so no log/float crosses the
    // engines. Shape: per-doc distinct tokens -> posting-list self-join
    // (pairs only within a doc, never the global cross), then one
    // aggregate per pair; document frequencies broadcast back onto the
    // pair table. Top-20 pairs by (lift, pair) via GroupTopK on a
    // constant group — the global heap, not a sort.
    "q_llm_cooccur" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
        val n = d.count()
        val tok = d.select($"doc_id",
          explode(array_distinct(split($"text", " "))).as("w"))
        val dfreq = tok.groupBy($"w").agg(count(lit(1)).as("df"))
        val pairs = tok.as("a").join(tok.as("b"),
            $"a.doc_id" === $"b.doc_id" && $"a.w" < $"b.w")
          .groupBy($"a.w".as("w1"), $"b.w".as("w2"))
          .agg(count(lit(1)).as("n_ab"))
          .filter($"n_ab" >= 10)
        val scored = pairs
          .join(broadcast(dfreq.select($"w".as("w1"), $"df".as("df1"))), "w1")
          .join(broadcast(dfreq.select($"w".as("w2"), $"df".as("df2"))), "w2")
          .select($"w1", $"w2", $"n_ab",
            expr(s"n_ab * $n * 1000000 div (df1 * df2)").as("lift_units"))
          .withColumn("g", lit(1))
        graft.plans.GroupTopK(scored, Seq("g"),
          Seq("lift_units" -> true, "w1" -> false, "w2" -> false), k = 20)
          .select($"w1", $"w2", $"n_ab", $"lift_units")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
          FROM documents),
        dfreq AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
        pairs AS (
          SELECT a.w AS w1, b.w AS w2, count(*) AS n_ab
          FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
          GROUP BY a.w, b.w
          HAVING count(*) >= 10),
        scored AS (
          SELECT w1, w2, n_ab,
            (n_ab * (SELECT count(*) FROM documents) * 1000000)
              // (d1.df * d2.df) AS lift_units
          FROM pairs
          JOIN dfreq d1 ON w1 = d1.w
          JOIN dfreq d2 ON w2 = d2.w)
        SELECT w1, w2, n_ab, CAST(lift_units AS BIGINT) AS lift_units
        FROM (SELECT *, row_number() OVER (ORDER BY lift_units DESC, w1, w2)
                AS rn FROM scored)
        WHERE rn <= 20""")),

    // CHARACTER TRIGRAM PROFILE: corpus-wide top char 3-grams — the
    // byte-level signature used for encoding/language drift detection
    // (word tokenizers miss it). Pure per-row explode (one output row
    // per character position), then one count aggregate; top-20 via the
    // constant-group GroupTopK heap.
    "q_llm_char_ngrams" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        // the n-gram generator multiplies rows ~|text|-fold: input bytes
        // are tiny next to generator compute, so spread the source rows
        // across the cluster FIRST (a single small parquet file scans as
        // 1-3 splits, which would serialize the explode)
        val grams = Engine.table(s, dir, "documents")
          .filter(length($"text") >= 3)
          .repartition(s.sparkContext.defaultParallelism)
          .select(explode(expr(
            "transform(sequence(1, length(text) - 2)," +
              " i -> substring(text, i, 3))")).as("g"))
        val counted = grams.groupBy($"g").agg(count(lit(1)).as("n"))
          .withColumn("grp", lit(1))
        graft.plans.GroupTopK(counted, Seq("grp"),
          Seq("n" -> true, "g" -> false), k = 20)
          .select($"g", $"n")
      },
      oracle = Some("""
        SELECT g, n FROM (
          SELECT g, n, row_number() OVER (ORDER BY n DESC, g) AS rn
          FROM (SELECT g, count(*) AS n FROM (
                  SELECT unnest([substr(text, i, 3)
                    FOR i IN generate_series(1, len(text) - 2)]) AS g
                  FROM documents WHERE len(text) >= 3)
                GROUP BY g))
        WHERE rn <= 20""")),

    // BIGRAM LANGUAGE-MODEL statistics: conditional continuation rates
    // P(w2 | w1) as integer-exact per-million units — the n-gram LM
    // table (smoothing-free core) a data-quality or synthetic-detection
    // pass builds at corpus scale. Bigrams come from the native Shingles
    // expression (n=2, one codegen pass); the conditional denominator is
    // one more aggregate over the bigram table itself. Top-20 by rate
    // through the constant-group GroupTopK heap.
    "q_llm_bigram_lm" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val bg = Engine.table(s, dir, "documents")
          .select(explode(graft.plans.Shingles($"text", 2)).as("bg"))
          .withColumn("w1", substring_index($"bg", " ", 1))
        val c2 = bg.groupBy($"w1", $"bg").agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
        val scored = c2.join(broadcast(c1), "w1")
          .filter($"c2" >= 25)
          .select($"bg", $"c2", $"c1",
            expr("c2 * 1000000 div c1").as("ppm"))
          .withColumn("g", lit(1))
        graft.plans.GroupTopK(scored, Seq("g"),
          Seq("ppm" -> true, "bg" -> false), k = 20)
          .select($"bg", $"c2", $"c1", $"ppm")
      },
      oracle = Some("""
        WITH bg AS (
          SELECT CASE WHEN len(words) >= 2
              THEN [concat_ws(' ', words[i+1], words[i+2])
                    FOR i IN generate_series(0, len(words)-2)]
              ELSE [text] END AS bgs
          FROM (SELECT text, string_split(text, ' ') AS words
                FROM documents)),
        b AS (SELECT unnest(bgs) AS bg FROM bg),
        c2 AS (SELECT split_part(bg, ' ', 1) AS w1, bg, count(*) AS c2
               FROM b GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
               FROM c2 GROUP BY w1),
        scored AS (
          SELECT bg, c2.c2 AS c2, c1.c1 AS c1,
            (c2.c2 * 1000000) // c1.c1 AS ppm
          FROM c2 JOIN c1 USING (w1)
          WHERE c2.c2 >= 25)
        SELECT bg, c2, c1, CAST(ppm AS BIGINT) AS ppm
        FROM (SELECT *, row_number() OVER (ORDER BY ppm DESC, bg) AS rn
              FROM scored)
        WHERE rn <= 20""")),

    // PER-DOCUMENT LM QUALITY SCORE — the CCNet-style language-model
    // filter (score each document by how predictable its text is
    // under a corpus LM, drop the tails), built on the bigram LM
    // above in EXACT integral arithmetic instead of log-space
    // perplexity: per bigram, the conditional probability in ppm
    // (c(w1,w2)·1e6 div c(w1) — transcendental-free, so no ln() whose
    // last bit could differ cross-engine), per document the ppm sum
    // and its integral mean over the doc's bigrams. High avg = boilerplate
    // / repetitive, low avg = unpredictable (or unique) text — the
    // monotone proxy for -perplexity a filter thresholds on. One
    // corpus scan for counts, one for scoring; the LM tables are
    // vocab-sized. Degenerate <2-word docs score their fallback
    // whole-text unigram, mirrored by the same CASE in SQL.
    "q_llm_lm_score" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val docBg = Engine.table(s, dir, "documents")
          .select($"doc_id",
            explode(graft.plans.Shingles($"text", 2)).as("bg"))
          .withColumn("w1", substring_index($"bg", " ", 1))
        val c2 = docBg.groupBy($"w1", $"bg").agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
        val ppm = c2.join(broadcast(c1), "w1")
          .select($"bg", expr("c2 * 1000000 div c1").as("ppm"))
        docBg.join(ppm, "bg")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bg"), sum($"ppm").as("ppm_sum"))
          .select($"doc_id", $"n_bg", $"ppm_sum",
            expr("ppm_sum div n_bg").as("avg_ppm"))
      },
      oracle = Some("""
        WITH bgd AS (
          SELECT doc_id, unnest(CASE WHEN len(words) >= 2
              THEN [concat_ws(' ', words[i+1], words[i+2])
                    FOR i IN generate_series(0, len(words)-2)]
              ELSE [text] END) AS bg
          FROM (SELECT doc_id, text, string_split(text, ' ') AS words
                FROM documents)),
        bgw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1
                FROM bgd),
        c2 AS (SELECT w1, bg, count(*) AS c2 FROM bgw GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
               FROM c2 GROUP BY w1),
        ppm AS (SELECT bg, (c2.c2 * 1000000) // c1.c1 AS ppm
                FROM c2 JOIN c1 USING (w1))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
          CAST(sum(ppm) AS BIGINT) AS ppm_sum,
          CAST(sum(ppm) AS BIGINT) // count(*) AS avg_ppm
        FROM bgw JOIN ppm USING (bg)
        GROUP BY doc_id""")),

    // Corpus-level OUTLIER FILTER: drop documents above their source's
    // p95 character length — the "remove pathologically long docs"
    // quality rule crawl pipelines apply before training. The per-source
    // p95 is a tiny aggregate broadcast back onto the corpus scan, so
    // the filter is one scan + one broadcast join at any scale.
    // (percentile's linear interpolation over integer n_chars is the
    // same IEEE arithmetic as DuckDB's quantile_cont — the
    // q_agg_percentile determinism argument.)
    "q_llm_length_filter" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
          .select($"doc_id", $"source", $"n_chars")
        val thr = d.groupBy($"source")
          .agg(expr("percentile(n_chars, 0.95)").as("p95"))
        d.join(broadcast(thr), "source")
          .filter($"n_chars" <= $"p95")
          .select($"doc_id", $"source", $"n_chars", $"p95")
      },
      oracle = Some("""
        WITH thr AS (
          SELECT source, quantile_cont(n_chars, 0.95) AS p95
          FROM documents GROUP BY source)
        SELECT d.doc_id, d.source, d.n_chars, thr.p95
        FROM documents d JOIN thr USING (source)
        WHERE d.n_chars <= thr.p95""")),

    // TEXT NORMALIZATION — the canonicalization pass that runs BEFORE
    // exact dedup (so byte-level variants of the same content collide):
    // lowercase, strip punctuation, collapse whitespace runs, trim.
    // Pure per-row codegen'd string ops; the canonical-form hash rides
    // along as the dedup key the downstream exact pass would group on.
    // Punctuation is injected deterministically so the normalization is
    // load-bearing on this clean synthetic corpus.
    "q_llm_textnorm" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select($"doc_id",
            // deterministic dirt: every 3rd doc uppercased, every 4th
            // gets stray punctuation and double spaces
            when($"doc_id" % 3 === 0, upper($"text")).otherwise($"text")
              .as("raw"))
          .withColumn("raw",
            when($"doc_id" % 4 === 0,
              concat(lit("  ?? "), regexp_replace($"raw", " ", ",  ")))
              .otherwise($"raw"))
          .withColumn("norm",
            trim(regexp_replace(
              regexp_replace(lower($"raw"), "[^a-z0-9 ]", " "),
              " +", " ")))
          .select($"doc_id", length($"raw").cast("long").as("raw_len"),
            $"norm", Fns.h60($"norm").as("norm_key"))
      },
      oracle = Some(s"""
        WITH dirty AS (
          SELECT doc_id,
            CASE WHEN doc_id % 4 = 0
              THEN concat('  ?? ', regexp_replace(
                CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
                ' ', ',  ', 'g'))
              ELSE CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END
            END AS raw
          FROM documents),
        n AS (
          SELECT doc_id, length(raw) AS raw_len,
            trim(regexp_replace(regexp_replace(lower(raw),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM dirty)
        SELECT doc_id, raw_len, norm,
          ${Fns.h60Sql("norm")} AS norm_key
        FROM n""")),

    // WINSORIZATION: clamp a skew-prone measure into its source's
    // [p05, p95] band instead of dropping rows — the outlier treatment
    // used when coverage matters more than tail fidelity (the keep-all
    // dual of q_llm_length_filter). Tiny per-source percentile aggregate
    // broadcast back onto the scan; the clamp is per-row codegen.
    "q_llm_winsorize" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val d = Engine.table(s, dir, "documents")
          .select($"doc_id", $"source", $"n_chars")
        val pct = d.groupBy($"source")
          .agg(expr("percentile(n_chars, 0.05)").as("p05"),
            expr("percentile(n_chars, 0.95)").as("p95"))
        d.join(broadcast(pct), "source")
          .select($"doc_id", $"source", $"n_chars",
            greatest(least($"n_chars".cast("double"), $"p95"), $"p05")
              .as("clipped"))
      },
      oracle = Some("""
        WITH pct AS (
          SELECT source, quantile_cont(n_chars, 0.05) AS p05,
            quantile_cont(n_chars, 0.95) AS p95
          FROM documents GROUP BY source)
        SELECT doc_id, d.source, n_chars,
          greatest(least(CAST(n_chars AS DOUBLE), p95), p05) AS clipped
        FROM documents d JOIN pct ON d.source = pct.source""")),

    // Deterministic STRATIFIED train/validation/test split: bucket =
    // h60(source:doc_id) % 100, 80/10/10. Hashing the (source, id) pair
    // stratifies within each source and keeps the assignment stable
    // under corpus growth — re-running after ingesting more data never
    // reshuffles an existing doc across splits (the property that makes
    // eval sets trustworthy). Pure per-row codegen math: no shuffle at
    // any scale.
    // SPLIT LEAKAGE AUDIT — the eval-hygiene check a pipeline runs
    // AFTER splitting: near-duplicate pairs that STRADDLE train /
    // validation / test are contamination (the model sees the eval
    // answer's twin in training), and the hash-stable split rule
    // cannot prevent them — a near-dup carries a different doc_id, so
    // it buckets independently of its source (the mirror corpus here
    // demonstrates exactly that). Candidates come from the PERSISTED
    // banding index (both join sides bucket-read, no exchange on the
    // index — the q_llm_index_persisted plan), split labels from the
    // q_llm_split rule verbatim, and the pair is normalized
    // (least/greatest of the two split names) so straddles count once
    // per unordered split pair. Output: pair counts per (split_a,
    // split_b) + the leaky flag — the audit number a release gate
    // reads before a corpus ships.
    "q_llm_split_leakage" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val bands = persistedBands(s, dir)
        val pairs = bands.as("a").join(bands.as("b"),
            $"a.band" === $"b.band" && $"a.bh" === $"b.bh"
              && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .distinct()
        val sp = withNearDups(s, dir)
          .select($"doc_id", when(
            Fns.h60(concat($"source", lit(":"),
              $"doc_id".cast("string"))) % 100 < 80, "train")
            .when(Fns.h60(concat($"source", lit(":"),
              $"doc_id".cast("string"))) % 100 < 90, "validation")
            .otherwise("test").as("split"))
        pairs.join(sp.as("pa"), $"doc_a" === $"pa.doc_id")
          .join(sp.as("pb"), $"doc_b" === $"pb.doc_id")
          .select(least($"pa.split", $"pb.split").as("split_a"),
            greatest($"pa.split", $"pb.split").as("split_b"))
          .groupBy($"split_a", $"split_b")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leaky", $"split_a" =!= $"split_b")
      },
      oracle = Some(s"""
        WITH $bandCtesSql,
        p AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        sp AS (
          SELECT doc_id,
            CASE WHEN bkt < 80 THEN 'train'
                 WHEN bkt < 90 THEN 'validation'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id,
              ${Fns.h60Sql(
                "concat(source, ':', CAST(doc_id AS VARCHAR))")} % 100
              AS bkt FROM base)),
        lp AS (
          SELECT least(pa.split, pb.split) AS split_a,
            greatest(pa.split, pb.split) AS split_b
          FROM p
            JOIN sp pa ON p.doc_a = pa.doc_id
            JOIN sp pb ON p.doc_b = pb.doc_id)
        SELECT split_a, split_b, count(*) AS n_pairs,
          split_a <> split_b AS leaky
        FROM lp GROUP BY split_a, split_b""")),

    "q_llm_split" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select($"doc_id", $"source")
          .withColumn("bucket",
            Fns.h60(concat($"source", lit(":"), $"doc_id".cast("string")))
              % 100)
          .withColumn("split",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test"))
      },
      oracle = Some(s"""
        SELECT doc_id, source, bucket,
          CASE WHEN bucket < 80 THEN 'train'
               WHEN bucket < 90 THEN 'validation'
               ELSE 'test' END AS split
        FROM (SELECT doc_id, source,
          ${Fns.h60Sql("concat(source, ':', CAST(doc_id AS VARCHAR))")} % 100
            AS bucket FROM documents)""")),

    // EXACT SUBSTRING-SPAN DEDUP (the Lee et al. 2022 shape, public
    // "Deduplicating Training Data Makes Language Models Better"
    // method family): a doc is contaminated by REPEATED SPANS, not
    // just whole-doc near-dups — hash every 8-token window, find
    // hashes occurring in >= 2 distinct docs, and report per-doc how
    // many of its window instances are cross-doc duplicated. The
    // distributed shape that replaces a suffix array at 100 TB: a
    // narrow window-hash generator (codegen slice+hash, fan-out ~
    // tokens/doc, parallelism pinned after the small-file scan), ONE
    // corpus shuffle on the window hash, and an equi-join back —
    // integer-exact end to end.
    "q_llm_span_dedup" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val W = 8
        val docs = withNearDups(s, dir)
          .repartition(s.sparkContext.defaultParallelism)
          .select($"doc_id", split($"text", " ").as("ws"))
          .filter(size($"ws") >= W)
        val wins = docs.select($"doc_id",
          explode(transform(sequence(lit(0), size($"ws") - W),
            i => Fns.h60(concat_ws(" ", slice($"ws", i + lit(1), lit(W)))))).as("wh"))
        val dupHashes = wins.groupBy($"wh")
          .agg(count_distinct($"doc_id").as("nd"))
          .filter($"nd" >= 2)
          .select($"wh")
        wins.join(dupHashes, "wh")
          .groupBy($"doc_id").agg(count(lit(1)).as("n_dup_windows"))
          .join(wins.groupBy($"doc_id")
            .agg(count(lit(1)).as("n_windows")), "doc_id")
          .select($"doc_id", $"n_windows", $"n_dup_windows")
      },
      oracle = Some(s"""
        WITH $nearDupSql,
        t AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM base
          WHERE len(string_split(text, ' ')) >= 8),
        w AS (
          SELECT doc_id, ${h60Sql(
            "array_to_string(list_slice(ws, i, i + 7), ' ')")} AS wh
          FROM (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws) - 7)) AS i
                FROM t)),
        dup AS (
          SELECT wh FROM w GROUP BY wh
          HAVING count(DISTINCT doc_id) >= 2),
        nw AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
        nd AS (
          SELECT doc_id, count(*) AS n_dup_windows
          FROM w JOIN dup USING (wh) GROUP BY doc_id)
        SELECT doc_id, n_windows, n_dup_windows
        FROM nd JOIN nw USING (doc_id)""")),

    // KEEP-BEST survivorship: real pipelines don't keep the min-id doc
    // of a near-dup cluster, they keep the BEST one — here longest text
    // with doc_id as the deterministic tie-break. The pick is a single
    // max_by(struct) hash aggregate over the persisted cluster labels
    // (partial-aggregated map-side, no per-cluster sort and no window
    // shuffle-and-order pass): at 100 TB selecting survivors costs one
    // agg over the labeled corpus. Contrast: q_llm_dedup_rewrite is
    // the min-id policy on the same artifact.
    "q_llm_dedup_keep_best" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val corpus = withNearDups(s, dir)
        val labels = persistedLabels(s, dir)
        corpus.join(labels, corpus("doc_id") === labels("id"), "left")
          .select($"doc_id", $"source",
            coalesce($"lab", $"doc_id").as("cluster_id"),
            length($"text").cast("long").as("n_chars_nd"))
          .groupBy($"cluster_id")
          .agg(
            max_by(struct($"doc_id", $"source", $"n_chars_nd"),
              struct($"n_chars_nd", (-$"doc_id").as("nid"))).as("w"),
            count(lit(1)).as("csize"))
          .select($"cluster_id", $"w.doc_id".as("doc_id"),
            $"w.source".as("source"), $"w.n_chars_nd".as("n_chars"),
            $"csize")
      },
      oracle = Some(s"""
        WITH RECURSIVE $nearDupSql,
        d AS (SELECT doc_id, source,
                list_distinct(string_split(text, ' ')) AS ws FROM base),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7),
        e AS (
          SELECT doc_a AS src, doc_b AS dst FROM p
          UNION SELECT doc_b, doc_a FROM p
          UNION SELECT doc_a, doc_a FROM p
          UNION SELECT doc_b, doc_b FROM p),
        reach(src, dst) AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        lab AS (
          SELECT src AS doc_id, min(dst) AS cluster_id
          FROM reach GROUP BY src),
        c AS (
          SELECT coalesce(l.cluster_id, b.doc_id) AS cluster_id,
            b.doc_id, b.source, length(b.text) AS n_chars,
            row_number() OVER (
              PARTITION BY coalesce(l.cluster_id, b.doc_id)
              ORDER BY length(b.text) DESC, b.doc_id) AS rn,
            count(*) OVER (
              PARTITION BY coalesce(l.cluster_id, b.doc_id)) AS csize
          FROM base b LEFT JOIN lab l ON l.doc_id = b.doc_id)
        SELECT cluster_id, doc_id, source, n_chars, csize
        FROM c WHERE rn = 1""")),

    // END-TO-END BATCH CLEAN: normalize -> quality gate -> exact dedup
    // (keep-first per canonical hash) -> stable split assignment -> per
    // (source, split) corpus report, composed as ONE DataFrame chain —
    // the ETL a training run actually executes, proving the gated
    // pieces compose without materialization barriers. Plan shape: one
    // scan, all per-row stages codegen-fused into it, exactly ONE
    // shuffle (the dedup window on norm_key) before the final small
    // aggregate — at 100 TB the corpus crosses the wire once. The
    // batch dual of q_stream_pipeline.
    "q_llm_pipeline_batch" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val norm = Engine.table(s, dir, "documents")
          .select($"doc_id", $"source",
            trim(regexp_replace(
              regexp_replace(lower($"text"), "[^a-z0-9 ]", " "),
              " +", " ")).as("norm"))
        // one-pass native token stats (packed long) instead of
        // split + size + array_distinct: saves the distinct-array
        // materialization (honest A/B: ~3% end-to-end — the gate is
        // pipelined with the scan, so the isolated stage cost did not
        // translate; kept for the allocation win at wider rows)
        val gated = norm
          .withColumn("nwd", graft.plans.TokenStats($"norm"))
          .withColumn("n_words", shiftright($"nwd", 32).cast("int"))
          .withColumn("n_distinct",
            $"nwd".bitwiseAND(0xFFFFFFFFL).cast("int"))
          .filter(length($"norm") >= 100 &&
            $"n_distinct".cast("double") / $"n_words" >= 0.3 &&
            $"n_words" >= 20)
          .withColumn("norm_key", Fns.h60($"norm"))
        gated
          .withColumn("rn", row_number().over(
            Window.partitionBy($"norm_key").orderBy($"doc_id")))
          .filter($"rn" === 1)
          .withColumn("bucket",
            Fns.h60(concat($"source", lit(":"), $"doc_id".cast("string")))
              % 100)
          .withColumn("split",
            when($"bucket" < 80, "train")
              .when($"bucket" < 90, "validation")
              .otherwise("test"))
          .groupBy($"source", $"split")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_words").as("sum_tokens"),
            min($"doc_id").as("first_doc"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT doc_id, source,
            trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT doc_id, source, norm,
            len(string_split(norm, ' ')) AS n_words
          FROM n
          WHERE length(norm) >= 100
            AND CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
              / len(string_split(norm, ' ')) >= 0.3
            AND len(string_split(norm, ' ')) >= 20),
        d AS (
          SELECT *, row_number() OVER (
            PARTITION BY ${Fns.h60Sql("norm")} ORDER BY doc_id) AS rn
          FROM g),
        sp AS (
          SELECT doc_id, source, n_words,
            ${Fns.h60Sql("concat(source, ':', CAST(doc_id AS VARCHAR))")}
              % 100 AS bucket
          FROM d WHERE rn = 1)
        SELECT source,
          CASE WHEN bucket < 80 THEN 'train'
               WHEN bucket < 90 THEN 'validation'
               ELSE 'test' END AS split,
          count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS sum_tokens,
          min(doc_id) AS first_doc
        FROM sp GROUP BY 1, 2""")),

    // Training MIXTURE sampling: each source is down-sampled at its own
    // configured rate (per-mille hash threshold) — the "web 10%, books
    // 90%" mixing step that turns raw crawls into a training recipe.
    // Deterministic (same docs selected every run, both engines); the
    // 20-row rate table is broadcast, so the corpus scan is one
    // filter-after-broadcast-join pass with no shuffle of the big side.
    "q_llm_mixture" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        val rates = mixtureRates.toDF("source", "permille")
        Engine.table(s, dir, "documents")
          .select($"doc_id", $"source")
          .join(broadcast(rates), "source")
          .filter(Fns.h60($"doc_id") % 1000 < $"permille")
          .select($"doc_id", $"source", $"permille")
      },
      oracle = Some(s"""
        WITH rates(source, permille) AS (VALUES ${mixtureRates
          .map { case (s0, p) => s"('$s0', CAST($p AS BIGINT))" }
          .mkString(", ")})
        SELECT doc_id, d.source, permille
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE ${Fns.h60Sql("CAST(doc_id AS VARCHAR)")} % 1000 < permille""")),

    // Fixed-size token chunking with overlap (window 50, stride 40) —
    // the pre-tokenization op that turns a 100 TB document corpus into
    // training-context-sized pieces. Pure per-row explode: chunk starts
    // are a sequence over the token count, each start slices its window
    // — embarrassingly parallel, no shuffle at all. Empty documents
    // would need a sequence guard (none exist in the corpus; the n>=1
    // invariant is asserted by the oracle producing the same row count).
    // BPE-BUDGET CHUNKING: cut each document into chunks whose BPE
    // token cost stays under a 64-token budget — the context-window
    // slicing a training pipeline does in the real token denomination
    // (whitespace-window chunking is q_llm_chunk). Shape: explode
    // words, price each with the codegen BpeCount, per-doc exclusive
    // prefix sum -> bin = cumsum div budget (one window pass per doc,
    // embarrassingly parallel across docs). Chunk boundaries depend on
    // the learned merges, so the oracle pins the provable facts: word
    // count conserved per doc (exact), every chunk's cost minus its
    // largest word under the budget (words in a chunk all START inside
    // the 64-token window — the same tight bound as q_llm_pack_bpe),
    // and chunk counts within [1, n_words]. Chunk CONTENT is pinned by
    // BpeSpec-style determinism (same model, same cuts, every run).
    "q_llm_chunk_bpe" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val m200 = graft.operators.Bpe.modelFor(s, dir)
        val w = Window.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val words = Engine.table(s, dir, "documents")
          .filter($"doc_id" % 3 === 0)
          .select($"doc_id", posexplode(split($"text", " ")))
          .withColumnRenamed("col", "word").withColumnRenamed("pos", "pos")
          .withColumn("n_tok",
            graft.plans.BpeCount($"word", m200).cast("long"))
        val chunks = words
          .withColumn("start_tok",
            coalesce(sum($"n_tok").over(w), lit(0L)))
          .withColumn("bin", expr("start_tok div 64"))
          .groupBy($"doc_id", $"bin")
          .agg(count(lit(1)).as("n_words"), sum($"n_tok").as("chunk_tok"),
            max($"n_tok").as("max_word_tok"))
        chunks.groupBy($"doc_id").agg(
          sum($"n_words").as("n_words"),
          (sum(when($"chunk_tok" - $"max_word_tok" >= 64, 1L)
            .otherwise(0L)) === 0L).as("chunks_bounded"),
          (count(lit(1)).between(lit(1), sum($"n_words")))
            .as("n_chunks_sane"))
      },
      oracle = Some("""
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
          true AS chunks_bounded, true AS n_chunks_sane
        FROM documents WHERE doc_id % 3 = 0""")),

    "q_llm_chunk" -> QueryDef(
      fn = (s, dir) => {
        import s.implicits._
        Engine.table(s, dir, "documents")
          .select($"doc_id", split($"text", " ").as("toks"))
          .withColumn("n", size($"toks"))
          .select($"doc_id", explode(transform(
            sequence(lit(0), $"n" - 1, lit(40)),
            st => struct(st.cast("int").as("chunk_start"),
              size(slice($"toks", st + 1, lit(50))).as("n_tok"),
              array_join(slice($"toks", st + 1, lit(50)), " ")
                .as("chunk_text")))).as("c"))
          .select($"doc_id", $"c.chunk_start", $"c.n_tok", $"c.chunk_text")
      },
      oracle = Some("""
        SELECT doc_id, CAST(i AS INT) AS chunk_start,
          CAST(len(list_slice(toks, i + 1, i + 50)) AS INT) AS n_tok,
          array_to_string(list_slice(toks, i + 1, i + 50), ' ') AS chunk_text
        FROM (
          SELECT doc_id, toks, unnest(range(0, n, 40)) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                  len(string_split(text, ' ')) AS n
                FROM documents))"""))
  )
}
