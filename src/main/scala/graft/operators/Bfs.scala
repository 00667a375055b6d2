package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.releaseCheckpoint

/** Single-source (or multi-source) BFS hop distance by iterative
  * frontier expansion: round `i` joins the hop-(i-1) frontier against
  * the edge list and anti-joins the already-settled set, so every node
  * is settled exactly once at its minimum hop count — integer-exact,
  * no floating point anywhere. Each round's frontier is cut with
  * `localCheckpoint` (plans stay flat; the settled set is a
  * metadata-only union of the round frames, so every node's row is
  * cached exactly once), and the edge list is shuffled ONCE onto its
  * join key: `localCheckpoint` preserves physical partitioning, so
  * every subsequent round only moves the (small) frontier — at 100 TB
  * the edge relation never re-crosses the wire. Work per round is
  * O(frontier-adjacent edges), the textbook distributed-BFS bound.
  */
object Bfs {

  /** Hop distances over the DIRECTED edge set `edges(src, dst)` from
    * the nodes of `sources(node)`; pass both directions for an
    * undirected graph. Returns `(node, d)` for every node reachable
    * within `maxHops` (sources at d=0). Stops early when the frontier
    * empties.
    *
    * `adaptive = true` (default): one hop per round under AQE with no
    * join hints — the plan that WON the r10 A/B grid at bench volume
    * (8 calibrated sittings across {one,two}-hop × {hint,no-hint} ×
    * {AQE on,off}: ~2.4 s-equiv vs 2.9-4.1 for every job-count
    * "optimization"; full grid in PLANS.md r10). AQE's runtime stats
    * already route the frontier, and its per-exchange re-planning buys
    * partition coalescing worth far more than the job submissions it
    * costs once rounds carry real data.
    *
    * `adaptive = false`: the measured MICRO-GRAPH posture — AQE off,
    * TWO hops chained per materialization action (hop i+2 anti-joins
    * both the settled set and the in-flight hop i+1 frame, so
    * distances stay exact), and an explicit broadcast hint on the
    * node-sized frontier so the stats-free static planner never
    * sort-merges the edge relation. One job per action (20 vs ~40
    * submissions on the unit graph, listener-asserted) — for workloads
    * of many small BFS calls where job-submit latency dominates.
    */
  def hopDistance(edges: DataFrame, sources: DataFrame,
                  maxHops: Int, adaptive: Boolean = true): DataFrame =
    if (adaptive) hopDistance0(edges, sources, maxHops, micro = false)
    else {
      // The AQE flip runs on a CLONED session (shared SparkContext,
      // copied conf + catalog; the input frames re-bound by logical
      // plan): the toggle is visible only to the loop's own queries,
      // never to unrelated queries planned concurrently on the
      // caller's session — and concurrent micro-BFS calls each get
      // their own clone, so no serialization or save/restore at all.
      // The result frame stays bound to the clone; collecting it is
      // session-independent.
      import org.apache.spark.sql.graftbridge.SqlBridge
      val s2 = SqlBridge.cloneSession(edges.sparkSession)
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      hopDistance0(
        SqlBridge.ofRows(s2, edges.queryExecution.logical),
        SqlBridge.ofRows(s2, sources.queryExecution.logical),
        maxHops, micro = true)
    }

  /** BITMAP-FRONTIER BFS for a DOMAIN-BOUNDED node id space
    * [0, maxId) — the join-free formulation of [[hopDistance]].
    * Frontier and settled sets live as driver-held long-array bitmaps
    * (maxId/8 bytes each; `maxId` is capped so a bitmap stays tens of
    * MBs — a sparser or unbounded id space must densify first, the
    * standard id-densification step of every production graph
    * engine). Each round is ONE map-side job: the edge scan filters
    * `src` against the frontier bitmap — shipped size-adaptively
    * (raw long[] plan reference below [[BitmapBroadcastWords]], a
    * torrent BROADCAST above it) and probed by
    * [[graft.plans.BitmapContains]]/[[graft.plans.BitmapContainsLit]]
    * (codegen, no UDF; large domains never re-serialize the bitmap
    * into every task's plan, the r13 typedLit form's hidden cost) —
    * projects `dst`, and
    * OR-folds it into a round bitmap via [[graft.plans.BitmapOrAgg]]
    * — NO join, NO distinct, NO anti-join. Below the shipping
    * threshold there is NO shuffle either: one whole-domain buffer
    * per partition into a single merge. Above it the fold is SLICED
    * (see the round body): one slice-bitmap shuffle per round —
    * ≤ nSlices × 512 KB, spread across reducers, still independent
    * of frontier cardinality — replaces funneling every partition's
    * full-domain buffer through one reducer, and the frontier moves
    * as one torrent broadcast (≤ 32 MB at the cap, once per
    * executor). The driver clears already-settled bits
    * (exact — a bitmap, not a sketch, so no false positive can drop a
    * node) and the result materializes OFF the driver as one range
    * scan over the domain with d = the first level bitmap holding the
    * id ([[graft.plans.BitmapFirstLevel]] over ONE broadcast of all
    * ≤ maxHops+1 levels).
    * Semantics identical to [[hopDistance]]: every reachable node at
    * its minimum hop, sources at d=0, early stop on an empty
    * frontier. Work per round is one full edge scan (same as the
    * join formulation's probe side) where
    * the join formulation shuffles the frontier, the expansion
    * distinct, AND the growing settled anti-join every round.
    *
    * CEILING (r14): the driver-held bitmaps (frontier, settled,
    * levels) scale with the DOMAIN, not the frontier, so the 2^28 cap
    * (32 MB/bitmap, ≤ (maxHops+1)·32 MB for the one levels broadcast)
    * is the operator's working range, enforced loudly. EXECUTOR-side
    * the large-domain path is already sub-range: the fold is SLICED
    * (each [[BitmapSliceWords]]-word id slice ORs into its own 512 KB
    * bitmap, slices spread across reducers — see the round body,
    * sized to stay under ObjectHashAggregate's sort-based fallback
    * at the cap), so no executor
    * ever holds or funnels a whole-domain buffer; what pins the cap
    * is the driver's own arrays. Past it, densify ids first or use
    * [[hopDistance]], which is frontier-proportional. Below the
    * shipping threshold this form keeps the one-job-per-round plan
    * that beat the join formulation 4.9× on the gated graph. */
  def hopDistanceBitmap(edges: DataFrame, sources: DataFrame,
                        maxHops: Int, maxId: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxId > 0 && maxId <= (1L << 28),
      s"bitmap BFS needs a bounded id domain (got maxId=$maxId; " +
        "the 2^28 cap keeps a bitmap at 32 MB — densify ids first " +
        "past it)")
    val sc = spark.sparkContext
    val words = ((maxId + 63) / 64).toInt
    val bits = words.toLong * 64
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val settled = new Array[Long](words)
    // bounded collect: one long per SOURCE node — the query's seed
    // set, not the corpus
    sources.select(col("node")).distinct().as[Long].collect()
      .foreach { id =>
        require(id >= 0 && id < maxId,
          s"source node $id outside the declared domain [0, $maxId)")
        settled((id >> 6).toInt) |= 1L << (id & 63)
      }
    var frontier = settled.clone()
    var frontierCount = frontier.map(java.lang.Long.bitCount(_).toLong).sum
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    // the fail-loudly dst-domain guard, enforced against the DECLARED
    // maxId (BitmapOrAgg's own check rounds up to the 64-bit word
    // boundary, which would let up to 63 out-of-domain dst ids pass
    // and then silently vanish from the range-scan materialization).
    // src needs no sibling guard: BitmapContains throws STRUCTURALLY
    // on any id outside [0, maxId) — no conjunct ordering to rely on.
    def inDomain(c: Column): Column =
      assert_true(c >= 0L && c < lit(maxId),
        lit(s"bitmap BFS: id outside the declared domain [0, $maxId)"))
    // size-adaptive shipping: below the threshold the frontier rides
    // each task's plan as a raw long[] reference (compact, zero
    // broadcast latency) and the fold is one whole-domain buffer per
    // partition; above it, one torrent broadcast per round
    // (per-executor, plan stays bytes-constant) and the fold is
    // SLICED — see the expression scaladocs and [[slicedFold]] for
    // the measured crossovers
    val useBc = words > BitmapBroadcastWords
    // whole-domain fold: every partition ORs into ONE bits-wide
    // buffer, all buffers funnel into one reducer — right while a
    // buffer is KBs, the single-reducer merge the sliced fold exists
    // to break once buffers are MBs
    def wholeFold(cand: DataFrame): Array[Long] = {
      val nb = cand
        .agg(graft.plans.BitmapOrAgg(col("dst"), lit(bits)).as("bm"))
        .head.getAs[Array[Byte]]("bm")
      if (nb == null) new Array[Long](words)
      else {
        val w = new Array[Long](words)
        java.nio.ByteBuffer.wrap(nb).asLongBuffer()
          .get(w, 0, nb.length / 8)
        w
      }
    }
    // SLICED fold for large domains: dst grouped by its
    // [[BitmapSliceWords]]-word id slice, each slice OR'd into a
    // slice-LOCAL bitmap (the same BitmapOrAgg over a 512 KB
    // sub-domain), ≤ touched-slice rows collected and assembled
    // driver-side. Per-partition state is per-touched-slice hash-agg
    // entries (spillable) instead of one unspillable 32 MB
    // whole-domain buffer at the cap, and the merge spreads slices
    // across reducers instead of funneling every partition's
    // full-domain buffer through ONE reducer (32 partitions × 32 MB
    // = 1 GB through a single point at the cap). Costs one
    // slice-bitmap shuffle per round — ≤ nSlices × 512 KB, still
    // frontier-cardinality-independent. dst stays domain-guarded by
    // the assert_true filter BEFORE the slice mask (the mask would
    // otherwise alias an out-of-domain id into a valid slice offset).
    val sliceWords = BitmapSliceWords
    val sliceBits = sliceWords.toLong * 64
    val sliceShift = java.lang.Long.numberOfTrailingZeros(sliceBits)
    def slicedFold(cand: DataFrame): Array[Long] = {
      val rows = cand
        .groupBy(shiftright(col("dst"), sliceShift).as("sl"))
        .agg(graft.plans.BitmapOrAgg(
          col("dst").bitwiseAND(lit(sliceBits - 1)),
          lit(sliceBits)).as("bm"))
        .collect()
      val w = new Array[Long](words)
      rows.foreach { r =>
        val base = r.getLong(0).toInt * sliceWords
        val bytes = r.getAs[Array[Byte]](1)
        if (bytes != null) {
          val lb = java.nio.ByteBuffer.wrap(bytes).asLongBuffer()
          // the last slice's buffer may extend past the domain's
          // word count (domain not a multiple of the slice width)
          val n = math.min(bytes.length / 8, words - base)
          var i = 0
          while (i < n) { w(base + i) |= lb.get(i); i += 1 }
        }
      }
      w
    }
    var hop = 0
    // failure-path cleanup: a throwing round (out-of-domain id) must
    // not leave its frontier broadcast or the checkpointed edge list
    // pinned on executors — the success path releases both explicitly,
    // so the failure path does too rather than waiting on driver GC
    try while (hop < maxHops && frontierCount > 0) {
      val fBc = if (useBc) Some(sc.broadcast(frontier)) else None
      val next =
        try {
          val contains = fBc match {
            case Some(bc) =>
              graft.plans.BitmapContains(col("src"), bc, maxId)
            case None =>
              graft.plans.BitmapContainsLit(col("src"), frontier, maxId)
          }
          val cand = e.filter(contains)
            .select(col("dst"))
            .filter(inDomain(col("dst")).isNull)
          if (useBc) slicedFold(cand) else wholeFold(cand)
        } finally
          // the round's job is complete or failed (the fold's action
          // is eager) — release the frontier broadcast either way
          fBc.foreach(_.destroy())
      var i = 0; var cnt = 0L
      while (i < words) {
        next(i) &= ~settled(i)
        settled(i) |= next(i)
        cnt += java.lang.Long.bitCount(next(i))
        i += 1
      }
      levels += next
      frontier = next
      frontierCount = cnt
      hop += 1
    } finally releaseCheckpoint(e)
    // distributed materialization: d = the first level bitmap holding
    // the id — all levels ride ONE broadcast (or, small, one raw
    // plan reference), probed inside one codegen range scan; no
    // driver-side row build, no boxed nested literal.
    // This broadcast is INTENTIONALLY not destroyed here: the returned
    // frame is lazy, so the broadcast must outlive this call — it can
    // only be released after the caller's action, which the caller
    // owns. ContextCleaner reclaims it with the frame (unlike the
    // per-ROUND frontier broadcasts above, which die inside this call
    // and are destroyed explicitly, success or failure). Worst case
    // pinned until then: (maxHops+1) x 32 MB at the 2^28 cap.
    val dCol =
      if (useBc)
        graft.plans.BitmapFirstLevel(col("id"), sc.broadcast(levels.toArray))
      else graft.plans.BitmapFirstLevelLit(col("id"), levels.toArray)
    spark.range(0, maxId)
      .withColumn("d", dCol)
      .filter(col("d").isNotNull)
      .select(col("id").as("node"), col("d"))
  }

  /** Words threshold of the bitmap-shipping split: ≤ this (256 KB of
    * bitmap) the frontier/levels ride each task's plan as raw long[]
    * references — a KB-scale frontier re-broadcast every round costs
    * more in torrent setup (~10 ms/round, measured on the gated
    * graph) than its plan bytes; above it the per-task bytes dominate
    * (32 MB at the 2^28 cap, times every task, where a broadcast
    * moves once per executor) and each round broadcasts. */
  private[graft] val BitmapBroadcastWords: Int = 1 << 15

  /** Words per id slice of the SLICED large-domain fold — its own
    * tunable, deliberately NOT the shipping threshold above (the two
    * crossovers are unrelated; sharing a constant couples them). MUST
    * be a power of two: the slice id comes from a shift and the
    * in-slice offset from a low-bit mask, which disagree on any other
    * value and would silently alias ids across slices. 2^16 words
    * (512 KB, 2^22 ids) keeps the slice count at the 2^28-id cap to
    * 64 — safely under ObjectHashAggregate's default 128-key
    * sort-based fallback threshold, so the per-partition fold stays
    * HASH-based (a 128-slice layout would quietly sort every round's
    * candidate dst stream at exactly the cap). */
  private[graft] val BitmapSliceWords: Int = 1 << 16
  require(Integer.bitCount(BitmapSliceWords) == 1,
    "BitmapSliceWords must be a power of two (shift/mask slice math)")

  // private[graft] so the job-count test can run both postures and
  // measure the submission gap the adaptive=false wrapper exists for
  private[graft] def hopDistance0(edges: DataFrame, sources: DataFrame,
                                  maxHops: Int,
                                  micro: Boolean): DataFrame = {
    val par = edges.sparkSession.sparkContext.defaultParallelism
    val e = edges.select(col("src"), col("dst"))
      .repartition(par * 2, col("src")).localCheckpoint()
    // LAZY checkpoints + count(): one action per round both
    // materializes the frontier's cache AND measures it, where the
    // eager checkpoint + isEmpty pair submitted two jobs per round —
    // at 8 rounds x (warmup + 3 timed runs) the per-round job-submit
    // overhead was a measured 23% scheduler-delay share of a
    // scheduling-bound query (bench_stages r9).
    var dist = sources.select(col("node")).distinct()
      .withColumn("d", lit(0)).localCheckpoint(false)
    var frontier = dist
    var frontierRows = dist.count() // materializes the lazy checkpoint
    var hop = 0
    // hop-(d) candidates: frontier's out-neighbors not yet settled
    // (minus `extra`, the in-flight sibling round, when given). In the
    // micro posture the frontier side carries a broadcast hint (a
    // frontier is one node-sized level; without the hint the AQE-off
    // static planner sort-merged — and so re-sorted — the full edge
    // list every round, measured 8x task-seconds). The settled-set
    // anti-joins are never hinted: that side grows toward the full
    // node set, which is the side you never broadcast.
    def expand(fr: DataFrame, settled: DataFrame, d: Int,
               extra: Option[DataFrame]): DataFrame = {
      val frSide = if (micro) broadcast(fr) else fr
      val base = e.join(frSide, fr("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
      extra.fold(base)(x => base.join(x, Seq("node"), "left_anti"))
        .withColumn("d", lit(d))
        .localCheckpoint(false)
    }
    while (hop < maxHops && frontierRows > 0L) {
      // `dist` stays a plain union of the checkpointed rounds: the
      // union is metadata-only over materialized blocks, so each node's
      // row is cached exactly once across the whole run and no round
      // re-caches the full settled set. The round frames are live
      // pieces of `dist` — nothing can be released until the result is
      // consumed, and total cached bytes equal a single settled frame.
      if (micro && maxHops - hop >= 2) {
        // micro posture: chain hop i+1 and i+2 as ONE lazy plan and
        // materialize both with a single count over their
        // metadata-only union — distances stay exact because the
        // hop-(i+2) candidates anti-join the hop-(i+1) frame too; the
        // only tail cost is at most one empty-expansion round when the
        // frontier dies on an odd hop
        val n1 = expand(frontier, dist, hop + 1, None)
        val n2 = expand(n1, dist, hop + 2, Some(n1))
        val both = n1.unionByName(n2)
        frontierRows = both.count() // ONE job settles two hops
        dist = dist.unionByName(both)
        frontier = n2
        hop += 2
      } else {
        val next = expand(frontier, dist, hop + 1, None)
        frontierRows = next.count()
        dist = dist.unionByName(next)
        frontier = next
        hop += 1
      }
    }
    releaseCheckpoint(e)
    dist
  }
}
