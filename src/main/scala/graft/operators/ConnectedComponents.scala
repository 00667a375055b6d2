package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlBridge.releaseCheckpoint

/** Distributed connected components by iterative min-label propagation:
  * every node's label converges to the minimum node id reachable in its
  * component. Each round is one join + one min aggregation (two
  * shuffles) with the lineage cut by `localCheckpoint`, so the plan
  * stays flat across rounds; rounds needed ≈ graph diameter. Near-dup
  * graphs are dense blobs with tiny diameter, so 2-4 rounds in
  * practice; the round cap fails loudly rather than returning a
  * half-propagated labeling. At 100 TB the identical fixpoint runs with
  * large-star/small-star edge rewrites to bound per-round skew
  * (the loop and convergence check are unchanged).
  */
object ConnectedComponents {

  /** Label the undirected graph given as one-directional `(a, b)` pairs.
    * Returns `(id, lab)` for every node incident to at least one pair.
    */
  def label(
      pairs: DataFrame,
      a: String,
      b: String,
      maxRounds: Int = 25): DataFrame = {
    val p = pairs.select(col(a).as("pa"), col(b).as("pb")).localCheckpoint()
    val edges = p.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(p.select(col("pb").as("src"), col("pa").as("dst")))
    // `cur` tracks the round's checkpointed frame so the superseded
    // round's cached blocks can be released (unpersist) once the next
    // round is materialized — without it storage grows by one labels
    // frame per round, a slow leak on high-diameter graphs.
    var cur = p.select(col("pa").as("id"))
      .unionByName(p.select(col("pb").as("id")))
      .distinct().withColumn("lab", col("id")).localCheckpoint()
    var labels = cur
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbr = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lab")).as("nlab"))
      val next = labels.join(nbr, labels("id") === nbr("src"), "left")
        .select(labels("id"),
          least(labels("lab"), coalesce(col("nlab"), labels("lab")))
            .as("lab"),
          labels("lab").as("prev"))
        .localCheckpoint()
      converged = next.filter(col("lab") < col("prev")).isEmpty
      releaseCheckpoint(cur)
      cur = next
      labels = next.select(col("id"), col("lab"))
      round += 1
    }
    require(converged,
      s"label propagation did not converge in $round rounds")
    labels
  }

  /** Alternating large-star / small-star components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): each round
    * rewrites the edge set so every node points closer to its
    * component's minimum — O(log^2 n) rounds on ANY graph, including
    * the long chains where plain propagation needs O(diameter), and
    * per-round work stays proportional to the edge count (no hot-node
    * neighbor blowup: every emitted edge targets the local minimum).
    * This is the formulation to run at 100 TB; [[label]] is the simpler
    * loop for small-diameter graphs. Both return identical labelings
    * (property-tested on random graphs).
    */
  def labelStar(
      pairs: DataFrame,
      a: String,
      b: String,
      maxRounds: Int = 50): DataFrame = {
    // Node set FIRST, from the raw pairs: a node appearing only in a
    // (x, x) self-loop pair must still be labeled (with itself), exactly
    // as [[label]] does. Ids keep their input type — least/greatest/min
    // order any orderable type, matching label()'s semantics (a long
    // cast here would silently null non-numeric ids).
    val raw = pairs.select(col(a).as("x"), col(b).as("y"))
    val nodes = raw.select(col("x").as("id"))
      .unionByName(raw.select(col("y").as("id")))
      .distinct().localCheckpoint()
    // canonical undirected edge set, u < v, no self-loops
    var e = raw
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct().localCheckpoint()

    // adjacency (both directions) and per-node minimum of N(u) ∪ {u}
    def adj(edges: DataFrame): DataFrame =
      edges.select(col("u"), col("v"))
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    def mins(edges: DataFrame): DataFrame =
      adj(edges).groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))

    def star(edges: DataFrame, large: Boolean): DataFrame = {
      val j = adj(edges).join(mins(edges), "u")
      val emitted =
        if (large) j.filter(col("v") > col("u"))
          .select(col("v").as("x"), col("m").as("y"))
        else j.filter(col("v") < col("u"))
          .select(col("v").as("x"), col("m").as("y"))
          .unionByName(j.select(col("u").as("x"), col("m").as("y")))
      emitted.filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("u"),
          greatest(col("x"), col("y")).as("v"))
        .distinct()
    }

    var lab = mins(e)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val e2 = star(star(e, large = true), large = false).localCheckpoint()
      val next = mins(e2)
      // `lab` is lazy over the OLD e, so run the convergence join before
      // releasing the old round's checkpoint blocks.
      converged = lab.as("p")
        .join(next.as("n"), col("p.u") === col("n.u"))
        .filter(col("p.m") =!= col("n.m")).isEmpty
      releaseCheckpoint(e)
      e = e2
      lab = next
      round += 1
    }
    require(converged,
      s"star contraction did not converge in $round rounds")
    // isolated-by-contraction roots keep their own label; nodes absent
    // from the final edge set (their component fully contracted) are
    // their component root or singletons of the original pair set
    nodes.join(lab, nodes("id") === lab("u"), "left")
      .select(col("id"), coalesce(col("m"), col("id")).as("lab"))
  }
}
