package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Ascending, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.UnsafeExternalRowSorter
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** Whole-operator extension point (SURVEY.md §2B-11 / builder option (c)):
  * per-group top-k as a first-class operator — custom `LogicalPlan` node,
  * planner `SparkStrategy`, and a two-phase physical `SparkPlan`.
  *
  * Why not the window formulation (`row_number() OVER (PARTITION BY g
  * ORDER BY s) <= k`): that plans as shuffle → FULL SORT of every
  * partition → filter, i.e. O(n log n) over all rows with the whole
  * input materialized through the sort. This operator keeps a bounded
  * heap of k rows per group on each input partition (partial phase, at
  * most groups×k rows survive — the map-side-combine shape), shuffles
  * only those survivors by group key, and reduces again (final phase):
  * O(n log k) compute, O(groups × k) shuffle bytes and state. At 100 TB
  * with k=10 the shuffle shrinks by orders of magnitude versus sorting
  * the fact table.
  *
  * Memory safety at unbounded group cardinality (`maxGroups`, conf
  * `spark.graft.topk.maxGroupsPerPartition`): the hash-of-heaps state is
  * O(groups × k) per partition, which OOMs when the grouping key is
  * near-unique. When a partition's map exceeds `maxGroups` groups:
  *   - the PARTIAL phase emits the current heaps downstream and starts a
  *     fresh map (correct for the same reason partial aggregation may
  *     flush: the final phase re-reduces, the flush only costs extra
  *     shuffle rows);
  *   - the FINAL phase (all rows of a group co-located, flushing would
  *     emit >k per group) degrades to a spill-capable external sort on
  *     (group key, order) via Spark's `UnsafeExternalRowSorter` — the
  *     same machinery `SortExec` uses — then streams the first k of each
  *     group run. Disk-backed, so a skewed/huge final partition sorts
  *     instead of OOMing, exactly like the window formulation would.
  */
case class GroupTopKNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"GroupTopK: k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): GroupTopKNode =
    copy(child = c)
}

/** Plans [[GroupTopKNode]] as partial→(exchange)→final [[GroupTopKExec]];
  * the exchange is inserted by EnsureRequirements from the final phase's
  * required clustering. The group-cardinality bound is read from the
  * session conf at planning time and frozen into the physical nodes.
  */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, child) =>
      val maxGroups = org.apache.spark.sql.internal.SQLConf.get
        .getConfString(GroupTopK.MaxGroupsKey, GroupTopK.DefaultMaxGroups.toString)
        .toInt
      val partial =
        GroupTopKExec(g, o, k, finalPhase = false, maxGroups, planLater(child))
      GroupTopKExec(g, o, k, finalPhase = true, maxGroups, partial) :: Nil
    case _ => Nil
  }
}

/** One phase of grouped top-k: per input partition, a hash map of
  * group key → bounded heap of the k first rows in `order` (heap root =
  * worst kept row, so each new row costs one comparison and at most one
  * O(log k) replace). Same algorithm both phases; only the required
  * distribution and the overflow behavior (flush vs external sort — see
  * [[GroupTopKNode]] scaladoc) differ.
  */
case class GroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    finalPhase: Boolean,
    maxGroups: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (finalPhase) ClusteredDistribution(groupExprs) :: Nil
    else UnspecifiedDistribution :: Nil

  // Row-preserving per partition: the operator drops rows but never
  // moves them, so the child's partitioning (the final phase's
  // clustering exchange) holds for the output too. Without this,
  // SparkPlan's UnknownPartitioning default makes EnsureRequirements
  // insert a REDUNDANT exchange under any downstream operator that
  // clusters on the same group key — e.g. the k-bounded rank-naming
  // window that follows every ANN rerank cut.
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val o = order
    val kk = k
    val schema = child.output
    val fin = finalPhase
    val mg = maxGroups
    child.execute().mapPartitions { iter =>
      GroupTopKExec.partitionTopK(iter, g, o, kk, schema, fin, mg)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupTopKExec =
    copy(child = c)
}

object GroupTopKExec {

  private[plans] def partitionTopK(
      iter: Iterator[InternalRow],
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      schema: Seq[Attribute],
      finalPhase: Boolean,
      maxGroups: Int): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(groupExprs, schema)
    val rowProj = UnsafeProjection.create(schema, schema)
    val ordering = new LazilyGeneratedOrdering(order, schema)
    // heap root = the LAST row in sort order among the kept k
    val heapCmp = ordering.reverse

    def drain(
        heaps: java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]])
        : Iterator[InternalRow] = {
      val out = Vector.newBuilder[InternalRow]
      heaps.values().forEach { h =>
        while (!h.isEmpty) out += h.poll()
      }
      out.result().iterator
    }

    // Sort-based fallback for an over-cardinality FINAL partition: push
    // everything (already-kept heap rows + the unread rest of the input)
    // through a spillable external sort on (group key, order), then keep
    // the first k of each group run. One pass, disk-backed.
    def sortBased(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      val fullOrder = groupExprs.map(SortOrder(_, Ascending)) ++ order
      val sortOrdering = new LazilyGeneratedOrdering(fullOrder, schema)
      val struct =
        StructType(schema.map(a => StructField(a.name, a.dataType, a.nullable, a.metadata)))
      val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
        private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow)
            : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          p.isNull = false; p.value = 0L; p
        }
      }
      val sorter = UnsafeExternalRowSorter.create(
        struct, sortOrdering, PrefixComparators.LONG, prefixComputer,
        SqlBridge.pageSizeBytes, false)
      while (rows.hasNext) sorter.insertRow(rowProj(rows.next()))
      var curKey: UnsafeRow = null
      var cnt = 0
      sorter.sort().filter { r =>
        val key = keyProj(r)
        if (curKey == null || key != curKey) { curKey = key.copy(); cnt = 1; true }
        else { cnt += 1; cnt <= k }
      }
    }

    // Fill a heap map until the input is exhausted or the map exceeds
    // maxGroups; overflow picks the phase-appropriate escape hatch. The
    // partial-phase `++ run()` continuation is lazy, so memory stays
    // bounded at ~maxGroups×k rows regardless of input group cardinality.
    def run(): Iterator[InternalRow] = {
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      var overflow = false
      while (iter.hasNext && !overflow) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](k, heapCmp)
          heaps.put(key.copy(), heap)
          if (heaps.size() > maxGroups) overflow = true
        }
        if (heap.size() < k) {
          heap.add(rowProj(row).copy())
        } else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(rowProj(row).copy())
        }
      }
      if (!overflow) drain(heaps)
      else if (!finalPhase) drain(heaps) ++ run()
      else sortBased(drain(heaps) ++ iter)
    }
    run()
  }
}

/** DataFrame-level entry point. */
object GroupTopK {

  /** Session conf key bounding per-partition group-map cardinality before
    * the overflow path kicks in (partial: flush; final: external sort).
    */
  val MaxGroupsKey = "spark.graft.topk.maxGroupsPerPartition"
  val DefaultMaxGroups = 1 << 18

  /** First k rows per group in the given sort order (`ORDER BY ... LIMIT
    * k` within each group). `orderSpec` is (column, descending?) pairs
    * and should define a TOTAL order (include a unique tiebreaker) for
    * deterministic results. Catalyst SortOrder is built directly — the
    * public Column `.desc` AST node is not task-serializable inside a
    * custom exec's closure.
    *
    * Planned by [[GroupTopKStrategy]], which `graft.GraftExtensions`
    * installs in every `Engine.session`. Column resolution is
    * case-insensitive and throws on ambiguity (e.g. post-self-join
    * duplicate names) instead of silently binding the first match.
    */
  def apply(df: DataFrame, groupCols: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      child.output.filter(_.name.equalsIgnoreCase(n)) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"GroupTopK: no column '$n' in ${child.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"GroupTopK: ambiguous column '$n' matches ${many.map(_.name)}; " +
            "disambiguate (alias/rename) before calling")
      }
    val groupExprs: Seq[Expression] = groupCols.map(attr)
    val order = orderSpec.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    SqlBridge.ofRows(spark, GroupTopKNode(groupExprs, order, k, child))
  }
}
