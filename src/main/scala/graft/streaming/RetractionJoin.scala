package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming inner equi-join with add/remove (retraction) bag semantics —
  * the reference's centerpiece operator (SURVEY.md §2A A9: two-sided keyed
  * multimap state, join deltas on add, retraction deltas on remove),
  * rebuilt on `flatMapGroupsWithState`.
  *
  * Semantics: each side is a bag of (id, payload) with integer
  * multiplicity driven by `action` (+1 add / -1 remove). For each incoming
  * update the operator emits the exact incremental join delta against the
  * CURRENT other-side state:  Δ(L⋈R) = ΔL⋈R + L'⋈ΔR.  Summing emitted
  * `action`s per (leftId, rightId) therefore telescopes to
  * leftCount*rightCount regardless of arrival order or micro-batch
  * boundaries — the invariant the ScalaCheck spec asserts.
  *
  * Scale: state is keyed by join key and partitioned by the state store;
  * per-key state is O(live ids on each side). At cluster scale this is
  * the same layout as the reference's Flink keyed MapState. TTL/timeout
  * eviction can be added via GroupStateTimeout when keys are bounded by
  * event-time (not needed for the correctness gate).
  */
object RetractionJoin {

  /** One side's update: side is "L" or "R". */
  final case class Upd(key: Long, side: String, id: Long, payload: Double, action: Int)

  /** Emitted join delta. */
  final case class Out(key: Long, leftId: Long, rightId: Long, combined: Double, action: Int)

  /** Per-key two-sided bag state. Maps are id -> (payload, multiplicity).
    * (Stored via the product encoder; Scala Map is supported.)
    */
  final case class BagState(
      left: Map[Long, (Double, Int)],
      right: Map[Long, (Double, Int)])

  // Encoders built once per JVM. The state's Map (de)serializers hold
  // lambda variables whose ids are minted each time an encoder is derived
  // (`spark.implicits._`) and each time its deserializer is resolved; the
  // ids reach the generated source, so the state projections missed the
  // codegen cache on every drain. The state encoder is therefore held
  // resolved and bound: resolving it again mints nothing.
  val UpdEnc: Encoder[Upd] = Encoders.product[Upd]
  private val BagStateEnc: Encoder[BagState] = ExpressionEncoder[BagState]().resolveAndBind()
  private val OutEnc: Encoder[Out] = Encoders.product[Out]

  def joinFn(key: Long, updates: Iterator[Upd], state: GroupState[BagState]): Iterator[Out] = {
    var st = state.getOption.getOrElse(BagState(Map.empty, Map.empty))
    val out = scala.collection.mutable.ArrayBuffer[Out]()
    updates.foreach { u =>
      if (u.side == "L") {
        st.right.foreach { case (rid, (rv, rc)) =>
          if (rc != 0) out += Out(key, u.id, rid, u.payload + rv, u.action * rc)
        }
        val nc = st.left.get(u.id).map(_._2).getOrElse(0) + u.action
        st = st.copy(left =
          if (nc == 0) st.left - u.id else st.left + (u.id -> (u.payload, nc)))
      } else {
        st.left.foreach { case (lid, (lv, lc)) =>
          if (lc != 0) out += Out(key, lid, u.id, lv + u.payload, u.action * lc)
        }
        val nc = st.right.get(u.id).map(_._2).getOrElse(0) + u.action
        st = st.copy(right =
          if (nc == 0) st.right - u.id else st.right + (u.id -> (u.payload, nc)))
      }
    }
    state.update(st)
    out.iterator
  }

  /** Wire the operator over a (possibly streaming) update Dataset. */
  def apply(updates: Dataset[Upd]): Dataset[Out] =
    updates.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout)(joinFn)(BagStateEnc, OutEnc)
}
