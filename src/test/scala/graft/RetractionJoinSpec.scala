package graft

import graft.streaming.RetractionJoin
import graft.streaming.RetractionJoin.{BagState, Out, Upd}
import org.apache.spark.api.java.{Optional => JOptional}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState, Trigger}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The reference's JoinQueryComposerSpec invariant, property-tested:
  * for ANY interleaving of Add/Remove updates on both sides, in ANY
  * micro-batch chunking, the summed emitted deltas per (leftId, rightId)
  * equal leftMultiplicity * rightMultiplicity of the final bags.
  * (scalacheck Gen driven manually — scalatestplus is not on the
  * offline classpath.)
  */
class RetractionJoinSpec extends AnyFunSuite {

  private def payloadOf(side: String, id: Long): Double =
    id * 2.0 + (if (side == "L") 0.5 else 0.25)

  private val genUpd: Gen[Upd] = for {
    key <- Gen.choose(0L, 2L)
    side <- Gen.oneOf("L", "R")
    id <- Gen.choose(0L, 4L)
    action <- Gen.oneOf(1, -1)
  } yield Upd(key, side, id, payloadOf(side, id), action)

  private def expected(updates: Seq[Upd]): Map[(Long, Long, Long), Int] = {
    val lc = updates.filter(_.side == "L")
      .groupBy(u => (u.key, u.id)).view.mapValues(_.map(_.action).sum)
    val rc = updates.filter(_.side == "R")
      .groupBy(u => (u.key, u.id)).view.mapValues(_.map(_.action).sum)
    (for {
      ((lk, lid), lcnt) <- lc.toSeq
      ((rk, rid), rcnt) <- rc.toSeq
      if lk == rk && lcnt * rcnt != 0
    } yield (lk, lid, rid) -> lcnt * rcnt).toMap
  }

  private def runChunked(updates: Seq[Upd], chunks: Int): Seq[Out] = {
    val byKey = updates.groupBy(_.key)
    byKey.toSeq.flatMap { case (key, kUpds) =>
      var state: Option[BagState] = None
      val chunked = if (chunks <= 1) Seq(kUpds)
        else kUpds.grouped(math.max(1, kUpds.size / chunks)).toSeq
      chunked.flatMap { chunk =>
        val gs = TestGroupState.create[BagState](
          state.map(JOptional.of[BagState]).getOrElse(JOptional.empty[BagState]()),
          GroupStateTimeout.NoTimeout, 0L,
          JOptional.empty[java.lang.Long]().asInstanceOf[JOptional[Long]],
          false)
        val out = RetractionJoin.joinFn(key, chunk.iterator, gs).toSeq
        state = if (gs.exists) Some(gs.get) else None
        out
      }
    }
  }

  test("bag join invariant holds for 200 random sequences and chunkings") {
    (1 to 200).foreach { i =>
      val seed = Seed(i.toLong)
      val updates = Gen.listOfN(60, genUpd)
        .apply(Gen.Parameters.default, seed)
        .getOrElse(fail(s"gen failure at seed $i"))
      val chunks = 1 + (i % 6)
      val got = runChunked(updates, chunks)
        .groupBy(o => (o.key, o.leftId, o.rightId))
        .view.mapValues(_.map(_.action).sum).toMap.filter(_._2 != 0)
      assert(got === expected(updates), s"seed=$i chunks=$chunks")
    }
  }

  test("payloads combine as left + right") {
    val upds = Seq(
      Upd(1, "L", 10, payloadOf("L", 10), 1),
      Upd(1, "R", 20, payloadOf("R", 20), 1))
    val out = runChunked(upds, 1)
    assert(out.map(o => (o.leftId, o.rightId, o.combined)) ===
      Seq((10L, 20L, payloadOf("L", 10) + payloadOf("R", 20))))
  }

  test("streaming wiring: MemoryStream across multiple batches") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Upd]
    val q = RetractionJoin(mem.toDS()).writeStream
      .format("memory").queryName("rj_out").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(Upd(1, "L", 1, 1.5, 1), Upd(1, "R", 7, 3.25, 1))
      q.processAllAvailable()
      mem.addData(Upd(1, "L", 1, 1.5, -1), Upd(1, "L", 2, 4.5, 1))
      q.processAllAvailable()
      val net = spark.table("rj_out").as[Out].collect()
        .groupBy(o => (o.leftId, o.rightId))
        .view.mapValues(_.map(_.action).sum).toMap.filter(_._2 != 0)
      // final bags: L={2}, R={7} -> only (2,7) survives
      assert(net === Map((2L, 7L) -> 1))
    } finally q.stop()
  }

  test("restart: resuming from the same checkpoint keeps summed deltas equal to the net bag") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val updates = Gen.listOfN(80, genUpd)
      .apply(Gen.Parameters.default, Seed(42L)).getOrElse(fail("gen failure"))
    val dir = Engine.scratchDir("rj_restart")
    val schema = Seq.empty[Upd].toDF().schema
    def net(): Map[(Long, Long, Long), Int] =
      spark.read.parquet(s"$dir/out").as[Out].collect().toSeq
        .groupBy(o => (o.key, o.leftId, o.rightId))
        .view.mapValues(_.map(_.action).sum).toMap.filter(_._2 != 0)
    // appends two input files, then drains everything not yet committed
    // in one-file micro-batches: offsets, commits, state deltas and the
    // sink's file log all live under the one checkpoint/output pair
    def appendAndDrain(part: Seq[Upd]): Unit = {
      part.toDF().repartition(2).write.mode("append").parquet(s"$dir/in")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in").as[Upd]
      RetractionJoin(stream).writeStream
        .format("parquet").option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    val (first, rest) = updates.splitAt(40)
    appendAndDrain(first)
    assert(net() === expected(first))
    appendAndDrain(rest)
    assert(net() === expected(updates))
    graft.operators.TxnMarker.rmTree(new java.io.File(dir))
  }
}
