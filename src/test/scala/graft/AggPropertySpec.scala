package graft

import graft.functions.VecMeanAgg
import graft.operators.Salt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style coverage for VecMeanAgg (cross-partition merge equals a
  * naive single-pass computation) and Salt (result equals the unsalted
  * join for random shapes and factors).
  */
class AggPropertySpec extends AnyFunSuite {
  import SparkTestSession._

  test("morton key equals naive bit interleave on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def naive(a: Long, b: Long): Long = {
      val (x, y) = (a & 0x7FFFFFFFL, b & 0x7FFFFFFFL)
      (0 until 31).foldLeft(0L)((acc, i) =>
        acc | ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1))
    }
    val rows = Seq((0L, 0L), (0x7FFFFFFFL, 0x7FFFFFFFL), (1L, 0L), (0L, 1L)) ++
      Seq.fill(500)((rnd.nextLong(1L << 31), rnd.nextLong(1L << 31)))
    val got = rows.toDF("a", "b")
      .select($"a", $"b", graft.functions.Fns.morton($"a", $"b").as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === naive(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // z-order locality sanity: the key is monotone in each dimension
    // when the other bits are fixed
    assert(naive(5, 9) < naive(6, 9) && naive(5, 9) < naive(5, 10))
  }

  test("FreqItemsAgg honors Misra-Gries guarantees across partitions and seeds") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      val k = 4 + rnd.nextInt(5) // 4..8
      // skewed stream: 2 hot items + a 30-word uniform tail, vocab > k
      // so the eviction (decrement) path runs constantly
      val hotA = Seq.fill(2000 + rnd.nextInt(500))("hotA")
      val hotB = Seq.fill(1200 + rnd.nextInt(300))("hotB")
      val tail = Seq.tabulate(3000)(i => s"w${rnd.nextInt(30)}" + (i - i))
      val items = rnd.shuffle(hotA ++ hotB ++ tail)
      val n = items.size.toLong
      val truth = items.groupBy(identity).map { case (i, xs) =>
        (i, xs.size.toLong) }
      val got = items.toDF("item").repartition(16)
        .agg(graft.plans.FreqItemsAgg($"item", k).as("mg"))
        .selectExpr("explode(mg) AS (item, est)")
        .as[(String, Long)].collect().toMap
      assert(got.size <= k, s"trial $trial: ${got.size} entries > k=$k")
      val bound = n / (k + 1)
      truth.filter(_._2 > bound).keys.foreach { heavy =>
        assert(got.contains(heavy),
          s"trial $trial: heavy '$heavy' missing (bound=$bound)")
      }
      got.foreach { case (i, est) =>
        val t = truth(i)
        assert(est <= t && est >= t - bound,
          s"trial $trial: est($i)=$est outside [${t - bound}, $t]")
      }
    }
  }

  test("NearestCell equals the explode+window argmin bit-for-bit, ties to smaller cid") {
    import graft.operators.{VectorOps => V}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dims = 16
    def vec() = Seq.fill(dims)(rnd.nextDouble() * 2 - 1)
    val cents0 = (0 until 10).map(c => (c, vec()))
    // cid 10 DUPLICATES cid 0's centroid: every vector nearest c0 is an
    // exact d2 tie with c10 and must resolve to the SMALLER cid
    val cents = cents0 :+ ((10, cents0.head._2))
    // plant one vector exactly AT the duplicated centroid (d2 = 0 twice)
    val vecs = ((300L, cents0.head._2) +:
      (0 until 300).map(i => (i.toLong, vec()))).toDF("vec_id", "v")
    val cdf = cents.toDF("cid", "cv")
    val cArr = broadcast(cdf.agg(
      collect_list(struct($"cid", $"cv")).as("cents")))
    val fast = vecs.crossJoin(cArr)
      .select($"vec_id", graft.plans.NearestCell($"v", $"cents").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
    val slow = vecs.crossJoin(broadcast(cdf))
      .withColumn("d2", V.dot($"v", $"v") - lit(2.0) * V.dot($"v", $"cv")
        + V.dot($"cv", $"cv"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fast === slow)
    assert(fast(300L) === 0, "exact tie must resolve to the smaller cid")
  }

  test("NearestCell ranks NaN distances last, like the window sort it replaces") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // cid 0 carries a NaN centroid (NaN d2 against everything); cid 1
    // and 2 are finite. A NaN-vector row makes EVERY d2 NaN. The
    // window formulation sorts NaN last (and all-NaN ties by cid);
    // IEEE < would instead freeze the first NaN candidate.
    val cents = Seq(
      (0, Seq(Double.NaN, 1.0)), (1, Seq(5.0, 5.0)), (2, Seq(0.0, 0.0)))
    val vecs = Seq(
      (10L, Seq(0.1, 0.2)),            // finite: must skip NaN cid 0
      (11L, Seq(Double.NaN, 3.0)))     // all-NaN: cid tiebreak -> 0
      .toDF("vec_id", "v")
    val cdf = cents.toDF("cid", "cv")
    val cArr = broadcast(cdf.agg(
      collect_list(struct($"cid", $"cv")).as("cents")))
    val fast = vecs.crossJoin(cArr)
      .select($"vec_id", graft.plans.NearestCell($"v", $"cents").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val w = Window.partitionBy($"vec_id").orderBy($"d2", $"cid")
    val slow = vecs.crossJoin(broadcast(cdf))
      .withColumn("d2",
        graft.operators.VectorOps.dot($"v", $"v")
          - lit(2.0) * graft.operators.VectorOps.dot($"v", $"cv")
          + graft.operators.VectorOps.dot($"cv", $"cv"))
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"vec_id", $"cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fast === slow)
    assert(fast(10L) === 2, "finite row must pick a finite-distance cell")
    assert(fast(11L) === 0, "all-NaN row falls to the cid tiebreak")
  }

  test("clamp-built Bloom filter folds down bit-identically to a direct build") {
    import spark.implicits._
    // the fused TxLog stats pass builds every file's filter at the
    // sizing clamp and folds it to the NDV target on the driver; the
    // fold (out[i mod w] |= in[i]) must reproduce a direct target-size
    // build EXACTLY — powers of two + mod positions make it so
    val rnd = new scala.util.Random(43)
    val df = Seq.fill(800)(rnd.nextLong()).toDF("k")
      .withColumn("h", graft.functions.Fns.h60($"k".cast("string")))
    def filt(bits: Long): Array[Long] = {
      val bytes = df.agg(graft.plans.BloomBuildAgg($"h", lit(bits)).as("fw"))
        .head().getAs[Array[Byte]](0)
      val words = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(words)
      words
    }
    Seq(1L << 10, 1L << 13, 1L << 16).foreach { target =>
      val direct = filt(target)
      val big = filt(1L << 18)
      val w = (target / 64).toInt
      val folded = new Array[Long](w)
      big.indices.foreach(i => folded(i % w) |= big(i))
      assert(java.util.Arrays.equals(direct, folded), s"target=$target")
    }
  }

  test("BloomBuildAgg yields NULL (not a zero-length filter) when no bits row arrives") {
    import spark.implicits._
    // all-null bits: the group never learns a filter size
    val r = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("h", "bits")
      .agg(graft.plans.BloomBuildAgg($"h", $"bits").as("fw"))
      .head()
    assert(r.isNullAt(0), "empty buffer must eval to NULL")
    // null hashes still size the filter from their bits column
    val ok = Seq((Option.empty[Long], 1024L)).toDF("h", "bits")
      .agg(graft.plans.BloomBuildAgg($"h", $"bits").as("fw"))
      .head().getAs[Array[Byte]](0)
    assert(ok.length * 8L === 1024L && ok.forall(_ == 0))
  }

  test("BloomBuildAgg: partition-merged filter equals single-pass, no false negatives") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    (0 until 3).foreach { trial =>
      val bits = 1L << (13 + trial)
      val keys = Seq.fill(500)(rnd.nextLong())
      val df = keys.toDF("k")
        .withColumn("h", graft.functions.Fns.h60($"k".cast("string")))
      def filt(d: org.apache.spark.sql.DataFrame): Array[Byte] = d
        .agg(graft.plans.BloomBuildAgg($"h", lit(bits)).as("fw"))
        .head().getAs[Array[Byte]](0)
      val one = filt(df.coalesce(1))
      val many = filt(df.repartition(13))
      // OR-merge across arbitrary partials = the single-pass filter
      assert(java.util.Arrays.equals(one, many), s"trial $trial")
      assert(one.length * 8L === bits)
      val words = new Array[Long](one.length / 8)
      java.nio.ByteBuffer.wrap(one).asLongBuffer().get(words)
      def member(h: Long): Boolean = {
        val h1 = h & ((1L << 30) - 1)
        val h2 = (h >>> 30) | 1L
        (0 until 4).forall { i =>
          val p = ((h1 + i * h2) % bits).toInt
          (words(p >> 6) & (1L << (p & 63))) != 0L
        }
      }
      val hs = df.select($"h").collect().map(_.getLong(0))
      // no false negatives, ever
      hs.foreach(h => assert(member(h), s"trial $trial: inserted key missing"))
      // and the filter discriminates: fresh keys overwhelmingly miss
      val fresh = Seq.fill(500)(rnd.nextLong()).filterNot(keys.contains)
        .toDF("k")
        .withColumn("h", graft.functions.Fns.h60($"k".cast("string")))
        .select($"h").collect().map(_.getLong(0))
      val fp = fresh.count(member)
      assert(fp <= fresh.length / 10,
        s"trial $trial: $fp/${fresh.length} false positives")
    }
  }

  test("TxLog model check: random append/delete/merge/restore/optimize sequences") {
    import graft.operators.TxLog
    import spark.implicits._
    // Seeded-random op sequences replayed against an in-memory model:
    // after EVERY op the table head must equal the model, and at the
    // end every historical version must still time-travel to its
    // model snapshot — the ACID contract as one executable property.
    val rnd = new scala.util.Random(2026)
    (0 until 3).foreach { run =>
      val table = scratch(s"txmodel_spec_$run")
      var nextKey = 0L
      def freshBatch(): Seq[(Long, Double)] = {
        val n = 1 + rnd.nextInt(4)
        val b = (0 until n).map(i => (nextKey + i, (nextKey + i) * 1.5))
        nextKey += n
        b
      }
      // v0 so every later op has a table to act on
      var model = freshBatch().toSet
      TxLog.append(spark, model.toSeq.toDF("k", "x"), table)
      var history = Vector(model)
      (0 until 14).foreach { _ =>
        val before = TxLog.version(table)
        rnd.nextInt(5) match {
          case 0 => // append fresh keys
            val b = freshBatch()
            TxLog.append(spark, b.toDF("k", "x"), table)
            model = model ++ b
          case 1 => // COW delete on a modulus predicate (never emptying)
            val m = 2 + rnd.nextInt(3)
            val r = rnd.nextInt(m)
            val next = model.filterNot { case (k, _) => k % m == r }
            if (next.nonEmpty) {
              TxLog.deleteWhere(spark, table, $"k" % m === r)
              model = next
            }
          case 2 => // merge: update the max-key row + insert a fresh one
            val upd = model.toSeq.sortBy(_._1).lastOption
            val updated = upd.map { case (k, _) => (k, -1.0) }.toSeq
            val ins = Seq((nextKey, nextKey * 1.5)); nextKey += 1
            TxLog.merge(spark, table, (updated ++ ins).toDF("k", "x"), "k")
            model = model -- upd ++ updated ++ ins
          case 3 => // restore to a random non-empty historical version
            val v = rnd.nextInt(history.size)
            if (history(v).nonEmpty) {
              TxLog.restore(table, v)
              model = history(v)
            }
          case 4 => // optimize: layout-only, content must not move
            TxLog.optimize(spark, table, 1 + rnd.nextInt(2))
        }
        // some ops legitimately commit nothing (skipped delete, no-op
        // optimize): history tracks the table's own version counter
        val v = TxLog.version(table)
        if (v > before) history = history :+ model
        else assert(history.last === model,
          s"uncommitted op changed state at v$v in run $run")
        assert(history.size === v + 1)
        assert(TxLog.read(spark, table).as[(Long, Double)].collect().toSet
          === model, s"head diverged at v$v in run $run")
      }
      // every version still time-travels to its recorded snapshot
      history.zipWithIndex.foreach { case (snap, v) =>
        if (snap.nonEmpty)
          assert(TxLog.read(spark, table, Some(v))
            .as[(Long, Double)].collect().toSet === snap,
            s"time travel to v$v diverged in run $run")
      }
    }
  }

  test("TxLog model check: random schema-mutation sequences") {
    import graft.operators.TxLog
    import org.apache.spark.sql.types.DoubleType
    import spark.implicits._
    // The field-id mapping as one executable property: seeded-random
    // interleavings of rename / add-drop-readd / append / COW delete /
    // merge / restore / optimize against an in-memory model that
    // tracks (names, extra-column presence, rows). After every op the
    // head must equal the model UNDER THE MODEL'S NAMES, dropped
    // `extra` values must never resurrect through a later re-add
    // (the model clears them on drop), restore must bring back the
    // target's SCHEMA as well as its rows, and at the end every
    // version must time-travel to its recorded (names, rows) snapshot.
    final case class S(nameK: String, nameX: String, hasExtra: Boolean,
                       nWide: Boolean,
                       rows: Map[Long, (Int, Double, Option[Double])]) {
      def cols: Seq[String] =
        Seq(nameK, "n", nameX) ++ (if (hasExtra) Seq("extra") else Nil)
    }
    val rnd = new scala.util.Random(2027)
    (0 until 2).foreach { run =>
      val table = scratch(s"txmodel_schema_$run")
      var nextKey = 0L
      var renames = 0
      def freshRows(st: S): Seq[(Long, Int, Double, Option[Double])] = {
        val n = 1 + rnd.nextInt(3)
        val b = (0 until n).map { i =>
          val k = nextKey + i
          (k, (k % 97).toInt, k * 1.5,
            if (st.hasExtra) Some(k * 2.0) else None)
        }
        nextKey += n
        b
      }
      def toDf(st: S, rs: Seq[(Long, Int, Double, Option[Double])]) = {
        val base = rs.toDF("k", "n", "x", "e")
        val nCol = if (st.nWide) $"n".cast("long") else $"n"
        if (st.hasExtra)
          base.select($"k".as(st.nameK), nCol.as("n"), $"x".as(st.nameX),
            $"e".as("extra"))
        else base.select($"k".as(st.nameK), nCol.as("n"),
          $"x".as(st.nameX))
      }
      var st = S("k", "x", hasExtra = false, nWide = false, Map.empty)
      val b0 = freshRows(st)
      TxLog.append(spark, toDf(st, b0), table)
      st = st.copy(rows = b0.map(r => r._1 -> (r._2, r._3, r._4)).toMap)
      var history = Vector(st)
      def collectRows(df: org.apache.spark.sql.DataFrame, wide: Boolean,
                      extra: Boolean) =
        df.collect().map { r =>
          (r.getLong(0),
            if (wide) r.getLong(1).toInt else r.getInt(1),
            r.getDouble(2),
            if (extra) Option(r.get(3)).map(_.asInstanceOf[Double])
            else None)
        }.toSet
      def check(tag: String): Unit = {
        val df = TxLog.read(spark, table)
        assert(df.columns.toSeq === st.cols, s"$tag cols in run $run")
        assert(df.schema("n").dataType ===
          (if (st.nWide) org.apache.spark.sql.types.LongType
           else org.apache.spark.sql.types.IntegerType),
          s"$tag n type in run $run")
        val got = collectRows(df, st.nWide, st.hasExtra)
        val want = st.rows.map { case (k, (n, x, e)) => (k, n, x, e) }.toSet
        assert(got === want, s"$tag content in run $run")
      }
      (0 until 16).foreach { step =>
        val before = TxLog.version(table)
        rnd.nextInt(9) match {
          case 0 => // append under the CURRENT schema
            val b = freshRows(st)
            TxLog.append(spark, toDf(st, b), table)
            st = st.copy(rows =
              st.rows ++ b.map(r => r._1 -> (r._2, r._3, r._4)))
          case 1 => // COW delete on the current key name
            val m = 2 + rnd.nextInt(3)
            val r0 = rnd.nextInt(m)
            val next = st.rows.filterNot { case (k, _) => k % m == r0 }
            if (next.nonEmpty) {
              TxLog.deleteWhere(spark, table, col(st.nameK) % m === r0)
              st = st.copy(rows = next)
            }
          case 2 => // merge keyed on the current key name
            val upd = st.rows.keys.toSeq.sorted.lastOption.map { k =>
              (k, -7, -1.0, if (st.hasExtra) Some(-2.0) else None)
            }.toSeq
            val ins = Seq((nextKey, (nextKey % 97).toInt, nextKey * 1.5,
              if (st.hasExtra) Some(nextKey * 2.0) else None))
            nextKey += 1
            TxLog.merge(spark, table, toDf(st, upd ++ ins), st.nameK)
            st = st.copy(rows = st.rows ++
              (upd ++ ins).map(r => r._1 -> (r._2, r._3, r._4)))
          case 3 => // restore: rows AND schema revert to the target's
            val v = rnd.nextInt(history.size)
            if (history(v).rows.nonEmpty) {
              TxLog.restore(table, v)
              st = history(v)
            }
          case 4 => // layout-only
            TxLog.optimize(spark, table, 1 + rnd.nextInt(2))
          case 5 => // rename one base column to a fresh name
            renames += 1
            val fresh = s"c$renames"
            if (rnd.nextBoolean()) {
              TxLog.renameColumn(spark, table, st.nameK, fresh)
              st = st.copy(nameK = fresh)
            } else {
              TxLog.renameColumn(spark, table, st.nameX, fresh)
              st = st.copy(nameX = fresh)
            }
          case 6 => // add `extra` (fresh field id: old values stay gone)
            if (!st.hasExtra) {
              TxLog.addColumn(spark, table, "extra", DoubleType)
              st = st.copy(hasExtra = true)
            }
          case 7 => // drop `extra`: its values leave the model for good
            if (st.hasExtra) {
              TxLog.dropColumn(spark, table, "extra")
              st = st.copy(hasExtra = false,
                rows = st.rows.map { case (k, (n, x, _)) =>
                  k -> (n, x, None) })
            }
          case 8 => // widen n int -> long (values exact; restore to a
            // pre-widen version narrows the logical type back and the
            // post-widen files' values must round-trip through the cast)
            if (!st.nWide) {
              TxLog.widenColumn(spark, table, "n",
                org.apache.spark.sql.types.LongType)
              st = st.copy(nWide = true)
            }
        }
        val v = TxLog.version(table)
        if (v > before) history = history :+ st
        else assert(history.last === st,
          s"uncommitted op changed state at v$v in run $run")
        assert(history.size === v + 1)
        check(s"step $step")
      }
      // every version time-travels to its (names, rows) snapshot
      history.zipWithIndex.foreach { case (snap, v) =>
        if (snap.rows.nonEmpty) {
          val df = TxLog.read(spark, table, Some(v))
          assert(df.columns.toSeq === snap.cols,
            s"time-travel cols at v$v in run $run")
          val got = collectRows(df, snap.nWide, snap.hasExtra)
          assert(got ===
            snap.rows.map { case (k, (n, x, e)) => (k, n, x, e) }.toSet,
            s"time-travel content at v$v in run $run")
        }
      }
    }
  }

  test("VecMeanAgg over many partitions equals naive quantized mean") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 5
    val rows = (1 to 500).map { i =>
      (i % 4, Seq.fill(dim)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("g", "vec").repartition(13) // force merges
    val vecMean = udaf(VecMeanAgg)
    val got = df.groupBy($"g").agg(vecMean($"vec").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val expected = rows.groupBy(_._1).map { case (g, vs) =>
      val sums = new Array[Long](dim)
      vs.foreach { case (_, v) =>
        v.zipWithIndex.foreach { case (x, i) =>
          sums(i) += math.floor(x.toDouble * VecMeanAgg.Scale).toLong
        }
      }
      g -> sums.toSeq.map(s => s.toDouble / VecMeanAgg.Scale / vs.size)
    }
    got.foreach { case (g, m) =>
      m.zip(expected(g)).foreach { case (a, b) => assert(a === b, s"group $g") }
    }
  }

  test("VecMeanAgg rejects mixed vector lengths loudly") {
    import spark.implicits._
    val df = Seq((1, Seq(1.0f, 2.0f)), (1, Seq(1.0f))).toDF("g", "vec")
    val vecMean = udaf(VecMeanAgg)
    val e = intercept[Exception] {
      df.groupBy($"g").agg(vecMean($"vec")).collect()
    }
    assert(e.getMessage.contains("vec_mean") ||
      e.getCause != null && e.getCause.getMessage.contains("vec_mean"))
  }

  test("VecMeanAgg skips zero-length vectors without counting them") {
    import spark.implicits._
    val df = Seq(
      (1, Seq(2.0f, 4.0f)), (1, Seq.empty[Float]), (1, Seq(4.0f, 8.0f)),
      (2, Seq.empty[Float])).toDF("g", "vec")
    val vecMean = udaf(VecMeanAgg)
    val got = df.groupBy($"g").agg(vecMean($"vec").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    // group 1: empty vector neither contributes nor inflates the count
    assert(got(1) === Seq(3.0, 6.0))
    // group 2: only empty vectors -> empty mean
    assert(got(2) === Seq.empty[Double])
  }

  test("GroupTopK equals window top-k across random shapes, k, partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val k = 1 + trial * 2
      val rows = (1 to 2000).map { i =>
        (s"g${rnd.nextInt(3 + trial * 5)}", rnd.nextInt(40).toLong, i.toLong)
      }
      val df = rows.toDF("g", "v", "id").repartition(1 + trial * 4)
      val got = graft.plans.GroupTopK(df, Seq("g"),
        Seq("v" -> true, "id" -> false), k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
      val expected = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k).drop("rn")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
      assert(got === expected, s"trial=$trial k=$k")
    }
  }

  test("GroupTopK overflow paths (partial flush + final external sort) stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // near-unique grouping key (4000 groups) with the per-partition map
    // capped at 7 groups: every partition overflows many times in the
    // partial phase, and every final partition takes the external-sort
    // fallback. Output must still equal the window formulation exactly.
    spark.conf.set(graft.plans.GroupTopK.MaxGroupsKey, "7")
    try {
      val rnd = new scala.util.Random(23)
      val rows = (1 to 12000).map { i =>
        (rnd.nextInt(4000).toLong, rnd.nextInt(100).toLong, i.toLong)
      }
      val df = rows.toDF("g", "v", "id").repartition(8)
      val got = graft.plans.GroupTopK(df, Seq("g"),
        Seq("v" -> true, "id" -> false), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
      val expected = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(identity).toSeq
      assert(got.size === expected.size)
      assert(got === expected)
    } finally spark.conf.unset(graft.plans.GroupTopK.MaxGroupsKey)
  }

  test("GroupTopK rejects ambiguous column names") {
    import spark.implicits._
    val a = Seq((1L, 2L)).toDF("g", "v")
    val b = Seq((1L, 3L)).toDF("h", "v")
    val dup = a.crossJoin(b) // output columns: g, v, h, v
    val e = intercept[IllegalArgumentException] {
      graft.plans.GroupTopK(dup, Seq("g"), Seq("v" -> true), 1)
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("HllRegistersAgg: partition-invariant registers, estimate within HLL bounds") {
    import spark.implicits._
    val n = 20000
    val distinct = 3000
    val df = spark.range(n).select(($"id" % distinct).as("v"))
    def regsOf(parts: Int): Seq[Int] = {
      val d = df.repartition(parts)
      d.agg(graft.plans.HllRegistersAgg(
          graft.functions.Fns.h60($"v"), 10).as("regs"))
        .head.getSeq[Int](0)
    }
    val r1 = regsOf(1)
    val r13 = regsOf(13)
    // merge is elementwise max -> register state independent of partitioning
    assert(r1 === r13)
    assert(r1.size === 1024)
    val est = graft.plans.HllRegistersAgg.estimate(r1)
    // sigma = 1.04/sqrt(1024) ~ 3.25%; allow 4 sigma
    assert(math.abs(est - distinct) / distinct < 0.13, s"est=$est exact=$distinct")
    // small-cardinality path: linear counting must be near-exact
    val small = spark.range(40).select($"id".as("v"))
      .agg(graft.plans.HllRegistersAgg(graft.functions.Fns.h60($"v"), 10).as("regs"))
      .head.getSeq[Int](0)
    val estSmall = graft.plans.HllRegistersAgg.estimate(small)
    assert(math.abs(estSmall - 40) <= 2, s"estSmall=$estSmall")
  }

  test("count_min_sketch estimates bounded by CMS guarantees") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val li = Engine.table(spark, sf, "lineitem")
    val total = li.count()
    val bytes = li
      .agg(expr("count_min_sketch(l_suppkey, 0.01d, 0.99d, 42)"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
    val exact = li.groupBy($"l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    exact.take(50).foreach { case (k, c) =>
      val est = cms.estimateCount(k)
      // CMS never underestimates; overshoot bounded by eps * N
      assert(est >= c, s"key $k: est $est < exact $c")
      assert(est <= c + (0.01 * total).toLong + 1, s"key $k: est $est way over $c")
    }
  }

  test("salted join equals plain join across random factors and skews") {
    import spark.implicits._
    (1 to 3).foreach { trial =>
      val factor = 2 + trial * 3
      val big = spark.range(5000).select(
        (when($"id" % (trial + 2) === 0, $"id" % 20)
          .otherwise(lit(trial.toLong))).as("k"),
        ($"id" + trial).as("v"))
      val small = spark.range(20).select($"id".as("k"), ($"id" * 7).as("w"))
      val expected = big.join(small, "k")
        .agg(count(lit(1)), sum($"v" * $"w")).head
      val got = Salt.saltedJoin(big, small, Seq("k"), factor, saltCols = Seq("v"))
        .agg(count(lit(1)), sum($"v" * $"w")).head
      assert(got === expected, s"trial=$trial factor=$factor")
    }
  }

  test("TxLog stats log lines roundtrip hostile string values") {
    import graft.operators.TxLog
    import spark.implicits._
    // the stats encoder/parser is hand-rolled micro-JSON; string stats
    // come from USER DATA, so every JSON-hostile shape must survive the
    // write -> commit-line -> (checkpoint ->) parse roundtrip exactly
    val rnd = new scala.util.Random(13)
    val hostile = Seq("\"", "\\", "\\\"", "{", "}", "[", "]", ",", ":",
      """{"op":"add","path":"x"}""", "min\":1,\"max", "\\\\\"",
      "päth \" ümlaut", "", " ", "\t", "a,b}c]d\"e\\f")
    def randStr() = {
      val alphabet = "ab\\\"{}[],:x "
      (0 until 1 + rnd.nextInt(8))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val trials = hostile.map(h => Seq(h, randStr(), randStr())) ++
      (0 until 5).map(_ => Seq.fill(4)(randStr()))
    trials.zipWithIndex.foreach { case (vals, i) =>
      val table = scratch(s"txprop_$i")
      val df = vals.zipWithIndex.map { case (v, j) => (j.toLong, v) }
        .toDF("k", "s").coalesce(1)
      TxLog.append(spark, df, table, statsCols = Seq("k", "s"))
      // 17 metadata-only commits force a checkpoint so the parse also
      // runs over the checkpoint serialization of the same stats
      (0 until 17).foreach { _ =>
        TxLog.commit(table, TxLog.version(table), Seq(("noop", "x")))
      }
      val stats = TxLog.filesWithStats(table).head._2
      assert(stats("s").lo === vals.min, s"trial $i: $vals")
      assert(stats("s").hi === vals.max, s"trial $i: $vals")
      assert(stats("k") === TxLog.ColStats("L", "0", (vals.size - 1).toString))
    }
  }

  test("renumber re-key: dense rank mapping, payload identity, survivor-exact over random namespaces") {
    import spark.implicits._
    import graft.queries.LlmSim
    val rnd = new scala.util.Random(1318)
    // every WARN the re-key logs, through an appender on the root logger:
    // the mapping must not plan a single-partition window (WindowExec
    // warns "No Partition Defined" on every such plan)
    val warns = rootWarns((0 until 4).foreach { trial =>
      // random cid namespace shaped like the post-fold estate: sparse,
      // offset-banded ids up to 2^31-1 (the exact values the renumber
      // exists to collapse), random cell sizes, random tombstones
      val nCells = 1 + rnd.nextInt(20)
      val cids = Seq.fill(nCells)(rnd.nextInt(Int.MaxValue)).distinct
      var vid = 0L
      val rows = cids.flatMap { c =>
        Seq.fill(1 + rnd.nextInt(8)) { vid += 1
          (c, vid, Seq.fill(4)(rnd.nextDouble())) }
      }
      val dead = rows.filter(_ => rnd.nextDouble() < 0.3).map(_._2).toSet
      val liveRows = rows.filterNot(r => dead(r._2))
      // a fully-tombstoned cell's centroid/codes must drop out — the
      // generator can produce that case by chance; both branches valid
      val live = liveRows.toDF("cid", "vec_id", "v")
      val cent = cids.map(c => (c, Seq.fill(4)(rnd.nextDouble())))
        .toDF("cid", "cv")
      val codes = rows.map(r => (r._1, r._2, Seq.fill(8)(rnd.nextInt(32))))
        .filterNot(r => dead(r._2)).toDF("cid", "vec_id", "codes")
      val (rc, rcent, rcodes) = LlmSim.renumberFrames(live, cent, codes)
      val got = rc.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      // row conservation + payload identity through the re-key
      val liveCids = liveRows.map(_._1).distinct.sorted
      val rank = liveCids.zipWithIndex.toMap
      assert(got.map(r => (r._2, r._3)).sortBy(_._1).toSeq
        === liveRows.map(r => (r._2, r._3)).sortBy(_._1).toSeq,
        s"trial $trial: payloads moved")
      // the mapping IS rank-by-old-cid, dense 0..n-1
      val byVid = liveRows.map(r => r._2 -> r._1).toMap
      got.foreach { r =>
        assert(r._1 === rank(byVid(r._2)), s"trial $trial: not rank order")
      }
      assert(got.map(_._1).distinct.sorted.toSeq
        === liveCids.indices.toSeq, s"trial $trial: not dense")
      // centroids: surviving cells keep their cv verbatim under the
      // new key; fully-tombstoned cells drop out
      val centGot = rcent.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toMap
      assert(centGot.keySet === rank.values.toSet,
        s"trial $trial: centroid key set != survivor set")
      val centIn = cids.zip(cent.collect().map(_.getSeq[Double](1))).toMap
      rank.foreach { case (old, nu) =>
        assert(centGot(nu) === centIn(old),
          s"trial $trial: centroid payload moved")
      }
      // codes: per-vec_id byte identity, survivor-exact
      val codesGot = rcodes.collect()
        .map(r => (r.getLong(1), (r.getInt(0), r.getSeq[Int](2))))
        .toMap
      assert(codesGot.keySet === liveRows.map(_._2).toSet,
        s"trial $trial: codes key set != survivors")
    })
    val windowWarns = warns.count(_.contains("No Partition Defined"))
    assert(windowWarns === 0, "re-key planned a single-partition window")
  }
}
