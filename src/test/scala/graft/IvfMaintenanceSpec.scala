package graft

import graft.operators.IvfMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed IVF maintenance operator vs its oracle-checked pieces:
  * build == sim_ivf_train's trajectory endpoint, ingest == the
  * sim_incremental_assign step, splits == the sim_cell_split
  * arithmetic on exactly the flagged cells. The divergence from a full
  * retrain (split members partition between the two subs only; distant
  * vectors never migrate) is the operator's documented approximation —
  * everything else is pinned exactly. */
class IvfMaintenanceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"ivf_$name")

  private def embeddings: DataFrame =
    graft.queries.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))

  private def bruteAssign(vecs: DataFrame, cents: DataFrame): Map[Long, Long] = {
    graft.functions.VectorFunctions.register(spark)
    import graft.functions.VectorFunctions.dot
    def d2(e: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      dot(e, e) - lit(2.0) * dot(e, c) + dot(c, c)
    vecs.crossJoin(broadcast(cents.select("cell", "c")))
      .select(col("vec_id"),
        struct(d2(col("embedding"), col("c")).as("dst"), col("cell")).as("sc"))
      .groupBy("vec_id").agg(min("sc").as("b"))
      .select(col("vec_id"), col("b.cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("build: lists are the argmin against the published centroids; occupancy = list counts") {
    val out = tmp("full")
    IvfMaintenance.build(spark, embeddings, out)
    // the faiss-style index invariant: whatever the training
    // trajectory, the PUBLISHED pair is (final centroids, argmin lists
    // against exactly them) — a probe that argmins the same centroids
    // lands in the list that holds its neighbors
    val brute = bruteAssign(embeddings, IvfMaintenance.centroids(spark, out))
    val stored = IvfMaintenance.assignments(spark, out)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == brute, "stored assignments are not the centroid argmin")
    val occ = IvfMaintenance.centroids(spark, out)
      .select("cell", "n_assigned").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = stored.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(occ.filter(_._2 > 0) == counts, s"occupancy diverged from the lists")
    assert(stored.size == embeddings.count(), "every vector must be in a list")
  }

  test("a small delta ingests as pure assignment: no splits, centroids untouched") {
    val out = tmp("small")
    IvfMaintenance.build(spark, embeddings.where(col("vec_id") % 10 =!= 7), out)
    val centsBefore = IvfMaintenance.centroids(spark, out)
      .select("cell", "c").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val delta = embeddings.where(col("vec_id") % 10 === 7)
    val r = IvfMaintenance.ingest(spark, delta, out)
    assert(r.nSplit == 0 && r.nCellsAfter == r.nCellsBefore,
      s"a 10% spread delta must not trigger splits: $r")
    val centsAfter = IvfMaintenance.centroids(spark, out)
      .select("cell", "c").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(centsAfter == centsBefore, "ingest must not move centroids")
    // the delta's stored cells equal the brute argmin — the
    // sim_incremental_assign contract
    val brute = bruteAssign(delta, IvfMaintenance.centroids(spark, out))
    val stored = IvfMaintenance.assignments(spark, out)
      .join(delta.select("vec_id"), "vec_id")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == brute)
  }

  test("an overgrown cell splits: sub-centroids equal the sim_cell_split arithmetic") {
    val out = tmp("split")
    IvfMaintenance.build(spark, embeddings.where(col("vec_id") % 10 =!= 7), out)
    val cents = IvfMaintenance.centroids(spark, out).collect()
    val target = cents.minBy(_.getLong(0))
    val targetCell = target.getLong(0)
    val c = target.getSeq[Double](1).toArray
    // 200 synthetic vectors hugging the target centroid — all assign
    // there, blowing its occupancy past the 1.5x-mean flag
    import spark.implicits._
    val delta = (0 until 200).map { k =>
      val v = c.clone()
      v(k % v.length) += 0.001 * ((k % 7) + 1)
      (900000L + k, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val before = IvfMaintenance.assignments(spark, out)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val membership = before.filter(_._2 == targetCell).keySet ++
      delta.select("vec_id").collect().map(_.getLong(0))
    val r = IvfMaintenance.ingest(spark, delta, out)
    assert(r.nSplit >= 1, s"the hugged cell must flag: $r")
    assert(r.nCellsAfter == r.nCellsBefore + r.nSplit,
      s"each split adds exactly one cell: $r")
    assert(r.nSplit == 1, s"only the hugged cell crosses the threshold: $r")
    val after = IvfMaintenance.centroids(spark, out).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
    val afterMap = after.map(t => t._1 -> t._2).toMap
    // untouched cells keep byte-identical centroids
    cents.filterNot(_.getLong(0) == targetCell).foreach { row =>
      assert(afterMap(row.getLong(0)) == row.getSeq[Double](1),
        s"split must not move cell ${row.getLong(0)}")
    }
    // the split cell's two subs: recompute the deterministic 2-means
    // from scratch on its membership and compare the quantized means
    val memberVecs = IvfMaintenance.assignments(spark, out)
      .where(col("vec_id").isin(membership.toSeq: _*))
      .select("vec_id", "e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    assert(memberVecs.keySet == membership, "split must not lose members")
    val s0 = membership.min; val s1 = membership.max
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sub1Ids = membership.filter(id =>
      d2(memberVecs(id), memberVecs(s1)) < d2(memberVecs(id), memberVecs(s0)))
    val sub0Ids = membership -- sub1Ids
    // Spark's round() is BigDecimal-HALF_UP on the double's shortest
    // decimal form — Math.round differs at negative exact-.5 values
    // (which the synthetic delta hits: 98 copies of one centroid coord)
    def q(x: Double): Long =
      BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def quantMean(ids: Set[Long]): Seq[Double] = {
      val dim = memberVecs(ids.head).length
      (0 until dim).map { d =>
        ids.toSeq.map(id => q(memberVecs(id)(d))).sum.toDouble / 1e9 / ids.size
      }
    }
    val storedCells = IvfMaintenance.assignments(spark, out)
      .where(col("vec_id").isin(membership.toSeq: _*))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sub0Cell = storedCells(sub0Ids.head)
    assert(sub0Cell == targetCell, "sub 0 keeps the parent cell id")
    assert(sub0Ids.map(storedCells).size == 1 && sub1Ids.map(storedCells).size == 1
      && storedCells(sub1Ids.head) != targetCell,
      "members partition exactly into the two subs")
    val c0 = afterMap(sub0Cell)
    val c1 = afterMap(storedCells(sub1Ids.head))
    assert(c0 == quantMean(sub0Ids) && c1 == quantMean(sub1Ids),
      "sub-centroids must equal the sim_cell_split quantized means")
    // occupancies on the published table match the partition sizes
    val occ = after.map(t => t._1 -> t._3).toMap
    assert(occ(sub0Cell) == sub0Ids.size &&
      occ(storedCells(sub1Ids.head)) == sub1Ids.size)
  }

  test("per-ingest write volume is O(delta): independent of the corpus size") {
    // the log-structured-index claim: a no-split ingest persists one
    // delta-sized assignment increment + one nlist-sized centroid
    // snapshot — never the corpus
    def persistedBytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else f.length()
      walk(new java.io.File(dir))
    }
    // a small fixed delta drawn from the 1x corpus (new ids) — byte-
    // identical across both builds, matching dimensionality for free
    val delta = embeddings.where(col("vec_id") % 37 === 5)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    def ingestBytes(corpus: DataFrame): Long = {
      val out = tmp("wv")
      IvfMaintenance.build(spark, corpus, out)
      val before = persistedBytes(out)
      val r = IvfMaintenance.ingest(spark, delta, out)
      assert(r.nSplit == 0, s"the write-volume fixture must not split: $r")
      persistedBytes(out) - before
    }
    val small = ingestBytes(embeddings)
    val big = ingestBytes((0 until 6).map(k =>
      embeddings.select((col("vec_id") + k * 1000000L).as("vec_id"),
        col("label"), col("embedding"))).reduce(_ unionAll _))
    assert(big < small * 2,
      s"per-ingest write volume grew with the corpus: $small bytes at 1x vs $big at 6x")
  }

  test("an uncommitted segment is invisible and swept by the next ingest") {
    val out = tmp("orphan")
    IvfMaintenance.build(spark, embeddings, out)
    val centsBefore = IvfMaintenance.centroids(spark, out)
      .select("cell", "c").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // a crash between segment write and marker: an orphan seg=1 with a
    // row no committed segment holds
    import spark.implicits._
    Seq((999999L, 0L, Seq(0.0), false, 0))
      .toDF("vec_id", "cell", "e", "dead", "shard")
      .write.partitionBy("shard").parquet(s"$out/ivf/asg/seg=1")
    IvfMaintenance.centroids(spark, out).collect() // cents orphan-free read
    assert(IvfMaintenance.assignments(spark, out)
      .where(col("vec_id") === 999999L).isEmpty,
      "an uncommitted segment leaked into the fold")
    // the next ingest sweeps the orphan and commits its own seg 1
    val delta = embeddings.where(col("vec_id") % 20 === 3)
      .select("vec_id", "embedding")
    val r = IvfMaintenance.ingest(spark, delta, out)
    assert(r.nDelta > 0)
    assert(IvfMaintenance.assignments(spark, out)
      .where(col("vec_id") === 999999L).isEmpty,
      "the orphan's rows survived the sweep")
    val centsAfter = IvfMaintenance.centroids(spark, out)
      .select("cell", "c").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    if (r.nSplit == 0)
      assert(centsAfter == centsBefore, "no-split ingest moved centroids")
  }

  test("compaction folds the log without changing any answer") {
    val out = tmp("compact")
    IvfMaintenance.build(spark, embeddings.where(col("vec_id") % 10 =!= 7), out)
    // one plain ingest + one split ingest so the log holds appends,
    // tombstones, AND moved rows before folding
    IvfMaintenance.ingest(spark,
      embeddings.where(col("vec_id") % 10 === 7), out)
    val target = IvfMaintenance.centroids(spark, out).collect()
      .minBy(_.getLong(0))
    val c = target.getSeq[Double](1).toArray
    import spark.implicits._
    val hug = (0 until 200).map { k =>
      val v = c.clone(); v(k % v.length) += 0.001 * ((k % 7) + 1)
      (910000L + k, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val rs = IvfMaintenance.ingest(spark, hug, out)
    assert(rs.nSplit >= 1, s"the compaction fixture needs a split in the log: $rs")
    def snap() = (
      IvfMaintenance.centroids(spark, out).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2))).toSet,
      IvfMaintenance.assignments(spark, out)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = snap()
    IvfMaintenance.compact(spark, out)
    assert(snap() == before, "compaction changed the index")
    // the compacted index still ingests: segment numbering continues
    val r2 = IvfMaintenance.ingest(spark,
      (0 until 3).map(k => (920000L + k, c.toSeq)).toDF("vec_id", "embedding"), out)
    assert(r2.nDelta == 3)
    assert(IvfMaintenance.assignments(spark, out)
      .where(col("vec_id") >= 920000L).count() == 3)
  }

  test("a replayed committed batchId is a no-op, even after compaction") {
    val out = tmp("replay")
    IvfMaintenance.build(spark, embeddings, out)
    val batch = embeddings.where(col("vec_id") % 15 === 2)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    def snap() = IvfMaintenance.assignments(spark, out)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = IvfMaintenance.ingestEmbeddingBatch(spark, batch, 5L, out)
    assert(r1.isDefined && r1.get.nDelta > 0)
    val after = snap()
    // a replay against post-ingest centroids could re-assign the same
    // vectors into different (post-split) cells — the marker's batch
    // key makes it a committed no-op instead
    assert(IvfMaintenance.ingestEmbeddingBatch(spark, batch, 5L, out).isEmpty)
    assert(snap() == after, "a replayed batch changed the index")
    IvfMaintenance.compact(spark, out)
    assert(IvfMaintenance.ingestEmbeddingBatch(spark, batch, 5L, out).isEmpty,
      "compaction must not forget replay identity")
    assert(snap() == after)
    // an EMPTY batch commits its identity without consuming a segment
    val empty = batch.where(lit(false))
    assert(IvfMaintenance.ingestEmbeddingBatch(spark, empty, 6L, out).isEmpty)
    assert(IvfMaintenance.ingestEmbeddingBatch(spark, empty, 6L, out).isEmpty)
    IvfMaintenance.centroids(spark, out).collect() // max-seg read still sound
  }

  test("streaming drops: per-micro-batch ingest end to end") {
    val out = tmp("stream")
    IvfMaintenance.build(spark, embeddings, out)
    val in = tmp("stream_in"); val ckpt = tmp("stream_ckpt")
    embeddings.where(col("vec_id") % 11 === 4)
      .select((col("vec_id") + 750000L).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(in)
    val q = IvfMaintenance.streamInto(spark, in, out, ckpt)
    try { q.processAllAvailable() } finally { q.stop() }
    val n = embeddings.where(col("vec_id") % 11 === 4).count()
    assert(IvfMaintenance.assignments(spark, out)
      .where(col("vec_id") >= 750000L).count() == n,
      "streamed vectors must land in the lists")
  }

  test("knnQuery serves the maintained index: exhaustive at full nprobe, cell-bounded at nprobe=1") {
    val out = tmp("serve")
    IvfMaintenance.build(spark, embeddings.where(col("vec_id") % 10 =!= 7), out)
    IvfMaintenance.ingest(spark,
      embeddings.where(col("vec_id") % 10 === 7), out) // multi-segment index
    val queries = embeddings.where(col("vec_id") % 100 === 9)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val nCells = IvfMaintenance.centroids(spark, out).count().toInt
    // at nprobe = nlist the probe set is the whole index: the served
    // top-3 must equal brute force over the folded lists
    val served = IvfMaintenance.knnQuery(spark, out, queries, k = 3,
      nprobe = nCells)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val corpus = IvfMaintenance.assignments(spark, out)
      .select("vec_id", "cell", "e").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    // the operator's EXACT arithmetic (expanded form, ascending fold) —
    // a (x-y)^2 sum is a different double and can flip near-ties
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      dotA(a, a) - 2.0 * dotA(a, b) + dotA(b, b)
    val qv = queries.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val qvMap = qv.toMap
    qv.foreach { case (qid, e) =>
      val brute = corpus.filter(_._1 != qid)
        .map(t => (d2(e, t._3), t._1)).sortBy(identity).take(3).map(_._2)
      brute.zipWithIndex.foreach { case (nid, i) =>
        assert(served((qid, i + 1)) == nid,
          s"query $qid rank ${i + 1}: served ${served((qid, i + 1))}, brute $nid")
      }
    }
    // at nprobe=1 every neighbor must live in the query's argmin cell
    val cents = IvfMaintenance.centroids(spark, out).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val cellOf = corpus.map(t => t._1 -> t._2).toMap
    IvfMaintenance.knnQuery(spark, out, queries, k = 3, nprobe = 1)
      .select("query_id", "neighbor_id").collect().foreach { r =>
        val qcell = cents.map(c => (d2(qvMap(r.getLong(0)), c._2), c._1))
          .min._2
        assert(cellOf(r.getLong(1)) == qcell,
          s"nprobe=1 neighbor ${r.getLong(1)} is outside query ${r.getLong(0)}'s cell")
      }
    // plan guard: the only nested-loop is the broadcast centroid
    // snapshot; the candidate scoring join is cell-keyed, never a
    // cartesian over the lists
    val p = IvfMaintenance.knnQuery(spark, out, queries, k = 3, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"CartesianProduct in:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the broadcast centroid crossJoin may nested-loop; candidate " +
        s"scoring must stay a cell-keyed equi-join:\n$p")
  }

  test("a duplicated vec_id row in one batch cannot desync occupancy from the lists") {
    val out = tmp("dups")
    IvfMaintenance.build(spark, embeddings, out)
    val one = embeddings.where(col("vec_id") % 100 === 11)
      .select((col("vec_id") + 880000L).as("vec_id"), col("embedding"))
    val r = IvfMaintenance.ingest(spark, one.unionAll(one), out) // dup rows
    assert(r.nDelta == one.count(), "duplicates must collapse before counting")
    val occ = IvfMaintenance.centroids(spark, out)
      .select("cell", "n_assigned").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val folded = IvfMaintenance.assignments(spark, out)
      .groupBy("cell").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(occ.filter(_._2 > 0) == folded,
      s"published occupancy desynced from the lists: $occ vs $folded")
  }

  test("a rebuild preserves replay identity: a committed batch stays a no-op") {
    val out = tmp("rebuild")
    IvfMaintenance.build(spark, embeddings.where(col("vec_id") % 10 =!= 7), out)
    val batch = embeddings.where(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 870000L).as("vec_id"), col("embedding"))
    assert(IvfMaintenance.ingestEmbeddingBatch(spark, batch, 7L, out).isDefined)
    // operator rebuilds the index from the (already batch-7-bearing)
    // corpus — exactly the recovery path the sync's error message
    // prescribes. The replay of batch 7 must STILL be a no-op, or its
    // vectors fold as two live rows
    val union = embeddings.select("vec_id", "label", "embedding").unionAll(
      batch.withColumn("label", col("vec_id") % 3)
        .select("vec_id", "label", "embedding"))
    IvfMaintenance.build(spark, union, out)
    val before = IvfMaintenance.assignments(spark, out).count()
    assert(IvfMaintenance.ingestEmbeddingBatch(spark, batch, 7L, out).isEmpty,
      "rebuild forgot replay identity")
    assert(IvfMaintenance.assignments(spark, out).count() == before)
  }

  test("excludeSelfId=false serves an external query numbered like a corpus vector") {
    val out = tmp("selfid")
    IvfMaintenance.build(spark, embeddings, out)
    val someVec = embeddings.orderBy("vec_id").limit(1)
      .select("vec_id", "embedding").collect()(0)
    import spark.implicits._
    val q = Seq((someVec.getLong(0), someVec.getSeq[Double](1)))
      .toDF("query_id", "embedding")
    // default: the same-id corpus vector is excluded (self-probe)
    val withDefault = IvfMaintenance.knnQuery(spark, out, q, k = 1)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(!withDefault.contains(someVec.getLong(0)))
    // external-id-space mode: the exact-match vector IS the answer
    val external = IvfMaintenance.knnQuery(spark, out, q, k = 1,
      excludeSelfId = false)
      .select("neighbor_id", "dist2").collect()
    assert(external.head.getLong(0) == someVec.getLong(0) &&
      external.head.getDouble(1) == 0.0,
      s"excludeSelfId=false must return the identical vector: ${external.toSeq}")
  }

  test("split flags mirror sim_incremental_assign's occupancy arithmetic") {
    // ingest the SAME 10% delta the registry query models; the cells
    // the operator splits must be exactly the operator's mean-relative
    // predicate evaluated over the query's per-cell occupancy output
    // (the query keeps its fixture-tuned corpus-total flag
    // 20·n > 3·n_total — registry-side; the OPERATOR's threshold is
    // the scale-symmetric dual of needsMerge plus the growth budget,
    // which this fixture never reaches). The query computes centroids
    // in ONE shot (label means, no Lloyd rounds), so build the
    // matching index with rounds = 0.
    val out0 = tmp("mirror0")
    IvfMaintenance.build(spark, embeddings.where(col("vec_id") % 10 =!= 7),
      out0, rounds = 0)
    val occ = SparkEntry.queries("sim_incremental_assign")(spark, sf)
      .select("c_label", "n_base", "n_new")
      .collect().map(r => r.getAs[Number]("c_label").longValue() ->
        (r.getLong(1) + r.getLong(2)))
    val nCells = occ.length.toLong
    val nTotal = occ.map(_._2).sum
    val flaggedByArith = occ
      .filter { case (_, n) => n * nCells > nTotal * 2 }.map(_._1).toSet
    val r = IvfMaintenance.ingest(spark,
      embeddings.where(col("vec_id") % 10 === 7), out0)
    assert(r.nSplit == flaggedByArith.size,
      s"operator split ${r.nSplit} cells, arithmetic flags $flaggedByArith")
  }

  test("nlist growth: the budget keeps per-probe candidate work flat as the corpus grows 10x") {
    // The 100x-scale property the fixture-scale thresholds can't show:
    // build with a sampled-seed nlist and a SMALL occupancy budget,
    // then grow the corpus ~10x through uniform delta ingests (no
    // manufactured skew — precisely the regime where a mean-relative
    // split NEVER fires and an unbudgeted index freezes its nlist).
    // The growth term must keep splitting so (a) cell count rises with
    // the corpus, (b) mean occupancy stays pinned near the budget, and
    // (c) the serve-side candidate count per probe — the quantity that
    // regressed 1.9x at 10x under fixed nlist — stays ~flat.
    import spark.implicits._
    val out = tmp("growth")
    val dim = 8
    val budget = 40L
    def vecs(ids: Range): DataFrame = ids.map { i =>
      // deterministic scatter over a dim-8 cube: uniform-ish, unlabeled
      val v = Seq.tabulate(dim)(d => math.sin(0.7 * i + 1.3 * d) +
        0.01 * ((i * 31 + d * 17) % 13))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    IvfMaintenance.build(spark, vecs(0 until 400), out,
      rounds = 2, nlist = Some(10), targetOcc = budget)
    val h0 = IvfMaintenance.health(spark, out)
    val meanOcc0 = h0.nVectors.toDouble / h0.nCells
    // 9 uniform deltas of 400 → 4000 vectors total
    for (b <- 1 to 9)
      IvfMaintenance.ingest(spark, vecs(b * 400 until (b + 1) * 400), out)
    val h = IvfMaintenance.health(spark, out)
    assert(h.nVectors == 4000L, s"corpus must be 10x: $h")
    // (a) nlist grew with the corpus — not frozen at the seed count
    assert(h.nCells >= h0.nCells * 4,
      s"cell count must track 10x growth: ${h0.nCells} -> ${h.nCells}")
    // (b) mean occupancy pinned by the budget (split fires past
    // 2·budget, so the steady-state mean lives under ~2·budget; merge
    // floors it at budget-scale rather than letting cells dribble)
    val meanOcc = h.nVectors.toDouble / h.nCells
    assert(meanOcc <= 2.5 * budget,
      s"mean occupancy must stay near the budget: $meanOcc vs $budget")
    // (c) per-probe candidate work ~flat vs the 1x index: probing the
    // nearest cell costs its occupancy, and no cell may have grown
    // unchecked past the split point + one delta's worth of slack
    assert(h.maxOcc <= 2 * budget + 400,
      s"a cell outgrew the split cadence: maxOcc=${h.maxOcc}")
    // serve stays correct through the churn: an indexed vector's
    // nearest neighbor at nprobe=4 includes its exact self-match
    val q = Seq((123L, Seq.tabulate(dim)(d => math.sin(0.7 * 123 + 1.3 * d) +
      0.01 * ((123 * 31 + d * 17) % 13)))).toDF("query_id", "embedding")
    val top = IvfMaintenance.knnQuery(spark, out, q, k = 1, nprobe = 4,
      excludeSelfId = false).select("neighbor_id", "dist2").head()
    assert(top.getLong(0) == 123L && top.getDouble(1) == 0.0,
      s"post-growth serve lost the exact match: $top")
    // and mean occupancy at 1x was in the same band — the budget, not
    // corpus size, sets the operating point at every scale
    assert(meanOcc0 <= 2.5 * budget, s"1x mean occupancy off-band: $meanOcc0")
    // the PAIR works both directions: shrink the corpus back ~4x and
    // the merge side (riding remove()) retires cells, pulling the
    // count DOWN with the corpus instead of stranding near-empty cells
    IvfMaintenance.remove(spark,
      vecs(1000 until 4000).select("vec_id"), out, key = "shrink")
    val hs = IvfMaintenance.health(spark, out)
    assert(hs.nVectors == 1000L, s"shrink fixture: $hs")
    assert(hs.nCells < h.nCells,
      s"merge must retire cells as the corpus shrinks: ${h.nCells} -> ${hs.nCells}")
    // one pass per batch is the contract — retiring cells raises the
    // mean, so a mass removal legitimately leaves some cells flagged
    // for the NEXT pass. The cadence must CONVERGE: standalone
    // maintenance passes (health() is what a deployment keys them off)
    // drive the flag count to zero in a few rounds, never oscillate
    var flagged = hs.nMergeFlagged
    var passes = 0
    while (flagged > 0 && passes < 5) {
      IvfMaintenance.mergeUnderfull(spark, out, key = s"shrink-heal-$passes")
      passes += 1
      flagged = IvfMaintenance.health(spark, out).nMergeFlagged
    }
    assert(flagged == 0,
      s"maintenance cadence failed to converge after $passes extra passes")
    val hf = IvfMaintenance.health(spark, out)
    assert(hf.nVectors == 1000L && hf.nCells < hs.nCells, s"$hf")
  }
}
