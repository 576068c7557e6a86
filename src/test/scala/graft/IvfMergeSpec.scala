package graft

import graft.operators.IvfMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The underfull half of occupancy maintenance ([[IvfMaintenance
  * .mergeUnderfull]]) plus the shard-count layout parameter. The
  * merge contract mirrors the split spec's: survivors keep
  * byte-identical centroids, rehomed members land exactly where a
  * from-scratch argmin against the surviving centroids puts them, and
  * the merged index SERVES identically to one rebuilt on the same live
  * corpus + surviving centroid set (the fold IS that rebuild). */
class IvfMergeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"ivfm_$name")

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

  private def centSnap(out: String): Array[(Long, Seq[Double], Long)] =
    IvfMaintenance.centroids(spark, out).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))

  test("an underfull cell retires: members rehome to their argmin survivor in one commit") {
    val out = tmp("merge")
    IvfMaintenance.build(spark, embeddings, out)
    val cents0 = centSnap(out)
    val target = cents0.minBy(_._1)._1
    val members = IvfMaintenance.assignments(spark, out)
      .where(col("cell") === target).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    val keep = members.take(5).toSeq
    val rmIds = members.drop(5).toSeq
    val removed = IvfMaintenance.remove(spark, rmIds.toDF("vec_id"), out,
      key = "mtest-rm")
    assert(removed == rmIds.length)
    // remove()'s riding maintenance flagged the now-sub-half-mean cell
    val centsAfter = centSnap(out)
    assert(!centsAfter.exists(_._1 == target),
      s"cell $target sits under half the mean and must retire")
    assert(centsAfter.length == cents0.length - 1,
      "exactly the one underfull cell retires")
    // survivors keep byte-identical centroids (faiss semantics:
    // reassignment updates occupancy, never re-trains)
    val afterMap = centsAfter.map(t => t._1 -> t._2).toMap
    cents0.filter(_._1 != target).foreach { t =>
      assert(afterMap(t._1) == t._2, s"merge moved survivor cell ${t._1}")
    }
    // the kept members live exactly where a from-scratch argmin against
    // the SURVIVING centroids puts them
    val brute = bruteAssign(
      embeddings.where(col("vec_id").isin(keep: _*)),
      IvfMaintenance.centroids(spark, out))
    val stored = IvfMaintenance.assignments(spark, out)
      .where(col("vec_id").isin(keep: _*))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == brute, "rehomed members are not the survivor argmin")
    // nothing lost, occupancy stays the fold count
    assert(IvfMaintenance.assignments(spark, out).count() ==
      embeddings.count() - rmIds.length)
    val occ = centsAfter.map(t => t._1 -> t._3).toMap
    val folded = IvfMaintenance.assignments(spark, out)
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(occ.filter(_._2 > 0) == folded,
      s"published occupancy desynced from the lists: $occ vs $folded")
  }

  test("the merged index serves identically to a rebuild on the survivors") {
    val out = tmp("serve")
    IvfMaintenance.build(spark, embeddings, out)
    val target = centSnap(out).minBy(_._1)._1
    val members = IvfMaintenance.assignments(spark, out)
      .where(col("cell") === target).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    IvfMaintenance.remove(spark, members.drop(4).toSeq.toDF("vec_id"), out,
      key = "mserve-rm")
    assert(!centSnap(out).exists(_._1 == target))
    // full-nprobe top-3 equals brute force over the folded lists — the
    // fold IS an index rebuilt on (survivor centroids, live corpus)
    val queries = embeddings.where(col("vec_id") % 100 === 9)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val nCells = centSnap(out).length
    val servedMap = IvfMaintenance.knnQuery(spark, out, queries, k = 3,
        nprobe = nCells)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val corpus = IvfMaintenance.assignments(spark, out)
      .select("vec_id", "cell", "e").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      dotA(a, a) - 2.0 * dotA(a, b) + dotA(b, b)
    queries.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .foreach { case (qid, e) =>
        val brute = corpus.filter(_._1 != qid)
          .map(t => (d2(e, t._3), t._1)).sortBy(identity).take(3).map(_._2)
        brute.zipWithIndex.foreach { case (nid, i) =>
          assert(servedMap((qid, i + 1)) == nid,
            s"query $qid rank ${i + 1}: served ${servedMap((qid, i + 1))}, brute $nid")
        }
      }
    // nprobe=1 still finds a REHOMED member through its new cell: probe
    // with the member's own embedding — its nearest cell is where the
    // merge argmin-rehomed it, so the candidate fold must surface it
    val kept = members.take(4).toSeq
    val q2 = embeddings.where(col("vec_id").isin(kept: _*))
      .select((col("vec_id") + 500000L).as("query_id"), col("embedding"))
    val hits = IvfMaintenance.knnQuery(spark, out, q2, k = 1, nprobe = 1)
      .select("query_id", "neighbor_id", "dist2").collect()
      .map(r => (r.getLong(0) - 500000L, (r.getLong(1), r.getDouble(2)))).toMap
    kept.foreach { id =>
      assert(hits(id)._1 == id && hits(id)._2 == 0.0,
        s"rehomed member $id unreachable at nprobe=1: ${hits.get(id)}")
    }
  }

  test("merge is replay-keyed and a healthy index no-ops") {
    val out = tmp("skip")
    IvfMaintenance.build(spark, embeddings, out)
    val n0 = centSnap(out).length
    val r1 = IvfMaintenance.mergeUnderfull(spark, out, "m-key")
    assert(r1.nFlagged == 0 && r1.nRehomed == 0 && r1.nCellsAfter == n0,
      s"a balanced index must not merge: $r1")
    val segsAfter = IvfMaintenance.assignments(spark, out).count()
    // replayed key: cheap committed no-op
    val r2 = IvfMaintenance.mergeUnderfull(spark, out, "m-key")
    assert(r2.nFlagged == 0 && r2.nRehomed == 0)
    assert(IvfMaintenance.assignments(spark, out).count() == segsAfter)
    // a replayed REMOVE (whose maintenance already ran) stays a no-op
    val target = centSnap(out).minBy(_._1)._1
    val members = IvfMaintenance.assignments(spark, out)
      .where(col("cell") === target).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    val rm = members.drop(3).toSeq
    IvfMaintenance.remove(spark, rm.toDF("vec_id"), out, key = "r-key")
    val snap = centSnap(out).toSet
    IvfMaintenance.remove(spark, rm.toDF("vec_id"), out, key = "r-key")
    assert(centSnap(out).toSet == snap, "replayed remove+merge changed the index")
  }

  test("churn probe: ingest+remove cycles keep the cell count bounded") {
    val out = tmp("churn")
    IvfMaintenance.build(spark, embeddings, out)
    val n0 = centSnap(out).length
    val nTotal0 = embeddings.count()
    for (cycle <- 0 until 3) {
      // 200 vectors in a FAR region: they pile into one argmin cell,
      // split off into their own sub-cell, then all leave — the
      // emptied cell must retire, or churn strands a dead cell per
      // cycle (exactly the 100 TB failure mode the merge closes)
      val ids = (0 until 200).map(k => 940000L + cycle * 1000L + k)
      val far = ids.map { k =>
        (k, Seq.tabulate(64)(d => 50.0 + 0.001 * ((k + d) % 13)))
      }.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val ri = IvfMaintenance.ingest(spark, far, out)
      assert(ri.nSplit >= 1, s"cycle $cycle: the far pile must split: $ri")
      IvfMaintenance.remove(spark, ids.toDF("vec_id"), out,
        key = s"churn-$cycle")
      val cents = centSnap(out)
      assert(cents.length == n0,
        s"cycle $cycle: cell count must return to $n0, got ${cents.length}")
      // and no live cell sits under the merge threshold
      val tot = cents.map(_._3).sum
      val under = cents.filter(c => c._3 * cents.length * 2 < tot)
      assert(under.isEmpty, s"cycle $cycle: underfull cells persist: $under")
      assert(IvfMaintenance.assignments(spark, out).count() == nTotal0,
        s"cycle $cycle: corpus must be back to the base size")
    }
  }

  test("health reads the operational snapshot corpus-free and its flags match the thresholds") {
    val out = tmp("health")
    IvfMaintenance.build(spark, embeddings, out)
    val h0 = IvfMaintenance.health(spark, out)
    val occ = centSnap(out).map(_._3)
    assert(h0.nCells == occ.length && h0.nVectors == occ.sum)
    assert(h0.minOcc == occ.min && h0.maxOcc == occ.max)
    assert(h0.nSplitFlagged == 0 && h0.nMergeFlagged == 0,
      s"a freshly trained index is balanced: $h0")
    assert(h0.nSegments == 1 && !h0.pq && h0.nShards == 16)
    // drain one cell below half the mean WITHOUT maintenance: health
    // must flag exactly it; the maintenance pass must then clear it
    val target = centSnap(out).minBy(_._1)._1
    val members = IvfMaintenance.assignments(spark, out)
      .where(col("cell") === target).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    IvfMaintenance.remove(spark, members.drop(3).toSeq.toDF("vec_id"), out,
      key = "h-rm", maintain = false)
    val h1 = IvfMaintenance.health(spark, out)
    assert(h1.nMergeFlagged == 1, s"the drained cell must flag: $h1")
    IvfMaintenance.mergeUnderfull(spark, out, "h-merge")
    val h2 = IvfMaintenance.health(spark, out)
    assert(h2.nMergeFlagged == 0 && h2.nCells == h0.nCells - 1,
      s"maintenance must clear the flag by retiring the cell: $h2")
  }

  test("compaction folds a merged log without changing any answer") {
    val out = tmp("mcompact")
    IvfMaintenance.build(spark, embeddings, out)
    val target = centSnap(out).minBy(_._1)._1
    val members = IvfMaintenance.assignments(spark, out)
      .where(col("cell") === target).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    IvfMaintenance.remove(spark, members.drop(4).toSeq.toDF("vec_id"), out,
      key = "mc-rm") // auto-merge: tombstones + rehomed rows in the log
    def snap() = (
      centSnap(out).toSet,
      IvfMaintenance.assignments(spark, out)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val before = snap()
    IvfMaintenance.compact(spark, out)
    assert(snap() == before,
      "compaction changed a post-merge answer (tombstone fold broke)")
  }

  test("shard count is a recorded layout parameter: 4 and 64 both build, serve, and prune") {
    for (nsh <- Seq(4, 64)) {
      val out = tmp(s"sh$nsh")
      IvfMaintenance.build(spark, embeddings, out, nShards = nsh)
      // hive dirs actually use the requested modulus
      val seg0 = new java.io.File(s"$out/ivf/asg/seg=0").listFiles()
        .map(_.getName).filter(_.startsWith("shard=")).toSeq
      assert(seg0.nonEmpty &&
        seg0.forall(_.stripPrefix("shard=").toInt < nsh),
        s"nsh=$nsh wrote shards $seg0")
      // an ingest + serve round-trip stays exact
      val delta = embeddings.where(col("vec_id") % 10 === 7)
        .select((col("vec_id") + 960000L).as("vec_id"), col("embedding"))
      IvfMaintenance.ingest(spark, delta, out)
      val queries = embeddings.where(col("vec_id") % 100 === 9)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val served = IvfMaintenance.knnQuery(spark, out, queries, k = 3,
          nprobe = 1)
      // the candidate scan partition-prunes on the RECORDED modulus
      val plan = served.queryExecution.executedPlan.toString
      val scans = plan.linesIterator
        .filter(l => l.contains("/ivf/asg") && l.contains("PartitionFilters"))
        .toSeq
      assert(scans.nonEmpty, s"no pruned asg scan at nsh=$nsh:\n$plan")
      assert(scans.forall(
        _.replaceAll(".*PartitionFilters: \\[", "").contains("shard")),
        s"asg scan must prune on shard at nsh=$nsh:\n${scans.mkString("\n")}")
      assert(served.count() > 0)
    }
  }

  test("a lost layout record refuses instead of silently mis-pruning") {
    val out = tmp("lost")
    IvfMaintenance.build(spark, embeddings, out, nShards = 4)
    assert(new java.io.File(s"$out/ivf/_layout").delete())
    val delta = embeddings.limit(3)
      .select((col("vec_id") + 970000L).as("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      IvfMaintenance.ingest(spark, delta, out)
    }
    assert(e.getMessage.contains("_layout"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IvfMaintenance.knnQuery(spark, out,
        embeddings.limit(1).select(col("vec_id").as("query_id"),
          col("embedding"))).count()
    }
    assert(e2.getMessage.contains("_layout"), e2.getMessage)
  }
}
