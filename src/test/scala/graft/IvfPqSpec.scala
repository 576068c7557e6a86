package graft

import graft.operators.IvfMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PQ layer of the maintained IVF index: fixed codebooks trained
  * once, per-vector codes committed in the SAME segment as the lists,
  * reachability through the folded assignments (so codes need no
  * tombstones), and the ADC serve path that never reads a raw
  * embedding. Ground truth is recomputed from scratch in Scala with
  * the exact operand order the engine pins (sequential ascending dot
  * folds, 1e-9-quantized means, (d2, cw) tie-breaks). */
class IvfPqSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val M = 8

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"ivfpq_$name")

  private def embeddings: DataFrame =
    graft.queries.Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))

  // ---- scalar ground-truth arithmetic (the engine's pinned ops) ----
  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def d2(a: Seq[Double], b: Seq[Double]): Double =
    dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
  private def quantMean(xs: Seq[Seq[Double]]): Seq[Double] =
    xs.head.indices.map { d =>
      xs.map(v => math.round(v(d) * 1e9)).sum.toDouble / 1e9 / xs.size
    }

  private def collectVecs(df: DataFrame): Map[Long, Seq[Double]] =
    df.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  /** per-(m, label) codebooks exactly as buildPq trains them. */
  private def groundCodebooks(
      vecs: Map[Long, Seq[Double]], labels: Map[Long, Long])
      : Map[(Int, Long), Seq[Double]] =
    (for {
      m <- 0 until M
      (lbl, ids) <- labels.groupBy(_._2).map { case (l, g) => l -> g.keys.toSeq }
    } yield {
      val subLen = vecs.head._2.length / M
      (m, lbl) -> quantMean(ids.sorted.map(id =>
        vecs(id).slice(m * subLen, (m + 1) * subLen)))
    }).toMap

  private def groundCodes(vecs: Map[Long, Seq[Double]],
      cb: Map[(Int, Long), Seq[Double]]): Map[(Long, Int), Long] =
    (for ((id, e) <- vecs.toSeq; m <- 0 until M) yield {
      val subLen = e.length / M
      val sub = e.slice(m * subLen, (m + 1) * subLen)
      val best = cb.collect { case ((mm, cw), c) if mm == m => (d2(sub, c), cw) }
        .minBy(identity)
      (id, m) -> best._2
    }).toMap

  private lazy val built = {
    val out = tmp("base")
    IvfMaintenance.build(spark, embeddings, out)
    IvfMaintenance.buildPq(spark, embeddings, out, M)
    out
  }

  test("buildPq: committed codes equal the from-scratch argmin encoding") {
    val out = built
    assert(IvfMaintenance.pqEnabled(spark, out))
    val vecs = collectVecs(embeddings)
    val labels = embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val want = groundCodes(vecs, groundCodebooks(vecs, labels))
    val got = spark.read.parquet(s"$out/ivf/pqcodes/seg=0")
      .select("vec_id", "m", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got.size == vecs.size * M, s"one code per (vec, subspace): ${got.size}")
    assert(got == want, "committed codes diverge from the from-scratch encoding")
  }

  test("adcKnn equals the ADC arithmetic recomputed from scratch") {
    val out = built
    val vecs = collectVecs(embeddings)
    val labels = embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val cb = groundCodebooks(vecs, labels)
    val codes = groundCodes(vecs, cb)
    val cents = IvfMaintenance.centroids(spark, out)
      .select("cell", "c").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val asg = IvfMaintenance.assignments(spark, out)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val queries = embeddings.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = IvfMaintenance.adcKnn(spark, out, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val subLen = vecs.head._2.length / M
    for (qid <- vecs.keys.filter(_ < 10)) {
      val qe = vecs(qid)
      val probed = cents.toSeq.map { case (cell, c) => (d2(qe, c), cell) }
        .sorted.take(2).map(_._2).toSet
      val qd = (for (m <- 0 until M; ((mm, cw), c) <- cb if mm == m)
        yield (m, cw) -> d2(qe.slice(m * subLen, (m + 1) * subLen), c)).toMap
      val cand = asg.filter { case (id, cell) => probed(cell) && id != qid }.keys
      // the ADC sum runs over 1e-9-quantized longs (bit-exact under any
      // partial-agg order) — ground truth replicates the quantization
      val want = cand.toSeq
        .map(id => (id, (0 until M)
          .map(m => math.round(qd((m, codes((id, m)))) * 1e9)).sum
          .toDouble / 1e9))
        .sortBy { case (id, d) => (d, id) }.take(5)
      for (((id, d), i) <- want.zipWithIndex) {
        val (gid, gd) = got((qid, i + 1))
        assert(gid == id && math.abs(gd - d) < 1e-9,
          s"query $qid rk ${i + 1}: got ($gid, $gd), want ($id, $d)")
      }
    }
  }

  test("adcKnn never reads a raw embedding: the assignment scan is id-width") {
    val out = built
    import spark.implicits._
    val q = Seq((3L, collectVecs(embeddings)(3L))).toDF("query_id", "embedding")
    val plan = IvfMaintenance.adcKnn(spark, out, q, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    val asgScans = plan.linesIterator
      .filter(l => l.contains("/ivf/asg") && l.contains("ReadSchema")).toSeq
    assert(asgScans.nonEmpty, s"no asg scan found in:\n$plan")
    assert(asgScans.forall(!_.matches(".*ReadSchema:[^\\n]*\\be:.*")),
      s"the ADC path must prune the embedding column:\n${asgScans.mkString("\n")}")
  }

  test("an ingested delta is coded in the same commit and served by ADC") {
    val out = tmp("delta")
    IvfMaintenance.build(spark, embeddings, out)
    IvfMaintenance.buildPq(spark, embeddings, out, M)
    import spark.implicits._
    // two fresh vectors: an exact twin of corpus vec 3 and a copy of
    // vec 7's embedding — both must be found through codes alone
    val e3 = collectVecs(embeddings)(3L)
    val e7 = collectVecs(embeddings)(7L)
    val delta = Seq((900001L, e3), (900002L, e7)).toDF("vec_id", "embedding")
    IvfMaintenance.ingest(spark, delta, out)
    val segTop = spark.read.parquet(s"$out/ivf/pqcodes")
    // the delta's codes landed (M rows per new id)
    val nNew = segTop.where(col("vec_id") >= 900000L).count()
    assert(nNew == 2 * M, s"delta codes missing: $nNew")
    // an exact twin scores adist2 == the self-code distance — rank 1
    // (codes identical, so the ADC sum is symmetric): query with vec 3
    // itself and expect its twin as the nearest non-self candidate
    val q = Seq((3L, e3)).toDF("query_id", "embedding")
    val top = IvfMaintenance.adcKnn(spark, out, q, k = 1, nprobe = 2)
      .collect()(0)
    assert(top.getLong(1) == 900001L,
      s"the coded twin must be the ADC nearest neighbor: $top")
  }

  test("a removed vector disappears from ADC even before compaction drops its codes") {
    val out = tmp("rm")
    IvfMaintenance.build(spark, embeddings, out)
    IvfMaintenance.buildPq(spark, embeddings, out, M)
    import spark.implicits._
    val e3 = collectVecs(embeddings)(3L)
    val q = Seq((3L, e3)).toDF("query_id", "embedding")
    val beforeRows = IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().sortBy(_.getInt(3))
    val victim = beforeRows.head.getLong(1) // the rank-1 neighbor
    IvfMaintenance.remove(spark, Seq(victim).toDF("vec_id"), out, "rm-victim")
    val after = IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(!after.contains(victim), s"$victim still served after removal")
    // codes linger (no tombstones by design) until compaction
    assert(spark.read.parquet(s"$out/ivf/pqcodes")
      .where(col("vec_id") === victim).count() == M)
    IvfMaintenance.compact(spark, out)
    assert(spark.read.parquet(s"$out/ivf/pqcodes")
      .where(col("vec_id") === victim).count() == 0,
      "compaction must drop unreachable codes")
    val afterCompact = IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(afterCompact == after, "compaction changed an ADC answer")
  }

  test("a rebuild re-encodes: vectors new to the rebuilt layout are servable") {
    val out = tmp("rebuild")
    IvfMaintenance.build(spark, embeddings, out)
    IvfMaintenance.buildPq(spark, embeddings, out, M)
    import spark.implicits._
    val e5 = collectVecs(embeddings)(5L)
    val grown = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding"))
      .unionByName(Seq((900005L, 5L, e5)).toDF("vec_id", "label", "embedding"))
    IvfMaintenance.build(spark, grown, out) // rebuild over a grown corpus
    val q = Seq((5L, e5)).toDF("query_id", "embedding")
    val top = IvfMaintenance.adcKnn(spark, out, q, k = 1, nprobe = 2)
      .collect()(0)
    assert(top.getLong(1) == 900005L,
      s"the rebuilt layout's new twin must be coded and served: $top")
  }
}
