package graft

import graft.operators.IvfMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The drift-monitored codebook refresh: [[IvfMaintenance.pqRecall]]
  * measures the compressed path against the exact path, and
  * [[IvfMaintenance.maintainPq]] re-trains + re-encodes as a new
  * codebook GENERATION when the corpus has drifted past what the
  * original sample represents. The drift fixture is synthetic and
  * engineered so the failure is structural, not statistical: a far
  * region the original sample never saw collapses onto ONE codeword
  * per subspace (every candidate ties, ranks decay to the id
  * tie-break), and a refresh whose sample labels that region in
  * k-sized sub-clusters makes ADC separate them exactly. */
class PqRefreshSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val Dim = 8
  private val M = 4

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"pqr_$name")

  /** Original corpus: 3 tight clusters at coordinate levels 0/1/2. */
  private def corpusA: DataFrame =
    (0 until 60).map { i =>
      val lbl = i % 3
      (i.toLong, lbl.toLong,
        Seq.tabulate(Dim)(d => lbl.toDouble + 0.01 * ((i + d) % 5)))
    }.toDF("vec_id", "label", "embedding")

  /** The drifted region: 3 sub-clusters of EXACTLY 5 vectors at levels
    * 20/24/28 — k-sized, so a refreshed codebook that gives each
    * sub-cluster its own codeword serves the exact top-5 perfectly. */
  private def corpusB: DataFrame =
    (0 until 15).map { i =>
      val sub = i / 5
      (200L + i, (3 + sub).toLong,
        Seq.tabulate(Dim)(d => 20.0 + 4.0 * sub + 0.05 * ((i + d) % 5)))
    }.toDF("vec_id", "label", "embedding")

  /** Held-out probes at the three B sub-cluster centers. */
  private def heldOut: DataFrame =
    (0 until 3).map { sub =>
      (900001L + sub, Seq.fill(Dim)(20.0 + 4.0 * sub))
    }.toDF("query_id", "embedding")

  test("drifted corpus degrades ADC recall; the refresh trigger recovers it") {
    val out = tmp("drift")
    IvfMaintenance.build(spark, corpusA, out)
    IvfMaintenance.buildPq(spark, corpusA.select("label", "embedding"), out, M)
    // the drifted delta arrives through the normal keyed ingest
    assert(IvfMaintenance.ingestEmbeddingBatch(spark,
      corpusB.select("vec_id", "embedding"), 11L, out).isDefined)
    val before = IvfMaintenance.pqRecall(spark, out, heldOut, k = 5, nprobe = 2)
    assert(before < 0.9,
      s"the drift fixture must degrade ADC recall below the trigger: $before")
    val health = IvfMaintenance.maintainPq(spark, out, heldOut,
      sample = corpusA.select("label", "embedding")
        .unionAll(corpusB.select("label", "embedding")),
      minRecall = 0.9, k = 5, nprobe = 2, m = M, key = "pqm-1")
    assert(health.refreshed, s"recall $before must trip the refresh")
    assert(health.recallBefore == before)
    assert(health.recallAfter.exists(_ >= 0.9),
      s"refresh must recover recall: $health")
    // replay identity survives the refresh: the drifted batch is still
    // a committed no-op
    assert(IvfMaintenance.ingestEmbeddingBatch(spark,
      corpusB.select("vec_id", "embedding"), 11L, out).isEmpty,
      "refresh must not forget replay identity")
    // a healthy index does not refresh
    val h2 = IvfMaintenance.maintainPq(spark, out, heldOut,
      sample = corpusA.select("label", "embedding"),
      minRecall = 0.9, k = 5, nprobe = 2, m = M, key = "pqm-2")
    assert(!h2.refreshed && h2.recallAfter.isEmpty,
      s"recovered recall must not re-trip the refresh: $h2")
    // a REPLAY of the completed maintenance pass (crash after its
    // refresh committed) re-runs to the SAME decision — refreshed=true,
    // not a healthy-looking false that hides the activated generation —
    // and commits nothing new
    val gensBefore = new java.io.File(s"$out/ivf/pq_cb").listFiles()
      .map(_.getName).toSet
    val h3 = IvfMaintenance.maintainPq(spark, out, heldOut,
      sample = corpusA.select("label", "embedding"),
      minRecall = 0.9, k = 5, nprobe = 2, m = M, key = "pqm-1")
    assert(h3.refreshed && h3.recallAfter.isDefined,
      s"a replayed completed refresh must report refreshed=true: $h3")
    assert(new java.io.File(s"$out/ivf/pq_cb").listFiles()
      .map(_.getName).toSet == gensBefore,
      "a replayed maintenance pass must not commit a new generation")
  }

  test("a refresh can change the subspace count: old-shape codes never leak into the fold") {
    val out = tmp("mshape")
    IvfMaintenance.build(spark, corpusA, out)
    IvfMaintenance.buildPq(spark, corpusA.select("label", "embedding"), out, M)
    val e5 = corpusA.where(col("vec_id") === 5L)
      .select("embedding").head().getSeq[Double](0)
    // a refreshed generation at m=2: the codes fold is bounded to the
    // new generation's segment, so the four-subspace rows committed by
    // generation 0 are unreachable — not half-joined into a chimera
    IvfMaintenance.refreshPq(spark, corpusA.select("label", "embedding"),
      out, m = 2, key = "reshape")
    val ing = IvfMaintenance.ingest(spark,
      Seq((900100L, e5)).toDF("vec_id", "embedding"), out)
    assert(ing.nDelta == 1)
    // coarse grids tie densely (every same-label vector shares codes),
    // so assert tie-AT-MINIMUM within a wide k, never an exact rank
    val rows = IvfMaintenance.adcKnn(spark, out,
      Seq((5L, e5)).toDF("query_id", "embedding"), k = 30, nprobe = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2))
    val minD = rows.map(_._2).min
    assert(rows.contains(900100L -> minD),
      s"the twin coded under the refreshed shape must tie at the ADC minimum: " +
        s"${rows.toSeq.sortBy(_._2).take(5)}")
  }

  test("compaction preserves the active generation; answers are unchanged") {
    val out = tmp("compact")
    IvfMaintenance.build(spark, corpusA, out)
    IvfMaintenance.buildPq(spark, corpusA.select("label", "embedding"), out, M)
    IvfMaintenance.refreshPq(spark,
      corpusA.select("label", "embedding")
        .unionAll(corpusB.select("label", "embedding")),
      out, m = M, key = "pre-compact")
    val q = Seq((901000L, corpusA.where(col("vec_id") === 7L)
      .select("embedding").head().getSeq[Double](0))).toDF("query_id", "embedding")
    val before = IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    IvfMaintenance.compact(spark, out)
    assert(IvfMaintenance.pqEnabled(spark, out),
      "compaction must carry the codebook generation to the top segment")
    val after = IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getInt(3), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before, "compaction changed an ADC answer across a generation")
    // and the index keeps ingesting + serving after the fold
    val e9 = corpusA.where(col("vec_id") === 9L)
      .select("embedding").head().getSeq[Double](0)
    IvfMaintenance.ingest(spark, Seq((902000L, e9)).toDF("vec_id", "embedding"), out)
    // tie-at-minimum (coarse grids tie every same-label vector's codes)
    val rows = IvfMaintenance.adcKnn(spark, out,
      Seq((9L, e9)).toDF("query_id", "embedding"), k = 30, nprobe = 2)
      .collect().map(r => r.getLong(1) -> r.getDouble(2))
    val minD = rows.map(_._2).min
    assert(rows.contains(902000L -> minD),
      s"post-compact delta must tie at the ADC minimum: " +
        s"${rows.toSeq.sortBy(_._2).take(5)}")
  }

  test("a PQ sample whose dim disagrees with the index refuses to train") {
    val out = tmp("dim")
    IvfMaintenance.build(spark, corpusA, out)
    val badSample = (0 until 10).map(i =>
      (i.toLong % 3, Seq.tabulate(Dim * 2)(d => 0.1 * ((i + d) % 7))))
      .toDF("label", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfMaintenance.buildPq(spark, badSample, out, M)
    }
    assert(e.getMessage.contains("index vector dim"), e.getMessage)
    assert(!IvfMaintenance.pqEnabled(spark, out),
      "a refused train must leave PQ off")
  }

  test("PQ on an emptied-out index: enables for future ingests; a no-history index refuses") {
    // an index whose members were all removed still KNOWS its dim (the
    // superseded log rows carry it), so buildPq legitimately enables —
    // the empty code set serves empty, and the next delta is coded
    val out = tmp("emptyidx")
    IvfMaintenance.build(spark, corpusA, out)
    IvfMaintenance.remove(spark, corpusA.select("vec_id"), out, key = "all-out")
    IvfMaintenance.buildPq(spark, corpusA.select("label", "embedding"), out, M)
    assert(IvfMaintenance.pqEnabled(spark, out))
    val e5 = corpusA.where(col("vec_id") === 5L)
      .select("embedding").head().getSeq[Double](0)
    val q = Seq((905000L, e5)).toDF("query_id", "embedding")
    assert(IvfMaintenance.adcKnn(spark, out, q, k = 3,
      nprobe = 3).isEmpty, "an emptied corpus serves empty, not wrong")
    IvfMaintenance.ingest(spark, Seq((906000L, e5)).toDF("vec_id", "embedding"), out)
    val rows = IvfMaintenance.adcKnn(spark, out, q, k = 5, nprobe = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2))
    assert(rows.contains(906000L -> rows.map(_._2).min),
      s"the post-enable delta must be coded and served: ${rows.toSeq}")
    // and the degenerate root is refused at its source: a build on an
    // EMPTY corpus would publish a footer-less segment that every later
    // read trips over opaquely
    val err = intercept[IllegalArgumentException] {
      IvfMaintenance.build(spark, corpusA.limit(0), tmp("nohist"))
    }
    assert(err.getMessage.contains("empty embeddings"), err.getMessage)
  }

  test("a crashed refresh (no marker) is invisible and swept; the old generation keeps serving") {
    val out = tmp("crash")
    IvfMaintenance.build(spark, corpusA, out)
    IvfMaintenance.buildPq(spark, corpusA.select("label", "embedding"), out, M)
    val q = Seq((903000L, corpusA.where(col("vec_id") === 3L)
      .select("embedding").head().getSeq[Double](0))).toDF("query_id", "embedding")
    val before = IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toSet
    // a refresh that died after staging its generation dir but before
    // the marker: an orphan codebook generation at an uncommitted seg
    val orphanSeg = 55L
    Seq((0, 0L, Seq(99.0, 99.0), M)).toDF("m", "cw", "c", "n_sub")
      .write.parquet(s"$out/ivf/pq_cb/seg=$orphanSeg")
    assert(IvfMaintenance.adcKnn(spark, out, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getInt(3), r.getLong(1))).toSet == before,
      "an uncommitted generation leaked into serving")
    // the next writer sweeps it
    val e1 = corpusA.where(col("vec_id") === 1L)
      .select("embedding").head().getSeq[Double](0)
    IvfMaintenance.ingest(spark, Seq((904000L, e1)).toDF("vec_id", "embedding"), out)
    assert(!new java.io.File(s"$out/ivf/pq_cb/seg=$orphanSeg").exists(),
      "the orphan generation must be swept")
    assert(IvfMaintenance.pqEnabled(spark, out))
  }
}
