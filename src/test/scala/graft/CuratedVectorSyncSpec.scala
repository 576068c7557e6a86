package graft

import graft.operators.{CurationRun, CuratedVectorSync, DeltaIngest, IvfMaintenance, TrainingExport}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed curation+ANN consistency operator: one ingest curates
  * the documents AND keeps the vector index in lockstep — appended
  * docs' embeddings assign in, removed base docs' vectors tombstone
  * out, and the replay key makes any crash suffix re-runnable. */
class CuratedVectorSyncSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"cvs_$name")

  // 30 globally-unique 5-char words per doc (gate-passing: n=30, TTR=1,
  // top=1, sum(len) == 5n)
  private def words(key: Long, n: Int = 30): Vector[String] =
    (0 until n).map { j =>
      val s = java.lang.Long.toString(key * 32 + j, 36)
      "0" * (5 - s.length) + s
    }.toVector

  private case class Doc(id: Long, ws: Vector[String]) {
    def text: String = ws.mkString(" ")
  }

  private def toDF(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.id, d.text, "en", "web", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // deterministic 8-dim embedding per doc
  private def vec(id: Long): Seq[Double] =
    Seq.tabulate(8)(d => ((id * 31 + d * 7) % 100) / 100.0)
  private def vecsOf(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vec(id))).toDF("doc_id", "embedding")

  private val baseDocs = (0 until 60).map(k => Doc(1000 + k, words(1000 + k)))
  private val bWin = baseDocs(5) // base doc a delta near-dup will BEAT
  private val cLose = baseDocs(9) // base doc a delta near-dup loses to

  private val fFresh = Doc(5001, words(9001))
  private val wWinner = Doc(5002, bWin.ws ++ Vector("zza01", "zza02", "zza03"))
  private val lLoser = Doc(5003, cLose.ws.dropRight(1))
  private val deltaDocs = Seq(fFresh, wWinner, lLoser)

  private def liveIds(ivfOut: String): Set[Long] =
    IvfMaintenance.assignments(spark, ivfOut)
      .select("vec_id").collect().map(_.getLong(0)).toSet

  private lazy val run = {
    val in = tmp("in"); val textOut = tmp("text"); val ivfOut = tmp("ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    // the base vector index covers exactly the base FINAL layout
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    val rep = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1")
    (textOut, ivfOut, rep, baseFinal.toSet)
  }

  test("one ingest keeps layout and index consistent: winner in, loser out, replaced keeper tombstoned") {
    val (textOut, ivfOut, rep, baseFinal) = run
    assert(rep.docs.isDefined)
    val d = rep.docs.get
    assert(d.nAppended == 2 && d.nDupDropped == 1 && d.nRemoved == 1, s"$d")
    assert(rep.nVecIngested == 2 && rep.nVecRemoved == 1, s"$rep")
    val finalIds = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIds == baseFinal - bWin.id + fFresh.id + wWinner.id)
    // the index live set IS the final layout
    assert(liveIds(ivfOut) == finalIds,
      "vector index drifted from the curated layout")
    // the replaced keeper no longer serves as a neighbor — a query AT
    // its exact vector (d2 = 0 if it still served) must not return it;
    // a query at the winner's vector must return the winner (top-2: doc
    // 1002 shares the winner's vector by the mod-100 construction and
    // ties break to the smaller id)
    val served = IvfMaintenance.knnQuery(spark, ivfOut,
      Seq((99998L, vec(bWin.id)), (99999L, vec(wWinner.id)))
        .toDF("query_id", "embedding"),
      k = 2, nprobe = 10)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(!served(99998L).contains(bWin.id), "tombstoned vector served as a neighbor")
    assert(served(99999L).contains(wWinner.id), "the winner's vector must serve")
  }

  test("a replayed batch key is a complete no-op") {
    val (textOut, ivfOut, _, _) = run
    val before = liveIds(ivfOut)
    val rep = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1")
    assert(rep.docs.isEmpty && rep.nVecIngested == 0 && rep.nVecRemoved == 0,
      s"$rep")
    assert(liveIds(ivfOut) == before)
  }

  test("the export lockstep: training shards stay current with the layout, one generation per batch") {
    val in = tmp("e_in"); val textOut = tmp("e_text"); val ivfOut = tmp("e_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    val cfg = CuratedVectorSync.ExportCfg(tmp("e_exp"), nShards = 4)
    // the first enabled sync brings the base backlog current (gen 0
    // covers the base manifest) AND exports the batch's own appends
    val rep = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "e1", exportOut = Some(cfg))
    assert(rep.export.isDefined, "the enabled sync must commit a generation")
    val (gen0, r0) = rep.export.get
    assert(gen0 == 0L && r0.nDocs > 0)
    // gen 0's docs == the post-batch live train slice (base + appends,
    // both manifest segments covered in one backlog generation)
    val liveTrain = DeltaIngest.readFinal(spark, textOut)
      .where(col("split") === "train").count()
    assert(r0.nDocs == liveTrain,
      s"gen 0 must cover the whole live train slice: ${r0.nDocs} vs $liveTrain")
    // a replayed batch exports nothing (coverage-driven no-op)
    val rep2 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "e1", exportOut = Some(cfg))
    assert(rep2.export.isEmpty, s"a replay must not re-export: ${rep2.export}")
    // the audit passes over what the lockstep shipped
    assert(TrainingExport.verifyAll(spark, cfg.dir).collect()
      .forall(_.getAs[Boolean]("ok")))
  }

  test("epoch cadence in the lockstep: accumulated removals rotate the export epoch; replays re-read, never re-pack; GC only after audit") {
    val in = tmp("ep_in"); val textOut = tmp("ep_text"); val ivfOut = tmp("ep_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    val root = tmp("ep_root")
    val cfg = CuratedVectorSync.ExportCfg(root, nShards = 4,
      epoch = Some(CuratedVectorSync.EpochPolicy(maxStale = 1)))
    def epochDirs(): Seq[String] = {
      val fs = new java.io.File(root).listFiles()
      if (fs == null) Seq.empty
      else fs.map(_.getName).filter(_.startsWith("epoch=")).sorted.toSeq
    }
    // batch 1: appends + one keeper replacement. Gen 0 packs AFTER the
    // batch commits, so it covers the post-batch layout — zero stale
    // bytes, no rotation yet.
    val rep1 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "ep1",
      exportOut = Some(cfg))
    assert(rep1.export.isDefined && rep1.epoch.isEmpty,
      s"no stale bytes yet: ${rep1.epoch}")
    assert(epochDirs() == Seq("epoch=0"))
    // batch 2: a second keeper replacement. Its victim is already
    // packed in epoch 0's bytes → stale = 1 ≥ maxStale → the sync
    // itself rotates: fresh epoch=1 pack, audited, old dir GC'd.
    val victim = baseDocs(12)
    val w2 = Doc(5100, victim.ws ++ Vector("zzb01", "zzb02", "zzb03"))
    val rep2 = CuratedVectorSync.ingest(spark, toDF(Seq(w2)),
      vecsOf(Seq(w2.id)), textOut, ivfOut, "ep2", exportOut = Some(cfg))
    assert(rep2.epoch.isDefined, "accumulated removals must rotate the epoch")
    assert(rep2.epoch.get.oldDirRemoved &&
      !new java.io.File(s"$root/epoch=0").exists(),
      "the superseded epoch must be gone after the audited rotation")
    assert(epochDirs() == Seq("epoch=1"), epochDirs().mkString(","))
    assert(TrainingExport.verifyAll(spark, s"$root/epoch=1").collect()
      .forall(_.getAs[Boolean]("ok")))
    // the fresh epoch packs exactly the live train slice — retracted
    // docs' bytes are out
    assert(TrainingExport.health(spark, s"$root/epoch=1").nDocs ==
      DeltaIngest.readManifest(spark, textOut)
        .where(col("split") === "train").count())
    // a replayed batch resolves the live epoch and re-packs nothing
    val mtimes = new java.io.File(s"$root/epoch=1/gen=0/shards")
      .listFiles().map(f => f.getPath -> f.lastModified()).toMap
    val rep3 = CuratedVectorSync.ingest(spark, toDF(Seq(w2)),
      vecsOf(Seq(w2.id)), textOut, ivfOut, "ep2", exportOut = Some(cfg))
    assert(rep3.epoch.isEmpty && rep3.export.isEmpty,
      s"replay must be metadata-only: ${rep3.epoch} ${rep3.export}")
    assert(new java.io.File(s"$root/epoch=1/gen=0/shards").listFiles()
      .map(f => f.getPath -> f.lastModified()).toMap == mtimes,
      "replay rewrote sealed epoch bytes")
    // crash window: a rotation that sealed+audited epoch=2 but died
    // before GC'ing epoch=1 (fabricated by running exportEpoch against
    // a dummy old dir). The next delivery completes the transition —
    // re-reads the sealed gen-0 marker (bytes untouched), re-audits,
    // GCs the stale epoch — before draining.
    TrainingExport.exportEpoch(spark, textOut, tmp("ep_dummy"),
      s"$root/epoch=2", seed = cfg.seed + 2, nShards = cfg.nShards,
      seqLen = cfg.seqLen)
    assert(epochDirs() == Seq("epoch=1", "epoch=2"))
    val mt2 = new java.io.File(s"$root/epoch=2/gen=0/shards")
      .listFiles().map(f => f.getPath -> f.lastModified()).toMap
    val w3 = Doc(5101, words(9102))
    val rep4 = CuratedVectorSync.ingest(spark, toDF(Seq(w3)),
      vecsOf(Seq(w3.id)), textOut, ivfOut, "ep3", exportOut = Some(cfg))
    assert(epochDirs() == Seq("epoch=2"),
      s"transition must complete before draining: ${epochDirs()}")
    assert(new java.io.File(s"$root/epoch=2/gen=0/shards").listFiles()
      .map(f => f.getPath -> f.lastModified()).toMap == mt2,
      "transition completion re-packed sealed gen-0 bytes")
    assert(rep4.export.isDefined, "the batch's own appends drain into the healed epoch")
    assert(TrainingExport.verifyAll(spark, s"$root/epoch=2").collect()
      .forall(_.getAs[Boolean]("ok")))
  }

  test("export_health carries the rotation-pressure gauge: staleDocs rises across retracting deliveries, resets after the rotation") {
    val in = tmp("eg_in"); val textOut = tmp("eg_text"); val ivfOut = tmp("eg_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    val root = tmp("eg_root")
    val cfg = CuratedVectorSync.ExportCfg(root, nShards = 4,
      epoch = Some(CuratedVectorSync.EpochPolicy(maxStale = 2)))
    val handler = new graft.metrics.InMemoryEventHandler()
    def gauge(k: String): Double =
      handler.gauges((root, "export_health"))(k)
    // batch 1: appends only — gen 0 packs AFTER the batch commits, so
    // it covers the post-batch layout: zero pressure, epoch 0
    val d1 = Seq(Doc(6201, words(9211)))
    CuratedVectorSync.ingest(spark, toDF(d1), vecsOf(d1.map(_.id)),
      textOut, ivfOut, "eg1", exportOut = Some(cfg),
      telemetry = Some(handler))
    assert(gauge("staleDocs") == 0.0 && gauge("epoch") == 0.0,
      s"${handler.gauges((root, "export_health"))}")
    // batch 2: replaces an already-packed keeper — its victim's bytes
    // stay in epoch 0, so the gauge must read the pressure (1 <
    // maxStale: no rotation yet), observable WITHOUT triggering the
    // rotation check
    val v1 = baseDocs(10)
    val w1 = Doc(6301, v1.ws ++ Vector("qqa01", "qqa02", "qqa03"))
    val r2 = CuratedVectorSync.ingest(spark, toDF(Seq(w1)),
      vecsOf(Seq(w1.id)), textOut, ivfOut, "eg2", exportOut = Some(cfg),
      telemetry = Some(handler))
    assert(r2.epoch.isEmpty, s"below maxStale must not rotate: ${r2.epoch}")
    assert(gauge("staleDocs") == 1.0 && gauge("epoch") == 0.0,
      s"${handler.gauges((root, "export_health"))}")
    // batch 3: a second replacement reaches maxStale — the sync
    // rotates, and the post-delivery snapshot reads the RESET gauge
    // plus the advanced epoch index
    val v2 = baseDocs(11)
    val w2 = Doc(6302, v2.ws ++ Vector("qqb01", "qqb02", "qqb03"))
    val r3 = CuratedVectorSync.ingest(spark, toDF(Seq(w2)),
      vecsOf(Seq(w2.id)), textOut, ivfOut, "eg3", exportOut = Some(cfg),
      telemetry = Some(handler))
    assert(r3.epoch.isDefined, "accumulated pressure must rotate")
    assert(gauge("staleDocs") == 0.0 && gauge("epoch") == 1.0,
      s"${handler.gauges((root, "export_health"))}")
  }

  test("super-layer cadence: a NOT-due key still creates a missing layer (SuperCfg first-delivery contract)") {
    val in = tmp("spc_in"); val textOut = tmp("spc_text"); val ivfOut = tmp("spc_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    // a key the cadence hash-gate would SKIP: before the fix the first
    // delivery under such a key never created the layer and
    // sprobe-serving threw until some later due delivery
    val cadence = 64
    val notDue = (1 to 1000).map(i => s"nd$i").find(k => math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(k), cadence) != 0).get
    val sCfg = CuratedVectorSync.SuperCfg(maxOrphanFrac = 0.05,
      cadenceBatches = cadence)
    val rep1 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, notDue,
      superOut = Some(sCfg))
    assert(rep1.superRebuilt,
      "a missing layer must be created even when the key is not due")
    assert(IvfMaintenance.superOrphans(spark, ivfOut).contains(0L))
  }

  test("super-layer cadence: below the drift threshold, split-born cells are incrementally mapped — no rebuild, orphans 0, serving exact") {
    val in = tmp("spm_in"); val textOut = tmp("spm_text"); val ivfOut = tmp("spm_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    // drift threshold that can never trip: the rebuild path must not
    // fire — coverage has to come from the incremental mapping alone
    val sCfg = CuratedVectorSync.SuperCfg(maxOrphanFrac = 1.1)
    val rep1 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "spm1",
      superOut = Some(sCfg))
    assert(rep1.superRebuilt, "first enabled delivery creates the layer")
    val segAfterCreate = IvfMaintenance.superSeg(spark, ivfOut)
    // a dense delta aimed at one cell's centroid → split → new cells
    val c0 = IvfMaintenance.centroids(spark, ivfOut)
      .orderBy("cell").select("c").head().getSeq[Double](0)
    val docs2 = (0 until 80).map(k => Doc(7400 + k, words(8400 + k)))
    val vecs2 = docs2.map(d => (d.id,
      c0.zipWithIndex.map { case (x, i) => x + 0.001 * ((d.id + i) % 7) }))
      .toDF("doc_id", "embedding")
    val rep2 = CuratedVectorSync.ingest(spark, toDF(docs2), vecs2,
      textOut, ivfOut, "spm2", superOut = Some(sCfg))
    assert(rep2.ivf.exists(_.nSplit > 0), s"fixture must split: ${rep2.ivf}")
    assert(!rep2.superRebuilt,
      "below the drift threshold the layer must NOT re-train")
    assert(rep2.superMapped > 0,
      "split-born cells must be incrementally mapped in the same delivery")
    assert(IvfMaintenance.superOrphans(spark, ivfOut).contains(0L),
      "the extended map must cover every live cell")
    assert(IvfMaintenance.superSeg(spark, ivfOut) == segAfterCreate)
    // serving through the extended map stays exact: full-sprobe ≡ flat
    val q = vecs2.limit(5)
      .select(col("doc_id").as("query_id"), col("embedding"))
    val nSup = spark.read.parquet(
      s"$ivfOut/ivf/super/cents/seg=${segAfterCreate.get}").count().toInt
    val flat = IvfMaintenance.knnQuery(spark, ivfOut, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val hier = IvfMaintenance.knnQuery(spark, ivfOut, q, k = 3, nprobe = 2,
      sprobe = Some(nSup))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(hier == flat)
    // replayed delivery: nothing uncovered → maps nothing, still no rebuild
    val rep3 = CuratedVectorSync.ingest(spark, toDF(docs2), vecs2,
      textOut, ivfOut, "spm2", superOut = Some(sCfg))
    assert(!rep3.superRebuilt && rep3.superMapped == 0L,
      s"replay must be a no-op: ${rep3.superRebuilt} ${rep3.superMapped}")
  }

  test("super-layer cadence: first delivery creates the layer, split-born orphans trigger rebuild, replay no-ops") {
    val in = tmp("sp_in"); val textOut = tmp("sp_text"); val ivfOut = tmp("sp_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    val sCfg = CuratedVectorSync.SuperCfg(maxOrphanFrac = 0.05)
    // delivery 1: creates the layer (no layer yet = always due)
    val rep1 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "sp1",
      superOut = Some(sCfg))
    assert(rep1.superRebuilt, "first enabled delivery must create the layer")
    assert(IvfMaintenance.superOrphans(spark, ivfOut).contains(0L))
    // delivery 2: a dense delta aimed at ONE cell's centroid overgrows
    // it → split → split-born cells postdate the layer → orphans →
    // the same delivery's cadence rebuilds
    val c0 = IvfMaintenance.centroids(spark, ivfOut)
      .orderBy("cell").select("c").head().getSeq[Double](0)
    val docs2 = (0 until 80).map(k => Doc(7000 + k, words(8000 + k)))
    val vecs2 = docs2.map(d => (d.id,
      c0.zipWithIndex.map { case (x, i) => x + 0.001 * ((d.id + i) % 7) }))
      .toDF("doc_id", "embedding")
    val rep2 = CuratedVectorSync.ingest(spark, toDF(docs2), vecs2,
      textOut, ivfOut, "sp2", superOut = Some(sCfg))
    assert(rep2.ivf.exists(_.nSplit > 0), s"fixture must split: ${rep2.ivf}")
    assert(rep2.superRebuilt, "split-born orphans must trigger the rebuild")
    assert(IvfMaintenance.superOrphans(spark, ivfOut).contains(0L),
      "a completed rebuild covers every live cell")
    // replayed delivery: zero orphans → no rebuild, layer untouched
    val segBefore = IvfMaintenance.superSeg(spark, ivfOut)
    val rep3 = CuratedVectorSync.ingest(spark, toDF(docs2), vecs2,
      textOut, ivfOut, "sp2", superOut = Some(sCfg))
    assert(!rep3.superRebuilt, "replay with a fresh layer must not rebuild")
    assert(IvfMaintenance.superSeg(spark, ivfOut) == segBefore)
    // the maintained layer serves: hier probe at full sprobe equals flat
    val q = vecs2.limit(5)
      .select(col("doc_id").as("query_id"), col("embedding"))
    val nSup = spark.read.parquet(
      s"$ivfOut/ivf/super/cents/seg=${segBefore.get}").count().toInt
    val flat = IvfMaintenance.knnQuery(spark, ivfOut, q, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val hier = IvfMaintenance.knnQuery(spark, ivfOut, q, k = 3, nprobe = 2,
      sprobe = Some(nSup))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(hier == flat)
  }

  test("a crashed occupancy-maintenance commit heals on a fully-synced replay") {
    val (textOut, ivfOut, _, _) = run
    // the merge rides remove() under the derived key — simulate its
    // crash by dropping exactly that commit's marker (located by its
    // CONTENT: a no-flag pass is a skip marker, a flagged pass a seg one)
    val marker = new java.io.File(s"$ivfOut/ivf/markers").listFiles()
      .find { f =>
        val src = scala.io.Source.fromFile(f)
        try src.mkString.trim == "b1-rm-merge" finally src.close()
      }
    assert(marker.isDefined, "the fixture's sync must have committed its maintenance key")
    assert(marker.get.delete())
    assert(!IvfMaintenance.committedKeys(spark, ivfOut).contains("b1-rm-merge"))
    // the fully-synced early-return replay must re-commit it, not wait
    // for the next removal batch
    val rep = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1")
    assert(rep.docs.isEmpty && rep.nVecIngested == 0)
    assert(IvfMaintenance.committedKeys(spark, ivfOut).contains("b1-rm-merge"),
      "the replay must heal the crashed maintenance commit")
  }

  test("streaming drops: docs + embeddings flow end to end; a replayed batchId is a no-op") {
    val (textOut, ivfOut, _, _) = run
    val h1 = Doc(7001, words(9600)); val h2 = Doc(7002, words(9601))
    val drop = Seq(h1, h2)
      .map(d => (d.id, d.text, "en", "web", vec(d.id)))
      .toDF("doc_id", "text", "lang", "source", "embedding")
    val in = tmp("drop_in"); val ckpt = tmp("drop_ckpt")
    drop.coalesce(1).write.mode("overwrite").parquet(in)
    val q = operators.CuratedVectorSync.streamInto(
      spark, in, textOut, ivfOut, ckpt)
    try { q.processAllAvailable() } finally { q.stop() }
    val finalIds = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIds.contains(h1.id) && finalIds.contains(h2.id))
    assert(liveIds(ivfOut) == finalIds,
      "streamed drop must keep layout and index in lockstep")
    // the same batchId replayed directly: complete no-op
    val rep = operators.CuratedVectorSync.ingestDropBatch(
      spark, drop, 0L, textOut, ivfOut)
    assert(rep.isDefined && rep.get.docs.isEmpty &&
      rep.get.nVecIngested == 0 && rep.get.nVecRemoved == 0, s"$rep")
    assert(liveIds(ivfOut) == finalIds)
  }

  test("a fully-synced batch replayed after manifest compaction is a no-op, not an error") {
    val (textOut, ivfOut, _, _) = run
    val m = Doc(6101, words(9700))
    val rep1 = CuratedVectorSync.ingest(spark, toDF(Seq(m)),
      vecsOf(Seq(m.id)), textOut, ivfOut, "b3")
    assert(rep1.docs.isDefined && rep1.nVecIngested == 1)
    // compaction folds the manifest log away — a redelivered b3 must
    // short-circuit on its committed vector keys, never touch the
    // (gone) increment
    DeltaIngest.compact(spark, textOut)
    val before = liveIds(ivfOut)
    val rep2 = CuratedVectorSync.ingest(spark, toDF(Seq(m)),
      vecsOf(Seq(m.id)), textOut, ivfOut, "b3")
    assert(rep2.docs.isEmpty && rep2.nVecIngested == 0 && rep2.nVecRemoved == 0,
      s"$rep2")
    assert(liveIds(ivfOut) == before)
  }

  // spec-level so later lockstep assertions can exempt the one doc
  // DELIBERATELY ingested without a vector
  private val n1 = Doc(6201, words(9800))
  private val n2 = Doc(6202, words(9801))

  test("an appended doc with no vector is surfaced, not silently dropped") {
    val (textOut, ivfOut, _, _) = run
    // vectors provided for n1 only; n2's embedding arrives null
    import spark.implicits._
    val vecs = Seq((n1.id, Option(vec(n1.id))), (n2.id, Option.empty[Seq[Double]]))
      .toDF("doc_id", "embedding")
    val rep = CuratedVectorSync.ingest(spark, toDF(Seq(n1, n2)),
      vecs, textOut, ivfOut, "b4")
    assert(rep.nVecIngested == 1 && rep.nVecMissing == 1, s"$rep")
    assert(liveIds(ivfOut).contains(n1.id) && !liveIds(ivfOut).contains(n2.id))
  }

  test("a crash between the doc commit and the vector side: the replay finishes the suffix") {
    val (textOut, ivfOut, _, _) = run
    val g = Doc(6001, words(9500))
    // doc side commits under the sync's key, then "crashes" before the
    // vector side runs
    DeltaIngest.ingestKeyed(spark, toDF(Seq(g)), textOut, "b2")
    val rep = CuratedVectorSync.ingest(spark, toDF(Seq(g)),
      vecsOf(Seq(g.id)), textOut, ivfOut, "b2")
    assert(rep.docs.isEmpty, "the committed doc batch must not re-ingest")
    assert(rep.nVecIngested == 1, s"$rep")
    assert(liveIds(ivfOut).contains(g.id))
    val finalIds = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // lockstep modulo the doc the missing-vector test DELIBERATELY
    // ingested without an embedding (tests share the run fixture)
    assert((finalIds -- liveIds(ivfOut)).subsetOf(Set(n2.id)))
  }

  test("search sub-commits: a crash suffix completes on redelivery, a full replay is a stats-exact no-op") {
    import graft.operators.TextSearchIndex
    val in = tmp("s_in"); val textOut = tmp("s_text")
    val ivfOut = tmp("s_ivf"); val searchOut = tmp("s_search")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    IvfMaintenance.build(spark,
      vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
        (col("doc_id") % 3).as("label"), col("embedding")),
      ivfOut)
    TextSearchIndex.build(spark,
      DeltaIngest.readFinal(spark, textOut).select("doc_id", "text"), searchOut)
    // "crash" between the vector and search sides: the first delivery
    // never knew about the search index
    val rep1 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1")
    assert(rep1.docs.isDefined && rep1.nSearchIngested == 0)
    // redelivery WITH the search index: doc+vector replay as no-ops,
    // the search suffix completes
    val rep2 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1", Some(searchOut))
    assert(rep2.docs.isEmpty && rep2.nVecIngested == 0, s"$rep2")
    assert(rep2.nSearchIngested == 2 && rep2.nSearchRemoved == 1, s"$rep2")
    // the winner's extra vocabulary serves; the replaced keeper's text
    // no longer resolves to it
    val hits = TextSearchIndex.query(spark, searchOut,
      List("zza01", "zza02", "zza03"), k = 10).collect()
    assert(hits.exists(_.getLong(0) == wWinner.id), s"${hits.mkString(";")}")
    assert(!hits.exists(_.getLong(0) == bWin.id))
    // full replay: every sub-commit skips; served scores are unchanged
    // (a double-ingest would double-count n_docs/sum_dl and shift idf)
    val want = TextSearchIndex.query(spark, searchOut,
      List("zza01", "zza02", "zza03"), k = 10).collect().toSeq.map(_.toString)
    val rep3 = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1", Some(searchOut))
    assert(rep3.docs.isEmpty && rep3.nVecIngested == 0 &&
      rep3.nSearchIngested == 0 && rep3.nSearchRemoved == 0, s"$rep3")
    assert(TextSearchIndex.query(spark, searchOut,
      List("zza01", "zza02", "zza03"), k = 10).collect().toSeq.map(_.toString)
      == want, "a replay moved the served scores — stats double-counted")
  }

  test("PQ codes ride the synced commit: appended docs serve via ADC, removed docs are unreachable") {
    // standalone fixture: enabling PQ on the shared run would change
    // what the other tests' ingests write
    val in = tmp("pq_in"); val textOut = tmp("pq_text"); val ivfOut = tmp("pq_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val labeled = vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
      (col("doc_id") % 3).as("label"), col("embedding"))
    IvfMaintenance.build(spark, labeled, ivfOut)
    IvfMaintenance.buildPq(spark,
      labeled.select("label", "embedding"), ivfOut, m = 8)
    val rep = CuratedVectorSync.ingest(spark, toDF(deltaDocs),
      vecsOf(deltaDocs.map(_.id)), textOut, ivfOut, "b1")
    assert(rep.nVecIngested == 2 && rep.nVecRemoved == 1, s"$rep")
    // the appended winner's codes landed in the synced segment commit
    import spark.implicits._
    val codeCounts = spark.read.parquet(s"$ivfOut/ivf/pqcodes")
      .where(col("vec_id").isin(wWinner.id, fFresh.id))
      .groupBy("vec_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codeCounts == Map(wWinner.id -> 8L, fFresh.id -> 8L), s"$codeCounts")
    // ADC serve: a query AT the winner's exact vector codes like the
    // winner, so the winner's ADC distance is the global minimum —
    // but 8 one-dim subspaces × 3 codewords make ties COMMON (that is
    // ADC's granularity), so assert tie-at-minimum within a wide k,
    // not an exact rank
    val rows = IvfMaintenance.adcKnn(spark, ivfOut,
      Seq((99998L, vec(bWin.id)), (99999L, vec(wWinner.id)))
        .toDF("query_id", "embedding"),
      k = 100, nprobe = 10)
      .select("query_id", "neighbor_id", "adist2").collect()
      .groupBy(_.getLong(0))
    assert(!rows(99998L).exists(_.getLong(1) == bWin.id),
      "a removed doc's vector served through ADC")
    val winnerRow = rows(99999L).find(_.getLong(1) == wWinner.id)
    val minD = rows(99999L).map(_.getDouble(2)).min
    assert(winnerRow.exists(_.getDouble(2) <= minD + 1e-12),
      s"the synced winner must tie at the ADC minimum: $winnerRow vs $minD")
  }

  // a fresh curated run + IVF(+PQ) fixture for the maintenance-lockstep
  // tests — built per test (they mutate maintenance state)
  private def pqFixture(tag: String): (String, String, CuratedVectorSync.PqCfg) = {
    val in = tmp(s"${tag}_in"); val textOut = tmp(s"${tag}_text")
    val ivfOut = tmp(s"${tag}_ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val labeled = vecsOf(baseFinal).select(col("doc_id").as("vec_id"),
      (col("doc_id") % 3).as("label"), col("embedding"))
    IvfMaintenance.build(spark, labeled, ivfOut)
    IvfMaintenance.buildPq(spark, labeled.select("label", "embedding"),
      ivfOut, m = 4)
    val cfg = CuratedVectorSync.PqCfg(
      heldOut = vecsOf(baseFinal.take(5))
        .select(col("doc_id").as("query_id"), col("embedding")),
      sample = labeled.select("label", "embedding"),
      m = 4)
    (textOut, ivfOut, cfg)
  }

  test("the PQ maintenance lockstep: healthy check commits its skip; a triggered refresh replays as refreshed=true without retraining") {
    val (textOut, ivfOut, cfg) = pqFixture("pq")
    // batch 1, healthy regime (minRecall = 0 can never trigger): the
    // check runs, reports refreshed = false, and commits its skip
    val d1 = Seq(Doc(6001, words(9101)), Doc(6002, words(9102)))
    val r1 = CuratedVectorSync.ingest(spark, toDF(d1), vecsOf(d1.map(_.id)),
      textOut, ivfOut, "p1", pqOut = Some(cfg.copy(minRecall = 0.0)))
    assert(r1.pq.exists(h => !h.refreshed && h.recallAfter.isEmpty), s"${r1.pq}")
    assert(IvfMaintenance.committedKeys(spark, ivfOut).contains("p1-pq"),
      "a healthy check must commit its skip marker")
    // its redelivery is metadata-only: no re-measure, pq = None
    val r1b = CuratedVectorSync.ingest(spark, toDF(d1), vecsOf(d1.map(_.id)),
      textOut, ivfOut, "p1", pqOut = Some(cfg.copy(minRecall = 0.0)))
    assert(r1b.pq.isEmpty, s"a checked batch's replay must skip: ${r1b.pq}")
    // batch 2, forced-fire regime (minRecall > 1 always triggers —
    // PqRefreshSpec owns the genuine-drift decisioning; this pins the
    // TRIGGER PATH through the sync): the refresh commits under the
    // derived key and the report carries both readings
    val d2 = Seq(Doc(6003, words(9103)), Doc(6004, words(9104)))
    val r2 = CuratedVectorSync.ingest(spark, toDF(d2), vecsOf(d2.map(_.id)),
      textOut, ivfOut, "p2", pqOut = Some(cfg.copy(minRecall = 1.01)))
    assert(r2.pq.exists(h => h.refreshed && h.recallAfter.isDefined), s"${r2.pq}")
    assert(IvfMaintenance.committedKeys(spark, ivfOut).contains("p2-pq-refresh"))
    val segsAfterRefresh = IvfMaintenance.health(spark, ivfOut).nSegments
    // the replayed batch re-reads refreshed = true WITHOUT retraining:
    // same report shape, and no new segment landed (a retrain commits one)
    val r2b = CuratedVectorSync.ingest(spark, toDF(d2), vecsOf(d2.map(_.id)),
      textOut, ivfOut, "p2", pqOut = Some(cfg.copy(minRecall = 1.01)))
    assert(r2b.pq.exists(h => h.refreshed && h.recallAfter.isDefined),
      s"the replay must re-read the refresh decision: ${r2b.pq}")
    assert(IvfMaintenance.health(spark, ivfOut).nSegments == segsAfterRefresh,
      "a replayed refresh must not commit a new segment")
    // cadence: a batch whose key hashes off-cadence is not checked —
    // deterministic, so pick a modulus that excludes the key
    val d3 = Seq(Doc(6005, words(9105)))
    val n = (2 to 10).find(m => math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash("p3"), m) != 0).get
    val r3 = CuratedVectorSync.ingest(spark, toDF(d3), vecsOf(d3.map(_.id)),
      textOut, ivfOut, "p3",
      pqOut = Some(cfg.copy(minRecall = 1.01, cadenceBatches = n)))
    assert(r3.pq.isEmpty, s"an off-cadence batch must not measure: ${r3.pq}")
    assert(!IvfMaintenance.committedKeys(spark, ivfOut).contains("p3-pq-refresh"))
  }

  test("telemetry: every enabled surface emits one health snapshot per delivery") {
    val (textOut, ivfOut, cfg) = pqFixture("tel")
    val searchOut = tmp("tel_search"); val expCfg =
      CuratedVectorSync.ExportCfg(tmp("tel_exp"), nShards = 4)
    operators.TextSearchIndex.build(spark,
      DeltaIngest.readFinal(spark, textOut).select("doc_id", "text"), searchOut)
    val handler = new graft.metrics.InMemoryEventHandler()
    val d1 = Seq(Doc(6101, words(9111)), Doc(6102, words(9112)))
    CuratedVectorSync.ingest(spark, toDF(d1), vecsOf(d1.map(_.id)),
      textOut, ivfOut, "t1", searchOut = Some(searchOut),
      exportOut = Some(expCfg), pqOut = Some(cfg.copy(minRecall = 0.0)),
      telemetry = Some(handler))
    val ivfG = handler.gauges.get((ivfOut, "ivf_health"))
    assert(ivfG.isDefined, s"missing ivf_health: ${handler.gauges.keySet}")
    val ih = IvfMaintenance.health(spark, ivfOut)
    assert(ivfG.get("nVectors") == ih.nVectors.toDouble &&
      ivfG.get("nCells") == ih.nCells.toDouble && ivfG.get("pq") == 1.0,
      s"${ivfG.get} vs $ih")
    val sG = handler.gauges.get((searchOut, "search_health"))
    assert(sG.isDefined && sG.get("nDocs") ==
      operators.TextSearchIndex.health(spark, searchOut).nDocs.toDouble)
    val eG = handler.gauges.get((expCfg.dir, "export_health"))
    assert(eG.isDefined && eG.get("nGenerations") >= 1.0 &&
      eG.get("nDocs") == TrainingExport.health(spark, expCfg.dir).nDocs.toDouble)
    // the replay path emits too — the cadence is observable per
    // delivery, not per fresh batch
    handler.gauges.clear()
    CuratedVectorSync.ingest(spark, toDF(d1), vecsOf(d1.map(_.id)),
      textOut, ivfOut, "t1", searchOut = Some(searchOut),
      exportOut = Some(expCfg), pqOut = Some(cfg.copy(minRecall = 0.0)),
      telemetry = Some(handler))
    assert(handler.gauges.contains((ivfOut, "ivf_health")),
      "a fully-synced replay must still emit its snapshot")
  }
}
