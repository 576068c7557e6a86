package graft

import graft.operators.{CurationRun, DeltaIngest, TrainingExport}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The curate → train last mile: deterministic epoch shuffle + L-token
  * sequence packing over the curated layout's live train slice, sealed
  * by a manifest. The spec proves the packing against a from-scratch
  * reconstruction: per shard, the exported sequences concatenated in
  * seq_id order must equal the shard's docs' tokens concatenated in
  * (k, doc_id) write order — token-for-token. */
class TrainingExportSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"texp_$name")

  // globally-unique 5-char words per doc (gate-passing by construction:
  // sum(len) == 5n passes chars<=5n; unique vocab -> no dedup interference)
  private def words(key: Long, n: Int): Vector[String] =
    (0 until n).map { j =>
      val s = java.lang.Long.toString(key * 64 + j, 36)
      "0" * (5 - s.length) + s
    }.toVector

  private case class Doc(id: Long, ws: Vector[String]) {
    def text: String = ws.mkString(" ")
  }

  private def toDF(docs: Seq[Doc]): DataFrame =
    docs.map(d => (d.id, d.text, "en", "web", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // varied lengths so docs straddle sequence boundaries
  private val docs = (0 until 80).map(k => Doc(100 + k, words(100 + k, 20 + k % 23)))

  private lazy val layout = {
    val in = tmp("in"); val out = tmp("out")
    toDF(docs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    out
  }

  private def key(id: Long, seed: Long): Long =
    (id + seed) % 1000003L * 2654435761L % 1048573L

  private def liveTrainDocs(out: String): Seq[(Long, Vector[String])] =
    DeltaIngest.readFinal(spark, out).where(col("split") === "train")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toVector)).toSeq

  /** from-scratch expectation: per shard, docs in (k, doc_id) order,
    * tokens concatenated, cut into L chunks. */
  private def expectedShards(out: String, nShards: Int, l: Int,
      seed: Long): Map[Int, Vector[Vector[String]]] =
    liveTrainDocs(out)
      .map { case (id, ws) => (key(id, seed), id, ws) }
      .groupBy(t => (t._1 % nShards).toInt)
      .map { case (sh, ds) =>
        val stream = ds.sortBy(t => (t._1, t._2)).flatMap(_._3).toVector
        sh -> stream.grouped(l).map(_.toVector).toVector
      }

  private def exportedShards(dir: String): Map[Int, Vector[Vector[String]]] =
    spark.read.parquet(s"$dir/shards")
      .select("shard", "seq_id", "tokens").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[String](2).toVector))
      .groupBy(_._1)
      .map { case (sh, rows) =>
        sh -> rows.sortBy(_._2).map(_._3).toVector
      }

  test("packed shards reconstruct exactly: every token once, in write order") {
    val dir = tmp("exact")
    val rep = TrainingExport.export(spark, layout, dir, nShards = 4,
      seqLen = 64, seed = 0L)
    val exp = expectedShards(layout, 4, 64, 0L)
    val got = exportedShards(dir)
    assert(got.keySet == exp.keySet, s"shard sets: ${got.keySet} vs ${exp.keySet}")
    for (sh <- exp.keySet)
      assert(got(sh) == exp(sh), s"shard $sh token stream diverged")
    val nTok = liveTrainDocs(layout).map(_._2.size.toLong).sum
    assert(rep.nTokens == nTok && rep.nDocs == liveTrainDocs(layout).size,
      s"$rep vs $nTok tokens")
    assert(rep.nSeqs == exp.values.map(_.size).sum, s"$rep")
  }

  test("every sequence is full length except the last per shard") {
    val dir = tmp("full")
    TrainingExport.export(spark, layout, dir, nShards = 4, seqLen = 64)
    val rows = spark.read.parquet(s"$dir/shards")
      .select("shard", "seq_id", "n_tokens").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val lastSeq = rows.groupBy(_._1).map { case (sh, rs) => sh -> rs.map(_._2).max }
    for ((sh, seq, n) <- rows)
      if (seq != lastSeq(sh)) assert(n == 64, s"shard $sh seq $seq has $n tokens")
      else assert(n >= 1 && n <= 64, s"shard $sh tail seq has $n tokens")
  }

  test("same seed reproduces identical shards; a new seed permutes but conserves") {
    val d1 = tmp("seed_a"); val d2 = tmp("seed_b"); val d3 = tmp("seed_c")
    TrainingExport.export(spark, layout, d1, nShards = 4, seqLen = 64, seed = 7L)
    TrainingExport.export(spark, layout, d2, nShards = 4, seqLen = 64, seed = 7L)
    TrainingExport.export(spark, layout, d3, nShards = 4, seqLen = 64, seed = 8L)
    assert(exportedShards(d1) == exportedShards(d2), "same seed must be byte-stable")
    assert(exportedShards(d1) != exportedShards(d3), "a new seed must reshuffle")
    def multiset(m: Map[Int, Vector[Vector[String]]]): Map[String, Int] =
      m.values.flatten.flatten.groupBy(identity).map { case (w, g) => w -> g.size }
    assert(multiset(exportedShards(d1)) == multiset(exportedShards(d3)),
      "an epoch reshuffle conserves the token multiset")
  }

  test("a sealed export replays as a metadata-only no-op") {
    val dir = tmp("seal")
    val rep = TrainingExport.export(spark, layout, dir, nShards = 4, seqLen = 64)
    // canary: if the replay recomputed, the overwrite would remove it
    val canary = new java.io.File(s"$dir/shards/canary")
    assert(canary.createNewFile())
    val rep2 = TrainingExport.export(spark, layout, dir, nShards = 4, seqLen = 64)
    assert(rep2 == rep, s"$rep2 != $rep")
    assert(canary.exists(), "replay must not touch sealed data")
  }

  test("a crash before the manifest re-runs to identical bytes") {
    val dir = tmp("crash")
    TrainingExport.export(spark, layout, dir, nShards = 4, seqLen = 64)
    val want = exportedShards(dir)
    // simulate the crash window: shards landed, manifest never did
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(s"$dir/export_manifest.parquet"))
    val rep2 = TrainingExport.export(spark, layout, dir, nShards = 4, seqLen = 64)
    assert(exportedShards(dir) == want, "re-run must converge to the same bytes")
    assert(rep2.nSeqs == want.values.map(_.size).sum)
  }

  test("verify audits the sealed bytes: clean export passes, a lost shard fails its row") {
    val dir = tmp("verify")
    TrainingExport.export(spark, layout, dir, nShards = 4, seqLen = 64)
    val clean = TrainingExport.verify(spark, dir).collect()
    assert(clean.length == 4 && clean.forall(_.getBoolean(1)),
      s"a clean export must verify: ${clean.mkString(";")}")
    // lose one shard's files (the partial-loss failure mode verify
    // exists to catch)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    val victim = clean.head.getInt(0)
    rmrf(new java.io.File(s"$dir/shards/shard=$victim"))
    val after = TrainingExport.verify(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(!after(victim), "a lost shard must fail verification")
    assert(after.filter(_._1 != victim).values.forall(identity),
      s"other shards must still pass: $after")
    // the WHOLE shards directory lost: every non-empty manifest row
    // fails cleanly (ok=false) instead of the audit throwing
    rmrf(new java.io.File(s"$dir/shards"))
    val gone = TrainingExport.verify(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(gone.size == 4 && gone.values.forall(!_),
      s"a lost shards dir must fail every row: $gone")
  }

  test("composes with DeltaIngest: the export reads the FOLDED layout") {
    // fresh layout so the shared one stays pristine
    val in = tmp("d_in"); val out = tmp("d_out")
    toDF(docs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    // beat one live train doc with a longer twin; append one fresh doc
    val victim = liveTrainDocs(out).maxBy(_._1)
    val winner = Doc(9001, victim._2 ++ words(9001, 4))
    val fresh = Doc(9002, words(9002, 25))
    DeltaIngest.ingestDelta(spark, toDF(Seq(winner, fresh)), out)
    val dir = tmp("d_exp")
    TrainingExport.export(spark, out, dir, nShards = 4, seqLen = 64)
    val got = exportedShards(dir)
    val exp = expectedShards(out, 4, 64, 0L)
    assert(got == exp, "export after an ingest must match the edited layout")
    assert(!liveTrainDocs(out).exists(_._1 == victim._1),
      "the beaten doc must be out of the live train slice the export reads")
  }

  // from-scratch expectation over an EXPLICIT doc set (the incremental
  // generations pack subsets the layout helpers can't see)
  private def expectedShardsOf(ds: Seq[(Long, Vector[String])], nShards: Int,
      l: Int, seed: Long): Map[Int, Vector[Vector[String]]] =
    ds.map { case (id, ws) => (key(id, seed), id, ws) }
      .groupBy(t => (t._1 % nShards).toInt)
      .map { case (sh, g) =>
        val stream = g.sortBy(t => (t._1, t._2)).flatMap(_._3).toVector
        sh -> stream.grouped(l).map(_.toVector).toVector
      }

  private def genShards(dir: String, g: Long): Map[Int, Vector[Vector[String]]] =
    exportedShards(s"$dir/gen=$g")

  test("incremental export: gen 0 equals a full export; a delta appends exactly its docs as gen 1") {
    val in = tmp("i_in"); val out = tmp("i_out")
    toDF(docs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val dir = tmp("i_exp")
    val baseTrain = liveTrainDocs(out)
    val r0 = TrainingExport.exportIncremental(spark, out, dir, nShards = 4,
      seqLen = 64)
    assert(r0.exists(_._1 == 0L), s"first call must commit gen 0: $r0")
    // gen 0 == a full export of the base layout, byte for byte
    val full = tmp("i_full")
    TrainingExport.export(spark, out, full, nShards = 4, seqLen = 64)
    assert(genShards(dir, 0L) == exportedShards(full),
      "gen 0 must equal the full export of the base layout")
    // nothing new -> None
    assert(TrainingExport.exportIncremental(spark, out, dir, nShards = 4,
      seqLen = 64).isEmpty)
    // a delta: one winner replacing a base keeper + two fresh docs
    val victim = baseTrain.maxBy(_._1)
    val winner = Doc(9101, victim._2 ++ words(9101, 4))
    val fresh1 = Doc(9102, words(9102, 25)); val fresh2 = Doc(9103, words(9103, 70))
    DeltaIngest.ingestDelta(spark, toDF(Seq(winner, fresh1, fresh2)), out)
    val r1 = TrainingExport.exportIncremental(spark, out, dir, nShards = 4,
      seqLen = 64)
    assert(r1.exists(_._1 == 1L), s"the delta's segment must export as gen 1: $r1")
    // gen 1 holds exactly the delta's appended LIVE train docs, packed
    // by the same deterministic recipe
    val appendedLive = liveTrainDocs(out)
      .filterNot(d => baseTrain.exists(_._1 == d._1))
    assert(appendedLive.map(_._1).toSet.subsetOf(Set(9101L, 9102L, 9103L)))
    assert(genShards(dir, 1L) == expectedShardsOf(appendedLive, 4, 64, 0L),
      "gen 1 must pack exactly the appended live train docs")
    // shipped generations are immutable: the replaced keeper stays in
    // gen 0 (retraction is an epoch-level re-export, documented)
    val gen0Tokens = genShards(dir, 0L).values.flatten.flatten.toVector
    assert(victim._2.forall(gen0Tokens.contains),
      "gen 0 bytes must be untouched by the later removal")
    // the loader listing covers both generations
    val mans = TrainingExport.readManifests(spark, dir)
      .select("gen").distinct().collect().map(_.getLong(0)).toSet
    assert(mans == Set(0L, 1L))
    // and the per-generation bytes-vs-manifest audit is clean
    val audit = TrainingExport.verifyAll(spark, dir).collect()
    assert(audit.nonEmpty && audit.forall(_.getAs[Boolean]("ok")),
      s"verifyAll must pass a clean incremental export: ${audit.mkString(";")}")
    // token conservation across generations: every live train doc's
    // tokens appear exactly once in its own generation, no doc twice
    val allTokens = gen0Tokens ++ genShards(dir, 1L).values.flatten.flatten
    val want = (baseTrain ++ appendedLive).flatMap(_._2)
    assert(allTokens.groupBy(identity).view.mapValues(_.size).toMap ==
      want.groupBy(identity).view.mapValues(_.size).toMap,
      "generations must conserve the exported token multiset")
  }

  test("incremental export crash-converges: a sealed-but-unmarked generation re-commits its own coverage") {
    val in = tmp("c_in"); val out = tmp("c_out")
    toDF(docs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val dir = tmp("c_exp")
    TrainingExport.exportIncremental(spark, out, dir, nShards = 4, seqLen = 64)
    DeltaIngest.ingestDelta(spark, toDF(Seq(Doc(9201, words(9201, 30)))), out)
    val r1 = TrainingExport.exportIncremental(spark, out, dir, nShards = 4,
      seqLen = 64)
    assert(r1.exists(_._1 == 1L))
    val g1 = genShards(dir, 1L)
    // crash simulation: the marker vanishes after the seal — and a
    // FURTHER ingest lands before the replay
    assert(new java.io.File(s"$dir/export_markers/gen-1").delete())
    DeltaIngest.ingestDelta(spark, toDF(Seq(Doc(9202, words(9202, 40)))), out)
    val replay = TrainingExport.exportIncremental(spark, out, dir,
      nShards = 4, seqLen = 64)
    assert(replay.exists(_._1 == 1L),
      s"the replay must re-commit the sealed generation first: $replay")
    assert(genShards(dir, 1L) == g1, "replay must not repack gen 1")
    // the newer ingest's docs were NOT swallowed into gen 1's coverage
    val r2 = TrainingExport.exportIncremental(spark, out, dir, nShards = 4,
      seqLen = 64)
    assert(r2.exists(_._1 == 2L), s"the later segment must export as gen 2: $r2")
    val g2tokens = genShards(dir, 2L).values.flatten.flatten.toSet
    assert(words(9202, 40).forall(g2tokens.contains),
      "the post-crash ingest's doc must land in its own generation")
    assert(TrainingExport.exportIncremental(spark, out, dir, nShards = 4,
      seqLen = 64).isEmpty)
  }

  test("exportEpoch retracts: a doc removed after it shipped is in no post-epoch byte; the old dir is GC'd") {
    val in = tmp("ep_in"); val out = tmp("ep_out")
    toDF(docs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val dirA = tmp("ep_a")
    TrainingExport.exportIncremental(spark, out, dirA, nShards = 4, seqLen = 64)
    // a delta REPLACES a live train keeper: the victim leaves the
    // layout, but its tokens stay in dirA's immutable gen-0 shards —
    // exactly the retraction gap the epoch operation exists to close
    val victim = liveTrainDocs(out).maxBy(_._1)
    val winner = Doc(9301, victim._2 ++ words(9301, 4))
    DeltaIngest.ingestDelta(spark, toDF(Seq(winner)), out)
    TrainingExport.exportIncremental(spark, out, dirA, nShards = 4, seqLen = 64)
    // the winner CONTAINS the victim's tokens (that's how it won), so
    // the retraction signature is MULTIPLICITY: pre-epoch the victim's
    // first token exists twice in dirA's bytes (victim's gen-0 copy +
    // winner's gen-1 copy); post-epoch exactly once (winner only)
    val marker = victim._2.head // globally unique per doc by construction
    def countOf(dir: String): Int =
      TrainingExport.genMarkers(spark, dir).keys.toSeq
        .flatMap(g => genShards(dir, g).values.flatten.flatten)
        .count(_ == marker)
    assert(countOf(dirA) == 2,
      "fixture: the removed doc's bytes must still sit in the old epoch")
    val dirB = tmp("ep_b")
    val ep = TrainingExport.exportEpoch(spark, out, dirA, dirB, seed = 7L,
      nShards = 4, seqLen = 64)
    assert(ep.oldDirRemoved && !new java.io.File(dirA).exists(),
      s"the superseded epoch must be GC'd: $ep")
    // gen 0 of the new epoch == the CURRENT live slice under the new
    // seed's permutation, token-exact — the victim's own copy is gone
    assert(genShards(dirB, 0L) == expectedShards(out, 4, 64, 7L))
    assert(countOf(dirB) == 1,
      "retraction failed: the removed doc's own copy survived the epoch")
    // the standing lockstep continues in the new dir: the next ingest's
    // docs append as gen 1 (gen 0's coverage includes every pre-epoch seg)
    DeltaIngest.ingestDelta(spark, toDF(Seq(Doc(9302, words(9302, 25)))), out)
    val r1 = TrainingExport.exportIncremental(spark, out, dirB, nShards = 4,
      seqLen = 64, seed = 7L)
    assert(r1.exists(_._1 == 1L), s"post-epoch delta must append as gen 1: $r1")
    assert(TrainingExport.verifyAll(spark, dirB).collect()
      .forall(_.getAs[Boolean]("ok")))
  }

  test("exportEpoch crash windows: a lost gen-0 marker re-commits; a mid-pack crash converges; GC-crash re-runs clean") {
    val in = tmp("ec_in"); val out = tmp("ec_out")
    toDF(docs.take(40)).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val dirA = tmp("ec_a")
    TrainingExport.exportIncremental(spark, out, dirA, nShards = 4, seqLen = 64)
    val dirB = tmp("ec_b")
    val ep = TrainingExport.exportEpoch(spark, out, dirA, dirB, seed = 3L,
      nShards = 4, seqLen = 64)
    val want = genShards(dirB, 0L)
    // crash window 1: epoch completed but the old-dir GC already
    // happened — a re-run (same args) is metadata-only + no-op GC
    val ep2 = TrainingExport.exportEpoch(spark, out, dirA, dirB, seed = 3L,
      nShards = 4, seqLen = 64)
    assert(ep2.report == ep.report && !ep2.oldDirRemoved,
      s"re-run must re-read the sealed epoch: $ep2 vs $ep")
    assert(genShards(dirB, 0L) == want, "re-run must not repack")
    // crash window 2: the gen-0 marker vanishes after the seal (the
    // classic seal-to-marker window) — the re-run re-commits from the
    // sealed dir and converges to identical bytes
    assert(new java.io.File(s"$dirB/export_markers/gen-0").delete())
    val ep3 = TrainingExport.exportEpoch(spark, out, tmp("ec_gone"), dirB,
      seed = 3L, nShards = 4, seqLen = 64)
    assert(ep3.report == ep.report, s"$ep3 vs $ep")
    assert(genShards(dirB, 0L) == want,
      "marker-crash re-run must converge to the sealed bytes")
    assert(TrainingExport.verifyAll(spark, dirB).collect()
      .forall(_.getAs[Boolean]("ok")))
    // crash window 3: mid-pack (shards half-written, no manifest, no
    // marker) — the re-run overwrites from the same deterministic
    // inputs
    val dirC = tmp("ec_c")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    // simulate: run once, strip manifest + marker, damage a shard
    TrainingExport.exportEpoch(spark, out, tmp("ec_old2"), dirC, seed = 5L,
      nShards = 4, seqLen = 64)
    val wantC = genShards(dirC, 0L)
    rmrf(new java.io.File(s"$dirC/gen=0/export_manifest.parquet"))
    rmrf(new java.io.File(s"$dirC/export_markers"))
    rmrf(new java.io.File(s"$dirC/gen=0/shards/shard=0"))
    val epc = TrainingExport.exportEpoch(spark, out, tmp("ec_old3"), dirC,
      seed = 5L, nShards = 4, seqLen = 64)
    assert(genShards(dirC, 0L) == wantC,
      "mid-pack crash re-run must converge to identical bytes")
    assert(epc.report.nDocs == wantC.values.map(_.size).sum ||
      epc.report.nSeqs == wantC.values.map(_.size).sum)
  }

  test("exportEpoch GCs nothing when the new epoch's audit fails") {
    val in = tmp("eg_in"); val out = tmp("eg_out")
    toDF(docs.take(30)).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val dirA = tmp("eg_a")
    TrainingExport.exportIncremental(spark, out, dirA, nShards = 4, seqLen = 64)
    // a sealed-but-corrupted epoch target (the crash-resume entry
    // path): gen 0 sealed by a prior attempt, then a shard file lost
    val dirB = tmp("eg_b")
    TrainingExport.exportIncremental(spark, out, dirB, nShards = 4, seqLen = 64)
    val lost = new java.io.File(s"$dirB/gen=0/shards").listFiles()
      .filter(_.getName.startsWith("shard=")).maxBy(_.getName)
    assert(lost.listFiles().filter(_.getName.endsWith(".parquet"))
      .forall(_.delete()))
    val e = intercept[IllegalArgumentException] {
      TrainingExport.exportEpoch(spark, out, dirA, dirB, seed = 0L,
        nShards = 4, seqLen = 64)
    }
    assert(e.getMessage.contains("failed its audit"), e.getMessage)
    assert(new java.io.File(dirA).exists(),
      "a failed audit must leave the superseded epoch serving")
  }

  test("exportEpoch path guard: aliased spellings and nested dirs refuse before any GC") {
    // raw string inequality let two spellings of ONE dir through: the
    // audit then passed on the new epoch and the GC deleted it — the
    // zero-intact-epochs outcome. The guard compares fs-qualified
    // normalized paths and refuses parent/child nesting both ways.
    val base = tmp("alias")
    val d = s"$base/epoch"
    new java.io.File(d).mkdirs()
    for (alias <- Seq(d, d + "/", s"$base/./epoch", s"$base/epoch/../epoch")) {
      val e = intercept[IllegalArgumentException] {
        TrainingExport.exportEpoch(spark, tmp("alias_out"), alias, d, seed = 0L)
      }
      assert(e.getMessage.contains("its own dir"), s"$alias: ${e.getMessage}")
      assert(new java.io.File(d).exists(), s"$alias: target must survive the refusal")
    }
    for ((o, n) <- Seq((base, d), (d, base))) {
      val e = intercept[IllegalArgumentException] {
        TrainingExport.exportEpoch(spark, tmp("alias_out"), o, n, seed = 0L)
      }
      assert(e.getMessage.contains("its own dir"), e.getMessage)
    }
  }
}
