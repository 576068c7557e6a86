package graft

import graft.operators.{CurationRun, DeltaIngest, SegmentLog}
import graft.queries.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Incremental curation must reproduce the from-scratch run on the
  * union — path by path: delta-loses, delta-WINS (base keeper
  * replaced), within-delta clusters, exact duplicates, and BOTH
  * decontamination directions (delta train vs existing holdout, base
  * train vs new holdout grams). The corpus is synthetic so every path
  * is present by construction and the documented divergences (cluster
  * bridging, hot-cap shifts, holdout retraction) are absent. */
class DeltaIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"delta_$name")

  // the split-bucket hash (t_split_assign convention)
  private def bucket(id: Long): Int = (id % 1000003L * 2654435761L % 100).toInt
  // smallest id >= from with the wanted bucket band
  private def pickId(from: Long, p: Int => Boolean): Long =
    Iterator.iterate(from)(_ + 1).find(i => p(bucket(i))).get

  // 30 distinct short words unique to doc id (gate-passing: n>=20,
  // TTR=1, top=1, avg word length <= 5)
  private def words(id: Long, n: Int = 30): Vector[String] =
    (0 until n).map(j =>
      java.lang.Long.toString(id, 36) + "." + Integer.toString(j, 36)).toVector

  private case class Doc(id: Long, ws: Vector[String], source: String) {
    def text: String = ws.mkString(" ")
  }

  // ---- the corpus ----
  // base
  private val a1 = Doc(pickId(1000, _ < 80), words(1), "web")
  private val b1 = Doc(pickId(a1.id + 1, _ < 80), words(2), "books")
  private val e1 = Doc(pickId(b1.id + 1, _ < 80), words(3), "web")
  private val gHold = Doc(pickId(e1.id + 1, _ >= 80), words(4), "web") // base holdout
  private val tTrain = Doc(pickId(gHold.id + 1, _ < 80), words(5), "web") // base train
  private val filler = (0 until 150).map { k =>
    Doc(1500 + k, words(100 + k), if (k % 3 == 0) "books" else "web")
  }
  // two 2-member base clusters, keepers p1 and q1 (train: a replaced
  // holdout keeper's grams would stay indexed, divergence (c))
  private val p1 = Doc(pickId(1700, _ < 80), words(94), "web")
  private val p2 = Doc(pickId(p1.id + 1, _ < 80), words(94).dropRight(1), "web")
  private val q1 = Doc(pickId(p2.id + 1, _ < 80), words(95), "books")
  private val q2 = Doc(pickId(q1.id + 1, _ < 80), words(95).dropRight(1), "books")
  private val baseDocs = Seq(a1, b1, e1, gHold, tTrain, p1, p2, q1, q2) ++ filler

  // delta
  private val a2 = Doc(pickId(3000, _ => true), a1.ws.dropRight(1), "web") // loses to a1
  private val b2 = Doc(pickId(a2.id + 1, _ => true), b1.ws ++ words(6, 5), "books") // BEATS b1
  private val c1 = Doc(pickId(b2.id + 1, _ => true), words(7), "web")
  private val c2 = Doc(pickId(c1.id + 1, _ => true), c1.ws ++ words(8, 3), "web") // beats c1
  private val dNew = Doc(pickId(c2.id + 1, _ => true), words(9), "web")
  private val e2 = Doc(pickId(dNew.id + 1, _ => true), e1.ws, "web") // exact dup, larger id
  // delta HOLDOUT doc carrying a verbatim 12-word run of base train
  // doc T -> T becomes newly contaminated (5 shared 8-grams, 5*5 >= 23)
  private val hHold = Doc(pickId(3100, _ >= 80),
    words(10, 9) ++ tTrain.ws.slice(5, 17) ++ words(11, 9), "web")
  // delta TRAIN doc carrying a 12-word run of base HOLDOUT doc G ->
  // contaminated against the existing holdout, dropped
  private val fTrain = Doc(pickId(3200, _ < 80),
    words(12, 9) ++ gHold.ws.slice(5, 17) ++ words(13, 9), "web")
  private val deltaDocs = Seq(a2, b2, c1, c2, dNew, e2, hHold, fTrain)

  // a second delta (ingested after the first, on the shared run): a
  // within-delta chain A~B, B~C with A≁C (3-shingle Jaccard 0.56, 0.56,
  // 0.27); a doc id twice in one delta, both rows losing to a longer
  // delta twin; a base SINGLETON keeper beaten by a delta doc; one delta
  // doc bridging base clusters P and Q and beating both keepers
  private val chainWs = words(90, 46)
  private val cA = Doc(pickId(3400, _ < 80), chainWs.slice(0, 30), "web")
  private val cB = Doc(pickId(cA.id + 1, _ < 80), chainWs.slice(8, 38), "web")
  private val cC = Doc(pickId(cB.id + 1, _ < 80), chainWs.slice(16, 46), "web")
  private val xDup = Doc(pickId(cC.id + 1, _ < 80), words(91), "web")
  private val xTwin = Doc(pickId(xDup.id + 1, _ < 80), words(91) ++ words(92, 3), "web")
  private val fS = filler.drop(10).find(d => bucket(d.id) < 80).get
  private val fS2 = Doc(pickId(xTwin.id + 1, _ < 80), fS.ws ++ words(93, 4), fS.source)
  private val bridge = Doc(pickId(fS2.id + 1, _ < 80), words(94) ++ words(95), "web")
  private val delta2Docs = Seq(cA, cB, cC, xDup, xDup, xTwin, fS2, bridge)

  private def toDF(docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, "en", d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def writeInput(docs: Seq[Doc], dir: String): Unit =
    toDF(docs).coalesce(2).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  private def finalRows(dir: String): Set[(Long, String, String)] =
    DeltaIngest.readFinal(spark, dir)
      .select("doc_id", "split", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  // readManifest folds the incremental manifest log; on a plain
  // from-scratch dir it degrades to the base manifest — one reader
  private def manifestRows(dir: String): Set[(Long, String, String, Long, Int)] =
    DeltaIngest.readManifest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSet

  // shared across tests: base run + index + one delta ingest
  private lazy val run = {
    val in = tmp("base_in"); val out = tmp("base_out")
    writeInput(baseDocs, in)
    val baseReport = CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val report = DeltaIngest.ingestDelta(spark, toDF(deltaDocs), out)
    (out, baseReport, report)
  }

  test("every dedup path lands as designed: loses, wins+replaces, cluster, exact") {
    val (out, _, report) = run
    val fin = finalRows(out)
    val ids = fin.map(_._1)
    assert(!ids.contains(a2.id), "shorter delta near-dup must lose to the incumbent")
    assert(ids.contains(a1.id), "the incumbent it lost to stays")
    assert(ids.contains(b2.id), "longer delta near-dup must WIN")
    assert(!ids.contains(b1.id), "the beaten base keeper must be removed")
    assert(ids.contains(c2.id) && !ids.contains(c1.id),
      "within-delta cluster elects the longer member")
    assert(ids.contains(dNew.id), "a novel doc is appended")
    assert(!ids.contains(e2.id) && ids.contains(e1.id),
      "an exact duplicate re-ingested must lose on the id tie-break")
    assert(report.nReplacedBase == 1 && report.nDupDropped == 3, s"$report")
  }

  test("two-sided decontamination: new holdout retro-drops base train; old holdout drops delta train") {
    val (out, _, report) = run
    val ids = finalRows(out).map(_._1)
    assert(!ids.contains(tTrain.id),
      "base train doc sharing a 12-word run with the NEW holdout doc must be removed")
    assert(ids.contains(hHold.id), "the new holdout doc itself is appended")
    assert(!ids.contains(fTrain.id),
      "delta train doc sharing a 12-word run with the EXISTING holdout must be dropped")
    assert(report.nContaminatedBase == 1 && report.nContaminatedDelta == 1, s"$report")
    assert(report.consistent, s"$report")
  }

  test("merged layout equals a from-scratch CurationRun on the union") {
    val (out, _, _) = run
    val in2 = tmp("union_in"); val out2 = tmp("union_out")
    writeInput(baseDocs ++ deltaDocs, in2)
    CurationRun.run(spark, in2, out2)
    assert(finalRows(out) == finalRows(out2),
      "incremental final layout diverged from the from-scratch union run")
    assert(manifestRows(out) == manifestRows(out2), "manifest diverged")
  }

  test("a second delta — chain, duplicate ids, replaced singleton, bridged clusters — equals from-scratch, in <= 30 Spark jobs") {
    val (out, _, _) = run
    def shingles(d: Doc) = d.ws.sliding(3).map(_.mkString(" ")).toSet
    def jac(a: Doc, b: Doc) =
      (shingles(a) & shingles(b)).size.toDouble / (shingles(a) | shingles(b)).size
    assert(jac(cA, cB) >= 0.3 && jac(cB, cC) >= 0.3 && jac(cA, cC) < 0.3,
      "the chain's ends must not be near-duplicates of each other")
    val (report, jobs) = TestSpark.jobsOf(
      DeltaIngest.ingestDelta(spark, toDF(delta2Docs), out))
    assert(jobs <= 30, s"one ingestDelta ran $jobs Spark jobs")
    // kept: the chain's best, xTwin, fS2, bridge; replaced: fS, p1, q1
    assert(report.nDupDropped == 4 && report.nReplacedBase == 3 &&
      report.nAppended == 4 && report.consistent, s"$report")
    val in2 = tmp("union2_in"); val out2 = tmp("union2_out")
    writeInput(baseDocs ++ deltaDocs ++ delta2Docs, in2)
    CurationRun.run(spark, in2, out2)
    assert(finalRows(out) == finalRows(out2),
      "incremental final layout diverged from the from-scratch union run")
    assert(manifestRows(out) == manifestRows(out2), "manifest diverged")
    // the chain is ONE cluster labelled by its smallest id
    val chain = Seq(cA, cB, cC).map(_.id)
    val members = SegmentLog.foldLatest(DeltaIngest.readLog(spark, out, "members",
        StructType.fromDDL("doc_id long, cluster_id long")), Seq("doc_id"), Seq("cluster_id"))
      .where(col("doc_id").isin(chain: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(members == chain.map(_ -> chain.min).toMap, s"chain labels: $members")
    // the replaced singleton joins its winner's cluster (a members row);
    // both bridged clusters re-point their keeper at the bridge
    import spark.implicits._
    val keeperOf = DeltaIngest.explainDocs(spark,
        Seq(fS.id, p1.id, p2.id, q1.id, q2.id).toDF("doc_id"), out)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(3))).toMap
    assert(keeperOf == Map(fS.id -> ("dup_dropped", fS2.id)) ++
      Seq(p1, p2, q1, q2).map(_.id -> ("dup_dropped", bridge.id)), s"$keeperOf")
  }

  test("base TEXT is read candidate-bounded: non-candidate texts are never consulted") {
    // Clone the base run (including its index), then corrupt every
    // NON-candidate base doc's stage-1 text into an exact copy of a
    // delta doc's text. If the ingest consulted any of that text (a
    // corpus re-scan, a re-signing pass), the planted exact-dups would
    // flip the outcome (the delta doc would lose its election to a
    // smaller-id "duplicate"); an outcome identical to the clean run
    // proves base text outside the banded candidate set is dead weight.
    // (This is the testable form of the O(delta) claim — file-record
    // counts can't distinguish skinny index scans from text scans.)
    val (_, _, cleanReport) = run
    // rebuild a pristine base run + index (cleanOut was already mutated
    // by the shared delta ingest)
    val in = tmp("corrupt_in"); writeInput(baseDocs, in)
    val out = tmp("corrupt_base")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    // candidate base ids = docs sharing any LSH band with the delta
    val dBandKeys = graft.queries.DedupQueries
      .minhashSigOf(spark, toDF(deltaDocs))
      .select(posexplode(array(
        graft.queries.DedupQueries.MinhashBands.map(b => col(b._1)): _*))
        .as(Seq("band", "bkey")))
      .distinct()
    val candidates = spark.read.parquet(s"$out/index/bands")
      .join(dBandKeys, Seq("band", "bkey"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(candidates.nonEmpty && candidates.size < baseDocs.size,
      "fixture must have a proper candidate subset")
    // corrupt: non-candidates become byte-identical to delta doc dNew
    val planted = dNew.text
    val clean = spark.read.parquet(s"$out/stage1_clean/documents.parquet")
      .collect()
    val corrupted = clean.map { r =>
      val id = r.getAs[Long]("doc_id")
      if (candidates(id)) r
      else org.apache.spark.sql.Row(id, planted, r.getAs[String]("lang"),
        r.getAs[String]("source"), planted.length.toLong)
    }
    val enc = org.apache.spark.sql.Encoders.row(
      spark.read.parquet(s"$out/stage1_clean/documents.parquet").schema)
    spark.createDataFrame(
      spark.sparkContext.parallelize(corrupted.toSeq, 2),
      enc.schema)
      .write.mode("overwrite").parquet(s"$out/stage1_clean/documents.parquet_new")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(); ()
    }
    rmTree(new java.io.File(s"$out/stage1_clean/documents.parquet"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$out/stage1_clean/documents.parquet_new"),
      java.nio.file.Paths.get(s"$out/stage1_clean/documents.parquet"))
    val report = DeltaIngest.ingestDelta(spark, toDF(deltaDocs), out)
    assert(report == cleanReport,
      s"corrupting non-candidate base text changed the ingest — base text is being scanned\n$report\nvs\n$cleanReport")
    assert(finalRows(out).map(_._1).contains(dNew.id),
      "the planted exact-dups must be invisible to a candidate-bounded ingest")
  }

  test("a second delta composes on the updated index") {
    val (out, _, _) = run
    // near-dup (shorter) of the doc delta 1 appended -> must lose to it
    val z1 = Doc(pickId(4000, _ => true), dNew.ws.dropRight(1), "web")
    val z2 = Doc(pickId(z1.id + 1, _ => true), words(20), "web") // novel
    val r2 = DeltaIngest.ingestDelta(spark, toDF(Seq(z1, z2)), out)
    val ids = finalRows(out).map(_._1)
    assert(!ids.contains(z1.id), "delta-2 near-dup of a delta-1 doc must be caught by the updated index")
    assert(ids.contains(z2.id) && ids.contains(dNew.id))
    assert(r2.consistent, s"$r2")
  }

  test("streaming drops: per-batch ingest, cross-drop dedup, replayed batch is a no-op") {
    val (out, _, _) = run
    val in = tmp("stream_in"); val ck = tmp("stream_ck")
    def drop(name: String, docs: Seq[Doc]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        docs.map(d =>
          s"""{"doc_id": ${d.id}, "text": "${d.text}", "lang": "en", "source": "${d.source}"}""")
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val s1 = Doc(pickId(6000, _ => true), words(30), "web")
    drop("d1.jsonl", Seq(s1))
    // second drop: a novel doc + a SHORTER near-dup of the first drop's
    // doc — the cross-drop catch the index updates exist for
    val s2 = Doc(pickId(s1.id + 1, _ => true), words(31), "web")
    val s1dup = Doc(pickId(s2.id + 1, _ => true), s1.ws.dropRight(1), "web")
    val q = DeltaIngest.streamInto(spark, in, out, ck, maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      drop("d2.jsonl", Seq(s2, s1dup))
      q.processAllAvailable()
    } finally q.stop()
    val ids = finalRows(out).map(_._1)
    assert(ids.contains(s1.id) && ids.contains(s2.id),
      "both drops' novel docs must land")
    assert(!ids.contains(s1dup.id),
      "a near-dup arriving in a LATER drop must be caught by the updated index")
    // replay of a committed batch: the marker makes it a no-op
    val before = finalRows(out)
    val replay = DeltaIngest.ingestBatch(spark,
      sources.TextIngest.readJsonLines(spark, s"$in/d1.jsonl"), 0L, out)
    assert(replay.isEmpty, "a marked batchId must be skipped")
    assert(finalRows(out) == before, "the replay must not touch the layout")
    // an empty/garbage-only batch is a clean no-op too
    drop("d3.jsonl", Seq())
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "d3.jsonl"),
      "not json".getBytes)
    val r3 = DeltaIngest.ingestBatch(spark,
      sources.TextIngest.readJsonLines(spark, s"$in/d3.jsonl"), 99L, out)
    assert(r3.isEmpty && finalRows(out) == before)
  }

  test("crash after the final append but before the commit marker: replay converges") {
    // fresh base + index; batch 1 ingests the full delta but "crashes"
    // between its last layout edit and the commit marker (applyEdits
    // without applyStaged's marker step) — the exact window the r12
    // scaladoc documented as non-transactional
    val in = tmp("crash_in"); writeInput(baseDocs, in)
    val out = tmp("crash_out")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    // clone the indexed base: the reference dir gets a CLEAN ingest of
    // the same delta, and the crashed+replayed dir must equal it
    val ref = tmp("crash_ref")
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) { dst.mkdirs(); src.listFiles().foreach(c => cp(c, new java.io.File(dst, c.getName))) }
      else java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    cp(new java.io.File(out), new java.io.File(ref))
    val cleanReport = DeltaIngest.ingestDelta(spark, toDF(deltaDocs), ref)
    val key = "batch-7"
    DeltaIngest.computeAndStage(spark, toDF(deltaDocs), out, key, seg = 1L)
    DeltaIngest.applyEdits(spark, out, key, seg = 1L) // ...crash here, marker never lands
    // the appended rows are on disk but UNCOMMITTED: readers must not
    // see them (snapshot isolation via the marker set)
    assert(DeltaIngest.readManifest(spark, out)
      .where(col("doc_id") === b2.id).isEmpty,
      "an uncommitted batch's manifest rows must be invisible")
    // replay the same batchId through the streaming entry point: the
    // sealed staging is re-applied (same decisions), the marker lands,
    // and the layout equals a clean single ingest — no duplicate window
    val replay = DeltaIngest.ingestBatch(spark,
      toDF(deltaDocs).withColumn("_corrupt_record", lit(null).cast("string")),
      7L, out)
    assert(replay.isDefined && replay.get.consistent, s"$replay")
    assert(replay.get == cleanReport, s"${replay.get}\nvs\n$cleanReport")
    assert(finalRows(out) == finalRows(ref),
      "replayed crash must converge to the clean ingest's layout")
    val dup = DeltaIngest.readFinal(spark, out).groupBy("doc_id")
      .count().where(col("count") > 1).count()
    assert(dup == 0, "replay must not duplicate appended docs")
  }

  test("a crashed batch is finished by the NEXT ingest (resume, not wipe)") {
    val in = tmp("resume_in"); writeInput(baseDocs, in)
    val out = tmp("resume_out")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val key = "batch-3"
    DeltaIngest.computeAndStage(spark, toDF(deltaDocs), out, key, seg = 1L)
    DeltaIngest.applyEdits(spark, out, key, seg = 1L) // crash before commit
    // a later DIRECT ingest must first converge the crashed batch, then
    // compose on top of it
    val z = Doc(pickId(4500, _ => true), dNew.ws.dropRight(2), "web") // loses to dNew
    val r2 = DeltaIngest.ingestDelta(spark, toDF(Seq(z)), out)
    assert(r2.nDupDropped == 1 && r2.nAppended == 0, s"$r2")
    val ids = finalRows(out).map(_._1)
    assert(ids.contains(dNew.id) && ids.contains(b2.id) && !ids.contains(z.id),
      "resumed batch's docs must be live and index the next delta's election")
  }

  test("probeNearDups screens without writing: twins found, fresh docs clean, index untouched") {
    val (out, _, _) = run
    // a near-dup of committed delta-winner b2 (one word short), a
    // near-dup of base doc e1 (exact text, new id), and a fresh doc
    val pb = Doc(8001, b2.ws.dropRight(1), "web")
    val pe = Doc(8002, e1.ws, "web")
    val pf = Doc(8003, words(60), "web")
    val segsBefore = DeltaIngest.committedSegs(spark, out)
    val finalBefore = finalRows(out)
    val hits = DeltaIngest.probeNearDups(spark, toDF(Seq(pb, pe, pf)), out)
      .select("doc_id", "base_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byProbe = hits.groupBy(_._1)
    assert(byProbe(pb.id).exists(_._2 == b2.id),
      s"probe must find its committed twin b2: ${byProbe.get(pb.id)}")
    assert(byProbe(pe.id).exists(t => t._2 == e1.id && t._3 == 1.0),
      s"an exact-text probe must match at jaccard 1: ${byProbe.get(pe.id)}")
    assert(!byProbe.contains(pf.id), "a fresh doc must screen clean")
    // read-only: no segment, no marker, no layout change
    assert(DeltaIngest.committedSegs(spark, out) == segsBefore)
    assert(finalRows(out) == finalBefore)
  }

  test("probeNearDups equals the ingest path's band probe + verification, in <= 3 Spark jobs") {
    val (out, _, _) = run
    type Hit = (Long, Long, Double)
    def hits(df: DataFrame): Seq[Hit] =
      df.select("doc_id", "base_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    // the reference: the ingest's former stage 2a/2b plans over the same docs
    def reference(docs: DataFrame): (Seq[Hit], Long) = {
      val bp = DeltaIngestSpec.baseProbe(spark, docs, out)
      (hits(DeltaIngestSpec.verifiedJaccard(
        bp.xCand.select(col("delta_id").as("doc_a"), col("base_id").as("doc_b")),
        bp.dShingles, bp.bShingles, bp.dCnt, bp.bCnt)
        .select(col("doc_a").as("doc_id"), col("doc_b").as("base_id"), col("jaccard"))),
        bp.xCand.count())
    }
    val f0 = filler.head
    val cases: Seq[(String, Seq[Doc], (Seq[Hit], Long) => Boolean)] = Seq(
      ("hot bucket: 101 copies of one text", (0 until 101).map(k => Doc(9000L + k, e1.ws, "web")),
        (h, _) => h.isEmpty),
      ("a committed id matches itself", Seq(Doc(a1.id, a1.ws, "web")),
        (h, _) => h.contains((a1.id, a1.id, 1.0))),
      ("near-dup of a dropped member", Seq(Doc(9201, b1.ws.drop(1), "web")),
        (h, _) => h.exists(_._2 == b1.id)),
      ("near-dup of a clean_delta doc", Seq(Doc(9202, dNew.ws.dropRight(1), "web")),
        (h, _) => h.exists(_._2 == dNew.id)),
      ("fewer than 3 words", Seq(Doc(9301, Vector("x.1", "x.2"), "web")),
        (h, c) => h.isEmpty && c == 0),
      ("duplicate probe ids", Seq(Doc(9401, e1.ws, "web"), Doc(9401, e1.ws.drop(2), "web")),
        (h, _) => h.exists(_._2 == e1.id)),
      ("empty probe set", Seq.empty, (h, c) => h.isEmpty && c == 0),
      ("no candidates", Seq(Doc(9501, words(61), "web")), (h, c) => h.isEmpty && c == 0),
      // 9-word windows of one doc: 7 of its 28 shingles (Jaccard 0.25),
      // so a window sharing its band minimum is a candidate that fails
      ("band candidates below the threshold",
        Seq(0, 10, 20).map(o => Doc(9600L + o, f0.ws.slice(o, o + 9), "web")),
        (h, c) => h.isEmpty && c > 0))
    cases.foreach { case (name, docs, expected) =>
      val df = toDF(docs).localCheckpoint(true)
      val (ref, nCand) = reference(df)
      assert(expected(ref, nCand), s"$name: the case is not live: $ref ($nCand candidates)")
      val (got, jobs) = TestSpark.jobsOf(hits(DeltaIngest.probeNearDups(spark, df, out)))
      assert(got == ref, s"$name: probe $got, reference $ref")
      assert(jobs <= 3, s"$name: $jobs Spark jobs")
    }
  }

  test("explainDocs audits every disposition off the persisted index, read-only") {
    val (out, _, _) = run
    import spark.implicits._
    val asked = Seq(
      a1.id, b2.id, gHold.id, // kept (train / train / holdout)
      a2.id, e2.id, // delta losers -> dup_dropped with their keepers
      b1.id, c1.id, // beaten base singleton / within-delta loser
      tTrain.id, fTrain.id, // retro- and ingest-decontaminated
      999999L) // never ingested
    val segsBefore = DeltaIngest.committedSegs(spark, out)
    val got = DeltaIngest.explainDocs(spark, asked.toDF("doc_id"), out)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.toString),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got.size == asked.size, s"one row per asked id: $got")
    assert(got(a1.id) == (("kept", Some("train"), None)), s"${got(a1.id)}")
    assert(got(b2.id)._1 == "kept" && got(b2.id)._3.isEmpty, s"${got(b2.id)}")
    assert(got(gHold.id)._1 == "kept" &&
      Set("val", "test").contains(got(gHold.id)._2.get), s"${got(gHold.id)}")
    assert(got(a2.id) == (("dup_dropped", None, Some(a1.id))), s"${got(a2.id)}")
    assert(got(e2.id) == (("dup_dropped", None, Some(e1.id))), s"${got(e2.id)}")
    assert(got(b1.id) == (("dup_dropped", None, Some(b2.id))),
      s"a replaced base keeper must point at the delta doc that beat it: ${got(b1.id)}")
    assert(got(c1.id) == (("dup_dropped", None, Some(c2.id))), s"${got(c1.id)}")
    assert(got(tTrain.id) == (("decontaminated", None, None)), s"${got(tTrain.id)}")
    assert(got(fTrain.id) == (("decontaminated", None, None)), s"${got(fTrain.id)}")
    assert(got(999999L) == (("not_indexed", None, None)), s"${got(999999L)}")
    assert(DeltaIngest.committedSegs(spark, out) == segsBefore, "read-only")
  }

  test("per-ingest write volume is O(delta): independent of the base corpus size") {
    // same NOVEL-doc delta (no removals -> no partition rewrites)
    // against a 1x and a 6x base; the bytes a batch persists must not
    // scale with the base. This is the log-structured-index claim:
    // every per-batch write is a delta-sized segment or a b<n>- append.
    def persistedBytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else f.length()
      walk(new java.io.File(dir))
    }
    def ingestBytes(base: Seq[Doc]): Long = {
      val in = tmp("wv_in"); writeInput(base, in)
      val out = tmp("wv_out")
      CurationRun.run(spark, in, out)
      DeltaIngest.buildIndex(spark, out)
      val delta = (0 until 10).map(k => Doc(9000 + k, words(500 + k), "web"))
      val before = persistedBytes(out)
      val r = DeltaIngest.ingestDelta(spark, toDF(delta), out)
      assert(r.nAppended == 10 && r.nRemoved == 0, s"$r")
      persistedBytes(out) - before
    }
    val small = ingestBytes(baseDocs)
    val big = ingestBytes(baseDocs ++ (0 until 750).map(k =>
      Doc(20000 + k, words(2000 + k), if (k % 3 == 0) "books" else "web")))
    assert(big < small * 2,
      s"per-ingest write volume grew with the base: $small bytes at 1x vs $big at 6x")
  }

  test("compaction folds the log without changing any answer") {
    val (out, _, _) = run
    val manifestBefore = DeltaIngest.readManifest(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val finalBefore = finalRows(out)
    DeltaIngest.compact(spark, out)
    assert(DeltaIngest.readManifest(spark, out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      == manifestBefore, "compaction changed the manifest")
    assert(finalRows(out) == finalBefore, "compaction touched the final layout")
    // the compacted index still answers: a near-dup of a delta-1 doc
    // must elect against it through the folded segments
    val w1 = Doc(pickId(7000, _ => true), b2.ws.dropRight(1), "web")
    val w2 = Doc(pickId(w1.id + 1, _ => true), words(40), "web")
    val r = DeltaIngest.ingestDelta(spark, toDF(Seq(w1, w2)), out)
    assert(r.nDupDropped == 1 && r.nAppended == 1, s"$r")
    val ids = finalRows(out).map(_._1)
    assert(!ids.contains(w1.id) && ids.contains(w2.id))
  }

  test("composes with TextIngest: a jsonl drop flows end to end") {
    val (out, _, _) = run
    val in = tmp("jsonl")
    val y = Doc(pickId(5000, _ => true), words(21), "web")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "drop.jsonl"),
      s"""{"doc_id": ${y.id}, "text": "${y.text}", "lang": "en", "source": "web"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val delta = sources.TextIngest.normalize(
      sources.TextIngest.readJsonLines(spark, in))
    val r = DeltaIngest.ingestDelta(spark, delta, out)
    assert(r.nAppended == 1 && finalRows(out).map(_._1).contains(y.id))
  }

  test("compaction consolidates markers: replay identity survives in the _keys map, singles are gone") {
    val in = tmp("mk_in"); writeInput(baseDocs, in)
    val out = tmp("mk_out")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val d1 = Doc(pickId(9501, _ => true), words(30), "web")
    val d2 = Doc(pickId(9502, _ => true), words(31), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d1)), out, "mk-a")
    DeltaIngest.ingestBatch(spark,
      toDF(Seq(d2)).withColumn("_corrupt_record", lit(null).cast("string")),
      42L, out)
    val segOfA = DeltaIngest.committedSegOf(spark, out, "mk-a")
    val before = finalRows(out)
    DeltaIngest.compact(spark, out)
    // singles folded into ONE (versioned) map file (dotfiles aside)
    val names = new java.io.File(s"$out/delta_markers").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(names == Set("_keys-1"), s"markers not consolidated: $names")
    // replay identity survives the fold: per-key lookups unchanged,
    // a replayed direct key refuses, a replayed streaming batch no-ops
    assert(DeltaIngest.committedSegOf(spark, out, "mk-a") == segOfA)
    val e = intercept[IllegalArgumentException] {
      DeltaIngest.ingestKeyed(spark, toDF(Seq(d1)), out, "mk-a")
    }
    assert(e.getMessage.contains("already committed"), e.getMessage)
    assert(DeltaIngest.ingestBatch(spark,
      toDF(Seq(d2)).withColumn("_corrupt_record", lit(null).cast("string")),
      42L, out).isEmpty, "a consolidated batch id must replay as a no-op")
    assert(finalRows(out) == before)
    // the layout still ingests and a SECOND compaction re-folds the
    // new single into the map (the union crash window converges the
    // same way: map-first write, then single deletes)
    val d3 = Doc(pickId(9503, _ => true), words(32), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d3)), out, "mk-c")
    DeltaIngest.compact(spark, out)
    // the next version PUBLISHES first, then the old one is dropped —
    // an in-place overwrite of one file would have a delete-then-rename
    // hole that loses the whole replay map on a crash
    val names2 = new java.io.File(s"$out/delta_markers").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(names2 == Set("_keys-2"), s"$names2")
    assert(DeltaIngest.committedSegOf(spark, out, "mk-c").isDefined)
    assert(finalRows(out).map(_._1).contains(d3.id))
    // marker-unsafe keys refuse at batch entry, before any compute
    val bad = intercept[IllegalArgumentException] {
      DeltaIngest.ingestKeyed(spark, toDF(Seq(d3)), out, "_sneaky")
    }
    assert(bad.getMessage.contains("marker-safe"), bad.getMessage)
  }

  test("compact crash window: a resurrected final_log never double-counts appended docs") {
    // the hazard: compact swaps in a base that already CONTAINS the
    // log's live rows, then crashes BEFORE deleting final_log. The
    // stale segments are still committed (the replay map keeps them
    // forever), so without the fold epoch readFinal would return every
    // appended doc twice — and a compact re-run would bake the
    // duplicates into the next base permanently.
    val in = tmp("cw_in"); writeInput(baseDocs, in)
    val out = tmp("cw_out")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val d1 = Doc(pickId(9601, _ => true), words(50), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d1)), out, "cw-a")
    val before = finalRows(out)
    // save the log aside, compact, then restore it = the crash state
    val flog = java.nio.file.Paths.get(out, "final_log")
    val saved = java.nio.file.Paths.get(tmp("cw_saved"), "final_log")
    org.apache.commons.io.FileUtils.copyDirectory(flog.toFile, saved.toFile)
    DeltaIngest.compact(spark, out)
    assert(!flog.toFile.exists, "compact should have dropped the log")
    org.apache.commons.io.FileUtils.copyDirectory(saved.toFile, flog.toFile)
    spark.catalog.refreshByPath(s"$out/final_log")
    // the epoch (inside final/, swapped in atomically with the base)
    // masks the stale segments: no duplicates, same rows
    val window = DeltaIngest.readFinal(spark, out)
    assert(window.groupBy("doc_id").count().where(col("count") > 1).count() == 0,
      "crash window double-counted appended docs")
    assert(finalRows(out) == before)
    // the compact re-run converges: log gone, rows still exact, and a
    // NEW ingest (seg number above the epoch) is visible again
    DeltaIngest.compact(spark, out)
    assert(!flog.toFile.exists)
    assert(finalRows(out) == before)
    val d2 = Doc(pickId(9602, _ => true), words(51), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d2)), out, "cw-b")
    assert(finalRows(out).map(_._1).contains(d2.id),
      "a post-compaction segment must not be epoch-masked")
    assert(finalRows(out).map(_._1).contains(d1.id))
  }

  test("_keys map versions: readers take the highest; a stale lower version is inert") {
    val in = tmp("kv_in"); writeInput(baseDocs, in)
    val out = tmp("kv_out")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val d1 = Doc(pickId(9701, _ => true), words(60), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d1)), out, "kv-a")
    DeltaIngest.compact(spark, out)
    val seg = DeltaIngest.committedSegOf(spark, out, "kv-a")
    assert(seg.isDefined)
    // a crash after publishing _keys-2 but before dropping _keys-1
    // leaves BOTH; readers must take the highest (the superset)
    val legacy = java.nio.file.Paths.get(out, "delta_markers", "_keys")
    java.nio.file.Files.write(legacy, "phantom-key\t999\n".getBytes("UTF-8"))
    assert(DeltaIngest.committedSegOf(spark, out, "kv-a") == seg,
      "highest version must win")
    assert(DeltaIngest.committedSegOf(spark, out, "phantom-key").isEmpty,
      "a superseded lower version must be inert")
    java.nio.file.Files.delete(legacy)
  }

  test("legacy bare _keys (version 0) migrates: compaction folds singles into _keys-1, replay identity preserved") {
    // an r15-shaped layout: the pre-versioning code wrote the replay
    // map as ONE bare `_keys` file overwritten in place — the version-0
    // shape keysMapVersions still accepts. The upgrade path the
    // versioning change created: the first post-upgrade compaction must
    // read the bare map, fold new singles into `_keys-1`, and drop the
    // legacy file, with every key's committedSegOf unchanged.
    val in = tmp("v0_in"); writeInput(baseDocs, in)
    val out = tmp("v0_out")
    CurationRun.run(spark, in, out)
    DeltaIngest.buildIndex(spark, out)
    val d1 = Doc(pickId(9801, _ => true), words(70), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d1)), out, "v0-a")
    DeltaIngest.compact(spark, out)
    val segA = DeltaIngest.committedSegOf(spark, out, "v0-a")
    assert(segA.isDefined)
    // fabricate r15: demote the versioned map to the legacy bare name
    val dir = java.nio.file.Paths.get(out, "delta_markers")
    java.nio.file.Files.move(dir.resolve("_keys-1"), dir.resolve("_keys"))
    assert(DeltaIngest.committedSegOf(spark, out, "v0-a") == segA,
      "the bare legacy map must still be read (as version 0)")
    // post-upgrade traffic: a fresh single marker on the legacy layout
    val d2 = Doc(pickId(9802, _ => true), words(71), "web")
    DeltaIngest.ingestKeyed(spark, toDF(Seq(d2)), out, "v0-b")
    val segB = DeltaIngest.committedSegOf(spark, out, "v0-b")
    DeltaIngest.compact(spark, out)
    val names = new java.io.File(s"$out/delta_markers").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSet
    assert(names == Set("_keys-1"),
      s"legacy map + singles must fold into _keys-1: $names")
    assert(DeltaIngest.committedSegOf(spark, out, "v0-a") == segA &&
      DeltaIngest.committedSegOf(spark, out, "v0-b") == segB,
      "replay identity must survive the migration fold")
    // the migrated keys still refuse a replay at batch entry
    val e = intercept[IllegalArgumentException] {
      DeltaIngest.ingestKeyed(spark, toDF(Seq(d1)), out, "v0-a")
    }
    assert(e.getMessage.contains("already committed"), e.getMessage)
  }

  test("readFinal plan pin: split filter prunes the partitioned base; the edit anti-join is id-width") {
    // the scale shape the final_log conversion promises — a split
    // predicate must reach the base dir as a PartitionFilter (val/test
    // text never read) with the projection pruned to the selected
    // columns, and the base-side edit subtraction must read the log
    // id-width (never the log text twice)
    val (out, _, _) = run
    val p = DeltaIngest.readFinal(spark, out).where(col("split") === "train")
      .select("doc_id", "text").queryExecution.executedPlan.toString
    val lines = p.split('\n')
    val baseScan = lines.find(l => l.contains("FileScan") &&
      l.contains("/final]"))
    assert(baseScan.isDefined, s"no base final/ scan in:\n${p.take(3000)}")
    assert(baseScan.get.contains("PartitionFilters") &&
      baseScan.get.replaceAll("#\\d+", "").contains("(split = train)"),
      s"split filter must prune the base scan: ${baseScan.get.take(400)}")
    assert(!baseScan.get.substring(baseScan.get.indexOf("ReadSchema"))
      .contains("lang"),
      s"base projection must prune unselected columns: ${baseScan.get.take(400)}")
    val idWidthLogScan = lines.exists(l => l.contains("FileScan") &&
      l.contains("final_log") && l.contains("ReadSchema: struct<doc_id:bigint"))
    assert(idWidthLogScan,
      s"the edited-id anti-join side must scan the log id-width:\n${p.take(3000)}")
  }
}

/** The reference [[DeltaIngest.probeNearDups]] must equal: the band
  * probe + verification as Spark plans, which the ingest ran as its
  * stage 2a/2b before it computed its edit set on the driver. Both sign
  * with the same [[DedupQueries]] columns and share the hot-bucket cap
  * and the Jaccard threshold:
  *   - the input docs' shingles, counts, and LSH band rows;
  *   - `dProbe`: band rows after the hot-bucket cap, mirroring
  *     lshVerifiedPairs (HotBucketCap) over the COMBINED input+base
  *     occupancy — counted candidate-bounded (the base side is
  *     semi-joined to the input's bucket keys first). The UNFILTERED
  *     `dBands` still feeds occupancy;
  *   - `xCand`: (delta_id, base_id) banded candidates vs the index;
  *   - `baseCandDocs`/`bShingles`/`bCnt`: base text read ONLY for the
  *     candidate ids — from the base run's stage-1 table plus every
  *     committed delta's clean segment (immutable forever). */
object DeltaIngestSpec {
  final case class BaseProbe(
      dShingles: DataFrame, dCnt: DataFrame, dBands: DataFrame,
      dProbe: DataFrame, xCand: DataFrame, baseCandDocs: DataFrame,
      bShingles: DataFrame, bCnt: DataFrame)

  def baseProbe(s: SparkSession, docs: DataFrame, outDir: String): BaseProbe = {
    val dShingles = DedupQueries.shinglesOf(s, docs).localCheckpoint(true)
    val dCnt = dShingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dBands = DedupQueries.minhashSigOf(s, docs)
      .select(col("doc_id"), posexplode(
        array(DedupQueries.MinhashBands.map(b => col(b._1)): _*))
        .as(Seq("band", "bkey")))
      .localCheckpoint(true)
    val allowed = DeltaIngest.committedSegs(s, outDir)
    val baseBandsIdx = DeltaIngest.readLog(s, outDir, "bands", DeltaIngest.BandsSchema, Some(allowed))
      .select("doc_id", "band", "bkey")
    val deltaBuckets = dBands.select("band", "bkey").distinct()
    val baseOcc = baseBandsIdx.join(deltaBuckets, Seq("band", "bkey"), "left_semi")
      .groupBy("band", "bkey").agg(count(lit(1)).as("n_base"))
    val hotBuckets = dBands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("n_delta"))
      .join(baseOcc, Seq("band", "bkey"), "left")
      .where(col("n_delta") + coalesce(col("n_base"), lit(0L)) > DedupQueries.HotBucketCap)
      .select("band", "bkey")
    val dProbe = dBands.join(broadcast(hotBuckets), Seq("band", "bkey"), "left_anti")
      .localCheckpoint(true)
    val xCand = dProbe
      .join(baseBandsIdx
          .select(col("band"), col("bkey"), col("doc_id").as("base_id")),
        Seq("band", "bkey"))
      .select(col("doc_id").as("delta_id"), col("base_id")).distinct()
      .localCheckpoint(true)
    val baseCandDocs = DeltaIngest.gatedCorpus(s, outDir, allowed)
      .join(xCand.select(col("base_id").as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      .localCheckpoint(true)
    val bShingles = DedupQueries.shinglesOf(s, baseCandDocs).localCheckpoint(true)
    val bCnt = bShingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    BaseProbe(dShingles, dCnt, dBands, dProbe, xCand, baseCandDocs,
      bShingles, bCnt)
  }

  /** Exact shingle-Jaccard >= JaccardThreshold on candidates only —
    * the lshVerifiedPairs predicate, verbatim. Output: (doc_a, doc_b,
    * jaccard). */
  def verifiedJaccard(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      cntA: DataFrame, cntB: DataFrame): DataFrame =
    cand
      .join(shA.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(shB.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(cntA.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cntB.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
          .as("jaccard"))
      .where(col("jaccard") >= DedupQueries.JaccardThreshold)
}
