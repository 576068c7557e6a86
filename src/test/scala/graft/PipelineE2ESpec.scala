package graft

import graft.operators.{CurationRun, CuratedVectorSync, DeltaIngest,
  IvfMaintenance, TextSearchIndex, TrainingExport}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The whole production story in one chain: a base corpus is curated
  * and indexed (text + vector + PQ), a streamed drop of docs-with-
  * embeddings flows through the synced incremental ingest, the curated
  * train slice exports to sealed training shards, and every serve/audit
  * surface answers consistently about the result — the composition a
  * 100 TB deployment would actually run, exercised end to end. */
class PipelineE2ESpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"e2e_$name")

  private def words(key: Long, n: Int = 30): Vector[String] =
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

  private def vec(id: Long): Seq[Double] =
    Seq.tabulate(8)(d => ((id * 31 + d * 7) % 100) / 100.0)

  private val baseDocs = (0 until 50).map(k => Doc(1000 + k, words(1000 + k)))

  test("stream → synced curation → export → verify → audit, one chain") {
    val in = tmp("in"); val textOut = tmp("text"); val ivfOut = tmp("ivf")
    toDF(baseDocs).coalesce(2).write.mode("overwrite")
      .parquet(s"$in/documents.parquet")

    // 1. curate + index the base (text index, vector index, PQ layer)
    CurationRun.run(spark, in, textOut)
    DeltaIngest.buildIndex(spark, textOut)
    val baseFinal = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val labeled = baseFinal.map(id => (id, id % 3, vec(id)))
      .toDF("vec_id", "label", "embedding")
    IvfMaintenance.build(spark, labeled, ivfOut)
    IvfMaintenance.buildPq(spark, labeled.select("label", "embedding"),
      ivfOut, m = 8)
    val searchOut = tmp("search")
    TextSearchIndex.build(spark,
      DeltaIngest.readFinal(spark, textOut).select("doc_id", "text"), searchOut)

    // 2. a streamed drop: one fresh doc, one near-dup that BEATS a
    // live base keeper. The victim must be a TRAIN doc: a holdout
    // victim's 8-grams stay in the holdout index after replacement
    // (documented conservative divergence), which would correctly
    // decontaminate the winner right back out
    val victim = baseFinal
      .filter(id => id % 1000003L * 2654435761L % 100 < 80).max
    val winner = Doc(9001, // bucket(9001) = 61 -> the winner stays train
      baseDocs.find(_.id == victim).get.ws ++ words(9100, 3))
    val fresh = Doc(9002, words(9200))
    val dropDir = tmp("drop"); val ckpt = tmp("ckpt")
    Seq(winner, fresh)
      .map(d => (d.id, d.text, "en", "web", vec(d.id)))
      .toDF("doc_id", "text", "lang", "source", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(dropDir)
    val q = CuratedVectorSync.streamInto(spark, dropDir, textOut, ivfOut, ckpt,
      searchOut = Some(searchOut))
    try q.processAllAvailable() finally q.stop()

    // 3. layout, vector index, and PQ codes all moved in lockstep
    val finalIds = DeltaIngest.readFinal(spark, textOut)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIds.contains(winner.id) && finalIds.contains(fresh.id) &&
      !finalIds.contains(victim), s"layout after drop: $finalIds")
    val live = IvfMaintenance.assignments(spark, ivfOut)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(live == finalIds, "vector index drifted from the layout")

    // 4. the audit surface explains every party
    val audit = DeltaIngest.explainDocs(spark,
      Seq(victim, winner.id, fresh.id).toDF("doc_id"), textOut)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(audit(victim) == (("dup_dropped", Some(winner.id))), s"$audit")
    assert(audit(winner.id)._1 == "kept" && audit(fresh.id)._1 == "kept")

    // 5. both serve paths find the streamed-in winner at its vector
    val queries = Seq((77001L, vec(winner.id))).toDF("query_id", "embedding")
    val exact = IvfMaintenance.knnQuery(spark, ivfOut, queries,
      k = 100, nprobe = 10).collect()
    assert(exact.exists(_.getLong(1) == winner.id), "exact serve missed the winner")
    val adcRows = IvfMaintenance.adcKnn(spark, ivfOut, queries,
      k = 100, nprobe = 10).collect()
    val minAdc = adcRows.map(_.getDouble(2)).min
    assert(adcRows.exists(r => r.getLong(1) == winner.id &&
      r.getDouble(2) <= minAdc + 1e-12), "ADC serve missed the winner")
    assert(!exact.exists(_.getLong(1) == victim) &&
      !adcRows.exists(_.getLong(1) == victim), "a replaced doc still serves")

    // 5b. the THIRD serve surface: BM25 over the winner's unique words
    // finds the winner (it inherited the victim's vocabulary and added
    // its own), and never the victim
    val bm25 = TextSearchIndex.query(spark, searchOut,
      words(9100, 3).toList, k = 10).collect()
    assert(bm25.exists(_.getLong(0) == winner.id),
      s"BM25 must find the streamed winner: ${bm25.mkString(";")}")
    val bm25Victim = TextSearchIndex.query(spark, searchOut,
      baseDocs.find(_.id == victim).get.ws.take(3).toList, k = 50).collect()
    assert(!bm25Victim.exists(_.getLong(0) == victim) &&
      bm25Victim.exists(_.getLong(0) == winner.id),
      "the victim's vocabulary must now serve its replacement only")

    // 6. export the curated train slice, audit the sealed bytes, and
    // reconcile the manifest against the layout's own token count
    val expDir = tmp("epoch0")
    val rep = TrainingExport.export(spark, textOut, expDir,
      nShards = 4, seqLen = 64, seed = 0L)
    val v = TrainingExport.verify(spark, expDir).collect()
    assert(v.forall(_.getBoolean(1)), s"export failed its own audit: ${v.mkString(";")}")
    val trainTok = DeltaIngest.readFinal(spark, textOut)
      .where(col("split") === "train")
      .agg(sum(size(split(col("text"), " ")))).collect()(0).getLong(0)
    assert(rep.nTokens == trainTok, s"${rep.nTokens} exported vs $trainTok live")

    // 7. a second epoch (new seed, new dir) conserves the tokens; the
    // replayed drop remains a no-op end to end
    val rep1 = TrainingExport.export(spark, textOut, tmp("epoch1"),
      nShards = 4, seqLen = 64, seed = 1L)
    assert(rep1.nTokens == rep.nTokens && rep1.nDocs == rep.nDocs)
    val replay = CuratedVectorSync.ingestDropBatch(spark,
      spark.read.parquet(dropDir), 0L, textOut, ivfOut, Some(searchOut))
    assert(replay.isDefined && replay.get.docs.isEmpty &&
      replay.get.nVecIngested == 0 && replay.get.nSearchIngested == 0,
      s"replay must no-op on all three surfaces: $replay")
  }
}
