package graft

import graft.operators.TextSearchIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted BM25 index: log-structured postings + exact corpus
  * stats. The load-bearing contract is EXACTNESS — an incrementally
  * maintained index (ingests, removals, compactions) answers every
  * query identically to an index rebuilt from scratch on the same live
  * corpus, because df is counted live from the fold and (n_docs,
  * sum_dl) is exact integer arithmetic. */
class TextSearchIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"tsi_$name")

  // controlled vocabulary: shared query terms with varied tf, unique
  // fillers so doc lengths differ
  private def doc(i: Long): (Long, String) = {
    val shared = (Seq.fill((i % 3 + 1).toInt)("alpha") ++
      Seq.fill((i % 2 + 1).toInt)("beta") ++
      (if (i % 7 == 0) Seq("zeta") else Nil))
    val filler = (0 until (5 + (i % 4)).toInt)
      .map(j => s"w${i}x$j")
    (i, (shared ++ filler).mkString(" "))
  }

  private val baseDocs = (100L until 140L).map(doc)
  private val deltaDocs = (500L until 512L).map(doc)
  private val terms = Seq("alpha", "beta", "zeta")

  private def toDF(ds: Seq[(Long, String)]): DataFrame =
    ds.toDF("doc_id", "text")

  /** The t_bm25_topk kernel recomputed from the raw docs IN SPARK (the
    * same log/round/division expressions), so equality is bit-exact by
    * construction. */
  private def groundTruth(docs: DataFrame, k: Int): Array[(Long, Double, Int, Int)] = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .where(col("term").isin(terms: _*))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val st = dl.agg(sum("dl").as("s"), count(lit(1)).as("n")).head()
    val nd = st.getLong(1); val avgdl = st.getLong(0).toDouble / nd.toDouble
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"),
        round(log(lit(1.0) + (lit(nd) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))) * 1000000000).cast("long").as("idf_q"))
    tf.join(broadcast(idf), "term").join(dl, "doc_id")
      .select(col("doc_id"),
        round(col("idf_q").cast("double") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
            + lit(0.75) * col("dl") / lit(avgdl)))).cast("long").as("cq"))
      .groupBy("doc_id")
      .agg(sum("cq").as("score_q"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_q").desc, col("doc_id").asc).limit(k)
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_q").desc, col("doc_id").asc)).cast("int"))
      .select(col("doc_id"),
        (col("score_q").cast("double") / 1000000000).as("bm25"),
        col("n_terms").cast("int").as("n_terms"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3)))
  }

  private def served(dir: String, k: Int = 10): Array[(Long, Double, Int, Int)] =
    TextSearchIndex.query(spark, dir, terms, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3)))

  test("a built index serves the t_bm25_topk kernel exactly") {
    val dir = tmp("build")
    TextSearchIndex.build(spark, toDF(baseDocs), dir)
    assert(served(dir).toSeq == groundTruth(toDF(baseDocs), 10).toSeq)
  }

  test("incremental ingest == from-scratch rebuild, bit-exact scores") {
    val inc = tmp("inc"); val scratch = tmp("scratch")
    TextSearchIndex.build(spark, toDF(baseDocs), inc)
    val n = TextSearchIndex.ingest(spark, toDF(deltaDocs), inc, "b1")
    assert(n == deltaDocs.size)
    TextSearchIndex.build(spark, toDF(baseDocs ++ deltaDocs), scratch)
    assert(served(inc).toSeq == served(scratch).toSeq,
      "incrementally-maintained index diverged from the rebuild")
    // df/avgdl moved with the delta: the answers must also equal the
    // kernel on the union (not just each other)
    assert(served(inc).toSeq == groundTruth(toDF(baseDocs ++ deltaDocs), 10).toSeq)
  }

  test("remove == from-scratch on the survivors (stats decrement exactly)") {
    val inc = tmp("rm"); val scratch = tmp("rm_scratch")
    TextSearchIndex.build(spark, toDF(baseDocs), inc)
    // remove the zeta carriers — df(zeta) and avgdl both change
    val victims = baseDocs.filter(_._1 % 7 == 0).map(_._1)
    val n = TextSearchIndex.remove(spark, victims.toDF("doc_id"), inc, "rm1")
    assert(n == victims.size)
    val survivors = baseDocs.filterNot(d => victims.contains(d._1))
    TextSearchIndex.build(spark, toDF(survivors), scratch)
    assert(served(inc).toSeq == served(scratch).toSeq)
    assert(!served(inc).exists(r => victims.contains(r._1)))
  }

  test("replayed keys are no-ops; an uncommitted segment is invisible and swept") {
    val dir = tmp("replay")
    TextSearchIndex.build(spark, toDF(baseDocs), dir)
    TextSearchIndex.ingest(spark, toDF(deltaDocs), dir, "b1")
    val want = served(dir).toSeq
    assert(TextSearchIndex.ingest(spark, toDF(deltaDocs), dir, "b1") == 0L,
      "a committed key must replay as a no-op")
    assert(served(dir).toSeq == want)
    // a crash leftover: postings for a segment with no marker
    toDF(Seq((999L, "alpha alpha alpha")))
      .write.mode("overwrite").parquet(s"$dir/search/postings/seg=99/shard=0")
    assert(served(dir).toSeq == want, "an uncommitted segment leaked into a query")
    TextSearchIndex.ingest(spark, toDF(Seq(doc(600L))), dir, "b2")
    assert(!new java.io.File(s"$dir/search/postings/seg=99").exists(),
      "the next writer must sweep crash leftovers")
  }

  test("compaction folds the log without changing any answer; keys survive") {
    val dir = tmp("compact")
    TextSearchIndex.build(spark, toDF(baseDocs), dir)
    TextSearchIndex.ingest(spark, toDF(deltaDocs), dir, "b1")
    val victims = baseDocs.take(3).map(_._1)
    TextSearchIndex.remove(spark, victims.toDF("doc_id"), dir, "rm1")
    val want = served(dir).toSeq
    TextSearchIndex.compact(spark, dir)
    assert(served(dir).toSeq == want, "compaction changed an answer")
    assert(new java.io.File(s"$dir/search/postings").listFiles()
      .count(_.getName.startsWith("seg=")) == 1, "log not folded to one segment")
    assert(TextSearchIndex.ingest(spark, toDF(deltaDocs), dir, "b1") == 0L,
      "replay identity must survive compaction")
  }

  test("a crashed prior compaction's stale staging cannot resurrect removed docs") {
    val dir = tmp("stale")
    TextSearchIndex.build(spark, toDF(baseDocs), dir)
    TextSearchIndex.ingest(spark, toDF(deltaDocs), dir, "b1")
    val victim = baseDocs.filter(_._1 % 7 == 0).map(_._1).head
    TextSearchIndex.remove(spark, Seq(victim).toDF("doc_id"), dir, "rm1")
    val want = served(dir).toSeq
    // simulate compact #1 crashing after staging seg=1 (which predates
    // the removal and holds the victim LIVE) but before the swap
    toDF(Seq((victim, "alpha beta zeta")))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"), lit(3L).as("dl"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        lit(false).as("dead"), pmod(xxhash64(col("term")), lit(16L))
          .cast("int").as("shard"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$dir/search/postings_compacted/seg=1")
    TextSearchIndex.compact(spark, dir)
    assert(served(dir).toSeq == want, "stale staging changed a post-compact answer")
    assert(!served(dir).exists(_._1 == victim), "a removed doc resurrected")
    val segDirs = new java.io.File(s"$dir/search/postings").listFiles()
      .map(_.getName).filter(_.startsWith("seg=")).toSeq
    assert(segDirs.length == 1,
      s"the stale staged segment rode the swap into the live root: $segDirs")
  }

  test("shard count is a recorded layout parameter: 4 and 64 answer identically, and prune") {
    val want = {
      val d16 = tmp("sh16")
      TextSearchIndex.build(spark, toDF(baseDocs), d16)
      served(d16).toSeq
    }
    for (nsh <- Seq(4, 64)) {
      val dir = tmp(s"sh$nsh")
      TextSearchIndex.build(spark, toDF(baseDocs), dir, nShards = nsh)
      // sharding is pure layout: answers are bit-identical at any count
      assert(served(dir).toSeq == want, s"nsh=$nsh changed an answer")
      val seg0 = new java.io.File(s"$dir/search/postings/seg=0").listFiles()
        .map(_.getName).filter(_.startsWith("shard=")).toSeq
      assert(seg0.nonEmpty && seg0.forall(_.stripPrefix("shard=").toInt < nsh),
        s"nsh=$nsh wrote shards $seg0")
      // pruning derives its modulus from the record
      val plan = TextSearchIndex.boundedPostings(spark, dir, terms,
          TextSearchIndex.committedSegs(spark, dir))
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator
        .filter(l => l.contains("PartitionFilters")).toSeq
      assert(scans.nonEmpty && scans.forall(
        _.replaceAll(".*PartitionFilters: \\[", "").contains("shard")),
        s"nsh=$nsh scan must prune on shard:\n${scans.mkString("\n")}")
    }
    // a lost record refuses instead of silently mis-pruning
    val dir = tmp("lost")
    TextSearchIndex.build(spark, toDF(baseDocs), dir, nShards = 4)
    assert(new java.io.File(s"$dir/search/_layout").delete())
    val e = intercept[IllegalArgumentException] {
      TextSearchIndex.query(spark, dir, terms, 10).count()
    }
    assert(e.getMessage.contains("_layout"), e.getMessage)
  }

  test("assertFresh catches a re-ingested live doc_id before it corrupts the stats") {
    val dir = tmp("fresh")
    TextSearchIndex.build(spark, toDF(baseDocs), dir)
    // a fresh batch passes the guard
    assert(TextSearchIndex.ingest(spark, toDF(deltaDocs), dir,
      key = "f1", assertFresh = true) == deltaDocs.size)
    // re-ingesting a live id is the contract violation the guard names
    val e = intercept[IllegalArgumentException] {
      TextSearchIndex.ingest(spark, toDF(baseDocs.take(3)), dir,
        key = "f2", assertFresh = true)
    }
    assert(e.getMessage.contains("already live"), e.getMessage)
    // the refused batch committed nothing: stats and answers unchanged
    val want = {
      val ref = tmp("fresh_ref")
      TextSearchIndex.build(spark, toDF(baseDocs ++ deltaDocs), ref)
      served(ref).toSeq
    }
    assert(served(dir).toSeq == want,
      "a refused ingest must leave the index bit-exact vs rebuild")
    // remove-then-ingest is the sanctioned re-home path
    TextSearchIndex.remove(spark,
      baseDocs.take(3).map(_._1).toDF("doc_id"), dir, key = "f3")
    assert(TextSearchIndex.ingest(spark, toDF(baseDocs.take(3)), dir,
      key = "f4", assertFresh = true) == 3)
    assert(served(dir).toSeq == want, "re-home must restore the rebuilt answers")
  }

  test("build on an empty docs input refuses at the source") {
    // it would publish a footer-less postings segment every later read
    // trips over opaquely (the IvfMaintenance build guard, same shape)
    val e = intercept[IllegalArgumentException] {
      TextSearchIndex.build(spark, toDF(Nil), tmp("emptybuild"))
    }
    assert(e.getMessage.contains("empty docs"), e.getMessage)
  }

  test("an emptied-out corpus answers with the empty frame, not NaN scores") {
    val dir = tmp("empty")
    val three = baseDocs.take(3)
    TextSearchIndex.build(spark, toDF(three), dir)
    TextSearchIndex.remove(spark, three.map(_._1).toDF("doc_id"), dir,
      key = "all-gone")
    val res = TextSearchIndex.query(spark, dir, terms, 10)
    assert(res.isEmpty, "no live docs -> no results")
    assert(res.columns.toSeq == Seq("doc_id", "bm25", "n_terms", "rk"),
      s"the empty frame must keep the serve schema: ${res.columns.toSeq}")
  }

  test("query reads only the probed term shards (partition-pruned)") {
    val dir = tmp("prune")
    TextSearchIndex.build(spark, toDF(baseDocs), dir)
    // the served plan checkpoints the bounded read (two consumers), so
    // the pruning is pinned on the pre-checkpoint plan the query builds
    val plan = TextSearchIndex.boundedPostings(spark, dir, terms,
        TextSearchIndex.committedSegs(spark, dir))
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator
      .filter(l => l.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty, s"no postings scan found:\n$plan")
    assert(scans.forall(_.replaceAll(".*PartitionFilters: \\[", "")
        .contains("shard")),
      s"the postings scan must partition-prune on shard:\n${scans.mkString("\n")}")
  }
}
