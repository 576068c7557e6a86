package graft.operators

import graft.operators.SegmentLog.{foldLatest, presentSegs, readCommitted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted BM25 retrieval over a document corpus — the LEXICAL twin
  * of [[IvfMaintenance]]'s vector serving, and the third serve surface
  * over a curated layout (near-dup screening, vector kNN, now term
  * search: corpus inspection, RAG-style retrieval, lexical
  * hard-negative mining). Same storage discipline as the other
  * indexes: immutable `seg=<n>` increments admitted by one marker set,
  * folded on read, compacted on cadence.
  *
  * {{{
  *   outDir/search/markers/seg-<n>     commit marker (content = batch key)
  *   outDir/search/postings/seg=<n>/   (term, doc_id, tf, dl, dead),
  *                                     hive-partitioned shard=h(term)%n_shards
  *                                     (n recorded in search/_layout)
  *   outDir/search/stats/seg=<n>/      ONE row (n_docs, sum_dl) —
  *                                     exact corpus stats snapshot
  * }}}
  *
  * Exactness contract (spec-proven, stronger than the vector side's
  * approximation contract): an incrementally-maintained index answers
  * every query EXACTLY like an index rebuilt from scratch on the same
  * live corpus. This holds because nothing cached ever goes stale —
  * per-term document frequencies are counted LIVE from the folded
  * postings of the query's terms (term-bounded, never corpus-wide),
  * and the (n_docs, sum_dl) snapshot is exact integer arithmetic
  * (ingest adds, remove subtracts).
  *
  * Scale shape: [[query]] reads only the query terms' shards
  * (partition-pruned by the same hash the writer used) and filters to
  * the terms themselves before the fold; scoring is the registry's
  * t_bm25_topk kernel verbatim — 1e-9-quantized idf, an IEEE scalar
  * chain with pinned parenthesization, per-doc sums over quantized
  * LONGS (order-free) — so served ranks can never drift run-to-run.
  * [[remove]] is the documented rare path: finding a removed doc's
  * terms costs one column-pruned id-semi-joined postings scan.
  */
object TextSearchIndex {

  val CompactAfterSegments = 16

  /** Default postings-shard count (`shard = xxhash64(term) % n`) — a
    * LAYOUT parameter recorded by [[build]] in `<search>/_layout`, not
    * a constant: reader pruning derives its modulus from the record, so
    * a 100 TB index builds with a larger count without any probe
    * guessing (and mis-pruning) the hash space. */
  val DefaultShards = 16

  private def root(outDir: String) = s"$outDir/search"
  private def postRoot(outDir: String) = s"${root(outDir)}/postings"
  private def statsRoot(outDir: String) = s"${root(outDir)}/stats"
  private def markerDir(outDir: String) = s"${root(outDir)}/markers"
  private def layoutPath(outDir: String) = s"${root(outDir)}/_layout"

  private def writeLayout(s: SparkSession, outDir: String, nShards: Int): Unit =
    SegmentLog.writeLayout(s, layoutPath(outDir), nShards)

  /** The recorded shard count — REQUIRED (a guessed modulus silently
    * mis-prunes; refuse diagnosably instead). */
  private[graft] def layoutShards(s: SparkSession, outDir: String): Int =
    SegmentLog.readLayoutShards(s, layoutPath(outDir)).getOrElse(
      throw new IllegalArgumentException(
        s"$outDir: no _layout record — the index predates (or lost) its " +
          "layout descriptor; rebuild to record the shard count"))

  private val PostSchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("dead", BooleanType), StructField("shard", IntegerType)))

  private def shardOf(term: org.apache.spark.sql.Column, nShards: Int) =
    pmod(xxhash64(term), lit(nShards.toLong)).cast("int")

  // segment-log discipline: the shared SegmentLog helper (one
  // definition with IvfMaintenance — marker semantics cannot drift)
  private[graft] def committedSegs(s: SparkSession, outDir: String): Set[Long] =
    SegmentLog.committedSegs(s, markerDir(outDir))
  private[graft] def committedKeys(s: SparkSession, outDir: String): Set[String] =
    SegmentLog.committedKeys(s, markerDir(outDir))
  private def commitMarker(s: SparkSession, outDir: String, seg: Long,
      key: String): Unit =
    SegmentLog.commitMarker(s, markerDir(outDir), seg, key)

  def indexed(s: SparkSession, outDir: String): Boolean =
    committedSegs(s, outDir).nonEmpty

  private def wipeUncommitted(s: SparkSession, outDir: String): Unit =
    SegmentLog.wipeUncommitted(s, committedSegs(s, outDir),
      Seq(postRoot(outDir), statsRoot(outDir)))

  private def readPostLog(s: SparkSession, outDir: String,
      allowed: Set[Long]): DataFrame =
    readCommitted(s, postRoot(outDir), allowed, PostSchema)

  // the postings fold: latest committed row per (term, doc_id), a
  // tombstone beating a live row of its own segment
  private val PostKey = Seq("term", "doc_id")
  private val PostFields = Seq("dead", "tf", "dl")

  /** Exact (n_docs, sum_dl) as of the snapshot's last committed seg. */
  private def readStats(s: SparkSession, outDir: String,
      allowed: Set[Long]): (Long, Long) = {
    val segs = presentSegs(s, statsRoot(outDir)).filter(allowed)
    // an interrupted REBUILD deletes the data roots before committing
    // the new segment (markers survive by design) — fail diagnosably,
    // not with an opaque empty.max
    require(segs.nonEmpty,
      s"$outDir: no committed stats segment — an interrupted rebuild; " +
        "run build again")
    val r = s.read.parquet(s"${statsRoot(outDir)}/seg=${segs.max}").head()
    (r.getLong(0), r.getLong(1))
  }

  final case class SearchHealth(
      nDocs: Long, // live docs (the BM25 N)
      sumDl: Long, // live token mass (avgdl = sumDl / nDocs)
      nSegments: Int, // committed postings segments (compaction pressure)
      nShards: Int)

  /** One-call operational snapshot — the [[IvfMaintenance.health]]
    * twin for the BM25 surface, read entirely from the incrementally-
    * maintained stats row and the filesystem (no postings bytes):
    * corpus stats the scorer serves with, log depth, recorded layout. */
  def health(s: SparkSession, outDir: String): SearchHealth = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    val allowed = committedSegs(s, outDir)
    val (nDocs, sumDl) = readStats(s, outDir, allowed)
    SearchHealth(nDocs, sumDl,
      presentSegs(s, postRoot(outDir)).count(allowed), layoutShards(s, outDir))
  }

  private def writeSegment(s: SparkSession, outDir: String, seg: Long,
      postings: DataFrame, nDocs: Long, sumDl: Long, key: String): Unit = {
    val nsh = layoutShards(s, outDir)
    postings
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("dead"),
        shardOf(col("term"), nsh).as("shard"))
      .repartition(col("shard")).sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"${postRoot(outDir)}/seg=$seg")
    import s.implicits._
    Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${statsRoot(outDir)}/seg=$seg")
    commitMarker(s, outDir, seg, key)
  }

  /** (term, doc_id, tf, dl) rows of a (doc_id, text) frame — whitespace
    * terms, the registry tokenization currency. */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))

  /** Index a corpus from scratch (seg 0). `docs`: (doc_id, text). */
  def build(s: SparkSession, docs: DataFrame, outDir: String,
      nShards: Int = DefaultShards): Unit = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    // an empty corpus would publish a footer-less postings segment that
    // remove/compact/assertFresh-ingest later trip over with an opaque
    // schema-inference error — refuse at the source (the IvfMaintenance
    // build guard, same rationale)
    require(docs.head(1).nonEmpty,
      "build on an empty docs input — nothing to index")
    for (r <- Seq(postRoot(outDir), statsRoot(outDir)))
      SegmentLog.deleteDir(s, r)
    // layout before any segment: a rebuild may change the shard count
    // because it rewrites the whole postings log anyway
    writeLayout(s, outDir, nShards)
    val post = postingsOf(docs).localCheckpoint(true)
    val st = post.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).head()
    val seg = committedSegs(s, outDir) match {
      case e if e.isEmpty => 0L
      case segs => segs.max + 1
    }
    writeSegment(s, outDir, seg, post.withColumn("dead", lit(false)),
      st.getLong(0), st.getLong(1), s"build-$seg")
  }

  /** Append a delta batch's postings — one segment, replay-keyed.
    * Contract: doc_ids NEW to the index ([[remove]] first to re-home) —
    * a re-ingested live id would double-count n_docs/sum_dl and leave
    * postings for terms absent from the new text live, breaking the
    * bit-exact-vs-rebuild contract. `assertFresh` ENFORCES the
    * contract with an id-semi-joined count over the postings log
    * (id-width columns only, but O(index) rows worst case — a
    * debug/assert mode, not the 100 TB default; the production caller,
    * [[CuratedVectorSync]], guarantees freshness structurally: its
    * manifest increment never re-appends a live id). */
  def ingest(s: SparkSession, docs: DataFrame, outDir: String,
      key: String = s"seq-${System.nanoTime()}",
      assertFresh: Boolean = false): Long = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    if (committedKeys(s, outDir).contains(key)) return 0L
    wipeUncommitted(s, outDir)
    if (assertFresh) {
      val stale = foldLatest(
        readPostLog(s, outDir, committedSegs(s, outDir))
          .select("term", "doc_id", "tf", "dl", "dead", "seg")
          .join(docs.select(col("doc_id").cast("long").as("doc_id")).distinct(),
            Seq("doc_id"), "left_semi"), PostKey, PostFields)
        .select("doc_id").distinct().count()
      require(stale == 0L,
        s"$outDir: $stale doc_id(s) in this batch are already live in " +
          "the index — remove() them first (re-ingesting a live id " +
          "corrupts n_docs/sum_dl and leaves stale postings live)")
    }
    // count DATA segments, not markers: a rebuild collapses data to one
    // segment while preserving every historical marker
    if (presentSegs(s, postRoot(outDir)).count(committedSegs(s, outDir))
        > CompactAfterSegments) compact(s, outDir)
    val allowed = committedSegs(s, outDir)
    val seg = allowed.max + 1
    val post = postingsOf(docs).localCheckpoint(true)
    val st = post.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).head()
    if (st.getLong(0) == 0) { commitMarker(s, outDir, -1L, key); return 0L }
    val (n0, s0) = readStats(s, outDir, allowed)
    writeSegment(s, outDir, seg, post.withColumn("dead", lit(false)),
      n0 + st.getLong(0), s0 + st.getLong(1), key)
    st.getLong(0)
  }

  /** Tombstone documents (the rare path — curation replacements /
    * retro-decontamination): their terms come from ONE column-pruned
    * id-semi-joined postings scan; stats decrement exactly, so a
    * subsequent query equals a from-scratch rebuild on the survivors. */
  def remove(s: SparkSession, ids: DataFrame, outDir: String,
      key: String = s"rm-${System.nanoTime()}"): Long = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    if (committedKeys(s, outDir).contains(key)) return 0L
    wipeUncommitted(s, outDir)
    // the common lockstep batch removes NOTHING — commit the replay
    // identity without paying the full postings-log scan below
    if (ids.isEmpty) { commitMarker(s, outDir, -1L, key); return 0L }
    val allowed = committedSegs(s, outDir)
    val seg = allowed.max + 1
    val live = foldLatest(readPostLog(s, outDir, allowed)
        .join(ids.select(col("doc_id").cast("long").as("doc_id")),
          Seq("doc_id"), "left_semi"), PostKey, PostFields)
      .localCheckpoint(true)
    val st = live.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s")).head()
    if (st.getLong(0) == 0) { commitMarker(s, outDir, -1L, key); return 0L }
    val (n0, s0) = readStats(s, outDir, allowed)
    writeSegment(s, outDir, seg,
      live.select(col("term"), col("doc_id"), col("tf"), col("dl"),
        lit(true).as("dead")),
      n0 - st.getLong(0), s0 - st.getLong(1), key)
    st.getLong(0)
  }

  /** BM25 top-k for a term set (k1=1.2, b=0.75, Lucene idf — the
    * t_bm25_topk kernel verbatim, quantized order-free). Reads ONLY
    * the query terms' shards, folds only their postings, counts df
    * live from the fold — term-bounded work at any corpus size.
    * Output: (doc_id, bm25, n_terms, rk). */
  def query(s: SparkSession, outDir: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    val allowed = committedSegs(s, outDir)
    val (nd, sumDl) = readStats(s, outDir, allowed)
    // an emptied-out live corpus (every doc removed) has no answers —
    // return the empty frame rather than NaN-scoring (avgdl = 0/0)
    if (nd == 0L)
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("doc_id", LongType), StructField("bm25", DoubleType),
        StructField("n_terms", IntegerType), StructField("rk", IntegerType))))
    val avgdl = sumDl.toDouble / nd.toDouble
    val post = boundedPostings(s, outDir, terms, allowed)
      .localCheckpoint(true) // df + scoring read it; sever from the log files
    val idf = post.groupBy("term").agg(count(lit(1)).as("df"))
      .select(col("term"),
        round(log(lit(1.0) + (lit(nd) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))) * 1000000000).cast("long").as("idf_q"))
    val sc = post.join(broadcast(idf), "term")
      .select(col("doc_id"),
        round(col("idf_q").cast("double") * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
            + lit(0.75) * col("dl") / lit(avgdl)))).cast("long").as("cq"))
      .groupBy("doc_id")
      .agg(sum("cq").as("score_q"), count(lit(1)).as("n_terms"))
    sc.orderBy(col("score_q").desc, col("doc_id").asc).limit(k)
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_q").desc, col("doc_id").asc)).cast("int"))
      .select(col("doc_id"),
        (col("score_q").cast("double") / 1000000000).as("bm25"),
        col("n_terms").cast("int").as("n_terms"), col("rk"))
  }

  /** The query terms' live postings — shard-pruned (the same engine
    * hash the writer partitioned by; a scala-side reimplementation
    * could drift from xxhash64's seed/variant) and term-filtered
    * BEFORE the fold. Package-visible so the spec can pin the
    * partition pruning on the pre-checkpoint plan. */
  private[graft] def boundedPostings(s: SparkSession, outDir: String,
      terms: Seq[String], allowed: Set[Long]): DataFrame = {
    import s.implicits._
    val nsh = layoutShards(s, outDir)
    val shards = terms.toDF("term").select(shardOf(col("term"), nsh))
      .collect().map(_.getInt(0)).distinct.toSeq
    foldLatest(readPostLog(s, outDir, allowed)
      .where(col("shard").isin(shards: _*) && col("term").isin(terms: _*)),
      PostKey, PostFields)
  }

  /** Fold the log to one segment and consolidate replay keys — the
    * IvfMaintenance compaction dance (rename-aside, both renames
    * checked, keys survive in one file). */
  def compact(s: SparkSession, outDir: String): Unit = {
    wipeUncommitted(s, outDir)
    val allowed = committedSegs(s, outDir)
    val top = allowed.max
    val folded = foldLatest(readPostLog(s, outDir, allowed), PostKey, PostFields)
      .withColumn("dead", lit(false)).localCheckpoint(true)
    val nsh = layoutShards(s, outDir)
    val stagedPost = SegmentLog.stageCompaction(s, postRoot(outDir), top)(
      folded.select(col("term"), col("doc_id"), col("tf"), col("dl"),
          col("dead"), shardOf(col("term"), nsh).as("shard"))
        .repartition(col("shard")).sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet)
    val (nd, sumDl) = readStats(s, outDir, allowed)
    import s.implicits._
    val stagedStats = SegmentLog.stageCompaction(s, statsRoot(outDir), top)(
      Seq((nd, sumDl)).toDF("n_docs", "sum_dl").coalesce(1).write.mode("overwrite").parquet)
    SegmentLog.swapDir(s, stagedPost, postRoot(outDir))
    SegmentLog.swapDir(s, stagedStats, statsRoot(outDir))
    SegmentLog.consolidateKeys(s, markerDir(outDir), top)
  }
}
