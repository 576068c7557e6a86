package graft.operators

import graft.queries.DedupQueries
import graft.operators.SegmentLog.{committedLog, foldLatest, fs, readCommitted}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.math.Ordering.Implicits._

/** Incremental curation — the O(delta) production shape for a corpus
  * that grows daily, composed from the same oracle-checked plans the
  * batch [[CurationRun]] materializes:
  *
  *   1. [[buildIndex]] (once, after a completed run): persist the
  *      probe structures a delta needs — LSH band keys + cluster
  *      membership + per-cluster keeper of every gated base doc, and
  *      the word-8-gram inverted indexes of the final train/holdout
  *      slices. This is exactly the state dedup_incremental's scaladoc
  *      says "a 100 TB lake would keep materialized between ingests".
  *   2. [[ingestDelta]] (per batch): gate → sign → dedup the delta
  *      against ITSELF (same LSH + CC + election plans) → match delta
  *      clusters against the base via the band index (candidates only;
  *      base TEXT is read candidate-bounded, never corpus-scanned) →
  *      merged-cluster election (a delta doc CAN replace a base keeper
  *      it beats) → split assign → two-sided 8-gram decontamination
  *      (delta train vs the full holdout; base train vs the NEW holdout
  *      grams) → final-layout edits (one O(delta) increment: appended
  *      survivors live, removed docs tombstoned) → index updates.
  *
  * == Durability: a write-ahead edit log ==
  *
  * Every index table is LOG-STRUCTURED: immutable `seg=<n>` segment
  * directories, folded on read (latest segment wins per key, tombstones
  * drop). A batch's ingest writes exactly ONE segment per table — all
  * O(delta)-sized — so per-batch write volume is independent of the
  * standing corpus; [[compact]] folds the log back to a single segment
  * on whatever cadence the deployment chooses (auto-triggered here past
  * [[CompactAfterSegments]] committed segments).
  *
  * The ingest itself is a two-phase commit:
  *   - COMPUTE+STAGE: a pure read phase computes the full edit set on
  *     the driver — the delta collected once, the index read in
  *     candidate-bounded slices from ONE committed-segment snapshot —
  *     and writes it to `delta_staging/batch=<key>/` (one local write
  *     per table), sealed by a `_STAGED` marker. Nothing the phase
  *     reads is mutated, so a crash here loses nothing: the replay
  *     wipes the partial staging and recomputes from identical inputs.
  *   - APPLY: staged tables move into their `seg=<n>` positions
  *     (idempotent: skip-if-sealed, else replace) — the final layout's
  *     edits included, as a `final_log/seg=<n>` increment over the
  *     IMMUTABLE base `final/` dir ([[readFinal]] is the folded view;
  *     [[compact]] folds the log back into a fresh base) — and the
  *     COMMIT marker (`delta_markers/<key>`, carrying the segment
  *     number) lands last. Nothing any reader holds open is ever
  *     rewritten mid-batch; a crash mid-apply replays from the sealed
  *     staging — same decisions, idempotent re-application — never
  *     from a recompute against half-mutated state.
  *
  * Readers see snapshot isolation: folds only admit segments whose
  * batch COMMITTED (seg=0 = the base index), so a crashed batch's
  * partial segments are invisible until the next ingest wipes them.
  * This is precisely the commit protocol a transactional table format
  * provides; it is implemented here on bare parquet + rename because
  * the layout must stay plain-parquet readable.
  *
  * Exactness contract (spec-proven on a corpus exercising every path):
  * the merged output equals a from-scratch [[CurationRun.run]] on the
  * union, EXCEPT three documented divergences inherent to incremental
  * dedup — (a) a delta path BRIDGING two base clusters merges their
  * keepers' election here but cannot resurrect base members the
  * from-scratch merge would also have dropped differently when the
  * bridge changes which member is "best" transitively; (b) a delta
  * batch pushing a base LSH bucket over the hot-cap would retro-drop
  * base-base candidate pairs from that bucket in a from-scratch run
  * (delta-involved pairs ARE capped here, over the combined occupancy,
  * exactly like from-scratch — only the already-committed base-base
  * edges are not retracted); (c) grams of a REPLACED holdout keeper are
  * not retracted from the holdout index (retraction could re-admit
  * previously dropped train docs — a full recompute; keeping them is
  * conservative: it only ever drops MORE train docs than from-scratch,
  * never leaks contamination).
  *
  * Scale shape: the delta is a micro-batch by contract ([[streamInto]]'s
  * `maxFilesPerTrigger`) and is held on the driver; every index read is
  * a key-bounded slice (the delta's buckets, grams and matched ids) —
  * column-pruned id/hash scans, never the corpus text; folds that could
  * be index-sized (members, keepers, train_meta) run AFTER the key
  * bound — the key filter commutes with the per-key fold — so no
  * per-ingest step scales with the corpus.
  */
object DeltaIngest {

  /** Per-delta attrition + edit accounting. */
  final case class DeltaReport(
      nDelta: Long,
      nQualityFail: Long,
      nDupDropped: Long, // delta docs dropped by dedup (vs base or within delta)
      nReplacedBase: Long, // base keepers beaten + removed
      nTrain: Long,
      nVal: Long,
      nTest: Long,
      nContaminatedDelta: Long, // delta train docs dropped by decontamination
      nContaminatedBase: Long, // base train docs newly contaminated + removed
      nAppended: Long,
      nRemoved: Long) {
    def consistent: Boolean =
      nAppended == nTrain + nVal + nTest - nContaminatedDelta &&
        nRemoved == nReplacedBase + nContaminatedBase
  }

  /** Committed segments beyond which the next ingest folds the log
    * back to one segment per table before running. */
  val CompactAfterSegments = 16

  private def idxDir(outDir: String) = s"$outDir/index"
  private def stagingDir(outDir: String, key: String) =
    s"$outDir/delta_staging/batch=$key"
  private def markerPath(outDir: String, key: String) =
    new Path(s"$outDir/delta_markers/$key")

  private val LogTables =
    Seq("bands", "members", "keepers", "train_meta", "train_grams",
      "holdout_grams", "clean_delta")

  /** True once [[buildIndex]] has completed for this run dir. */
  def indexed(s: SparkSession, outDir: String): Boolean =
    CurationRun.exists(s, s"${idxDir(outDir)}/index_meta.parquet/_SUCCESS")

  // ---------------------------------------------------------------
  // segment log primitives
  // ---------------------------------------------------------------

  /** The consolidated marker map (one `key<TAB>seg` line per batch):
    * [[compact]] folds every single-file marker into it, so marker
    * reads stay O(batches since last compaction), not
    * O(batches ever) — the same keys-consolidation discipline the
    * SegmentLog indexes run. A 100 TB deployment ingesting
    * micro-batches would otherwise list and read tens of thousands of
    * one-line files on EVERY ingest.
    *
    * The map is VERSIONED (`_keys-<n>`; a bare `_keys` is the legacy
    * version 0): each compaction publishes the next version as a brand
    * new file (first-creation rename — atomic) and deletes older
    * versions only AFTER the publish. An overwrite-in-place of one
    * `_keys` file would be delete-then-rename under the small-file
    * writer — a crash between the two on a second-or-later compaction
    * would lose the ENTIRE replay map while its source singles were
    * already gone, shrinking committedSegs and letting the crash sweep
    * delete committed segment data. Readers take the highest version
    * present. */
  private def keysMapVersions(s: SparkSession, outDir: String): Seq[(Path, Long)] = {
    val root = new Path(s"$outDir/delta_markers")
    val f = fs(s, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n == "_keys") Some(st.getPath -> 0L)
      else if (n.startsWith("_keys-")) n.stripPrefix("_keys-").toLongOption.map(st.getPath -> _)
      else None
    }
  }

  private def readKeysMap(s: SparkSession, outDir: String): Map[String, Long] = {
    val versions = keysMapVersions(s, outDir)
    if (versions.isEmpty) return Map.empty
    val p = versions.maxBy(_._2)._1
    val txt =
      try SegmentLog.readSmallFile(s, p.toString)
      catch { case _: java.io.FileNotFoundException =>
        // lost a race with a compaction dropping a superseded version
        // between our listing and the read — the newest file is never
        // deleted, so one re-list settles it
        val again = keysMapVersions(s, outDir)
        if (again.isEmpty) return Map.empty
        SegmentLog.readSmallFile(s, again.maxBy(_._2)._1.toString)
      }
    txt.split('\n').iterator.map(_.trim).filter(_.nonEmpty).flatMap { line =>
      line.split('\t') match {
        case Array(k, v) if v.toLongOption.isDefined => Some(k -> v.toLong)
        case _ => throw new IllegalArgumentException(
          s"$p: garbled marker-map line '$line'")
      }
    }.toMap
  }

  /** Largest final_log segment already folded into the live `final/`
    * base (0 when the base predates any compaction). The record lives
    * INSIDE the base dir so the compaction swap publishes base and
    * epoch in one atomic rename. */
  private def foldedEpoch(s: SparkSession, outDir: String): Long = {
    val p = new Path(s"$outDir/final/_folded_max_seg")
    if (!fs(s, p).exists(p)) 0L
    else SegmentLog.readSmallFile(s, p.toString).toLong
  }

  /** Unconsolidated single-file markers (name = batch key, content =
    * segment). Dotfiles and `_`-prefixed names are never batch keys
    * ([[commitMarker]] refuses them), so the map file itself and
    * atomic-write temps are excluded structurally. */
  private def singleMarkers(s: SparkSession, outDir: String): Seq[(Path, Long)] = {
    val root = new Path(s"$outDir/delta_markers")
    val f = fs(s, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filterNot { st =>
        val n = st.getPath.getName; n.startsWith("_") || n.startsWith(".")
      }
      .flatMap(st =>
        SegmentLog.readSmallFile(s, st.getPath.toString).toLongOption.map(st.getPath -> _))
  }

  /** Segment numbers of COMMITTED batches (consolidated map + any
    * markers since the last compaction) — the visibility set for every
    * fold, plus seg 0 (the base index). */
  private[graft] def committedSegs(s: SparkSession, outDir: String): Set[Long] = {
    val segs = (readKeysMap(s, outDir).valuesIterator ++
      singleMarkers(s, outDir).iterator.map(_._2)).filter(_ > 0).toSet
    segs + 0L
  }

  /** All committed rows of an index log table (with their `seg`),
    * empty-safe ([[SegmentLog.readCommitted]]). `allowedSegs`: pass a
    * committed-segment snapshot to pin several reads to ONE commit
    * point (a concurrent ingest landing between two default-snapshot
    * reads would otherwise show each read a different index state);
    * None re-lists per read — fine inside the single-writer ingest,
    * wrong for multi-table readers. */
  private[graft] def readLog(
      s: SparkSession, outDir: String, table: String,
      schema: StructType, allowedSegs: Option[Set[Long]] = None): DataFrame =
    readCommitted(s, s"${idxDir(outDir)}/$table",
      allowedSegs.getOrElse(committedSegs(s, outDir)), schema)

  private[graft] val BandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bkey", StringType)))
  private val MembersSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster_id", LongType)))
  private val KeepersSchema = StructType(Seq(
    StructField("cluster_id", LongType), StructField("keeper_id", LongType),
    StructField("keeper_len", LongType)))
  private val MetaSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_grams", IntegerType),
    StructField("n_shared", LongType), StructField("dead", BooleanType)))
  private val GramsSchema = StructType(Seq(
    StructField("gh", LongType), StructField("doc_id", LongType)))
  private val HoldSchema = StructType(Seq(StructField("gh", LongType)))
  private val CleanSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  // the base run's manifest (CurationRun) and the two layout logs
  private val ManifestSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("split", StringType),
    StructField("source", StringType), StructField("n_chars", LongType),
    StructField("shard", IntegerType)))
  private val ManifestLogSchema = ManifestSchema.add("dead", BooleanType)
  // the final layout (`split`/`source` are the base dir's partition
  // columns) and its edit log
  private val FinalSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("n_chars", LongType),
    StructField("split", StringType), StructField("source", StringType)))
  private val FinalLogSchema = FinalSchema.add("dead", BooleanType)
  // fold payloads in each table's column order ([[SegmentLog.foldLatest]]
  // keys the struct on them, so the order fixes the tie-breaks)
  private val MemberFields = Seq("cluster_id")
  private val KeeperFields = Seq("keeper_id", "keeper_len")
  private val MetaFields = Seq("n_grams", "n_shared", "dead")
  private val ManifestFields = Seq("split", "source", "n_chars", "shard", "dead")

  /** The UNFOLDED manifest union (base run rows as seg 0 + the
    * committed increment log) — the one definition both [[readManifest]]
    * and [[explainDocs]] fold, so the audit path can never read a
    * different table shape than the serve path. `allowed` is the
    * caller's committed-segment snapshot (threaded, not re-listed, so a
    * multi-read caller sees ONE commit point). */
  private def manifestAll(s: SparkSession, outDir: String,
      allowed: Set[Long]): DataFrame = {
    val base = s.read.schema(ManifestSchema).parquet(s"$outDir/manifest.parquet")
      .withColumn("dead", lit(false)).withColumn("seg", lit(0L))
    committedLog(s, s"$outDir/manifest_log", allowed, ManifestLogSchema).fold(base)(log =>
      base.unionAll(log.select(("doc_id" +: ManifestFields :+ "seg").map(col): _*)))
  }

  /** The curated-layout manifest as of the last committed ingest: the
    * base run's manifest folded with the per-ingest increment log.
    * Works on a plain CurationRun dir too (no log → the base manifest). */
  def readManifest(s: SparkSession, outDir: String): DataFrame =
    foldLatest(manifestAll(s, outDir, committedSegs(s, outDir)), Seq("doc_id"),
      ManifestFields)

  private val FinalCols = FinalSchema.fieldNames.toSeq

  /** The curated FINAL layout (text included) as of the last committed
    * ingest — `final/` (the run's output, IMMUTABLE once written) plus
    * the `final_log/seg=<n>` edit increments each ingest commits
    * (appended docs live, removed docs tombstoned). This is the ONE
    * read path for the layout's documents; the base dir alone is stale
    * the moment an ingest lands.
    *
    * Scale shape: the base side never shuffles — the anti-join
    * subtracts only the log's DEAD ids (an appended id cannot exist in
    * the base: the ingest routes a colliding doc through the election,
    * never to an append, so live log rows need no base subtraction).
    * Dead ids are the REMOVALS since the last compaction — a small
    * fraction of any delta, broadcast-sized even when append-heavy
    * batches make the full touched-id set too big to broadcast (which
    * would otherwise flip the anti-join to a plan that shuffles the
    * base TEXT by doc_id). Only LOG rows go through the latest-wins
    * fold. A split/source predicate on the result pushes into the
    * partitioned base scan through the union and the anti-join, so
    * slice readers (export reads split=train) keep their partition
    * pruning. [[compact]] folds the log back into a fresh immutable
    * base — removals physically leave the corpus there, one bounded
    * rewrite per compaction instead of a partition rewrite per removal
    * batch. Works on a plain CurationRun dir (no log → the base).
    *
    * Crash window closed by the fold epoch: [[compact]] swaps in a base
    * that already CONTAINS the log's live rows, and only then deletes
    * `final_log` — between those two steps the dead-only anti-join
    * would return every appended doc twice (base copy + fold copy), and
    * a compact re-run would write the duplicates into the next base
    * permanently. The staged base therefore carries
    * `_folded_max_seg` (the largest segment folded into it, moved
    * atomically WITH the swap), and this reader ignores log segments at
    * or below it. Segment numbers are never reused (the replay map
    * pins every batch's segment forever), so a stale-looking epoch can
    * never mask a NEW segment.
    *
    * The base read passes its declared schema (partition columns
    * included), so building the frame runs no schema-inference job. */
  def readFinal(s: SparkSession, outDir: String): DataFrame =
    finalAt(s, outDir, committedSegs(s, outDir))

  /** [[readFinal]] as of the committed-segment snapshot `allowed`. */
  private def finalAt(s: SparkSession, outDir: String, allowed: Set[Long]): DataFrame = {
    val base = s.read.schema(FinalSchema).parquet(s"$outDir/final").select(FinalCols.map(col): _*)
    val epoch = foldedEpoch(s, outDir)
    committedLog(s, s"$outDir/final_log", allowed.filter(_ > epoch),
        FinalLogSchema).fold(base) { log =>
      // a dead row's id may also be log-APPENDED-then-removed (not in
      // base) — the anti-join is a no-op for those and the fold drops
      // their live rows, so dead-only stays exact for every history
      val deadIds = log.where(col("dead")).select("doc_id").distinct()
      base.join(deadIds, Seq("doc_id"), "left_anti")
        .unionAll(foldLatest(log, Seq("doc_id"), FinalCols.tail :+ "dead"))
    }
  }

  // ---------------------------------------------------------------
  // index build (seg=0 of every log table)
  // ---------------------------------------------------------------

  /** Build the delta-probe index from a COMPLETED run (report marker
    * required). Idempotent: gated by its own marker, written last. */
  def buildIndex(s: SparkSession, outDir: String): Unit = {
    require(CurationRun.exists(s, s"$outDir/report.parquet/_SUCCESS"),
      s"no completed CurationRun at $outDir")
    if (indexed(s, outDir)) return
    val idx = idxDir(outDir)
    val clean = s"$outDir/stage1_clean"
    val cleanDocs = s.read.parquet(s"$clean/documents.parquet")
    def seg0(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$idx/$table/seg=0")

    // (1) band index over EVERY gated base doc — matching must see the
    // docs stage-2 dropped too (a delta doc near-dupping a dropped
    // member belongs to that member's cluster in a from-scratch run)
    seg0(DedupQueries.minhashSigOf(s, cleanDocs)
      .select(col("doc_id"), posexplode(
        array(DedupQueries.MinhashBands.map(b => col(b._1)): _*))
        .as(Seq("band", "bkey"))), "bands")

    // (2) cluster membership + per-cluster keeper (id + length) of
    // every gated doc; singletons (absent from the CC output) map to
    // self at probe time via a left join. Same plans stage 2 ran. The
    // keeper lives in its OWN table keyed by cluster — a replacement
    // updates ONE row instead of rewriting every member's pointer.
    val pairs = DedupQueries.lshVerifiedPairs(s, clean).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val cc = DedupQueries.pointerJumpCC(
      DedupQueries.localUnionFindEdges(edges).localCheckpoint(true))
      .select("doc_id", "cluster_id").localCheckpoint(true)
    seg0(cc.select("doc_id", "cluster_id"), "members")
    val withLen = cc.join(cleanDocs.select("doc_id", "n_chars"), "doc_id")
    seg0(withLen.groupBy("cluster_id")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("cluster_id"), (-col("b.nd")).as("keeper_id"),
        col("b.n_chars").as("keeper_len")), "keepers")

    // (3) gram indexes over the stage-2 table — the decontamination
    // basis run() used: holdout = buckets >= 80, train = buckets < 80.
    val dedupedDocs = s.read.parquet(s"$outDir/stage2_deduped/documents.parquet")
      .withColumn("bucket", DedupQueries.splitBucket)
      .withColumn("gs", DedupQueries.gramHashes(8))
      .localCheckpoint(true)
    seg0(dedupedDocs.where(col("bucket") >= 80)
      .select(explode(col("gs")).as("gh")).distinct(), "holdout_grams")
    // only train SURVIVORS (docs still in final) carry postings: a doc
    // the base run already dropped can never be re-dropped
    val trainGrams = dedupedDocs.where(col("bucket") < 80)
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("gh"))
    val shared = trainGrams
      .join(dedupedDocs.where(col("bucket") >= 80)
        .select(explode(col("gs")).as("gh")).distinct(), "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val meta = dedupedDocs.where(col("bucket") < 80)
      .select(col("doc_id"), size(col("gs")).as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .where(col("n_shared") * 5 < col("n_grams"))
      .localCheckpoint(true)
    seg0(meta.withColumn("dead", lit(false)), "train_meta")
    seg0(trainGrams.join(meta.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("gh", "doc_id"), "train_grams")

    // marker last: its _SUCCESS proves every index table landed
    import s.implicits._
    Seq(("v2", 8)).toDF("version", "gram")
      .write.mode("overwrite").parquet(s"$idx/index_meta.parquet")
  }

  /** Query-time near-duplicate screening against the standing corpus —
    * the dedup twin of [[IvfMaintenance.knnQuery]]: for each input doc
    * (canonical schema), every committed corpus doc whose exact
    * word-shingle Jaccard reaches the ingest verification threshold
    * ([[DedupQueries.JaccardThreshold]]), found through the same band
    * index, combined-occupancy hot-bucket cap
    * ([[DedupQueries.HotBucketCap]]) and candidates-only verification
    * the ingest path runs — both call [[bandMatch]]. Matches are against
    * the GATED corpus the ingest path itself matches — including cluster
    * members later dropped from the final layout (that is the point: a
    * probe that collides with a dropped member IS a near-dup), and a
    * probe reusing a committed doc_id matches itself at jaccard 1.
    * Nothing is written.
    *
    * The input is query-sized by contract: it is collected to the
    * driver, and the probe runs there in exactly 3 Spark jobs — collect
    * the probe docs, then [[bandMatch]]'s two snapshot-pinned scans.
    * The spec holds the result equal to the band-probe + verification
    * Spark plans on the same input, duplicate input ids included.
    * Output: a local (doc_id, base_id, jaccard) frame. */
  def probeNearDups(s: SparkSession, docs: DataFrame, outDir: String): DataFrame = {
    require(indexed(s, outDir), s"buildIndex has not completed for $outDir")
    val in = docs.select(col("doc_id").cast(LongType), col("text"))
    val hits = bandMatch(s, outDir, committedSegs(s, outDir),
      signaturesOf(s, in.collect().toSeq, in.schema)).cross
    s.createDataFrame(hits.map { case (a, b, j) => Row(a, b, j) }.asJava, ProbeHitSchema)
  }

  /** The gated corpus every match reads text from, as of the
    * committed-segment snapshot `allowed`: the base run's stage-1 docs
    * plus each committed delta's clean segment, both immutable. */
  private[graft] def gatedCorpus(s: SparkSession, outDir: String,
      allowed: Set[Long]): DataFrame =
    s.read.schema(CleanSchema).parquet(s"$outDir/stage1_clean/documents.parquet")
      .unionAll(readLog(s, outDir, "clean_delta", CleanSchema, Some(allowed)).drop("seg"))

  private val ProbeHitSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("base_id", LongType),
    StructField("jaccard", DoubleType)))

  /** One doc row's signatures, as the ingest path computes them. */
  private final case class Signed(id: Long, shingles: Seq[String], bands: Seq[String])

  /** A verified near-duplicate pair: (doc_a, doc_b, jaccard). */
  private type Hit = (Long, Long, Double)

  private def seqOf[A](r: Row, i: Int): Seq[A] = Option(r.getSeq[A](i)).getOrElse(Nil)

  /** Signs collected `(doc_id: long, text, …)` rows on the driver: the
    * shared signature columns over a local relation, which the
    * optimizer evaluates in place (no job). */
  private def signaturesOf(s: SparkSession, rows: Seq[Row], schema: StructType): Seq[Signed] = {
    graft.functions.expr.TextExpressions.register(s)
    s.createDataFrame(rows.asJava, schema)
      .select(col("doc_id"), DedupQueries.shingleSet(col("text")),
        DedupQueries.minhashKeys(col("text")))
      .collect().toSeq.map(r => Signed(r.getLong(0), seqOf(r, 1), seqOf(r, 2)))
  }

  /** Per doc id, each shingle's count over that id's rows — the
    * multiset the Spark verification join counts (a row's shingles are
    * distinct, so only a duplicate id counts one above 1); its total is
    * the join's per-id shingle count. */
  private def shingleBags(signed: Seq[Signed]): Map[Long, Map[String, Long]] =
    signed.groupMap(_.id)(_.shingles).view
      .mapValues(_.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)).toMap

  /** What [[bandMatch]] found: verified probe-vs-committed hits, verified
    * pairs a < b within the probe, and the candidates' gated-corpus rows
    * (doc_id, text, n_chars). */
  private final case class BandMatch(cross: Seq[Hit], within: Seq[Hit], candRows: Array[Row])

  /** The band match [[probeNearDups]] and [[computeAndStage]] share, run
    * on the driver against ONE committed-segment snapshot `allowed` (a
    * concurrent ingest can never show a batch's bands without its text):
    *   - one column-pruned scan of the committed band rows in the probe
    *     rows' buckets;
    *   - the hot-bucket cap over the COMBINED probe + committed
    *     occupancy, as lshVerifiedPairs caps: a bucket holding more than
    *     [[DedupQueries.HotBucketCap]] rows pairs nothing;
    *   - one scan of the candidates' gated-corpus rows;
    *   - exact shingle-Jaccard >= [[DedupQueries.JaccardThreshold]] on
    *     the candidate pairs only. Shared shingles count as the join
    *     does, Σ count_a(s)·count_b(s), so duplicate ids weigh as rows. */
  private def bandMatch(s: SparkSession, outDir: String, allowed: Set[Long],
      probe: Seq[Signed]): BandMatch = {
    // probe band rows by bucket, one entry per row (duplicate ids count)
    val probeBuckets = probe.flatMap(p =>
      p.bands.zipWithIndex.map { case (k, b) => (b, k) -> p.id }).groupMap(_._1)(_._2)
    val committed = readLog(s, outDir, "bands", BandsSchema, Some(allowed))
      .where(col("bkey").isin(probeBuckets.keys.map(_._2).toSeq.distinct: _*))
      .select("band", "bkey", "doc_id").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).groupMap(_._1)(_._2)
    val live = probeBuckets.toSeq.flatMap { case (bucket, ids) =>
      val base = committed.getOrElse(bucket, Array.empty[Long])
      Option.when(ids.size + base.length <= DedupQueries.HotBucketCap)(ids -> base)
    }
    val cand = live.flatMap { case (ids, base) => for (a <- ids; b <- base) yield a -> b }.distinct
    val pairs = live.flatMap { case (ids, _) =>
      for (a <- ids; b <- ids if a < b) yield a -> b }.distinct
    val candDocs = gatedCorpus(s, outDir, allowed).select("doc_id", "text", "n_chars")
      .where(col("doc_id").isin(cand.map(_._2).distinct: _*))
    val candRows = candDocs.collect()
    val pBag = shingleBags(probe)
    val bBag = shingleBags(signaturesOf(s, candRows.toSeq, candDocs.schema))
    def verified(pairs: Seq[(Long, Long)], bagB: Map[Long, Map[String, Long]]): Seq[Hit] =
      pairs.flatMap { case (a, b) =>
        val (sa, sb) = (pBag.getOrElse(a, Map.empty[String, Long]),
          bagB.getOrElse(b, Map.empty[String, Long]))
        val shared = sa.iterator.map { case (sh, c) => c * sb.getOrElse(sh, 0L) }.sum
        // the join's arithmetic: a zero denominator is null there, no hit
        val den = sa.values.sum + sb.values.sum - shared
        val jaccard = shared.toDouble / den
        Option.when(den > 0 && jaccard >= DedupQueries.JaccardThreshold)((a, b, jaccard))
      }
    BandMatch(verified(cand, bBag), verified(pairs, pBag), candRows)
  }

  /** Per-doc curation audit off the PERSISTED index — "why is doc X in
    * (or out of) the corpus", answered without recomputing anything
    * (the recompute twin under the DuckDB oracle is the registry's
    * dedup_disposition). For each queried doc_id:
    *
    *   - `kept`: the doc is live in the folded manifest — `split`
    *     says where it serves (train/val/test).
    *   - `dup_dropped`: the doc entered the dedup graph and its
    *     cluster's CURRENT keeper is someone else — `keeper_id` names
    *     the doc that beat it (election replacements included: a base
    *     keeper later beaten by a delta doc reports the winner).
    *   - `decontaminated`: the doc was gated in and kept its own
    *     cluster, but is absent from the live layout — it was dropped
    *     by train decontamination (at the base run, at its own ingest,
    *     or retroactively by a later delta's holdout growth).
    *   - `not_indexed`: the index has no record — the doc was never
    *     ingested or failed the quality gate (gate failures are not
    *     indexed by design: the index is O(gated), not O(raw)).
    *
    * Scale shape: every table read is candidate-bounded BEFORE its
    * fold (the per-key latest-wins fold commutes with an id
    * predicate), so the work is O(|ids| × log segments) id-width
    * probes — the manifest/members/keepers scans are column-pruned to
    * ids and never touch text. Output: (doc_id, status, split,
    * keeper_id). */
  def explainDocs(s: SparkSession, ids: DataFrame, outDir: String): DataFrame = {
    require(indexed(s, outDir), s"buildIndex has not completed for $outDir")
    val q = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    // ONE committed-segment snapshot threads through every read below:
    // a concurrent ingest committing mid-call could otherwise show the
    // manifest an older state than the cluster index, yielding a status
    // true at NO commit point
    val allowed = committedSegs(s, outDir)
    // live manifest rows for the queried ids: bound base + log first,
    // then fold (readManifest folds the whole corpus — same fold, same
    // result on the bounded slice)
    val live = foldLatest(manifestAll(s, outDir, allowed)
        .join(q, Seq("doc_id"), "left_semi"), Seq("doc_id"), ManifestFields)
      .select(col("doc_id"), col("split"))
    // cluster membership + current keeper, candidate-bounded: only the
    // queried ids' member rows, only THEIR clusters' keeper rows
    val mem = foldLatest(readLog(s, outDir, "members", MembersSchema, Some(allowed))
        .join(q, Seq("doc_id"), "left_semi"), Seq("doc_id"), MemberFields)
    val keep = foldLatest(readLog(s, outDir, "keepers", KeepersSchema, Some(allowed))
        .join(mem.select("cluster_id"), Seq("cluster_id"), "left_semi"),
      Seq("cluster_id"), KeeperFields)
    val keeperOf = mem.join(keep, "cluster_id")
      .select(col("doc_id"), col("keeper_id"))
    // gated-corpus membership (ids only — column-pruned scans)
    val gated = gatedCorpus(s, outDir, allowed).select("doc_id")
      .join(q, Seq("doc_id"), "left_semi").distinct()
      .withColumn("g", lit(1))
    q.join(live, Seq("doc_id"), "left")
      .join(keeperOf, Seq("doc_id"), "left")
      .join(gated, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("split").isNotNull, lit("kept"))
          .when(col("keeper_id").isNotNull && col("keeper_id") =!= col("doc_id"),
            lit("dup_dropped"))
          .when(col("g").isNotNull, lit("decontaminated"))
          .otherwise(lit("not_indexed")).as("status"),
        col("split"),
        when(col("split").isNull &&
            col("keeper_id").isNotNull && col("keeper_id") =!= col("doc_id"),
          col("keeper_id")).as("keeper_id"))
  }

  // ---------------------------------------------------------------
  // streaming composition
  // ---------------------------------------------------------------

  /** Streaming composition — the live form of the daily-growth story:
    * a drop directory of JSON-lines files becomes per-micro-batch
    * [[ingestDelta]] calls against the curated layout. Each batch runs
    * the FULL incremental pipeline, so cross-drop duplicates are caught
    * by the index exactly like base-corpus ones. Replay semantics ride
    * the two-phase commit: a COMMITTED batchId is a no-op; a crash
    * mid-ingest resumes from the sealed staging (same decisions,
    * idempotent apply) or recomputes from clean inputs if staging never
    * sealed — either way the layout converges to the committed state,
    * with no duplicate window. Each trigger's batch is collected to the
    * driver once ([[ingestDelta]]), so `maxFilesPerTrigger` bounds the
    * driver's share; the index is read in candidate-bounded slices. */
  def streamInto(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema(graft.sources.TextIngest.rawSchema
        .add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inDir)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, batchId, outDir); ()
      }
      .start()
  }

  /** One micro-batch of [[streamInto]]: normalize through the
    * TextIngest contract, skip if this batchId committed (replay),
    * ingest, commit. Package-visible so the replay contract is
    * spec-testable without crashing a stream. */
  private[graft] def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      outDir: String): Option[DeltaReport] = {
    val key = s"batch-$batchId"
    if (committedSegOf(spark, outDir, key).isDefined) return None
    val delta = graft.sources.TextIngest.normalize(batch)
    if (delta.isEmpty) {
      commitMarker(spark, outDir, key, -1L)
      None
    } else Some(ingestKeyed(spark, delta, outDir, key))
  }

  // ---------------------------------------------------------------
  // two-phase ingest
  // ---------------------------------------------------------------

  /** Ingest one delta batch (canonical documents schema: doc_id, text,
    * lang, source, n_chars) into a completed + indexed run at outDir.
    * Returns the edit report; final layout, manifest log, and index
    * are updated through the write-ahead protocol described above.
    *
    * The delta is a micro-batch by contract: it is collected to the
    * driver ONCE and the edit set is computed there. The index is read
    * in candidate-bounded slices (the delta's band buckets, the
    * candidates' texts, the matched docs' members and keepers, the
    * delta's holdout grams, the train postings of new holdout grams,
    * the touched train_meta rows, the live ids of removal candidates),
    * all from ONE committed-segment snapshot; each staged table is one
    * write. */
  def ingestDelta(s: SparkSession, delta: DataFrame, outDir: String): DeltaReport = {
    require(indexed(s, outDir), s"buildIndex has not completed for $outDir")
    // direct calls have no caller-side replay identity (a retry is a
    // new ingest — and re-ingesting committed docs self-resolves: each
    // loses its election to its own committed copy), so the key only
    // needs uniqueness, not determinism
    ingestKeyed(s, delta, outDir, s"seq-${System.nanoTime()}")
  }

  private def nextSeg(s: SparkSession, outDir: String): Long =
    committedSegs(s, outDir).max + 1

  private[graft] def ingestKeyed(
      s: SparkSession, delta: DataFrame, outDir: String, key: String): DeltaReport = {
    require(indexed(s, outDir), s"buildIndex has not completed for $outDir")
    validateKey(key)
    val staging = stagingDir(outDir, key)
    val stagedMarker = new Path(s"$staging/_STAGED")
    val f = fs(s, stagedMarker)
    require(committedSegOf(s, outDir, key).isEmpty,
      s"batch $key already committed") // single marker OR consolidated map
    if (f.exists(stagedMarker)) {
      // crash happened mid-APPLY: re-apply the sealed decisions
      val (report, seg) = readStaged(s, outDir, key)
      applyStaged(s, outDir, key, seg)
      return report
    }
    // finish any OTHER batch that crashed mid-apply (its decisions are
    // sealed; the layout must converge to them before we read it), then
    // sweep unsealed leftovers so the compute phase reads exactly the
    // committed state
    resumeIncomplete(s, outDir)
    wipeUncommitted(s, outDir)
    // count only segments NOT yet folded into the base: committedSegs
    // keeps every batch ever (replay identity), so its raw size grows
    // monotonically and would trip this on EVERY ingest past the
    // threshold — a full base rewrite per micro-batch
    val epoch = foldedEpoch(s, outDir)
    if (committedSegs(s, outDir).count(_ > epoch) > CompactAfterSegments)
      compact(s, outDir)
    val seg = nextSeg(s, outDir)
    val report = computeAndStage(s, delta, outDir, key, seg)
    applyStaged(s, outDir, key, seg)
    report
  }

  /** Apply every sealed-but-uncommitted staging left by a crash. */
  private def resumeIncomplete(s: SparkSession, outDir: String): Unit = {
    val stRoot = new Path(s"$outDir/delta_staging")
    val f = fs(s, stRoot)
    if (!f.exists(stRoot)) return
    f.listStatus(stRoot).foreach { st =>
      val key = st.getPath.getName.stripPrefix("batch=")
      if (committedSegOf(s, outDir, key).isEmpty &&
          f.exists(new Path(st.getPath, "_STAGED")))
        applyStaged(s, outDir, key, readStaged(s, outDir, key)._2)
    }
  }

  /** Remove every on-disk artifact of batches that never committed:
    * segment dirs outside the committed set, `b<n>-` final-layout
    * files, manifest_log segments, and staging dirs (committed ones
    * too — those are post-commit leftovers). */
  private[graft] def wipeUncommitted(s: SparkSession, outDir: String): Unit = {
    SegmentLog.wipeUncommitted(s, committedSegs(s, outDir),
      LogTables.map(t => s"${idxDir(outDir)}/$t") ++
        Seq(s"$outDir/manifest_log", s"$outDir/final_log"))
    val stRoot = new Path(s"$outDir/delta_staging")
    val f = fs(s, stRoot)
    if (f.exists(stRoot)) f.listStatus(stRoot).foreach { st =>
      val key = st.getPath.getName.stripPrefix("batch=")
      val sealedP = new Path(st.getPath, "_STAGED")
      // keep SEALED uncommitted staging (a mid-apply crash resumes from
      // it through its own key); wipe unsealed or already-committed
      if (committedSegOf(s, outDir, key).isDefined || !f.exists(sealedP))
        f.delete(st.getPath, true)
    }
  }

  /** A sealed staging's report row: the batch's [[DeltaReport]] and
    * segment number, in [[DeltaReport]]'s field order. */
  private val ReportSchema = StructType(
    Seq("nDelta", "nQualityFail", "nDupDropped", "nReplacedBase", "nTrain", "nVal",
      "nTest", "nContaminatedDelta", "nContaminatedBase", "nAppended", "nRemoved", "seg")
      .map(StructField(_, LongType)))

  /** The sealed report of a staged batch (crash replay only: a batch
    * that stages and applies in one call already holds both). */
  private def readStaged(s: SparkSession, outDir: String, key: String): (DeltaReport, Long) = {
    val r = s.read.schema(ReportSchema).parquet(s"${stagingDir(outDir, key)}/report.parquet")
      .collect()(0)
    def g(i: Int) = r.getLong(i)
    (DeltaReport(g(0), g(1), g(2), g(3), g(4), g(5), g(6), g(7), g(8), g(9), g(10)), g(11))
  }

  /** The segment number a batch key committed (None if the batch never
    * committed) — the composition hook: a committed batch's manifest
    * increment lives at manifest_log/seg=<n>, which is exactly the
    * O(delta) list of rows it appended (live) and removed (dead). */
  private[graft] def committedSegOf(
      s: SparkSession, outDir: String, key: String): Option[Long] = {
    val p = markerPath(outDir, key)
    if (fs(s, p).exists(p)) SegmentLog.readSmallFile(s, p.toString).toLongOption
    else readKeysMap(s, outDir).get(key) // consolidated by a compact
  }

  /** The key becomes a marker FILENAME and a line in the consolidated
    * map — refuse the characters either representation cannot carry
    * (a "/" key would silently commit under a subdir no reader lists).
    * Checked at batch ENTRY too, so a bad key refuses before the
    * compute phase spends anything. */
  private def validateKey(key: String): Unit =
    require(key.nonEmpty && !key.startsWith("_") && !key.startsWith(".") &&
      !key.exists(c => c == '/' || c == '\t' || c == '\n' || c == '\r'),
      s"batch key '$key' is not marker-safe (no leading _/. and no / tab newline)")

  /** Published atomically ([[SegmentLog.writeSmallFile]]): a crash
    * mid-write never leaves a marker with a truncated segment number. */
  private def commitMarker(s: SparkSession, outDir: String, key: String, seg: Long): Unit = {
    validateKey(key)
    SegmentLog.writeSmallFile(s, markerPath(outDir, key).toString, seg.toString)
  }

  // ---------------------------------------------------------------
  // phase 1: compute the edit set and stage it
  // ---------------------------------------------------------------

  private[graft] def computeAndStage(
      s: SparkSession, delta: DataFrame, outDir: String, key: String,
      seg: Long): DeltaReport = {
    val staging = stagingDir(outDir, key)
    val stagingP = new Path(staging)
    val f = fs(s, stagingP)
    f.delete(stagingP, true) // partial previous attempt
    f.mkdirs(stagingP)
    f.create(new Path(s"$staging/_INTENT"), true).close()
    // every staged table is ONE write of a coalesced local frame
    def stage(rows: Iterable[Row], schema: StructType, name: String): Unit =
      s.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/$name")

    // ---- stage 1: collect the delta ONCE; quality gate (same rules as
    // the run), signatures, split bucket and 8-gram hashes over a local
    // relation, which the optimizer evaluates in place (no job) ----
    val rows = delta.collect()
    val gated = CurationRun.qualityGate(s.createDataFrame(rows.toSeq.asJava, delta.schema), s)
      .select(col("doc_id").cast(LongType), col("text"), col("lang"), col("source"),
        col("n_chars").cast(LongType), DedupQueries.shingleSet(col("text")),
        DedupQueries.minhashKeys(col("text")), DedupQueries.splitBucket,
        DedupQueries.gramHashes(8))
      .collect().toSeq
    def id(r: Row) = r.getLong(0)
    def len(r: Row) = r.getLong(4)
    def grams(r: Row) = seqOf[Long](r, 8)
    def split(r: Row) = r.getInt(7) match {
      case b if b < 80 => "train"
      case b if b < 90 => "val"
      case _ => "test"
    }
    // Everything this phase reads is IMMUTABLE for the batch's lifetime
    // (committed seg dirs, the base final/ and manifest; the apply phase
    // only ADDS seg dirs no snapshot lists). Every read below is pinned
    // to ONE committed-segment snapshot and bounded by the delta's keys.
    val allowed = committedSegs(s, outDir)
    def bounded(df: => DataFrame, keyCol: String, keys: Iterable[Long]): Array[Row] =
      if (keys.isEmpty) Array.empty
      else df.where(col(keyCol).isin(keys.toSeq.distinct: _*)).collect()
    def slice(table: String, schema: StructType, keyCol: String, keys: Iterable[Long]) =
      bounded(readLog(s, outDir, table, schema, Some(allowed)), keyCol, keys)

    // ---- stage 2a/2b: within-delta pairs and delta-vs-base matches ----
    val bm = bandMatch(s, outDir, allowed,
      gated.map(r => Signed(id(r), seqOf(r, 5), seqOf(r, 6))))
    // union-find over the within-delta pairs, labels = component min
    // (pointerJumpCC's labels); singletons keep their own id
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = parent.get(x).fold(x)(find)
    bm.within.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    // per delta cluster its best row: max(n_chars, ties to smaller id)
    val dBest = gated.groupBy(r => find(id(r))).view
      .mapValues(_.maxBy(r => (len(r), -id(r)))).toMap

    // ---- stage 2c: merged-cluster election ----
    // per delta cluster: the distinct base KEEPERS its members match. A
    // matched base doc resolves cluster through the members log and
    // keeper through the keepers log, both bounded to the match before
    // the fold. Docs absent from members are singletons → their own
    // keeper, length from the candidate read.
    val memberOf = latest(slice("members", MembersSchema, "doc_id", bm.cross.map(_._2)))
      .view.mapValues(_.getLong(1)).toMap
    val keeperOf = latest(slice("keepers", KeepersSchema, "cluster_id", memberOf.values))
      .view.mapValues(r => (r.getLong(1), r.getLong(2))).toMap
    val candLens = bm.candRows.groupMap(_.getLong(0))(_.getLong(2))
    // (dcid, k_cluster, k_id, k_len)
    val matched = bm.cross.flatMap { case (d, b, _) =>
      val k = memberOf.get(b).flatMap(keeperOf.get)
      candLens.getOrElse(b, Array.empty[Long]).map(self =>
        (find(d), memberOf.get(b), k.fold(b)(_._1), k.fold(self)(_._2)))
    }.distinct
    // election among {matched base keepers} ∪ {delta best}: winner =
    // max(n_chars, ties to smaller id) — the keep_best rule. From-
    // scratch equivalence: base keepers are the maxima of their
    // clusters and the delta best is the max of its cluster, so the
    // max over keepers IS the max over the merged membership.
    val baseBest = matched.groupMapReduce(_._1)(m => (m._4, -m._3))(Ordering[(Long, Long)].max)
    val wins = dBest.map { case (c, r) => c -> baseBest.get(c).forall((len(r), -id(r)) > _) }
    // kept delta docs: the cluster best, when the delta wins
    val keptIds = dBest.collect { case (c, r) if wins(c) => id(r) }.toSet
    val kept = gated.filter(r => keptIds(id(r)))
    // replaced base keepers: every matched keeper of a winning cluster,
    // as (doc_id, k_cluster, dcid)
    val replaced = matched.collect { case (c, cl, k, _) if wins(c) => (k, cl, c) }.distinct

    // ---- stage 3: split + two-sided decontamination ----
    val (train, hold) = kept.partition(split(_) == "train")
    // the holdout index bounded to the delta's grams — a multiset: the
    // join counts each of its rows
    val holdIdx = slice("holdout_grams", HoldSchema, "gh", kept.flatMap(grams))
      .groupMapReduce(_.getLong(0))(_ => 1L)(_ + _)
    val newHold = hold.flatMap(grams).distinct.filterNot(holdIdx.contains)
    val isNew = newHold.toSet
    // a gram's rows in the UNION holdout (old index + new grams)
    def unionHold(g: Long) = holdIdx.getOrElse(g, 0L) + (if (isNew(g)) 1L else 0L)
    // delta train vs the union holdout, grouped by (doc_id, n_grams)
    val dContam = train.groupMapReduce(r => (id(r), grams(r).size))(
      r => grams(r).map(unionHold).sum)(_ + _)
      .collect { case ((d, n), shared) if shared * 5 >= n => d }.toSeq
    // base train survivors vs the NEW holdout grams only (their shared
    // count against the old holdout is frozen in train_meta)
    val newShared = slice("train_grams", GramsSchema, "gh", newHold)
      .groupMapReduce(_.getLong(1))(_ => 1L)(_ + _)
    // the meta rows the increment touches, folded
    val metaCand = latest(slice("train_meta", MetaSchema, "doc_id", newShared.keys))
    val baseContam = metaCand.collect {
      case (d, m) if (m.getLong(2) + newShared(d)) * 5 >= m.getInt(1) => d }.toSet

    // ---- the final-layout edit set ----
    // a replaced keeper may not be IN final (the base run could have
    // dropped it as contaminated train): removals are counted against
    // what the layout actually holds — the FOLDED view (the base dir
    // alone would re-tombstone docs earlier batches already removed,
    // inflating nRemoved and the manifest's dead rows)
    val removed = bounded(finalAt(s, outDir, allowed).select("doc_id"), "doc_id",
      replaced.map(_._1) ++ baseContam).map(_.getLong(0)).distinct.toSeq
    val isRemoved = removed.toSet
    val appendRows = kept.filterNot(r => dContam.contains(id(r)))

    // ---- the index edit set (one segment per table) ----
    // EVERY gated delta doc joins the matching corpus (clean text +
    // band index + membership), not just the kept ones: a future delta
    // doc may near-dup a DROPPED member of a cluster without colliding
    // with its keeper, and from-scratch semantics route it through that
    // member.
    // keeper updates: (1) every delta cluster's elected winner — for a
    // LOSING cluster that is the base keeper it lost to, redirected
    // through this ingest's replacements (the winner W that replaced
    // keeper K satisfies W > K > losing-best in the (len, -id) order,
    // so the redirect preserves the election); (2) every replaced base
    // CLUSTER re-pointed at the winner that beat its keeper; (3) a
    // replaced SINGLETON (no cluster row) instead joins the winning
    // delta cluster through a members row — exactly where from-scratch
    // would put it.
    // per replaced keeper: (new keeper len, -new keeper id, its dcid)
    val winners = replaced.groupMapReduce(_._1) { case (_, _, c) =>
      (len(dBest(c)), -id(dBest(c)), c) }(Ordering[(Long, Long, Long)].max)
    val keepersSeg = dBest.toSeq.map { case (c, r) =>
      val (kLen, kNegId) =
        if (wins(c)) (len(r), -id(r))
        else winners.get(-baseBest(c)._2).fold(baseBest(c))(w => (w._1, w._2))
      Row(c, -kNegId, kLen)
    } ++ replaced.collect { case (k, Some(cl), _) =>
      (cl, -winners(k)._2, winners(k)._1) }.distinct.map(Row.fromTuple)
    // the same singleton can be matched by several winning clusters
    val singletonMembers = replaced.collect { case (k, None, _) => (k, winners(k)._3) }.distinct
    val newTrain = train.filterNot(r => dContam.contains(id(r)))
    val newTrainShared = newTrain.groupMapReduce(id)(r => grams(r).map(unionHold).sum)(_ + _)
    // the shard modulus is the BASE run's recorded layout (CurationRun
    // `_layout`), never a literal: a delta routed mod 16 into a 64-shard
    // manifest would silently desync loader-side shard pruning
    val manifestShards = CurationRun.layoutShards(s, outDir)

    // ---- stage everything, seal, report ----
    stage(gated.map(r => Row(id(r), r(1), r(2), r(3), len(r))), CleanSchema, "clean")
    stage(gated.flatMap(r => seqOf[String](r, 6).zipWithIndex.map { case (k, b) =>
      Row(id(r), b, k) }), BandsSchema, "bands")
    stage(gated.map(r => Row(id(r), find(id(r)))) ++ singletonMembers.map(Row.fromTuple),
      MembersSchema, "members")
    stage(keepersSeg, KeepersSchema, "keepers")
    // train_meta increment: cumulative rows for base docs the new
    // holdout touched, tombstones for removed docs, fresh rows for the
    // delta's surviving train docs
    stage(metaCand.toSeq.collect { case (d, m) if !isRemoved(d) =>
        Row(d, m.getInt(1), m.getLong(2) + newShared(d), false) } ++
      removed.map(d => Row(d, 0, 0L, true)) ++
      newTrain.map(r => Row(id(r), grams(r).size, newTrainShared(id(r)), false)),
      MetaSchema, "train_meta")
    stage(newTrain.flatMap(r => grams(r).map(g => Row(g, id(r)))), GramsSchema, "train_grams")
    stage(newHold.map(Row(_)), HoldSchema, "holdout_grams")
    stage(appendRows.map(r => Row(id(r), split(r), r(3), len(r),
        (id(r) % 1000003L * 2654435761L % manifestShards).toInt, false)) ++
      removed.map(d => Row(d, "", "", 0L, 0, true)), ManifestLogSchema, "manifest_inc")
    // the final-layout edit increment: one O(delta) segment — appends
    // live, removals tombstoned (their payload columns never matter:
    // the fold drops dead rows and the reader's anti-join works on ids)
    stage(appendRows.map(r => Row(id(r), r(1), r(2), len(r), split(r), r(3), false)) ++
      removed.map(d => Row(d, null, null, 0L, null, null, true)), FinalLogSchema, "final_inc")
    // the report's counters come from the driver's collections
    val report = DeltaReport(
      nDelta = rows.length,
      nQualityFail = rows.length - gated.size,
      nDupDropped = gated.size - kept.size,
      nReplacedBase = removed.count(!baseContam(_)),
      nTrain = train.size,
      nVal = hold.count(split(_) == "val"),
      nTest = hold.count(split(_) == "test"),
      nContaminatedDelta = dContam.size,
      nContaminatedBase = baseContam.size,
      nAppended = appendRows.size,
      nRemoved = removed.size)
    stage(Seq(Row.fromSeq(report.productIterator.toSeq :+ seg)), ReportSchema, "report.parquet")
    f.create(new Path(s"$staging/_STAGED"), true).close()
    report
  }

  /** [[SegmentLog.foldLatest]] on the driver, for a key-bounded read of
    * a log table's `(key, fields…, seg)` rows: per key the max of
    * (seg, fields…) in column order wins, and a winning tombstone
    * (`dead`) drops. */
  private def latest(rows: Array[Row]): Map[Long, Row] = {
    def cmp(a: Row, b: Row) = ((a.length - 1) +: (1 until a.length - 1)).iterator
      .map(i => a.getAs[Comparable[Any]](i).compareTo(b.get(i))).find(_ != 0).getOrElse(0)
    rows.groupBy(_.getLong(0)).view.mapValues(_.reduce((a, b) => if (cmp(a, b) >= 0) a else b))
      .filterNot { case (_, r) => r.schema.fieldNames.contains("dead") && r.getAs[Boolean]("dead") }
      .toMap
  }

  // ---------------------------------------------------------------
  // phase 2: apply the sealed edit set (idempotent)
  // ---------------------------------------------------------------

  private[graft] def applyStaged(s: SparkSession, outDir: String, key: String,
      seg: Long): Unit = {
    applyEdits(s, outDir, key, seg)
    commitMarker(s, outDir, key, seg)
    val staging = new Path(stagingDir(outDir, key))
    fs(s, staging).delete(staging, true)
  }

  /** Everything [[applyStaged]] does EXCEPT the commit marker and the
    * staging cleanup — split out so the crash-replay spec can stop a
    * batch exactly between its last layout edit and its commit. */
  private[graft] def applyEdits(s: SparkSession, outDir: String, key: String,
      seg: Long): Unit = {
    val staging = stagingDir(outDir, key)
    require(CurationRun.exists(s, s"$staging/_STAGED"), s"staging for $key not sealed")
    val idx = idxDir(outDir)

    // (1) index + manifest segments: move staged tables into seg
    // position; a sealed segment (its _SUCCESS) is skipped on replay
    val stagedName = Map(
      "bands" -> "bands", "members" -> "members", "keepers" -> "keepers",
      "train_meta" -> "train_meta", "train_grams" -> "train_grams",
      "holdout_grams" -> "holdout_grams", "clean_delta" -> "clean")
    for (t <- LogTables) {
      val target = new Path(s"$idx/$t/seg=$seg")
      placeSegment(s, new Path(s"$staging/${stagedName(t)}"), target)
    }
    placeSegment(s, new Path(s"$staging/manifest_inc"),
      new Path(s"$outDir/manifest_log/seg=$seg"))
    // (2) final-layout edits: ONE placed increment, exactly like every
    // other table — the base `final/` dir is never mutated (appends and
    // removals live in final_log until compaction folds them in), so
    // the apply phase has no partition rewrite, no rename-appends, and
    // no FileStatusCache hazard, and every frame the compute phase read
    // stays immutably readable throughout.
    placeSegment(s, new Path(s"$staging/final_inc"),
      new Path(s"$outDir/final_log/seg=$seg"))
  }

  /** Move a staged table dir into its segment position. Idempotent:
    * a target sealed by _SUCCESS is left alone; a partial target is
    * replaced. Rename is checked — a silent false would corrupt the
    * index. */
  private def placeSegment(s: SparkSession, staged: Path, target: Path): Unit = {
    val f = fs(s, target)
    if (f.exists(new Path(target, "_SUCCESS"))) { // already placed (replay)
      f.delete(staged, true)
      return
    }
    // the staged dir carries its writer's _SUCCESS and moves by ONE
    // atomic rename, so "staged consumed but target unsealed" cannot
    // arise — if it does, state is corrupt and we must not guess
    require(f.exists(staged),
      s"segment $target lost both staged and applied copies")
    if (f.exists(target)) f.delete(target, true) // partial leftover
    f.mkdirs(target.getParent)
    if (!f.rename(staged, target))
      throw new java.io.IOException(s"placeSegment: rename $staged -> $target failed")
  }

  // ---------------------------------------------------------------
  // compaction
  // ---------------------------------------------------------------

  /** Fold every log table back to a single segment (and the manifest
    * log into the base manifest). Crash-safe per table: the folded copy
    * is staged, then swapped in with the rename-aside dance — no
    * instant leaves a table missing. Run on the housekeeping cadence of
    * the deployment; [[ingestDelta]] self-triggers past
    * [[CompactAfterSegments]] committed segments. Single-writer, like
    * ingest itself. */
  def compact(s: SparkSession, outDir: String): Unit = {
    resumeIncomplete(s, outDir)
    wipeUncommitted(s, outDir)
    val idx = idxDir(outDir)
    def rewrite(root: String, df: DataFrame): Unit = SegmentLog.swapDir(s,
      SegmentLog.stageCompaction(s, root, 0L)(df.write.mode("overwrite").parquet), root)
    // folded tables: latest row per key survives (and drops its seg)
    rewrite(s"$idx/keepers",
      foldLatest(readLog(s, outDir, "keepers", KeepersSchema), Seq("cluster_id"),
        KeeperFields).localCheckpoint(true))
    rewrite(s"$idx/train_meta",
      foldLatest(readLog(s, outDir, "train_meta", MetaSchema), Seq("doc_id"),
        MetaFields).withColumn("dead", lit(false)).localCheckpoint(true))
    // append-only tables: concatenate segments
    for ((t, schema) <- Seq(("bands", BandsSchema), ("members", MembersSchema),
        ("train_grams", GramsSchema), ("holdout_grams", HoldSchema),
        ("clean_delta", CleanSchema)))
      rewrite(s"$idx/$t",
        readLog(s, outDir, t, schema).drop("seg").localCheckpoint(true))
    // manifest: fold the log into a fresh base manifest, then drop the log
    val manifest = readManifest(s, outDir).localCheckpoint(true)
    SegmentLog.swapDir(s, SegmentLog.stageTable(s, s"$outDir/manifest.parquet")(
      manifest.write.mode("overwrite").parquet), s"$outDir/manifest.parquet")
    val mlog = new Path(s"$outDir/manifest_log")
    fs(s, mlog).delete(mlog, true)
    // final layout: fold the edit log into a fresh IMMUTABLE base —
    // this is where removals physically leave the corpus (one bounded
    // rewrite per compaction, not a partition rewrite per removal
    // batch). The staged write reads the live base + log and lands in
    // a sibling dir, so no source byte moves until the swap. The
    // staged base carries `_folded_max_seg` — the largest log segment
    // folded into it — so the swap atomically tells readFinal to stop
    // consulting those segments; a crash after the swap but before the
    // log delete is then invisible (the stale segments are epoch-
    // filtered, not double-counted), and a compact re-run folds a base
    // that is already complete. This is the ONE place the corpus text
    // shuffles (the (split, source) re-layout) — per compaction, never
    // per ingest.
    // epoch = max over ALL committed segs at the fold snapshot (not
    // just the ones with final edits): a committed batch with no final
    // edit has no final_log dir to filter, but it must still stop
    // counting toward the compaction trigger once folded
    val priorEpoch = foldedEpoch(s, outDir)
    val foldedMax = (committedSegs(s, outDir) + priorEpoch).max
    val finalStaged = SegmentLog.stageTable(s, s"$outDir/final") { staged =>
      readFinal(s, outDir)
        .repartition(col("split"), col("source"))
        .sortWithinPartitions("split", "source", "doc_id")
        .write.mode("overwrite").partitionBy("split", "source")
        .parquet(staged)
      SegmentLog.writeSmallFile(s, s"$staged/_folded_max_seg", foldedMax.toString)
    }
    SegmentLog.swapDir(s, finalStaged, s"$outDir/final")
    val flog = new Path(s"$outDir/final_log")
    fs(s, flog).delete(flog, true)
    // marker consolidation: fold every single-file marker into the
    // _keys map (key<TAB>seg) and drop the singles — replay identity
    // (committedSegOf) survives forever while marker reads stay
    // O(batches since last compaction), not O(batches ever). Crash
    // windows converge: the map lands atomically FIRST as a brand-new
    // VERSION file (first-creation rename — never delete-then-rename
    // over the live map) carrying a superset, so a crash at any point
    // leaves either the old version intact or both (readers take the
    // highest); superseded versions and singles are dropped only after
    // the publish, and a crash mid-delete leaves a harmless union the
    // next compaction re-folds.
    val singles = singleMarkers(s, outDir)
    if (singles.nonEmpty) {
      val all = readKeysMap(s, outDir) ++
        singles.map { case (p, seg) => p.getName -> seg }
      val versions = keysMapVersions(s, outDir)
      val newVer = (versions.map(_._2) :+ 0L).max + 1
      SegmentLog.writeSmallFile(s, s"$outDir/delta_markers/_keys-$newVer",
        all.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n"))
      val f = fs(s, new Path(s"$outDir/delta_markers"))
      versions.foreach { case (p, _) => f.delete(p, false) }
      singles.foreach { case (p, _) => f.delete(p, false) }
    }
  }
}
