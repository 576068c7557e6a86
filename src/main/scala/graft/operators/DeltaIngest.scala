package graft.operators

import graft.queries.DedupQueries
import graft.operators.SegmentLog.{fs, presentSegs}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  *   - COMPUTE+STAGE: a pure read phase (every shared frame
  *     localCheckpoint'd) computes the full edit set and writes it to
  *     `delta_staging/batch=<key>/`, sealed by a `_STAGED` marker.
  *     Nothing the phase reads is mutated, so a crash here loses
  *     nothing: the replay wipes the partial staging and recomputes
  *     from identical inputs.
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
  * Scale shape: every per-delta stage is keyed on the delta or on
  * candidate-bounded probes; index scans are column-pruned id/hash
  * passes, never the corpus text; folds that could be index-sized
  * (keepers, train_meta) are applied AFTER candidate-bounding — the
  * key-filter commutes with the per-key fold — so no per-ingest
  * shuffle scales with the corpus.
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

  /** All committed rows of a log table (with their `seg`), empty-safe.
    * Reads only the allowed segment dirs, so an uncommitted (crashed)
    * segment is invisible — snapshot isolation on bare parquet. */
  /** `allowedSegs`: pass a committed-segment snapshot to pin several
    * reads to ONE commit point (a concurrent ingest landing between two
    * default-snapshot reads would otherwise show each read a different
    * index state); None re-lists per read — fine inside the
    * single-writer ingest, wrong for multi-table readers. */
  private[graft] def readLog(
      s: SparkSession, outDir: String, table: String,
      schema: StructType, allowedSegs: Option[Set[Long]] = None): DataFrame = {
    val root = s"${idxDir(outDir)}/$table"
    val allowed = allowedSegs.getOrElse(committedSegs(s, outDir))
    val segs = presentSegs(s, root).filter(allowed)
    if (segs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema.add("seg", LongType))
    else
      s.read.option("basePath", root)
        .parquet(segs.map(n => s"$root/seg=$n"): _*)
        .withColumn("seg", col("seg").cast("long"))
  }

  /** Latest row per key across segments; tombstones (`dead`) drop. The
    * fold COMMUTES with any key-predicate, so callers bound first (a
    * candidate semi-join), fold the survivors — never an index-sized
    * shuffle. */
  private[graft] def foldLog(df: DataFrame, key: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(c => key.contains(c) || c == "seg").toSeq
    val folded = df
      .groupBy(key.map(col): _*)
      .agg(max(struct((col("seg") +: payload.map(col)): _*)).as("b"))
      .select((key.map(col) ++ payload.map(p => col(s"b.$p").as(p))): _*)
    if (folded.columns.contains("dead")) folded.where(!col("dead")).drop("dead")
    else folded
  }

  private val BandsSchema = StructType(Seq(
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

  /** The UNFOLDED manifest union (base run rows as seg 0 + the
    * committed increment log) — the one definition both [[readManifest]]
    * and [[explainDocs]] fold, so the audit path can never read a
    * different table shape than the serve path. `allowed` is the
    * caller's committed-segment snapshot (threaded, not re-listed, so a
    * multi-read caller sees ONE commit point). */
  private def manifestAll(s: SparkSession, outDir: String,
      allowed: Set[Long]): DataFrame = {
    val base = s.read.parquet(s"$outDir/manifest.parquet")
      .select(col("doc_id"), col("split"), col("source"), col("n_chars"),
        col("shard"))
      .withColumn("dead", lit(false)).withColumn("seg", lit(0L))
    val root = s"$outDir/manifest_log"
    val segs = presentSegs(s, root).filter(allowed)
    if (segs.isEmpty) base
    else base.unionAll(
      s.read.option("basePath", root)
        .parquet(segs.map(n => s"$root/seg=$n"): _*)
        .withColumn("seg", col("seg").cast("long"))
        .select("doc_id", "split", "source", "n_chars", "shard", "dead", "seg"))
  }

  /** The curated-layout manifest as of the last committed ingest: the
    * base run's manifest folded with the per-ingest increment log.
    * Works on a plain CurationRun dir too (no log → the base manifest). */
  def readManifest(s: SparkSession, outDir: String): DataFrame =
    foldLog(manifestAll(s, outDir, committedSegs(s, outDir)), Seq("doc_id"))
      .select("doc_id", "split", "source", "n_chars", "shard")

  private val FinalCols = Seq("doc_id", "text", "lang", "n_chars", "split", "source")

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
    * never mask a NEW segment. */
  def readFinal(s: SparkSession, outDir: String): DataFrame = {
    val base = s.read.parquet(s"$outDir/final").select(FinalCols.map(col): _*)
    val root = s"$outDir/final_log"
    val epoch = foldedEpoch(s, outDir)
    val committed = committedSegs(s, outDir)
    val segs = presentSegs(s, root).filter(n => n > epoch && committed(n))
    if (segs.isEmpty) base
    else {
      val log = s.read.option("basePath", root)
        .parquet(segs.map(n => s"$root/seg=$n"): _*)
        .withColumn("seg", col("seg").cast("long"))
      // a dead row's id may also be log-APPENDED-then-removed (not in
      // base) — the anti-join is a no-op for those and the fold drops
      // their live rows, so dead-only stays exact for every history
      val deadIds = log.where(col("dead")).select("doc_id").distinct()
      base.join(deadIds, Seq("doc_id"), "left_anti")
        .unionAll(foldLog(log, Seq("doc_id")).select(FinalCols.map(col): _*))
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
    * (>= 0.3), found through the SAME band index + combined-occupancy
    * hot-bucket cap + candidates-only verification the ingest path
    * runs — literally the same code: [[baseProbe]] + [[verifiedJaccard]]
    * are one definition shared with [[computeAndStage]]'s stage 2a/2b,
    * so screening and ingest cannot drift. Nothing is written; corpus
    * text is
    * read candidate-bounded, never scanned. Matches are against the
    * GATED corpus the ingest path itself matches — including cluster
    * members later dropped from the final layout (that is the point:
    * a probe that collides with a dropped member IS a near-dup), and
    * a probe reusing a committed doc_id matches itself at jaccard 1.
    * Output: (doc_id, base_id, jaccard). */
  def probeNearDups(s: SparkSession, docs: DataFrame, outDir: String): DataFrame = {
    require(indexed(s, outDir), s"buildIndex has not completed for $outDir")
    val d = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .localCheckpoint(true)
    val bp = baseProbe(s, d, outDir)
    verifiedJaccard(
      bp.xCand.select(col("delta_id").as("doc_a"), col("base_id").as("doc_b")),
      bp.dShingles, bp.bShingles, bp.dCnt, bp.bCnt)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("base_id"),
        col("jaccard"))
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
    val live = foldLog(manifestAll(s, outDir, allowed)
        .join(q, Seq("doc_id"), "left_semi"), Seq("doc_id"))
      .select(col("doc_id"), col("split"))
    // cluster membership + current keeper, candidate-bounded: only the
    // queried ids' member rows, only THEIR clusters' keeper rows
    val mem = foldLog(readLog(s, outDir, "members", MembersSchema, Some(allowed))
        .join(q, Seq("doc_id"), "left_semi"), Seq("doc_id"))
    val keep = foldLog(readLog(s, outDir, "keepers", KeepersSchema, Some(allowed))
        .join(mem.select("cluster_id"), Seq("cluster_id"), "left_semi"),
      Seq("cluster_id"))
    val keeperOf = mem.join(keep, "cluster_id")
      .select(col("doc_id"), col("keeper_id"))
    // gated-corpus membership (ids only — column-pruned scans)
    val gated = s.read.parquet(s"$outDir/stage1_clean/documents.parquet")
      .select("doc_id")
      .unionAll(readLog(s, outDir, "clean_delta", CleanSchema, Some(allowed))
        .select("doc_id"))
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

  /** The shared band-probe pipeline behind [[computeAndStage]]'s stage
    * 2a/2b and [[probeNearDups]] — ONE definition, so query-time
    * screening and ingest-time dedup cannot drift:
    *   - the input docs' shingles, counts, and LSH band rows;
    *   - `dProbe`: band rows after the hot-bucket cap, mirroring
    *     lshVerifiedPairs (capN=100) over the COMBINED input+base
    *     occupancy — counted candidate-bounded (the base side is
    *     semi-joined to the input's bucket keys first). The UNFILTERED
    *     `dBands` still feeds occupancy and the ingest's index segment;
    *   - `xCand`: (delta_id, base_id) banded candidates vs the index;
    *   - `baseCandDocs`/`bShingles`/`bCnt`: base text read ONLY for the
    *     candidate ids — from the base run's stage-1 table plus every
    *     committed delta's clean segment (immutable forever). */
  private final case class BaseProbe(
      dShingles: DataFrame, dCnt: DataFrame, dBands: DataFrame,
      dProbe: DataFrame, xCand: DataFrame, baseCandDocs: DataFrame,
      bShingles: DataFrame, bCnt: DataFrame)

  private def baseProbe(s: SparkSession, docs: DataFrame, outDir: String): BaseProbe = {
    val dShingles = DedupQueries.shinglesOf(s, docs).localCheckpoint(true)
    val dCnt = dShingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dBands = DedupQueries.minhashSigOf(s, docs)
      .select(col("doc_id"), posexplode(
        array(DedupQueries.MinhashBands.map(b => col(b._1)): _*))
        .as(Seq("band", "bkey")))
      .localCheckpoint(true)
    val capN = 100
    val baseBandsIdx = readLog(s, outDir, "bands", BandsSchema)
      .select("doc_id", "band", "bkey")
    val deltaBuckets = dBands.select("band", "bkey").distinct()
    val baseOcc = baseBandsIdx.join(deltaBuckets, Seq("band", "bkey"), "left_semi")
      .groupBy("band", "bkey").agg(count(lit(1)).as("n_base"))
    val hotBuckets = dBands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("n_delta"))
      .join(baseOcc, Seq("band", "bkey"), "left")
      .where(col("n_delta") + coalesce(col("n_base"), lit(0L)) > capN)
      .select("band", "bkey")
    val dProbe = dBands.join(broadcast(hotBuckets), Seq("band", "bkey"), "left_anti")
      .localCheckpoint(true)
    val xCand = dProbe
      .join(baseBandsIdx
          .select(col("band"), col("bkey"), col("doc_id").as("base_id")),
        Seq("band", "bkey"))
      .select(col("doc_id").as("delta_id"), col("base_id")).distinct()
      .localCheckpoint(true)
    val matchCorpus = s.read
      .parquet(s"$outDir/stage1_clean/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionAll(readLog(s, outDir, "clean_delta", CleanSchema)
        .select("doc_id", "text", "lang", "source", "n_chars"))
    val baseCandDocs = matchCorpus
      .join(xCand.select(col("base_id").as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      .localCheckpoint(true)
    val bShingles = DedupQueries.shinglesOf(s, baseCandDocs).localCheckpoint(true)
    val bCnt = bShingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
    BaseProbe(dShingles, dCnt, dBands, dProbe, xCand, baseCandDocs,
      bShingles, bCnt)
  }

  /** Exact shingle-Jaccard >= 0.3 on candidates only — the
    * lshVerifiedPairs predicate, verbatim; the single verification
    * rule both the ingest elections and probeNearDups apply.
    * Output: (doc_a, doc_b, jaccard). */
  private def verifiedJaccard(cand: DataFrame, shA: DataFrame, shB: DataFrame,
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
      .where(col("jaccard") >= 0.3)

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
    * with no duplicate window. */
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
    * are updated through the write-ahead protocol described above. */
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
      val report = readStagedReport(s, outDir, key).get
      applyStaged(s, outDir, key)
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
    applyStaged(s, outDir, key)
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
        applyStaged(s, outDir, key)
    }
  }

  /** Remove every on-disk artifact of batches that never committed:
    * segment dirs outside the committed set, `b<n>-` final-layout
    * files, manifest_log segments, and staging dirs (committed ones
    * too — those are post-commit leftovers). */
  private[graft] def wipeUncommitted(s: SparkSession, outDir: String): Unit = {
    val allowed = committedSegs(s, outDir)
    val idx = idxDir(outDir)
    for (t <- LogTables; n <- presentSegs(s, s"$idx/$t") if !allowed(n)) {
      val p = new Path(s"$idx/$t/seg=$n"); fs(s, p).delete(p, true)
    }
    for (root <- Seq(s"$outDir/manifest_log", s"$outDir/final_log");
        n <- presentSegs(s, root) if !allowed(n)) {
      val p = new Path(s"$root/seg=$n"); fs(s, p).delete(p, true)
    }
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

  private def readStagedReport(
      s: SparkSession, outDir: String, key: String): Option[DeltaReport] = {
    val p = s"${stagingDir(outDir, key)}/report.parquet"
    if (!CurationRun.exists(s, s"$p/_SUCCESS")) None
    else {
      val r = s.read.parquet(p).collect()(0)
      def g(n: String) = r.getAs[Long](n)
      Some(DeltaReport(g("nDelta"), g("nQualityFail"), g("nDupDropped"),
        g("nReplacedBase"), g("nTrain"), g("nVal"), g("nTest"),
        g("nContaminatedDelta"), g("nContaminatedBase"), g("nAppended"),
        g("nRemoved")))
    }
  }

  private def stagedSeg(s: SparkSession, outDir: String, key: String): Long =
    s.read.parquet(s"${stagingDir(outDir, key)}/report.parquet")
      .collect()(0).getAs[Long]("seg")

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
    def stage(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$staging/$name")

    // ---- stage 1: quality gate (row-local, same rules as the run) ----
    // Since the final_log conversion, everything this phase reads is
    // IMMUTABLE for the batch's whole lifetime (committed seg dirs, the
    // base final/ and manifest; the apply phase only ADDS seg dirs that
    // no pinned read lists), so the localCheckpoints below are no
    // longer correctness guards — they remain on the multi-consumer
    // frames purely as recompute economy: each feeds 2-5 downstream
    // joins, and materializing once beats re-running the LSH prefix
    // per consumer. Single-consumer frames stay lazy.
    val gated = CurationRun.qualityGate(delta, s).localCheckpoint(true)

    // ---- stage 2a: within-delta near-dedup (same LSH + CC plans) ----
    // the band probe + hot-cap + candidate-bounded base inputs are the
    // SHARED pipeline (one definition with probeNearDups, which screens
    // query docs through exactly these semantics)
    val bp = baseProbe(s, gated, outDir)
    val dShingles = bp.dShingles
    val dCnt = bp.dCnt
    val dBands = bp.dBands
    val dProbe = bp.dProbe
    val dCand = dProbe.as("a").join(dProbe.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val dPairs = verifiedJaccard(dCand, dShingles, dShingles, dCnt, dCnt)
      .select("doc_a", "doc_b")
    val dEdges = dPairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(dPairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // delta cluster id per delta doc; singletons = own id
    val dCC = DedupQueries.pointerJumpCC(
        DedupQueries.localUnionFindEdges(dEdges).localCheckpoint(true))
      .select("doc_id", "cluster_id")
    val dClusters = gated.select("doc_id", "n_chars")
      .join(dCC, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cluster_id"), col("doc_id")).as("dcid"))
      .localCheckpoint(true)
    val dBest = dClusters.groupBy("dcid")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("b"))
      .select(col("dcid"), (-col("b.nd")).as("d_best_id"),
        col("b.n_chars").as("d_best_len"))

    // ---- stage 2b: delta-vs-base matching (candidate-bounded) ----
    val xCand = bp.xCand
    val baseCandDocs = bp.baseCandDocs
    val xPairs = verifiedJaccard(
      xCand.select(col("delta_id").as("doc_a"), col("base_id").as("doc_b")),
      dShingles, bp.bShingles, dCnt, bp.bCnt)
      .select(col("doc_a").as("delta_id"), col("doc_b").as("base_id"))

    // ---- stage 2c: merged-cluster election ----
    // per delta cluster: the distinct base KEEPERS its members match.
    // A matched base doc resolves cluster through the members log and
    // keeper through the keepers log — both folded AFTER candidate
    // bounding (fold commutes with key predicates), so neither probe
    // shuffles the index. Docs absent from members are singletons →
    // their own keeper, length from the candidate read.
    val membersCand = foldLog(
      readLog(s, outDir, "members", MembersSchema)
        .join(xCand.select(col("base_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi"),
      Seq("doc_id")).localCheckpoint(true)
    val keepersCand = foldLog(
      readLog(s, outDir, "keepers", KeepersSchema)
        .join(membersCand.select("cluster_id").distinct(),
          Seq("cluster_id"), "left_semi"),
      Seq("cluster_id"))
    val matchedKeepers = xPairs
      .join(dClusters.select(col("doc_id").as("delta_id"), col("dcid")), "delta_id")
      .join(membersCand.select(col("doc_id").as("base_id"), col("cluster_id")),
        Seq("base_id"), "left")
      .join(keepersCand, Seq("cluster_id"), "left")
      .join(baseCandDocs.select(col("doc_id").as("base_id"),
        col("n_chars").as("self_len")), "base_id")
      .select(col("dcid"), col("cluster_id").as("k_cluster"),
        coalesce(col("keeper_id"), col("base_id")).as("k_id"),
        coalesce(col("keeper_len"), col("self_len")).as("k_len"))
      .distinct()
      .localCheckpoint(true)
    // election among {matched base keepers} ∪ {delta best}: winner =
    // max(n_chars, ties to smaller id) — the keep_best rule. From-
    // scratch equivalence: base keepers are the maxima of their
    // clusters and the delta best is the max of its cluster, so the
    // max over keepers IS the max over the merged membership.
    val baseBestPerCluster = matchedKeepers.groupBy("dcid")
      .agg(max(struct(col("k_len"), (-col("k_id")).as("nd"))).as("b"))
      .select(col("dcid"), (-col("b.nd")).as("b_best_id"),
        col("b.k_len").as("b_best_len"))
    val election = dBest.join(baseBestPerCluster, Seq("dcid"), "left")
      .select(col("dcid"), col("d_best_id"), col("d_best_len"),
        col("b_best_id"), col("b_best_len"),
        (col("b_best_id").isNull ||
          struct(col("d_best_len"), (-col("d_best_id")).as("nd")) >
            struct(col("b_best_len"), (-col("b_best_id")).as("nd")))
          .as("delta_wins"))
      .localCheckpoint(true)
    // kept delta docs: the cluster best, when the delta wins
    val keptIds = election.where(col("delta_wins"))
      .select(col("d_best_id").as("doc_id"))
    // replaced base keepers: every matched keeper of a winning cluster
    val replacedBase = matchedKeepers
      .join(election.where(col("delta_wins")).select("dcid"), "dcid")
      .select(col("k_id").as("doc_id"), col("k_cluster"), col("dcid"))
      .distinct()
      .localCheckpoint(true)
    // lazy since the final_log conversion: both inputs are checkpointed
    // and nothing it reads can mutate mid-batch, so its two consumers
    // (withSplit, the nKept count) just re-run one cheap semi-join
    val kept = gated.join(keptIds, Seq("doc_id"), "left_semi")

    // ---- stage 3: split + two-sided decontamination ----
    val withSplit = kept
      .withColumn("bucket", DedupQueries.splitBucket)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .withColumn("gs", DedupQueries.gramHashes(8))
      .localCheckpoint(true)
    val holdIdx = readLog(s, outDir, "holdout_grams", HoldSchema).select("gh")
    val deltaHold = withSplit.where(col("bucket") >= 80)
      .select(explode(col("gs")).as("gh")).distinct()
    val newHold = deltaHold.join(holdIdx, Seq("gh"), "left_anti")
      .localCheckpoint(true)
    // delta train vs the UNION holdout (old index + new grams)
    val unionHold = holdIdx.unionAll(newHold)
    val dTrainGrams = withSplit.where(col("split") === "train")
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("gh"))
    val dContam = dTrainGrams.join(unionHold, "gh")
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") * 5 >= col("n_grams"))
      .select("doc_id").localCheckpoint(true)
    // base train survivors vs the NEW holdout grams only (their shared
    // count against the old holdout is frozen in train_meta)
    val trainGrams = readLog(s, outDir, "train_grams", GramsSchema)
      .select("gh", "doc_id")
    val newShared = trainGrams.join(newHold, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
      .localCheckpoint(true)
    // candidate-bounded fold of the meta rows the increment touches
    val metaCand = foldLog(
      readLog(s, outDir, "train_meta", MetaSchema)
        .join(newShared.select("doc_id"), Seq("doc_id"), "left_semi"),
      Seq("doc_id")).localCheckpoint(true)
    // lazy (same reason as `kept`): a filter over two checkpointed
    // frames — its consumers re-run a delta-sized join, not the log read
    val baseContam = metaCand.join(newShared, "doc_id")
      .where((col("n_shared") + col("n_new")) * 5 >= col("n_grams"))
      .select("doc_id")

    // ---- the final-layout edit set ----
    // a replaced keeper may not be IN final (the base run could have
    // dropped it as contaminated train): removals are counted against
    // what the layout actually holds — the FOLDED view (the base dir
    // alone would re-tombstone docs earlier batches already removed,
    // inflating nRemoved and the manifest's dead rows)
    val finalIds = readFinal(s, outDir).select("doc_id")
    val removed = replacedBase.select("doc_id").unionAll(baseContam).distinct()
      .join(finalIds, Seq("doc_id"), "left_semi").localCheckpoint(true)
    val appendRows = withSplit
      .join(dContam, Seq("doc_id"), "left_anti")
      .select("doc_id", "text", "lang", "n_chars", "split", "source")
      .localCheckpoint(true)

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
    val winners = election.where(col("delta_wins"))
      .join(matchedKeepers, "dcid")
      .groupBy(col("k_id").as("keeper_id"))
      .agg(max(struct(col("d_best_len"), (-col("d_best_id")).as("nd"),
        col("dcid"))).as("b"))
      .select(col("keeper_id"), (-col("b.nd")).as("new_keeper_id"),
        col("b.d_best_len").as("new_keeper_len"), col("b.dcid").as("new_dcid"))
      .localCheckpoint(true)
    val deltaClusterKeepers = election
      .join(winners.select(col("keeper_id").as("b_best_id"),
        col("new_keeper_id"), col("new_keeper_len")), Seq("b_best_id"), "left")
      .select(
        col("dcid").as("cluster_id"),
        when(col("delta_wins"), col("d_best_id"))
          .otherwise(coalesce(col("new_keeper_id"), col("b_best_id")))
          .as("keeper_id"),
        when(col("delta_wins"), col("d_best_len"))
          .otherwise(coalesce(col("new_keeper_len"), col("b_best_len")))
          .as("keeper_len"))
    val replacedClusterKeepers = replacedBase.where(col("k_cluster").isNotNull)
      .join(winners.select(col("keeper_id").as("doc_id"), col("new_keeper_id"),
        col("new_keeper_len")), "doc_id")
      .select(col("k_cluster").as("cluster_id"),
        col("new_keeper_id").as("keeper_id"),
        col("new_keeper_len").as("keeper_len"))
      .distinct()
    val keepersSeg = deltaClusterKeepers.unionAll(replacedClusterKeepers)
    val singletonMembers = replacedBase.where(col("k_cluster").isNull)
      .join(winners.select(col("keeper_id").as("doc_id"), col("new_dcid")), "doc_id")
      .select(col("doc_id"), col("new_dcid").as("cluster_id"))
      .distinct() // the same singleton can be matched by several winning clusters
    val membersSeg = dClusters.select(col("doc_id"), col("dcid").as("cluster_id"))
      .unionAll(singletonMembers)
    val newTrainDocs = withSplit.where(col("split") === "train")
      .join(dContam, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val newTrainShared = newTrainDocs
      .select(col("doc_id"), explode(col("gs")).as("gh"))
      .join(unionHold, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("ns"))
    // train_meta increment: cumulative rows for base docs the new
    // holdout touched, tombstones for removed docs, fresh rows for the
    // delta's surviving train docs
    val metaSeg = metaCand.join(newShared, "doc_id")
      .join(removed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_grams"),
        (col("n_shared") + col("n_new")).as("n_shared"), lit(false).as("dead"))
      .unionAll(removed.select(col("doc_id"), lit(0).as("n_grams"),
        lit(0L).as("n_shared"), lit(true).as("dead")))
      .unionAll(newTrainDocs
        .select(col("doc_id"), size(col("gs")).as("n_grams"))
        .join(newTrainShared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("ns"), lit(0L)).as("n_shared"), lit(false).as("dead")))
    // the shard modulus is the BASE run's recorded layout (CurationRun
    // `_layout`), never a literal: a delta routed mod 16 into a 64-shard
    // manifest would silently desync loader-side shard pruning
    val manifestShards = CurationRun.layoutShards(s, outDir)
    val manifestSeg = appendRows.select(col("doc_id"), col("split"), col("source"),
        col("n_chars"),
        (col("doc_id") % 1000003L * 2654435761L % manifestShards)
          .cast("int").as("shard"),
        lit(false).as("dead"))
      .unionAll(removed.select(col("doc_id"), lit("").as("split"),
        lit("").as("source"), lit(0L).as("n_chars"), lit(0).as("shard"),
        lit(true).as("dead")))

    // ---- stage everything, seal, report ----
    stage(gated.select("doc_id", "text", "lang", "source", "n_chars"), "clean")
    stage(dBands.select("doc_id", "band", "bkey"), "bands")
    stage(membersSeg, "members")
    stage(keepersSeg, "keepers")
    stage(metaSeg, "train_meta")
    stage(newTrainDocs.select(col("doc_id"), explode(col("gs")).as("gh"))
      .select("gh", "doc_id"), "train_grams")
    stage(newHold.select("gh"), "holdout_grams")
    stage(appendRows, "append_rows")
    stage(removed, "removed")
    stage(manifestSeg, "manifest_inc")
    // the final-layout edit increment: one O(delta) segment — appends
    // live, removals tombstoned (their payload columns never matter:
    // the fold drops dead rows and the reader's anti-join works on ids)
    stage(appendRows.withColumn("dead", lit(false))
      .unionAll(removed.select(col("doc_id"),
        lit(null).cast(StringType).as("text"),
        lit(null).cast(StringType).as("lang"), lit(0L).as("n_chars"),
        lit(null).cast(StringType).as("split"),
        lit(null).cast(StringType).as("source"), lit(true).as("dead"))),
      "final_inc")
    // Report counters: nothing above branches on a count, so every one
    // of them rides ONE batched job here (a union of single-row
    // aggregates over the already-checkpointed frames) instead of ~10
    // driver-synchronous count() round trips — at small deltas that
    // per-job scheduling overhead was the dominant ingest cost.
    def cnt(name: String, df: DataFrame): DataFrame =
      df.groupBy().agg(count(lit(1)).as("n")).select(lit(name).as("k"), col("n"))
    val m = cnt("nDelta", delta)
      .unionAll(cnt("nGated", gated))
      .unionAll(cnt("nKept", kept))
      .unionAll(cnt("nContamDelta", dContam))
      .unionAll(cnt("nContamBase", baseContam))
      .unionAll(cnt("nRemoved", removed))
      .unionAll(cnt("nReplacedInFinal",
        removed.join(baseContam, Seq("doc_id"), "left_anti")))
      .unionAll(cnt("nAppended", appendRows))
      .unionAll(withSplit.groupBy(concat(lit("split_"), col("split")).as("k"))
        .agg(count(lit(1)).as("n")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val report = DeltaReport(
      nDelta = m("nDelta"),
      nQualityFail = m("nDelta") - m("nGated"),
      nDupDropped = m("nGated") - m("nKept"),
      nReplacedBase = m("nReplacedInFinal"),
      nTrain = m.getOrElse("split_train", 0L),
      nVal = m.getOrElse("split_val", 0L),
      nTest = m.getOrElse("split_test", 0L),
      nContaminatedDelta = m("nContamDelta"),
      nContaminatedBase = m("nContamBase"),
      nAppended = m("nAppended"),
      nRemoved = m("nRemoved"))
    import s.implicits._
    Seq((report.nDelta, report.nQualityFail, report.nDupDropped,
      report.nReplacedBase, report.nTrain, report.nVal, report.nTest,
      report.nContaminatedDelta, report.nContaminatedBase, report.nAppended,
      report.nRemoved, seg))
      .toDF("nDelta", "nQualityFail", "nDupDropped", "nReplacedBase",
        "nTrain", "nVal", "nTest", "nContaminatedDelta", "nContaminatedBase",
        "nAppended", "nRemoved", "seg")
      .write.mode("overwrite").parquet(s"$staging/report.parquet")
    f.create(new Path(s"$staging/_STAGED"), true).close()
    report
  }

  // ---------------------------------------------------------------
  // phase 2: apply the sealed edit set (idempotent)
  // ---------------------------------------------------------------

  private[graft] def applyStaged(s: SparkSession, outDir: String, key: String): Unit = {
    applyEdits(s, outDir, key)
    val seg = stagedSeg(s, outDir, key)
    commitMarker(s, outDir, key, seg)
    val staging = new Path(stagingDir(outDir, key))
    fs(s, staging).delete(staging, true)
  }

  /** Everything [[applyStaged]] does EXCEPT the commit marker and the
    * staging cleanup — split out so the crash-replay spec can stop a
    * batch exactly between its last layout edit and its commit. */
  private[graft] def applyEdits(s: SparkSession, outDir: String, key: String): Unit = {
    val staging = stagingDir(outDir, key)
    require(CurationRun.exists(s, s"$staging/_STAGED"), s"staging for $key not sealed")
    val seg = stagedSeg(s, outDir, key)
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
    def rewrite(root: String, df: DataFrame): Unit = {
      val staged = s"${root}_compacted"
      df.write.mode("overwrite").parquet(s"$staged/seg=0")
      SegmentLog.swapDir(s, staged, root)
    }
    // folded tables: latest row per key survives (and drops its seg)
    rewrite(s"$idx/keepers",
      foldLog(readLog(s, outDir, "keepers", KeepersSchema), Seq("cluster_id"))
        .localCheckpoint(true))
    rewrite(s"$idx/train_meta",
      foldLog(readLog(s, outDir, "train_meta", MetaSchema), Seq("doc_id"))
        .withColumn("dead", lit(false)).localCheckpoint(true))
    // append-only tables: concatenate segments
    for ((t, schema) <- Seq(("bands", BandsSchema), ("members", MembersSchema),
        ("train_grams", GramsSchema), ("holdout_grams", HoldSchema),
        ("clean_delta", CleanSchema)))
      rewrite(s"$idx/$t",
        readLog(s, outDir, t, schema).drop("seg").localCheckpoint(true))
    // manifest: fold the log into a fresh base manifest, then drop the log
    val manifest = readManifest(s, outDir).localCheckpoint(true)
    val staged = s"$outDir/manifest.parquet_compacted"
    manifest.write.mode("overwrite").parquet(staged)
    SegmentLog.swapDir(s, staged, s"$outDir/manifest.parquet")
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
    val finalStaged = s"$outDir/final_compacted"
    readFinal(s, outDir)
      .repartition(col("split"), col("source"))
      .sortWithinPartitions("split", "source", "doc_id")
      .write.mode("overwrite").partitionBy("split", "source")
      .parquet(finalStaged)
    SegmentLog.writeSmallFile(s, s"$finalStaged/_folded_max_seg",
      foldedMax.toString)
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
