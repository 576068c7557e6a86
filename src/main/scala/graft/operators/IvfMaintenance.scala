package graft.operators

import graft.functions.VectorFunctions
import graft.operators.SegmentLog.{foldLatest, fs, presentSegs, readCommitted}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF index MAINTENANCE — the embedding twin of [[DeltaIngest]]'s
  * dedup-index upkeep, composing the registry's oracle-checked pieces
  * into a persisted, LOG-STRUCTURED, incrementally-updated index:
  *
  *   - [[build]]: the sim_ivf_train loop (Lloyd's k-means, label-seeded,
  *     one corpus-scanning job per round) → publishes segment 0:
  *     a full `cents` snapshot + the full inverted lists.
  *   - [[ingest]]: the sim_incremental_assign step — a delta batch is
  *     argmin-assigned against the BROADCAST centroid snapshot
  *     (O(|delta| × nlist), the corpus is never rescanned), appended as
  *     a delta-sized `asg` increment, and each cell's post-ingest
  *     occupancy is checked against the split threshold
  *     ([[needsSplit]]: over double the mean occupancy, or over double
  *     the recorded occupancy budget — the pair that lets nlist track
  *     corpus growth). The
  *     occupancy check reads NO corpus rows: published `n_assigned` is
  *     always the inverted lists' fold count, so post-delta occupancy
  *     is n_assigned + the delta's per-cell counts.
  *   - overgrown cells then get the sim_cell_split primitive: a
  *     deterministic in-cell 2-means (min/max-id seeds, ties to sub 0,
  *     1e-9-quantized exact sub-means) over the flagged cells' members
  *     ONLY (a cell-keyed, partition-pruned log read — O(cell) work per
  *     split, never a retrain). Sub 0 keeps the cell id; sub 1 takes
  *     max_cell_id + rank (collision-free, deterministic).
  *   - the UNDERFULL inverse rides removals: [[mergeUnderfull]] retires
  *     cells below the [[needsMerge]] threshold, argmin-rehoming their
  *     members onto the nearest surviving centroid in one commit —
  *     without it, curation churn only ever shrinks cells and a
  *     long-lived index strands near-empty cells that waste nprobe
  *     budget.
  *
  * On-disk layout (all segment numbers admitted through ONE marker set,
  * so the centroid snapshot and the lists can never disagree — the
  * crash window between two independent table swaps is gone):
  * {{{
  *   outDir/ivf/markers/seg-<n>   commit marker, lands LAST
  *   outDir/ivf/cents/seg=<n>/    FULL centroid snapshot (nlist-sized,
  *                                cheap) for commit n
  *   outDir/ivf/asg/seg=<n>/      assignment INCREMENT (vec_id, cell,
  *                                e, dead), hive-partitioned on
  *                                shard = cell % n_shards for pruned
  *                                cell-keyed probes
  *   outDir/ivf/_layout           layout record (shards=N) — readers
  *                                derive every shard modulus from it
  * }}}
  * Readers: centroids = the max committed segment's snapshot;
  * assignments = the increments folded per (cell, vec_id), latest
  * committed segment wins, tombstones drop. A vector a split moves out
  * of its cell gets a tombstone in the OLD cell + a live row in the new
  * one, so the fold COMMUTES with any cell predicate — cell-scoped
  * probes never shuffle the index. Per-ingest writes are
  * O(delta + split-cell members); [[compact]] folds the log back to one
  * segment (self-triggered past [[CompactAfterSegments]]).
  *
  * Approximation contract (the documented divergence from a full
  * retrain, spec-pinned): a split is ONE 2-means step over the cell's
  * members at split time — sim_ivf_train retrained on the union would
  * let neighboring vectors migrate across the new boundary in later
  * Lloyd rounds. The spec proves the exact pieces instead: untouched
  * cells keep byte-identical centroids and assignments, the delta's
  * assignment equals the brute argmin against the published centroids,
  * and split sub-centroids equal the sim_cell_split arithmetic
  * recomputed from scratch on the union's membership.
  */
object IvfMaintenance {

  /** Post-ingest occupancy above which a cell is split — two terms,
    * OR'd, each owning one growth regime:
    *
    *   - SKEW: `n_cell · n_cells > 2 · n_total` (over double the mean)
    *     — the exact scale-free dual of [[needsMerge]]'s half-mean, so
    *     the pair is symmetric at ANY nlist. (The registry's
    *     sim_incremental_assign keeps its fixture-tuned
    *     `20·n > 3·n_total` flag — corpus-total-relative, which is
    *     mean-relative only at the fixture's ~10 cells; an operator
    *     inheriting it would never split a 4096-cell index while merge
    *     kept retiring cells, drifting nlist toward ≤7 and turning
    *     every probe into a near-scan.)
    *   - GROWTH: `n_cell > 2 · target_occ`, an ABSOLUTE occupancy
    *     budget recorded in `_layout` at build. Under uniform corpus
    *     growth every cell grows in lockstep, n/mean stays 1, and no
    *     mean-relative term ever fires — without a budget, nlist would
    *     freeze at its build-time value and per-probe candidate work
    *     would grow linearly with the corpus. With it, mean occupancy
    *     hovers in [target/2, 2·target] as the index grows, so
    *     nlist ≈ N/target tracks the corpus and serve cost per probe
    *     stays ~flat. Uniform growth makes the splits ARRIVE in waves
    *     (many cells cross 2·target in the same ingest — one
    *     O(crossing cells' members) ingest that ~doubles nlist), which
    *     amortizes to O(1) split work per vector over its lifetime.
    *
    * Hysteresis vs [[needsMerge]] (half the mean): a balanced split of
    * a just-flagged cell leaves two subs at ≥ the mean (skew term) or
    * ≥ target (growth term, with mean ≤ 2·target) — neither side can
    * land under half the mean, so a split's subs never immediately
    * merge back. An UNBALANCED 2-means can produce a sub-half-mean
    * sub; merge then retires it into its nearest survivor — healing,
    * bounded to one cycle per ingest, same as pre-budget behavior. */
  def needsSplit(nCell: Column, nTotal: Column, nCells: Column,
      targetOcc: Column): Column =
    nCell * nCells > nTotal * 2 || nCell > targetOcc * 2

  /** Occupancy below which a cell merges away: under HALF THE MEAN
    * (2·n_cell·n_cells < n_total) — the underfull inverse of
    * [[needsSplit]], mean-relative so it behaves at any nlist. Two
    * structural properties: (a) the all-flagged degenerate case is
    * impossible (if every cell were under half the mean, the total
    * would be under half of itself), so a rehoming target always
    * exists; (b) hysteresis vs the split flag — a survivor absorbing a
    * merged cell gains at most that cell's sub-half-mean membership,
    * so one merge cannot ping-pong a cell straight back over the split
    * threshold (it CAN tip an already-hot cell, which the next ingest's
    * split check then handles — that is the intended division of
    * labor). */
  def needsMerge(nCell: Column, nTotal: Column, nCells: Column): Column =
    nCell * nCells * 2 < nTotal

  /** Committed segments beyond which [[ingest]] self-triggers
    * [[compact]] (same cadence contract as DeltaIngest). */
  val CompactAfterSegments = 16

  /** Default hive-shard count for the assignment log (`shard =
    * cell % n`). A LAYOUT parameter, not a constant: [[build]] records
    * the chosen count in `<ivf>/_layout` and every writer and probe
    * derives its modulus from that record — at 100 TB, 16 partitions
    * per segment is a parallelism and file-size ceiling, so a large
    * index builds with a larger count and every cell-keyed prune keeps
    * working because reader and writer share the recorded value. */
  val DefaultShards = 16

  /** Default per-cell occupancy budget for [[needsSplit]]'s growth
    * term. Sizing: candidates per probe ≈ nprobe · target, so the
    * budget is the serve-latency knob; nlist ≈ N/target is the
    * centroid-broadcast + split-cadence knob. 1024 keeps a
    * billion-vector index at ~1M cells (a few-hundred-MB broadcast of
    * d=64 centroids) with ~1k-candidate probes; small fixtures never
    * reach it, so their splits are driven by the skew term alone. */
  val DefaultTargetOcc = 1024L

  private def layoutPath(outDir: String) = s"${ivfDir(outDir)}/_layout"

  /** Record the index's build-time constants — shard count, occupancy
    * budget, vector dim — written by [[build]] before any segment
    * lands, so no committed data can exist without its layout. */
  private def writeLayout(s: SparkSession, outDir: String, nShards: Int,
      targetOcc: Long, dim: Int): Unit =
    SegmentLog.writeLayoutFields(s, layoutPath(outDir),
      Seq("shards" -> nShards.toLong, "occ" -> targetOcc, "dim" -> dim.toLong))

  /** The recorded occupancy budget; pre-budget layouts (older builds)
    * fall back to the default — their split behavior changes only in
    * the growth term, which a fixture-sized index never reaches. */
  private[graft] def layoutTargetOcc(s: SparkSession, outDir: String): Long =
    SegmentLog.readLayoutFields(s, layoutPath(outDir))
      .flatMap(_.get("occ")).getOrElse(DefaultTargetOcc)

  /** The recorded vector dim — the compaction-independent answer to
    * "what shape does this index hold": an index emptied by removals
    * still trains/refuses PQ identically whether or not a compact has
    * folded its superseded rows away. None for pre-dim layouts (their
    * callers fall back to probing a live log row). */
  private[graft] def layoutDim(s: SparkSession, outDir: String): Option[Int] =
    SegmentLog.readLayoutFields(s, layoutPath(outDir))
      .flatMap(_.get("dim")).map(_.toInt)

  /** The recorded shard count — REQUIRED: a reader guessing a modulus
    * against an index sharded differently would silently mis-prune
    * (missing rows, not an error), so a missing or garbled layout
    * refuses diagnosably instead. */
  private[graft] def layoutShards(s: SparkSession, outDir: String): Int =
    SegmentLog.readLayoutShards(s, layoutPath(outDir)).getOrElse(
      throw new IllegalArgumentException(
        s"$outDir: no _layout record — the index predates (or lost) its " +
          "layout descriptor; rebuild to record the shard count"))

  final case class IngestReport(
      nDelta: Long,
      nCellsBefore: Long,
      nSplit: Long, // cells split this ingest
      nCellsAfter: Long)

  final case class MergeReport(
      nFlagged: Long, // underfull cells retired this merge
      nRehomed: Long, // live vectors moved to their nearest survivor
      nCellsAfter: Long)

  private def ivfDir(outDir: String) = s"$outDir/ivf"
  private def centRoot(outDir: String) = s"${ivfDir(outDir)}/cents"
  private def asgRoot(outDir: String) = s"${ivfDir(outDir)}/asg"
  private def markerDir(outDir: String) = s"${ivfDir(outDir)}/markers"

  private val AsgSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", LongType),
    StructField("e", ArrayType(DoubleType)), StructField("dead", BooleanType),
    StructField("shard", IntegerType)))

  private def committedSegs(s: SparkSession, outDir: String): Set[Long] =
    SegmentLog.committedSegs(s, markerDir(outDir))

  /** Marker NAME carries the segment number (the visibility set);
    * marker CONTENT carries the batch key (the replay identity) — one
    * atomic file closes both the consistency and the replay window. */
  private def commitMarker(s: SparkSession, outDir: String, seg: Long,
      key: String): Unit =
    SegmentLog.commitMarker(s, markerDir(outDir), seg, key)

  /** Batch keys of every committed ingest — replay identity survives
    * compaction because [[compact]] folds old markers' keys into ONE
    * `keys-<n>` file (newline-separated) before dropping them, so this
    * read is O(segments since last compaction), not O(batches ever). */
  private[graft] def committedKeys(s: SparkSession, outDir: String): Set[String] =
    SegmentLog.committedKeys(s, markerDir(outDir))

  def indexed(s: SparkSession, outDir: String): Boolean =
    committedSegs(s, outDir).nonEmpty

  /** Commit a batch key's replay identity WITHOUT consuming a segment
    * (empty batches). */
  private[graft] def commitSkip(s: SparkSession, outDir: String, key: String): Unit =
    commitMarker(s, outDir, -1L, key)

  /** Uncommitted segment dirs are crash leftovers: readers never admit
    * them, and the next writer sweeps them before computing. */
  private def wipeUncommitted(s: SparkSession, outDir: String): Unit =
    SegmentLog.wipeUncommitted(s, committedSegs(s, outDir),
      Seq(centRoot(outDir), asgRoot(outDir), pqRoot(outDir), pqCbRoot(outDir)))

  /** The centroid table as of the last committed segment:
    * (cell, c, n_assigned) — n_assigned is ALWAYS the lists' fold
    * count, maintained incrementally (never recounted from the corpus). */
  def centroids(s: SparkSession, outDir: String): DataFrame =
    centroidsAt(s, outDir, committedSegs(s, outDir))

  /** [[centroids]] pinned to a caller-held commit snapshot — readers
    * that touch several tables thread ONE snapshot so a concurrent
    * ingest commit can't show them mixed states. */
  private def centroidsAt(s: SparkSession, outDir: String,
      allowed: Set[Long]): DataFrame =
    s.read.parquet(s"${centRoot(outDir)}/seg=${allowed.max}")
      .select("cell", "c", "n_assigned")

  /** The inverted lists as of the last committed segment: the increment
    * log folded per (cell, vec_id) — latest segment wins, tombstones
    * drop. The fold commutes with cell predicates (a moved vector is
    * tombstoned in its OLD cell), so bound first, fold the survivors. */
  def assignments(s: SparkSession, outDir: String): DataFrame =
    foldLatest(readAsgLog(s, outDir), AsgKey, AsgFields)
      .select("vec_id", "cell", "e")

  private def readAsgLog(s: SparkSession, outDir: String,
      allowedSegs: Option[Set[Long]] = None): DataFrame =
    readCommitted(s, asgRoot(outDir),
      allowedSegs.getOrElse(committedSegs(s, outDir)), AsgSchema)

  // the lists' fold: keyed per cell (a moved vector is tombstoned in
  // its OLD cell), a tombstone beating a live row of its own segment
  private val AsgKey = Seq("cell", "vec_id")
  private val AsgFields = Seq("dead", "e")

  private def shardOf(cell: Column, nShards: Int): Column =
    (cell % nShards).cast("int")

  /** Write one committed segment: stage every table under seg=<n>,
    * then land the marker — a crash at ANY earlier instant leaves an
    * invisible orphan, never a half-updated index. `codesInc` rides
    * the same commit when PQ is enabled, so codes can never lag the
    * lists. */
  private def writeSegment(s: SparkSession, outDir: String, seg: Long,
      cents: DataFrame, asgInc: DataFrame, key: String,
      codesInc: Option[DataFrame] = None): Unit = {
    val nsh = layoutShards(s, outDir)
    cents.select("cell", "c", "n_assigned")
      .write.mode("overwrite").parquet(s"${centRoot(outDir)}/seg=$seg")
    asgInc.select(col("vec_id"), col("cell"), col("e"), col("dead"),
        shardOf(col("cell"), nsh).as("shard"))
      .repartition(col("shard")).sortWithinPartitions("cell", "vec_id")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"${asgRoot(outDir)}/seg=$seg")
    codesInc.foreach(_.select("vec_id", "m", "code")
      .write.mode("overwrite").parquet(s"${pqRoot(outDir)}/seg=$seg"))
    commitMarker(s, outDir, seg, key)
  }

  private def dot(a: Column, b: Column): Column =
    VectorFunctions.dot(a, b)
  private def d2(e: Column, c: Column): Column =
    dot(e, e) - lit(2.0) * dot(e, c) + dot(c, c)

  /** The 1e-9-quantized exact mean every centroid op here uses (the
    * sim_ivf_train arithmetic: per dim, `sum(round(v·1e9)::long)
    * ::double / 1e9 / count`) — computed with the merge-able
    * [[graft.functions.expr.VecSumQ]] array aggregate, so the exchange
    * carries ONE partial-summed buffer row per group instead of the
    * registry form's posexplode to (row × dim) rows: a d× cut in
    * shuffle volume on every build/split/PQ-train path, bit-identical
    * by the long-sum associativity contract (the spec pins sub-centroid
    * equality against the explode arithmetic recomputed from scratch). */
  private[graft] def quantCentroid(
      s: SparkSession, vecs: DataFrame, grp: Seq[Column], names: Seq[String]): DataFrame = {
    vecs
      .select((grp.zip(names).map { case (c, n) => c.as(n) } :+ col("e")): _*)
      .groupBy(names.map(col): _*)
      // n_assigned = NON-NULL count: graft_vecsum_q skips null inputs
      // (as the posexplode form's sum did), so dividing by count(*)
      // would deflate any group containing null-embedding rows — and an
      // all-null group would emit c = null, whose null struct field
      // sorts lowest and could win every assign() argmin. Such groups
      // are dropped instead (the explode form never produced them).
      .agg(call_function("graft_vecsum_q", col("e")).as("sq"),
        count(col("e")).as("n_assigned"))
      .where(col("sq").isNotNull)
      .select((names.map(col) :+
        transform(col("sq"),
          x => x.cast("double") / 1e9 / col("n_assigned")).as("c") :+
        col("n_assigned")): _*)
  }

  /** argmin cell per vector against a broadcast centroid table —
    * one combinable min(struct), ties to the smaller cell id. */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents.select("cell", "c")))
      .select(col("vec_id"),
        struct(d2(col("e"), col("c")).as("dst"), col("cell")).as("sc"))
      .groupBy("vec_id").agg(min(col("sc")).as("b"))
      .select(col("vec_id"), col("b.cell").as("cell"))

  /** Train the index with the sim_ivf_train loop (`rounds` full
    * assign→recompute Lloyd rounds) and publish segment 0.
    * Embeddings: (vec_id: long, embedding: array<float|double>), plus
    * a `label` column when `nlist` is None.
    *
    * Seeding — nlist is a REAL parameter, not an accident of the
    * input: with `nlist = Some(k)`, k seed vectors are drawn by a
    * deterministic pseudo-random id order (xxhash64 over vec_id — the
    * Forgy init, reproducible with no RNG state) and labels are not
    * required; with None and a `label` column, seeds are the per-label
    * means (the registry's sim_ivf_train shape — right when curated
    * labels approximate a clustering, and the historical default);
    * with None and NO label column, k auto-sizes to ceil(N/targetOcc)
    * sampled seeding — a production build cannot accidentally freeze
    * at a fixture-shaped cell count. Either
    * way the PUBLISHED cell count then tracks the corpus through
    * [[needsSplit]]'s growth term and [[needsMerge]] — a production
    * build picks k ≈ N/targetOcc and lets maintenance keep it there.
    * Lloyd can retire a seed (a round may leave a cell memberless);
    * the published nlist is the surviving cells. */
  def build(s: SparkSession, embeddings: DataFrame, outDir: String,
      rounds: Int = 3, nShards: Int = DefaultShards,
      nlist: Option[Int] = None,
      targetOcc: Long = DefaultTargetOcc): Unit = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(targetOcc > 0, s"targetOcc must be positive, got $targetOcc")
    nlist.foreach(k => require(k > 0, s"nlist must be positive, got $k"))
    VectorFunctions.register(s)
    // an unlabeled corpus with no explicit nlist auto-sizes to
    // k = ceil(N/targetOcc) sampled seeding — a production build must
    // not be able to freeze at a fixture-shaped cell count just
    // because no label column exists to seed from
    val hasLabel = embeddings.columns.contains("label")
    val e = (if (nlist.isDefined || !hasLabel)
        embeddings.select(col("vec_id"),
          lit(0L).as("label"), col("embedding").cast("array<double>").as("e"))
      else embeddings.select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("e"))).localCheckpoint(true)
    val resolvedNlist: Option[Int] = nlist.orElse(
      if (hasLabel) None
      else Some(math.max(1L,
        math.ceil(e.count().toDouble / targetOcc).toLong).toInt))
    // an empty corpus would publish a footer-less segment every later
    // read trips over with an opaque schema-inference error — refuse
    // here, where the cause is nameable (ingest grows an index; build
    // needs something to train on), and BEFORE the sweep below so a
    // refused rebuild leaves the standing index intact
    val dimProbe = e.select(size(col("e"))).head(1)
    require(dimProbe.nonEmpty,
      s"build on an empty embeddings input — nothing to train on")
    val dim = dimProbe(0).getInt(0)
    // a rebuild under an enabled PQ layer keeps the committed codebooks
    // (faiss semantics: codebooks never retrain — only codes rewrite,
    // below) — which is only sound if the new corpus has the SAME dim:
    // encode()'s fixed subLen slices against a different dim would
    // produce wrong codes with no error anywhere. Checked before any
    // data is swept, so a refused rebuild is a no-op.
    val pqCb =
      if (pqEnabled(s, outDir)) {
        val loaded @ (_, m, subLen, _) =
          loadCodebooks(s, outDir, committedSegs(s, outDir))
        require(m * subLen == dim,
          s"rebuild dim $dim != index vector dim ${m * subLen} of the " +
            s"active PQ codebooks (m=$m × subLen=$subLen) — re-encoding " +
            "against them would silently corrupt every code; refreshPq " +
            "on a matching sample after a same-dim rebuild, or delete " +
            s"${pqCbRoot(outDir)} (disabling PQ) before a dim change")
        Some(loaded)
      } else None
    // a rebuild replaces the index DATA but must PRESERVE the markers:
    // their contents are the replay identity of every committed batch,
    // and an index rebuilt from a layout that already contains batch
    // B's docs would otherwise re-ingest B's vectors on replay (two
    // live rows per vector once cells split). The new snapshot lands
    // at max-committed + 1, so stale seg markers admit nothing and
    // every reader resolves to the rebuilt segment. The codes log goes
    // too when PQ is on — the rebuild re-encodes the full corpus below,
    // so keeping the old whole-corpus segments would only pile shadowed
    // bytes onto every future fold until a compact
    // the super layer goes too: a rebuild re-trains centroids in a
    // FRESH cell-id space that overlaps the old one numerically, so a
    // surviving cell→super map would silently mis-prune every hier
    // probe (wrong supers for every cell, not just degraded coverage)
    for (r <- Seq(centRoot(outDir), asgRoot(outDir), pqRoot(outDir),
        superRoot(outDir))) {
      val p = new Path(r); fs(s, p).delete(p, true)
    }
    // layout lands before any segment: a rebuild may change the shard
    // count (it rewrites every sharded table anyway), the budget, or —
    // PQ off — the dim
    writeLayout(s, outDir, nShards, targetOcc, dim)
    var cents = (resolvedNlist match {
      case Some(k) =>
        // Forgy init: the k hash-first vectors ARE the seed centroids.
        // The pick is a TakeOrdered (top-k by hash, no full sort) and
        // the k-row window is nlist-bounded — the same driver-scale
        // bound every flagged-cell collect in this file rides.
        val wk = org.apache.spark.sql.expressions.Window
          .orderBy(col("h"), col("vec_id"))
        e.select(col("vec_id"), col("e"), xxhash64(col("vec_id")).as("h"))
          .orderBy(col("h"), col("vec_id")).limit(k)
          .select((row_number().over(wk) - 1).cast("long").as("cell"),
            col("e").as("c"))
      case None =>
        quantCentroid(s, e.select(col("label"), col("e")),
          Seq(col("label")), Seq("cell")).select("cell", "c")
    }).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val asg = assign(e, cents).localCheckpoint(true)
      cents = quantCentroid(s,
        asg.join(e, "vec_id").select(col("cell"), col("e")),
        Seq(col("cell")), Seq("cell")).localCheckpoint(true)
    }
    // the inverted lists are the argmin against the PUBLISHED centroids
    // (rounds = 0 publishes the label-seed index: seed means + argmin
    // lists — the sim_incremental_assign base shape); published
    // occupancy is the LISTS' count, not the last training round's
    val asg = assign(e, cents)
      .join(e, "vec_id").select(col("vec_id"), col("cell"), col("e"))
      .localCheckpoint(true)
    val occ = asg.groupBy("cell").agg(count(lit(1)).as("n_assigned"))
    val seg = committedSegs(s, outDir) match {
      case empty if empty.isEmpty => 0L
      case segs => segs.max + 1
    }
    // a REBUILD under an enabled PQ layer must re-encode: the new
    // snapshot may hold vectors with no committed codes, and adcKnn's
    // codes join would silently drop them from every candidate set.
    // Codebooks stay FIXED (faiss semantics) — only codes are rewritten,
    // inside the same commit.
    val codes = pqCb.map { case (cb, m, subLen, _) =>
      encode(asg.select(col("vec_id"), col("e")), cb, m, subLen)
    }
    writeSegment(s, outDir, seg,
      cents.select("cell", "c").join(occ, Seq("cell"), "left")
        .select(col("cell"), col("c"),
          coalesce(col("n_assigned"), lit(0L)).as("n_assigned")),
      asg.withColumn("dead", lit(false)), s"build-$seg", codes)
  }

  /** Absorb a delta batch: assign against the standing centroid
    * snapshot, flag overgrown cells from the incrementally-maintained
    * occupancy (no corpus scan), split exactly those cells over their
    * own members, and commit ONE segment carrying both the new centroid
    * snapshot and the delta-sized assignment increment.
    *
    * Contract: delta vec_ids must be NEW to the index (checking would
    * cost an index-wide anti-join per ingest). A re-ingested id that
    * lands in a different post-split cell would otherwise fold as two
    * live rows. The replay-safe paths guarantee freshness structurally:
    * [[streamInto]] keys batches on the commit marker, and
    * [[CuratedVectorSync]] feeds only doc ids its manifest increment
    * just APPENDED. To re-home an existing id, [[remove]] it first —
    * the tombstone makes the following ingest fold to one live row. */
  def ingest(s: SparkSession, delta: DataFrame, outDir: String): IngestReport =
    ingestKeyed(s, delta, outDir, s"seq-${System.nanoTime()}")

  private[graft] def ingestKeyed(s: SparkSession, delta: DataFrame,
      outDir: String, key: String): IngestReport = {
    VectorFunctions.register(s)
    require(indexed(s, outDir), s"build has not completed for $outDir")
    wipeUncommitted(s, outDir)
    if (presentSegs(s, asgRoot(outDir)).count(committedSegs(s, outDir))
        > CompactAfterSegments) compact(s, outDir)
    val seg = committedSegs(s, outDir).max + 1
    // cell count AND the published occupancy total ride the snapshot
    // checkpoint's own action (r18, the r17 observe-fusion applied to
    // the ingest path: this was a checkpoint + count + a separate
    // sum-collect — three driver round-trips for one id-width frame)
    val obsC = org.apache.spark.sql.Observation()
    val cents = centroids(s, outDir)
      .observe(obsC, count(lit(1)).as("n"), sum("n_assigned").as("occ"),
        max("cell").as("mx"))
      .localCheckpoint(true)
    val mC = obsC.get
    val nCellsBefore = mC("n").asInstanceOf[Long]
    val baseOcc = Option(mC("occ")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val maxCellId = Option(mC("mx")).map(_.asInstanceOf[Long]).getOrElse(0L)
    // dedup within the batch: a duplicated vec_id row would count
    // twice in the occupancy increment while folding to ONE live list
    // row — permanently desynchronizing n_assigned from the lists.
    // Deterministic pick: the max embedding array (ties are identical)
    val obsD = org.apache.spark.sql.Observation()
    val d = delta
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .groupBy("vec_id").agg(max(col("e")).as("e"))
      .observe(obsD, count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nDelta = obsD.get("n").asInstanceOf[Long]
    val dAsg = assign(d, cents).join(d, "vec_id")
      .select(col("vec_id"), col("cell"), col("e"))
      .localCheckpoint(true)
    // post-delta occupancy WITHOUT touching the corpus: published
    // n_assigned + the delta's per-cell counts
    val occAfter = cents
      .join(dAsg.groupBy("cell").agg(count(lit(1)).as("dn")), Seq("cell"), "left")
      .select(col("cell"), col("c"),
        (col("n_assigned") + coalesce(col("dn"), lit(0L))).as("n_assigned"))
      .localCheckpoint(true)
    val nTotal = baseOcc + nDelta
    // the flagged-cell ids ride the checkpoint action too (the split
    // path used to pay a separate collect for the very same ids)
    val (flagged, flaggedCells) = ckptCollectingIds(
      occAfter.where(needsSplit(col("n_assigned"), lit(nTotal),
        lit(nCellsBefore), lit(layoutTargetOcc(s, outDir))))
        .select("cell"),
      "cell")
    val nSplit = flaggedCells.size.toLong
    val (centsSeg, asgInc, nCellsAfter) =
      if (nSplit == 0)
        // occAfter is cents left-joined on its unique cell key: exactly
        // one row per snapshot cell, so the published count IS
        // nCellsBefore — no count job on the common (no-split) path
        (occAfter, dAsg.withColumn("dead", lit(false)), nCellsBefore)
      else {
        // flagged cells' members ONLY: committed rows via the pruned
        // cell-keyed fold (bound first — the fold commutes with the
        // cell predicate), plus this batch's delta rows. Literal isin
        // filters (flagged is nlist-bounded, already on the driver for
        // the report) give STATIC partition pruning on shard= and
        // row-group skipping on the sorted cell column — the log read
        // touches only the split cells' bytes.
        val nsh = layoutShards(s, outDir)
        val flaggedShards = flaggedCells.map(c => (c % nsh).toInt).distinct
        val baseMembers = foldLatest(
          readAsgLog(s, outDir)
            .where(col("shard").isin(flaggedShards: _*) &&
              col("cell").isin(flaggedCells: _*)), AsgKey, AsgFields)
          .select(col("vec_id"), col("cell"), col("e"), lit(false).as("is_delta"))
        val members = baseMembers.unionAll(
          dAsg.join(broadcast(flagged), Seq("cell"), "left_semi")
            .select(col("vec_id"), col("cell"), col("e"), lit(true).as("is_delta")))
          .localCheckpoint(true)
        // sim_cell_split: deterministic in-cell 2-means, min/max-id seeds
        val seeds = members.groupBy("cell")
          .agg(min("vec_id").as("s0"), max("vec_id").as("s1"))
        val sv = seeds
          .join(members.select(col("vec_id").as("s0"), col("e").as("e0")), "s0")
          .join(members.select(col("vec_id").as("s1"), col("e").as("e1")), "s1")
          .select("cell", "e0", "e1")
        val subbed = members.join(broadcast(sv), "cell")
          .select(col("cell"),
            when(d2(col("e"), col("e1")) < d2(col("e"), col("e0")), 1)
              .otherwise(0).as("sub"),
            col("vec_id"), col("e"), col("is_delta"))
          .localCheckpoint(true)
        val subCents = quantCentroid(s,
          subbed.select(col("cell"), col("sub"), col("e")),
          Seq(col("cell"), col("sub")), Seq("cell", "sub"))
        // sub 0 keeps the parent id; sub 1 gets max_cell_id + dense rank
        // over the split cells — deterministic, collision-free. The max
        // rode the snapshot checkpoint's observe (one collect job gone)
        val maxCell = maxCellId
        val w = org.apache.spark.sql.expressions.Window.orderBy("cell")
        val renames = flagged
          .select(col("cell"), (lit(maxCell) + row_number().over(w))
            .as("sub1_cell"))
        val splitCents = subCents.join(broadcast(renames), "cell")
          .select(
            when(col("sub") === 0, col("cell")).otherwise(col("sub1_cell"))
              .as("cell"),
            col("c"), col("n_assigned"))
        // a USING-column join (even anti) moves the key to the FRONT,
        // and unionAll is positional — re-select before unioning
        val keptCents = occAfter.join(broadcast(flagged), Seq("cell"), "left_anti")
          .select("cell", "c", "n_assigned")
        // the increment is O(delta + split members): unsplit delta rows
        // land as-is; split-cell members write only what CHANGES —
        // sub-1 movers (tombstone in the parent + live row in the new
        // cell; committed sub-1 members only for the tombstone) and
        // sub-0 DELTA rows (sub-0 base members' committed rows already
        // say the right cell)
        val subbedJ = subbed.join(broadcast(renames), "cell")
        val inc = dAsg.join(broadcast(flagged), Seq("cell"), "left_anti")
          .select(col("vec_id"), col("cell"), col("e"), lit(false).as("dead"))
          .unionAll(subbedJ.where(col("sub") === 0 && col("is_delta"))
            .select(col("vec_id"), col("cell"), col("e"), lit(false).as("dead")))
          .unionAll(subbedJ.where(col("sub") === 1 && !col("is_delta"))
            .select(col("vec_id"), col("cell"),
              lit(null).cast(ArrayType(DoubleType)).as("e"), lit(true).as("dead")))
          .unionAll(subbedJ.where(col("sub") === 1)
            .select(col("vec_id"), col("sub1_cell").as("cell"), col("e"),
              lit(false).as("dead")))
        // the published-cell count rides the checkpoint (a flagged
        // single-member / one-sided cell publishes no sub-1 centroid,
        // so it must be COUNTED from the snapshot, not inferred)
        val obsA = org.apache.spark.sql.Observation()
        val cs = keptCents.unionAll(splitCents)
          .observe(obsA, count(lit(1)).as("n"))
          .localCheckpoint(true)
        (cs, inc.localCheckpoint(true), obsA.get("n").asInstanceOf[Long])
      }
    // PQ: encode the delta against the FIXED committed codebooks inside
    // this same commit (codes are cell-independent, so split movers —
    // already coded at their own ingest — need nothing here)
    val codesInc =
      if (pqEnabled(s, outDir)) {
        val (cb, m, subLen, _) = loadCodebooks(s, outDir, committedSegs(s, outDir))
        Some(encode(d, cb, m, subLen))
      } else None
    writeSegment(s, outDir, seg, centsSeg, asgInc, key, codesInc)
    IngestReport(nDelta, nCellsBefore, nSplit, nCellsAfter)
  }

  /** Tombstone a set of vectors (vec_id) from the lists and commit the
    * decremented occupancy in the same segment. The removal set is
    * delta-sized but its cells are unknown, so the live row per id
    * comes from ONE column-pruned scan of the skinny log (vec_id,
    * cell, seg, dead — the embedding column is pruned away by the
    * fold's consumers here reading only ids) — O(index) bytes in the
    * worst case but id-width only, and removals are the rare path
    * (curation replacements, retro-decontamination); the common paths
    * (ingest, serve, split) stay corpus-free. Returns the number of
    * live rows tombstoned (ids absent from the index count zero). */
  def remove(s: SparkSession, ids: DataFrame, outDir: String,
      key: String = s"rm-${System.nanoTime()}",
      maintain: Boolean = true): Long = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    val n =
      if (committedKeys(s, outDir).contains(key)) 0L
      else if ({ wipeUncommitted(s, outDir); ids.isEmpty }) {
        commitSkip(s, outDir, key)
        // nothing shrank — commit the maintenance identity without
        // paying the occupancy check (the common append-only batch)
        if (maintain) commitSkip(s, outDir, s"$key-merge")
        0L
      } else {
        val seg = committedSegs(s, outDir).max + 1
        val cents = centroids(s, outDir).localCheckpoint(true)
        // the tombstoned-row count rides the fold's checkpoint action
        // (r18 observe-fusion: checkpoint + count was two jobs)
        val obsL = org.apache.spark.sql.Observation()
        val live = foldLatest(readAsgLog(s, outDir)
            .join(ids.select(col("vec_id")), Seq("vec_id"), "left_semi"),
            AsgKey, AsgFields)
          .observe(obsL, count(lit(1)).as("n"))
          .localCheckpoint(true)
        val nLive = obsL.get("n").asInstanceOf[Long]
        val inc = live.select(col("vec_id"), col("cell"),
          lit(null).cast(ArrayType(DoubleType)).as("e"), lit(true).as("dead"))
        val centsSeg = cents
          .join(live.groupBy("cell").agg(count(lit(1)).as("rm")), Seq("cell"), "left")
          .select(col("cell"), col("c"),
            (col("n_assigned") - coalesce(col("rm"), lit(0L))).as("n_assigned"))
        writeSegment(s, outDir, seg, centsSeg, inc, key)
        nLive
      }
    // occupancy maintenance rides every removal batch — removal is the
    // op that shrinks cells, so this is where underfull cells appear.
    // A DERIVED key, and placed after the replay-skip paths above, so a
    // crash between the remove commit and the merge commit is healed by
    // replaying the same remove key (the remove skips, the merge runs).
    // The committed-key guard keeps a replayed remove metadata-only.
    if (maintain && !committedKeys(s, outDir).contains(s"$key-merge"))
      mergeUnderfull(s, outDir, s"$key-merge")
    n
  }

  final case class IndexHealth(
      nCells: Long,
      nVectors: Long,
      minOcc: Long,
      maxOcc: Long,
      nSplitFlagged: Long, // cells the next ingest would split
      nMergeFlagged: Long, // cells a maintenance pass would retire
      nSegments: Int, // committed data segments (compaction pressure)
      pq: Boolean,
      nShards: Int)

  /** One-call operational snapshot of the index — the number the
    * maintenance cadences key off, read ENTIRELY from the published
    * centroid snapshot and the filesystem (occupancy is maintained
    * incrementally, so no corpus bytes are touched): cell count, live
    * vectors, occupancy spread, how many cells sit past each
    * maintenance threshold, log depth, PQ state, recorded layout. */
  def health(s: SparkSession, outDir: String): IndexHealth = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    val allowed = committedSegs(s, outDir)
    val r = centroidsAt(s, outDir, allowed)
      .agg(count(lit(1)), coalesce(sum("n_assigned"), lit(0L)),
        coalesce(min("n_assigned"), lit(0L)),
        coalesce(max("n_assigned"), lit(0L)))
      .head()
    val (nCells, nTotal) = (r.getLong(0), r.getLong(1))
    val flags = centroidsAt(s, outDir, allowed)
      .agg(
        sum(needsSplit(col("n_assigned"), lit(nTotal), lit(nCells),
          lit(layoutTargetOcc(s, outDir))).cast("long")),
        sum(needsMerge(col("n_assigned"), lit(nTotal), lit(nCells)).cast("long")))
      .head()
    IndexHealth(nCells, nTotal, r.getLong(2), r.getLong(3),
      flags.getLong(0), flags.getLong(1),
      presentSegs(s, asgRoot(outDir)).count(allowed),
      pqEnabled(s, outDir), layoutShards(s, outDir))
  }

  /** The underfull half of occupancy maintenance — the inverse of the
    * ingest-time split: cells below the [[needsMerge]] threshold are
    * RETIRED in one commit. Each flagged cell's live members are
    * argmin-rehomed onto the nearest SURVIVING centroid (broadcast,
    * O(flagged members × survivors) — the corpus is never scanned;
    * flagged-cell bytes come from the same shard-pruned cell-keyed log
    * read the split path uses), written as the standard increment
    * (tombstone in the moved-FROM cell + live row in the new cell, so
    * the fold still commutes with cell predicates), and the new
    * centroid snapshot — survivors only, occupancy bumped by what they
    * absorbed — rides the SAME one-marker segment: no instant shows a
    * retired centroid with no members or rehomed members under a live
    * flagged centroid. Surviving centroids do not move (faiss
    * semantics: reassignment updates occupancy, never re-trains), and
    * PQ codes need nothing — they are cell-independent and reachable
    * only through the folded lists.
    *
    * Left unmaintained, curation churn ([[remove]], keeper replacement
    * under [[CuratedVectorSync]]) only ever shrinks cells: a year of
    * removals strands near-empty cells that burn nprobe budget and
    * skew the split threshold's n_total. [[remove]] therefore triggers
    * this automatically (`maintain = true`); it is also callable
    * standalone on any maintenance cadence. Replay-keyed like every
    * commit; a no-flag pass commits a skip marker so replays stay
    * cheap. */
  def mergeUnderfull(s: SparkSession, outDir: String,
      key: String = s"merge-${System.nanoTime()}"): MergeReport = {
    VectorFunctions.register(s)
    require(indexed(s, outDir), s"build has not completed for $outDir")
    if (committedKeys(s, outDir).contains(key))
      return MergeReport(0L, 0L, centroids(s, outDir).count())
    wipeUncommitted(s, outDir)
    val cents = centroids(s, outDir).localCheckpoint(true)
    val tot = cents.agg(coalesce(sum("n_assigned"), lit(0L)), count(lit(1))).head()
    val (nTotal, nCells) = (tot.getLong(0), tot.getLong(1))
    val flagged = cents
      .where(needsMerge(col("n_assigned"), lit(nTotal), lit(nCells)))
      .select("cell")
    // nlist-bounded driver literals — static pruning for the member read
    val flaggedCells = flagged.collect().map(_.getLong(0)).toSeq
    if (flaggedCells.isEmpty) {
      commitSkip(s, outDir, key)
      return MergeReport(0L, 0L, nCells)
    }
    val seg = committedSegs(s, outDir).max + 1
    val survivors = cents.where(!col("cell").isin(flaggedCells: _*))
      .localCheckpoint(true) // needsMerge guarantees nonempty (see scaladoc)
    val nsh = layoutShards(s, outDir)
    val flaggedShards = flaggedCells.map(c => (c % nsh).toInt).distinct
    val members = foldLatest(readAsgLog(s, outDir)
        .where(col("shard").isin(flaggedShards: _*) &&
          col("cell").isin(flaggedCells: _*)), AsgKey, AsgFields)
      .localCheckpoint(true)
    val re = assign(members.select("vec_id", "e"), survivors)
      .join(members.select(col("vec_id"), col("cell").as("old_cell"), col("e")),
        "vec_id")
      .localCheckpoint(true)
    val nRehomed = re.count()
    val inc = re.select(col("vec_id"), col("old_cell").as("cell"),
        lit(null).cast(ArrayType(DoubleType)).as("e"), lit(true).as("dead"))
      .unionAll(re.select(col("vec_id"), col("cell"), col("e"),
        lit(false).as("dead")))
    val centsSeg = survivors
      .join(re.groupBy("cell").agg(count(lit(1)).as("got")), Seq("cell"), "left")
      .select(col("cell"), col("c"),
        (col("n_assigned") + coalesce(col("got"), lit(0L))).as("n_assigned"))
    writeSegment(s, outDir, seg, centsSeg, inc, key)
    MergeReport(flaggedCells.size.toLong, nRehomed, nCells - flaggedCells.size)
  }

  /** Serve top-k nearest neighbors (squared-L2, the index's assignment
    * metric) from the PERSISTED index: per query the `nprobe` nearest
    * centroid cells are selected against the BROADCAST snapshot,
    * candidates come from a shard-pruned fold of exactly those cells'
    * lists (the distinct probed-cell set is nlist-bounded, so the
    * literal pushdown is always small), and the final rank is a window
    * over the cell-bounded candidates — the corpus is never scanned.
    * Queries: (query_id: long, embedding: array<double-ish>).
    *
    * `excludeSelfId` (default true) drops candidates whose vec_id
    * equals the query_id — the corpus-member-probing-itself convention
    * every registry kNN query uses. Pass FALSE when query ids live in
    * their own id space: with the default, an external query numbered
    * like a corpus vector would silently lose that vector from its
    * candidates.
    *
    * `sprobe = Some(sp)` routes the probe through the hierarchical
    * coarse quantizer ([[buildSuper]], [[probeCellsHier]]): required
    * past ~1M cells, where the flat probe's full-centroid broadcast
    * stops shipping. Everything after the probe is byte-identical. */
  def knnQuery(s: SparkSession, outDir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 1, excludeSelfId: Boolean = true,
      sprobe: Option[Int] = None): DataFrame = {
    VectorFunctions.register(s)
    require(indexed(s, outDir), s"build has not completed for $outDir")
    import org.apache.spark.sql.expressions.Window
    val allowed = committedSegs(s, outDir)
    val (probes, cells, shards) = sprobe match {
      case Some(sp) => probeCellsHier(s, outDir, queries, nprobe, sp, allowed)
      case None => probeCells(s, outDir, queries, nprobe, allowed)
    }
    val cand = foldLatest(readAsgLog(s, outDir, Some(allowed))
      .where(col("shard").isin(shards: _*) && col("cell").isin(cells: _*)),
      AsgKey, AsgFields).select("vec_id", "cell", "e")
    val scored = probes.join(cand, "cell")
      .where(!lit(excludeSelfId) || col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        d2(col("qe"), col("e")).as("dist2"))
    val w = Window.partitionBy("query_id").orderBy(col("dist2"), col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select("query_id", "neighbor_id", "dist2", "rk")
  }

  /** The probe prefix both serve paths share — per query the nprobe
    * nearest cells against the snapshot's broadcast centroids, plus
    * the collected (cells, shards) literals for static pruning of the
    * log read. ONE definition so knnQuery and adcKnn tie-breaking,
    * pruning, and the recompute-guarding checkpoint can never drift. */
  private def probeCells(s: SparkSession, outDir: String, queries: DataFrame,
      nprobe: Int, allowed: Set[Long]): (DataFrame, Seq[Long], Seq[Int]) = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroidsAt(s, outDir, allowed)
    val q = queries.select(col("query_id"),
      col("embedding").cast("array<double>").as("qe"))
    val wq = Window.partitionBy("query_id").orderBy(col("dst"), col("cell"))
    val (probes, cells) = ckptCollectingIds(
      q.crossJoin(broadcast(cents.select("cell", "c")))
        .select(col("query_id"), col("qe"), col("cell"),
          d2(col("qe"), col("c")).as("dst"))
        .withColumn("prk", row_number().over(wq)).where(col("prk") <= nprobe)
        .select("query_id", "qe", "cell"),
      "cell")
    val nsh = layoutShards(s, outDir)
    val shards = cells.map(c => (c % nsh).toInt).distinct
    (probes, cells, shards)
  }

  /** Materialize `df` to an eager localCheckpoint while collecting the
    * DISTINCT values of long column `keyCol` through the SAME action —
    * df.observe metrics are delivered by the checkpoint's withAction,
    * so the probe prefix pays ONE job where it paid a checkpoint job
    * plus a separate distinct().collect() job (r17, the NOTES "fuse
    * the probe collects" item: the fixed per-call overhead of the
    * serve paths was two driver round-trips per probe stage). The ids
    * are sorted so downstream In-pruning lists — and therefore plan
    * strings — are deterministic regardless of task completion order
    * (the old collect()'s order was partition-arrival order). */
  private def ckptCollectingIds(df: DataFrame,
      keyCol: String): (DataFrame, Seq[Long]) = {
    val obs = org.apache.spark.sql.Observation()
    val out = df.observe(obs, collect_set(col(keyCol)).as("ids"))
      .localCheckpoint(true)
    val ids = obs.get("ids").asInstanceOf[scala.collection.Seq[Long]]
      .toSeq.sorted
    (out, ids)
  }

  // ---------------------------------------------------------------
  // hierarchical coarse quantizer (two-level probe)
  // ---------------------------------------------------------------

  private def superRoot(outDir: String) = s"${ivfDir(outDir)}/super"

  /** Published super-layer generation: the largest `marker-<seg>`
    * whose data dirs exist. Marker files are first-creation renames
    * (never overwritten), so no crash instant can lose a published
    * generation; [[buildSuper]] drops superseded ones after its new
    * marker lands. */
  private[graft] def superSeg(s: SparkSession, outDir: String): Option[Long] = {
    val root = new Path(superRoot(outDir))
    val f = fs(s, root)
    if (!f.exists(root)) return None
    f.listStatus(root).toSeq
      .flatMap(_.getPath.getName.stripPrefix("marker-").toLongOption match {
        case some @ Some(n)
          if f.exists(new Path(s"${superRoot(outDir)}/cents/seg=$n")) &&
             f.exists(new Path(s"${superRoot(outDir)}/map/seg=$n")) => some
        case _ => None
      }) match {
      case Seq() => None
      case segs => Some(segs.max)
    }
  }

  /** Build (or rebuild) the coarse-over-coarse layer: cluster the
    * committed CENTROID snapshot into ~√nlist super-cells with the
    * same Lloyd kernels the index itself trains with, and publish
    * (super centroids, cell→super map) as one generation.
    *
    * Why: [[probeCells]] broadcasts the FULL centroid table to every
    * probe — fine through ~1B vectors at nlist = N/targetOcc, but at
    * 1M cells that broadcast is hundreds of MB and unshippable past
    * it. The two-stage probe broadcasts O(√nlist) super-centroids,
    * then ONLY the probed super-cells' children — O(√nlist +
    * sprobe·√nlist) rows end to end, corpus-size-independent per
    * probe.
    *
    * The layer is DERIVED data keyed to the centroid snapshot it
    * summarizes: cells created after this build (ingest splits, new
    * seeds) are "orphans" the hier probe hands to every query until
    * the next buildSuper — exact, just progressively less pruned, so
    * rebuild on the same cadence as [[mergeUnderfull]]. Cells retired
    * since the build drop out structurally (the serve path joins the
    * map against the LIVE snapshot). Deterministic like [[build]]:
    * xxhash64-ordered Forgy seeding, no RNG state. */
  def buildSuper(s: SparkSession, outDir: String, nSuper: Option[Int] = None,
      rounds: Int = 2): Unit = {
    require(indexed(s, outDir), s"build has not completed for $outDir")
    nSuper.foreach(k => require(k > 0, s"nSuper must be positive, got $k"))
    VectorFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    val allowed = committedSegs(s, outDir)
    val seg = allowed.max
    val items = centroidsAt(s, outDir, allowed)
      .select(col("cell").as("vec_id"), col("c").as("e"))
      .localCheckpoint(true)
    val k = nSuper.getOrElse {
      val n = items.count()
      math.max(1L, math.round(math.sqrt(n.toDouble))).toInt
    }
    val wk = Window.orderBy(col("h"), col("vec_id"))
    var sup = items
      .select(col("vec_id"), col("e"), xxhash64(col("vec_id")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select((row_number().over(wk) - 1).cast("long").as("cell"),
        col("e").as("c"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val asg = assign(items, sup).localCheckpoint(true)
      sup = quantCentroid(s,
        asg.join(items, "vec_id").select(col("cell"), col("e")),
        Seq(col("cell")), Seq("cell")).select("cell", "c").localCheckpoint(true)
    }
    // the published map is the argmin against the PUBLISHED super
    // centroids (same discipline as build: lists match the snapshot)
    val map = assign(items, sup)
      .select(col("vec_id").as("cell"), col("cell").as("super_id"))
      .localCheckpoint(true)
    // clear incremental map deltas ([[mapNewCellsToSuper]]) BEFORE the
    // data writes: the fresh base map covers every live cell, so a
    // delta surviving a crash after a same-seg republish would
    // DUPLICATE cells in the extended map (two probe slots for one
    // cell). Deleting first converges the other way — a crash here
    // re-orphans the delta-mapped cells, which serve exactly (unpruned)
    // until the next maintenance pass re-maps them.
    val fm = fs(s, new Path(mapdRoot(outDir)))
    fm.delete(new Path(mapdRoot(outDir)), true)
    sup.select(col("cell").as("super_id"), col("c"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${superRoot(outDir)}/cents/seg=$seg")
    map.write.mode("overwrite").parquet(s"${superRoot(outDir)}/map/seg=$seg")
    val marker = new Path(s"${superRoot(outDir)}/marker-$seg")
    val f = fs(s, marker)
    if (!f.exists(marker))
      SegmentLog.writeSmallFile(s, marker.toString, seg.toString)
    // drop superseded generations only AFTER the new marker landed
    f.listStatus(new Path(superRoot(outDir))).toSeq.foreach { st =>
      st.getPath.getName.stripPrefix("marker-").toLongOption.foreach { n =>
        if (n != seg) {
          f.delete(new Path(s"${superRoot(outDir)}/cents/seg=$n"), true)
          f.delete(new Path(s"${superRoot(outDir)}/map/seg=$n"), true)
          f.delete(st.getPath, false)
        }
      }
    }
    // ...and markerless debris: a crash between the data-dir writes and
    // the marker leaves cents/map seg dirs the marker sweep above never
    // matches — without this, every such crash leaks a generation of
    // disk forever (later rebuilds publish at higher segs and only
    // sweep marker-bearing ones). Safe because readers only ever
    // resolve through the marker, so a markerless non-published dir is
    // unreachable by construction.
    Seq("cents", "map").foreach { sub =>
      val d = new Path(s"${superRoot(outDir)}/$sub")
      if (f.exists(d)) f.listStatus(d).toSeq.foreach { st =>
        st.getPath.getName.stripPrefix("seg=").toLongOption.foreach { n =>
          if (n != seg &&
              !f.exists(new Path(s"${superRoot(outDir)}/marker-$n")))
            f.delete(st.getPath, true)
        }
      }
    }
  }

  private def mapdRoot(outDir: String) = s"${superRoot(outDir)}/mapd"

  /** Committed incremental map-delta dirs for super generation `sg`
    * (empty when none). Deltas are keyed to the generation they extend
    * — a fresh [[buildSuper]] covers every live cell, so it clears the
    * whole mapd tree. */
  private def mapdDirs(s: SparkSession, outDir: String,
      sg: Long): Seq[String] = {
    val root = new Path(s"${mapdRoot(outDir)}/sseg=$sg")
    val f = fs(s, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
      .map(_.getPath.toString).sorted
  }

  /** The published cell→super map EXTENDED by the committed
    * incremental deltas ([[mapNewCellsToSuper]]) — the one map
    * definition every reader (probe stage 2, orphan gauge) resolves
    * through, so an incrementally-mapped cell prunes exactly like a
    * build-mapped one. */
  private def superMapAt(s: SparkSession, outDir: String,
      sg: Long): DataFrame = {
    val base = s.read.parquet(s"${superRoot(outDir)}/map/seg=$sg")
    val deltas = mapdDirs(s, outDir, sg)
    if (deltas.isEmpty) base
    else base.unionAll(s.read.parquet(deltas: _*))
  }

  /** Rows in the incremental map deltas — the DRIFT gauge once
    * [[mapNewCellsToSuper]] keeps orphans ≈ 0: an incrementally-mapped
    * cell joined supers that were never retrained around it, so when
    * their share of the live cells grows past the rebuild threshold
    * the layer re-trains (the full rebuild becomes a drift-correction
    * cadence, not a coverage necessity). 0 when no layer/deltas. */
  def superMappedCells(s: SparkSession, outDir: String): Long =
    superSeg(s, outDir) match {
      case None => 0L
      case Some(sg) =>
        val deltas = mapdDirs(s, outDir, sg)
        if (deltas.isEmpty) 0L else s.read.parquet(deltas: _*).count()
    }

  /** Incremental super-map upkeep: every live cell not yet covered by
    * the (extended) map — ingest splits, fresh seeds born since the
    * last [[buildSuper]] — is assigned to its nearest EXISTING super
    * centroid: one argmin against the broadcast O(√nlist) super table,
    * O(new cells) rows appended, no retraining. Without this, a cell
    * born from an ingest split is an orphan handed to EVERY query
    * until the next full rebuild — at high-churn ingest the orphan set
    * IS the serve cost. Deterministic (argmin against published
    * supers, ties to the smaller super id), and replay-safe by
    * construction: a re-run sees zero uncovered cells and writes
    * nothing. The append is staged-then-renamed, so a crash leaves
    * either no delta or a committed one; a stale stage dir is swept on
    * the next call. Returns cells mapped (0: no layer / all covered). */
  def mapNewCellsToSuper(s: SparkSession, outDir: String): Long =
    superSeg(s, outDir) match {
      case None => 0L
      case Some(sg) =>
        VectorFunctions.register(s)
        val uncovered = centroids(s, outDir)
          .join(superMapAt(s, outDir, sg).select("cell"), Seq("cell"),
            "left_anti")
          .select(col("cell").as("vec_id"), col("c").as("e"))
          .localCheckpoint(true)
        val n = uncovered.count()
        if (n == 0L) 0L
        else {
          val sup = s.read.parquet(s"${superRoot(outDir)}/cents/seg=$sg")
            .select(col("super_id").as("cell"), col("c"))
          val delta = assign(uncovered, sup)
            .select(col("vec_id").as("cell"), col("cell").as("super_id"))
          val dRoot = s"${mapdRoot(outDir)}/sseg=$sg"
          val f = fs(s, new Path(dRoot))
          f.delete(new Path(s"$dRoot/.stage"), true)
          val next = (mapdDirs(s, outDir, sg)
            .map(_.split('/').last.stripPrefix("d-").toLong) :+ 0L).max + 1
          delta.coalesce(1).write.mode("overwrite")
            .parquet(s"$dRoot/.stage")
          f.rename(new Path(s"$dRoot/.stage"), new Path(s"$dRoot/d-$next"))
          n
        }
    }

  /** Cells in the LIVE snapshot not covered by the published super
    * map (including committed incremental deltas) — each one is handed
    * to every hier probe unpruned, so this is the "map the new cells"
    * pressure gauge (None: no layer). */
  def superOrphans(s: SparkSession, outDir: String): Option[Long] =
    superSeg(s, outDir).map { sg =>
      centroids(s, outDir)
        .join(superMapAt(s, outDir, sg).select("cell"), Seq("cell"),
          "left_anti")
        .count()
    }

  /** The two-stage probe — same contract as [[probeCells]] (one
    * definition of the serve prefix, shared by both serve paths), but
    * the centroid argmin runs super-first so no broadcast ever carries
    * the full centroid table:
    *
    *   1. queries × broadcast(√nlist super-centroids) → per query the
    *      `sprobe` nearest super-cells (window argmin, ties to the
    *      smaller id — the [[probeCells]] convention).
    *   2. the probed supers' CHILDREN only: the cell→super map scan is
    *      In-pruned to the collected super ids (id-width), joined to
    *      the live snapshot, and THAT pruned slice broadcasts for the
    *      per-query cell argmin. Orphan cells (newer than the super
    *      build) join every query's candidate set, so results stay
    *      exact as the layer ages — coverage decays, never
    *      correctness.
    *
    * With sprobe ≥ the super count the candidate cell set is the full
    * snapshot and the probe is EQUAL to the flat one by construction
    * (the spec pins this); smaller sprobe trades recall for probe
    * cost exactly like nprobe does one level down. */
  private def probeCellsHier(s: SparkSession, outDir: String,
      queries: DataFrame, nprobe: Int, sprobe: Int,
      allowed: Set[Long]): (DataFrame, Seq[Long], Seq[Int]) = {
    // each stage's id collect rides its checkpoint's own action
    // (ckptCollectingIds) — 2 jobs per probe call instead of 4 (r17;
    // the NOTES "hier probe fixed overhead" item)
    val (sProbes, supIds) = ckptCollectingIds(
      hierStage1(s, outDir, queries, sprobe), "super_id")
    val (probes, cells) = ckptCollectingIds(
      hierStage2(s, outDir, sProbes, supIds, nprobe, allowed), "cell")
    val nsh = layoutShards(s, outDir)
    val shards = cells.map(c => (c % nsh).toInt).distinct
    (probes, cells, shards)
  }

  /** Stage 1 pre-checkpoint: per query the `sprobe` nearest super-
    * cells against the broadcast O(√nlist) super-centroid table.
    * `private[graft]` so the spec pins THIS frame's plan — the serve
    * plan only shows the checkpointed probe as an ExistingRDD. */
  private[graft] def hierStage1(s: SparkSession, outDir: String,
      queries: DataFrame, sprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(sprobe > 0, s"sprobe must be positive, got $sprobe")
    val sg = superSeg(s, outDir).getOrElse(throw new IllegalArgumentException(
      s"no super layer published for $outDir — run buildSuper first " +
        "(or serve with sprobe = None for the flat probe)"))
    val sup = s.read.parquet(s"${superRoot(outDir)}/cents/seg=$sg")
    val ws = Window.partitionBy("query_id").orderBy(col("dst"), col("super_id"))
    queries.select(col("query_id"),
        col("embedding").cast("array<double>").as("qe"))
      .crossJoin(broadcast(sup.select(col("super_id"), col("c").as("sc"))))
      .select(col("query_id"), col("qe"), col("super_id"),
        d2(col("qe"), col("sc")).as("dst"))
      .withColumn("srk", row_number().over(ws)).where(col("srk") <= sprobe)
      .select("query_id", "qe", "super_id")
  }

  /** Stage 2 pre-checkpoint: the probed supers' children only — the
    * map scan is In-pruned to `supIds` BEFORE anything broadcasts, so
    * the exchanged slice is O(|probed supers| × targetOcc children),
    * never O(nlist); orphans (cells newer than the super build) join
    * every query so coverage decay can't cost correctness. */
  private[graft] def hierStage2(s: SparkSession, outDir: String,
      sProbes: DataFrame, supIds: Seq[Long], nprobe: Int,
      allowed: Set[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sg = superSeg(s, outDir).get
    val cents = centroidsAt(s, outDir, allowed)
    val map = superMapAt(s, outDir, sg)
    val children = cents
      .join(broadcast(map.where(col("super_id").isin(supIds: _*))), "cell")
      .select(col("super_id"), col("cell"), col("c"))
    val orphans = cents
      .join(map.select("cell"), Seq("cell"), "left_anti")
      .select(col("cell"), col("c"))
    val wq = Window.partitionBy("query_id").orderBy(col("dst"), col("cell"))
    val stage2 = sProbes.join(broadcast(children), "super_id")
      .select(col("query_id"), col("qe"), col("cell"), col("c"))
      .unionAll(sProbes.select("query_id", "qe").distinct()
        .crossJoin(broadcast(orphans))
        .select(col("query_id"), col("qe"), col("cell"), col("c")))
    stage2
      .select(col("query_id"), col("qe"), col("cell"),
        d2(col("qe"), col("c")).as("dst"))
      .withColumn("prk", row_number().over(wq)).where(col("prk") <= nprobe)
      .select("query_id", "qe", "cell")
  }

  // ---------------------------------------------------------------
  // streaming composition
  // ---------------------------------------------------------------

  /** Streaming composition — a drop directory of embedding parquet
    * files becomes per-micro-batch [[ingest]] calls against the
    * standing index. Replay identity rides the commit marker itself
    * (content = the batchId key), so a replayed COMMITTED batch is a
    * no-op and a crash before the marker leaves an invisible orphan
    * the next ingest sweeps — no duplicate-assignment window (a replay
    * against post-split centroids could otherwise land the same vector
    * in a second, different cell). */
  def streamInto(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestEmbeddingBatch(spark, batch, batchId, outDir); ()
      }
      .start()
  }

  /** One micro-batch of [[streamInto]]: skip if this batchId committed
    * (replay), ingest otherwise. Package-visible so the replay contract
    * is spec-testable without crashing a stream. */
  private[graft] def ingestEmbeddingBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      outDir: String): Option[IngestReport] = {
    val key = s"batch-$batchId"
    if (committedKeys(spark, outDir).contains(key)) return None
    val delta = batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    if (delta.isEmpty) {
      commitMarker(spark, outDir, -1L, key)
      None
    } else Some(ingestKeyed(spark, delta, outDir, key))
  }

  // ---------------------------------------------------------------
  // product quantization (the compressed serve path)
  // ---------------------------------------------------------------
  //
  // At 100 TB the inverted lists' raw float arrays are the index's
  // dominant storage and serve-time I/O: ~3 KB/vector raw vs m bytes
  // coded. The PQ layer is the standard faiss IVFPQ treatment,
  // composed from the registry's oracle-checked sim_pq_adc_knn /
  // sim_ivfpq_knn arithmetic:
  //   - [[buildPq]] (once, any time after [[build]]): train
  //     per-(subspace, label) codebooks — the exact pqScored recipe —
  //     over the provided labeled sample, encode EVERY live vector,
  //     and seal GENERATION 0 (`pq_cb/seg=<top>`, written LAST — the
  //     enablement marker: a crash mid-build leaves PQ off and the
  //     next attempt overwrites).
  //   - [[ingest]]/[[ingestKeyed]] then encode each delta against the
  //     FIXED committed codebooks (faiss semantics: codebooks never
  //     retrain) inside the SAME segment commit, so the codes can
  //     never lag the lists.
  //   - the fixed-codebook contract gets a monitored escape hatch:
  //     [[pqRecall]] measures the compressed path's recall against the
  //     exact path on a held-out query set, and [[maintainPq]] /
  //     [[refreshPq]] re-train + re-encode as a NEW codebook
  //     generation when drift degrades it — one marker admits the
  //     generation and its re-encoded corpus together, and the codes
  //     fold is bounded to seg >= the active generation so an old
  //     generation's codes (even at a different m) are unreachable.
  //   - codes need NO tombstones: [[adcKnn]] reaches them only through
  //     the folded assignment ids, so a removed/re-homed vector's
  //     stale codes are unreachable; [[compact]] drops them.
  //   - [[adcKnn]] serves top-k from codes alone — the assignment log
  //     is read id-width (vec_id/cell, the embedding column pruned at
  //     the scan), the per-query distance tables are (nprobe-bounded
  //     queries) × (m·k codewords) broadcast-sized, and the candidate
  //     score is the ADC sum Σ_m qd[m][code_m].
  // Approximation contract (spec-pinned): adcKnn equals the ADC
  // arithmetic recomputed from scratch on the same codebooks/codes; it
  // is NOT exact kNN — [[knnQuery]] remains the exact-on-candidates
  // path.

  private def pqCbRoot(outDir: String) = s"${ivfDir(outDir)}/pq_cb"
  private def pqRoot(outDir: String) = s"${ivfDir(outDir)}/pqcodes"

  private val PqCodesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("m", IntegerType),
    StructField("code", LongType)))

  /** Codebooks live as GENERATIONS `pq_cb/seg=<n>` — n is the segment
    * whose commit activated that generation, so the marker set that
    * admits a refresh's re-encoded codes admits its codebooks in the
    * same atomic instant (no window where codes and codebooks
    * disagree). The active generation is the max committed one; a
    * generation dir without its `_SUCCESS` (crashed train) or without
    * its marker (crashed refresh, swept by [[wipeUncommitted]]) is
    * never admitted. Codes are folded only from `seg >=` the active
    * generation — every live vector is re-encoded by the refresh that
    * activates a generation, so earlier generations' codes are pure
    * shadow and the bound makes even a changed subspace count (m)
    * safe: stale (vec_id, m) rows from an old shape can never leak
    * into the fold. */
  private def activeCbSeg(s: SparkSession, outDir: String,
      allowed: Set[Long]): Option[Long] =
    presentSegs(s, pqCbRoot(outDir))
      .filter(n => allowed(n) &&
        CurationRun.exists(s, s"${pqCbRoot(outDir)}/seg=$n/_SUCCESS"))
      .maxOption

  /** PQ is enabled iff a committed codebook generation exists. */
  def pqEnabled(s: SparkSession, outDir: String): Boolean =
    activeCbSeg(s, outDir, committedSegs(s, outDir)).isDefined

  private def readCodebooks(s: SparkSession, outDir: String,
      cbSeg: Long): DataFrame =
    s.read.parquet(s"${pqCbRoot(outDir)}/seg=$cbSeg").select("m", "cw", "c")

  private def readCodesLog(s: SparkSession, outDir: String,
      allowed: Set[Long]): DataFrame =
    readCommitted(s, pqRoot(outDir), allowed, PqCodesSchema)

  /** argmin codeword per (vec, subspace) against the broadcast
    * codebooks — ties to the smaller codeword id (the pqScored rule). */
  private def encode(vecs: DataFrame, cb: DataFrame, m: Int,
      subLen: Int): DataFrame = {
    val subs = vecs.select(col("vec_id"),
      posexplode(array((0 until m).map(i =>
        slice(col("e"), subLen * i + 1, subLen)): _*)).as(Seq("m", "sub")))
    subs.join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"),
        struct(d2(col("sub"), col("c")).as("dst"), col("cw")).as("sc"))
      .groupBy("vec_id", "m").agg(min(col("sc")).as("b"))
      .select(col("vec_id"), col("m"), col("b.cw").as("code"))
  }

  /** Train codebooks on the labeled sample (per-(subspace, label)
    * exact means — the registry's pqScored recipe verbatim), encode
    * every LIVE vector in the index, and seal. `sample` columns:
    * (label, embedding). Codebooks are FIXED from here on — deltas
    * encode against them, never retrain (faiss semantics). Idempotent:
    * sealed ⇒ no-op; a crash before the seal leaves PQ off. */
  def buildPq(s: SparkSession, sample: DataFrame, outDir: String,
      m: Int = 8): Unit = {
    VectorFunctions.register(s)
    require(indexed(s, outDir), s"build has not completed for $outDir")
    if (pqEnabled(s, outDir)) return
    val (cb, subLen) = trainCodebooks(s, sample, outDir, m)
    // codes for every live vector, landed under the CURRENT max
    // committed segment (admitted retroactively — safe because nothing
    // reads pqcodes until the seal below lands)
    val top = committedSegs(s, outDir).max
    encode(assignments(s, outDir).select(col("vec_id"), col("e")), cb, m, subLen)
      .write.mode("overwrite").parquet(s"${pqRoot(outDir)}/seg=$top")
    // seal LAST: generation 0 lands at the CURRENT top committed
    // segment (already admitted), so its dir's _SUCCESS is the
    // enablement marker — a crash anywhere earlier leaves PQ off and
    // the next attempt overwrites
    cb.withColumn("n_sub", lit(m))
      .write.mode("overwrite").parquet(s"${pqCbRoot(outDir)}/seg=$top")
  }

  /** Per-(subspace, label) codebooks over the labeled sample — the
    * registry's pqScored arithmetic, shared verbatim by [[buildPq]]
    * (generation 0) and [[refreshPq]] (later generations) so the two
    * train paths cannot drift. */
  private def trainCodebooks(s: SparkSession, sample: DataFrame,
      outDir: String, m: Int): (DataFrame, Int) = {
    val sv = sample.select(col("label").cast("long").as("label"),
      col("embedding").cast("array<double>").as("e"))
    val dim = sv.select(size(col("e"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    // the sample must share the INDEX's vector dim: codebooks trained at
    // a different subLen would make encode()'s slice/d2 silently produce
    // wrong codes (or an opaque runtime error) for every corpus vector.
    // The dim comes from the _layout record (free, and compaction-
    // independent: an index emptied by removals trains identically
    // whether or not a compact has folded its superseded rows away);
    // pre-dim layouts fall back to probing one log row, where an
    // all-removed-then-compacted index has no row left — refuse
    // diagnosably rather than NoSuchElementException.
    val idxDim = layoutDim(s, outDir).getOrElse {
      val probe = readAsgLog(s, outDir)
        .where(col("e").isNotNull).select(size(col("e"))).head(1)
      require(probe.nonEmpty,
        s"$outDir holds no live vectors — nothing to train or encode")
      probe(0).getInt(0)
    }
    require(idxDim == dim,
      s"PQ sample dim $dim != index vector dim $idxDim — train on a " +
        "sample drawn from the indexed distribution")
    val subLen = dim / m
    val subs = sv
      .select(col("label"), posexplode(array((0 until m).map(i =>
        slice(col("e"), subLen * i + 1, subLen)): _*)).as(Seq("m", "sub")))
    val cb = quantCentroid(s,
      subs.select(col("m"), col("label"), col("sub").as("e")),
      Seq(col("m"), col("label")), Seq("m", "cw"))
      .select("m", "cw", "c").localCheckpoint(true)
    (cb, subLen)
  }

  /** Recall of the compressed serve path against the exact one — the
    * sim_recall_eval measurement composed over the PERSISTED index:
    * what fraction of [[knnQuery]]'s exact-on-candidates top-k does
    * [[adcKnn]] reproduce at the same (k, nprobe)? Both paths probe the
    * same cells, so the number isolates exactly the PQ quantization
    * loss — the signal that degrades when the corpus distribution
    * drifts away from the sample the FIXED codebooks were trained on.
    * Cost: two cell-bounded serves over the held-out query set — never
    * a corpus scan. */
  def pqRecall(s: SparkSession, outDir: String, heldOut: DataFrame,
      k: Int = 5, nprobe: Int = 1): Double = {
    val exact = knnQuery(s, outDir, heldOut, k, nprobe)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val adc = adcKnn(s, outDir, heldOut, k, nprobe)
      .select("query_id", "neighbor_id")
    val r = exact.join(adc, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1))).head().getLong(0)
    val tot = exact.count()
    if (tot == 0L) 1.0 else r.toDouble / tot
  }

  /** Re-train the codebooks on a FRESH sample and re-encode every live
    * vector — the documented escape hatch from the fixed-codebook
    * (faiss) contract for when [[pqRecall]] says the corpus has
    * drifted past what the original sample represents. One atomic
    * commit: the new generation's codebooks land at `pq_cb/seg=<n>`
    * and the full re-encoded codes ride segment n (cents snapshot
    * unchanged, empty list increment), admitted together by segment
    * n's marker — no instant serves new codes against old codebooks or
    * vice versa, and a crash anywhere before the marker is swept as an
    * invisible orphan. Replay-keyed like every commit. */
  def refreshPq(s: SparkSession, sample: DataFrame, outDir: String,
      m: Int = 8, key: String = s"pqrefresh-${System.nanoTime()}"): Unit = {
    VectorFunctions.register(s)
    require(pqEnabled(s, outDir), s"buildPq has not completed for $outDir")
    if (committedKeys(s, outDir).contains(key)) return
    wipeUncommitted(s, outDir)
    val (cb, subLen) = trainCodebooks(s, sample, outDir, m)
    val seg = committedSegs(s, outDir).max + 1
    val codes = encode(assignments(s, outDir).select(col("vec_id"), col("e")),
      cb, m, subLen)
    // generation dir first (uncommitted until the marker admits seg) —
    // then the one-marker segment carrying the re-encoded corpus
    cb.withColumn("n_sub", lit(m))
      .write.mode("overwrite").parquet(s"${pqCbRoot(outDir)}/seg=$seg")
    val emptyInc = s.createDataFrame(s.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("vec_id", LongType), StructField("cell", LongType),
        StructField("e", ArrayType(DoubleType)),
        StructField("dead", BooleanType))))
    writeSegment(s, outDir, seg, centroids(s, outDir), emptyInc, key,
      Some(codes))
  }

  final case class PqHealth(
      recallBefore: Double,
      refreshed: Boolean,
      recallAfter: Option[Double])

  /** The drift-monitored refresh loop: measure [[pqRecall]] on the
    * held-out query set; if it has degraded below `minRecall`,
    * [[refreshPq]] on the provided sample and re-measure. The caller
    * owns the cadence (after every N ingests, nightly — wherever the
    * occupancy checks already run) and the held-out set; replay safety
    * rides the derived refresh key, so a crashed maintenance pass
    * re-runs to the SAME decision: a replay whose refresh already
    * committed reports `refreshed = true` (with both readings measured
    * post-refresh — the pre-refresh number died with the crash), never
    * a healthy-looking `refreshed = false` that hides an activated
    * generation from alerting/accounting built on this report. */
  def maintainPq(s: SparkSession, outDir: String, heldOut: DataFrame,
      sample: DataFrame, minRecall: Double = 0.9, k: Int = 5,
      nprobe: Int = 1, m: Int = 8,
      key: String = s"pqmaint-${System.nanoTime()}"): PqHealth = {
    if (committedKeys(s, outDir).contains(s"$key-refresh")) {
      val now = pqRecall(s, outDir, heldOut, k, nprobe)
      return PqHealth(now, refreshed = true, Some(now))
    }
    val before = pqRecall(s, outDir, heldOut, k, nprobe)
    if (before >= minRecall) PqHealth(before, refreshed = false, None)
    else {
      refreshPq(s, sample, outDir, m, s"$key-refresh")
      PqHealth(before, refreshed = true,
        Some(pqRecall(s, outDir, heldOut, k, nprobe)))
    }
  }

  /** Serve top-k by asymmetric-distance computation from the PERSISTED
    * codes — the compressed path: the assignment log is read id-width
    * (embeddings pruned), candidates come from the probed cells, and
    * each candidate costs m table lookups instead of a d-dim product.
    * Output: (query_id, neighbor_id, adist2, rk). */
  def adcKnn(s: SparkSession, outDir: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 1, excludeSelfId: Boolean = true,
      sprobe: Option[Int] = None): DataFrame = {
    VectorFunctions.register(s)
    require(pqEnabled(s, outDir), s"buildPq has not completed for $outDir")
    import org.apache.spark.sql.expressions.Window
    // ONE commit snapshot for centroids, lists, and codes: a streamed
    // ingest committing mid-query would otherwise surface a candidate
    // whose codes the stale snapshot excludes — silently dropping it
    val allowed = committedSegs(s, outDir)
    val (cb, m, subLen, cbSeg) = loadCodebooks(s, outDir, allowed)
    val (probes, cells, shards) = sprobe match {
      case Some(sp) => probeCellsHier(s, outDir, queries, nprobe, sp, allowed)
      case None => probeCells(s, outDir, queries, nprobe, allowed)
    }
    // per-query ADC distance tables: |queries| × m × |codewords| rows —
    // broadcast-sized (the whole point of ADC)
    val qd = probes.select(col("query_id"), col("qe")).distinct()
      .select(col("query_id"), posexplode(array((0 until m).map(i =>
        slice(col("qe"), subLen * i + 1, subLen)): _*)).as(Seq("m", "qsub")))
      .join(broadcast(cb), "m")
      .select(col("query_id"), col("m"), col("cw"),
        d2(col("qsub"), col("c")).as("d2"))
      .localCheckpoint(true)
    // candidate ids from the probed cells — the embedding column never
    // leaves the scan (id-width fold)
    val candIds = foldLatest(readAsgLog(s, outDir, Some(allowed))
      .where(col("shard").isin(shards: _*) && col("cell").isin(cells: _*))
      .select("vec_id", "cell", "seg", "dead"), AsgKey, Seq("dead"))
      .select("vec_id", "cell")
    val pairs = probes.select("query_id", "cell").join(candIds, "cell")
      .where(!lit(excludeSelfId) || col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    // codes bounded to the candidates, folded, then the ADC sum — the
    // lookup-table join BROADCASTS (qd is query-count × m × codewords,
    // driver-sized by construction; without the hint a sort-merge plan
    // would shuffle the corpus-fraction pairs×m side), and the sum runs
    // over 1e-9-quantized longs so it is bit-exact under ANY partial-
    // aggregation order (the registry's sim_pq_adc_knn contract: tied
    // candidates must tie exactly, or ranks flip run to run)
    // only segments at/after the active codebook generation: every live
    // vector is re-encoded by the refresh that activates a generation,
    // so older codes are shadow — the bound keeps even a changed m safe
    val codes = foldLatest(readCodesLog(s, outDir, allowed)
      .where(col("seg") >= cbSeg)
      .join(pairs.select("vec_id").distinct(), Seq("vec_id"), "left_semi"),
      Seq("vec_id", "m"), Seq("code"))
    val scored = pairs
      .join(codes, "vec_id") // (query_id, vec_id, m, code)
      .join(broadcast(qd.select(col("query_id").as("qid"), col("m").as("qm"),
          col("cw").as("qcw"), col("d2"))),
        col("qid") === col("query_id") && col("qm") === col("m") &&
          col("qcw") === col("code"))
      .groupBy("query_id", "vec_id")
      .agg((sum(round(col("d2") * 1e9).cast("long")).cast("double") / 1e9)
        .as("adist2"))
    val w = Window.partitionBy("query_id").orderBy(col("adist2"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adist2"), col("rk"))
  }

  /** Codebooks + (m, subLen, generation seg) in ONE job: the shape
    * constants ride the sealed table (n_sub) and the arrays themselves
    * — re-deriving them with separate aggregates put 2-3
    * driver-blocking jobs on every serve/ingest call. `allowed` is the
    * caller's commit snapshot so the generation resolved here and the
    * code segments folded against it can never mix commit points. */
  private def loadCodebooks(s: SparkSession, outDir: String,
      allowed: Set[Long]): (DataFrame, Int, Int, Long) = {
    val cbSeg = activeCbSeg(s, outDir, allowed).getOrElse(
      sys.error(s"buildPq has not completed for $outDir"))
    val cb = readCodebooks(s, outDir, cbSeg).localCheckpoint(true)
    val r = cb.agg(max("m").as("mm"), max(size(col("c"))).as("sl")).head()
    (cb, r.getInt(0) + 1, r.getInt(1), cbSeg)
  }

  /** Fold the assignment log back to ONE segment (numbered with the
    * current max committed segment, so readers see identical data
    * before, during, and after) and drop the older snapshots; the swap
    * is the checked rename-aside dance — no instant leaves the index
    * missing or inconsistent. Single-writer, like ingest. */
  def compact(s: SparkSession, outDir: String): Unit = {
    wipeUncommitted(s, outDir)
    val segs = committedSegs(s, outDir)
    val top = segs.max
    val folded = foldLatest(readAsgLog(s, outDir), AsgKey, AsgFields)
      .withColumn("dead", lit(false)).localCheckpoint(true)
    def stage(root: String)(write: String => Unit): (String, String) =
      root -> SegmentLog.stageCompaction(s, root, top)(write)
    val nsh = layoutShards(s, outDir)
    val staged = Seq(
      stage(asgRoot(outDir))(folded.select(col("vec_id"), col("cell"), col("e"),
          col("dead"), shardOf(col("cell"), nsh).as("shard"))
        .repartition(col("shard")).sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").partitionBy("shard").parquet),
      stage(centRoot(outDir))(
        centroids(s, outDir).localCheckpoint(true).write.mode("overwrite").parquet)) ++
      // PQ codes: keep only the latest code of each LIVE vector — stale
      // codes of removed/rebuilt-away ids are unreachable (adcKnn joins
      // through the folded lists) and drop here
      (if (!pqEnabled(s, outDir)) Nil
      else {
        val cbSeg = activeCbSeg(s, outDir, segs).get
        val liveIds = folded.select("vec_id").distinct()
        Seq(
          stage(pqRoot(outDir))(foldLatest(readCodesLog(s, outDir, segs)
              .where(col("seg") >= cbSeg)
              .join(liveIds, Seq("vec_id"), "left_semi"), Seq("vec_id", "m"), Seq("code"))
            .localCheckpoint(true).write.mode("overwrite").parquet),
          // the active codebook generation re-lands at seg=top (its
          // content unchanged) — compaction drops every marker except
          // seg-top, and a generation whose seg is no longer committed
          // would otherwise be swept, silently disabling PQ
          stage(pqCbRoot(outDir))(s.read.parquet(s"${pqCbRoot(outDir)}/seg=$cbSeg")
            .write.mode("overwrite").parquet))
      })
    staged.foreach { case (root, st) => SegmentLog.swapDir(s, st, root) }
    // replay identity must survive the folded-away segments — the keys
    // consolidate into one file (SegmentLog.consolidateKeys), so
    // committedKeys stays O(segments since last compaction)
    SegmentLog.consolidateKeys(s, markerDir(outDir), top)
  }
}
