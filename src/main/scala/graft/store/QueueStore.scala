package graft.store

import java.sql.Timestamp

import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** The engine's state store: the reference's Redis keyspace
  * (lib/flume/queue/manager.ex:267-287) re-expressed as parquet table
  * directories.
  *
  * | Redis key                    | dir                    |
  * |------------------------------|------------------------|
  * | ns:queue:q        (LIST)     | queue/q/day=… append-only |
  * | ns:scheduled + ns:retry (ZSET)| scheduled/ + tombstones|
  * | ns:queue:processing:q (ZSET) | processing/ + tombstones|
  * | ns:dead           (ZSET)     | dead/      append-only |
  * | ns:*limit* (ZSET window)     | limit/key/ append-only |
  * | ns:pipeline:x:paused (STRING)| control/paused/x  file |
  *
  * Mutation model: append-only row files + append-only tombstone files
  * keyed by a deterministic per-row id; a "live" read is
  * rows ANTI-JOIN tombstones (broadcast — tombstones are tiny relative
  * to data).
  *
  * ONE publish path (`publish`): every write — queue, processing,
  * scheduled, dead, tombstone, limit-log appends and compaction
  * snapshots — is one staged Spark write whose row count is observed on
  * the write, then a stamp-fence-rename move of each part file into its
  * live (possibly partitioned) dir. ONE reader (`readParquet`) turns a
  * file listing into a frame.
  *
  * ONE compaction protocol (`compact`, with `compactProcessing`,
  * `compactScheduled` and `compactDead` naming each table's id column
  * and tombstone policy) folds tombstones in UNDER LIVE WRITERS via a
  * minimal Delta-style commit log: the folded snapshot is appended
  * BESIDE the old files through the table's own append path, a
  * `_manifest-<epoch>` file (atomically published) marks the old
  * row/tombstone files as replaced, readers resolve
  * listing-minus-replaced, and the superseded files are GC'd after
  * `compactionGraceMs` so in-flight read plans never lose a file from
  * under them. Appends need no log entry (a new file is live by
  * default), so the hot claim/ack path stays log-free; ids make
  * re-applied writes idempotent (at-least-once, exactly like the
  * reference's two-phase promotions, manager.ex:218-220).
  *
  * At 100 TB: queue dirs are day-partitioned so the streaming source
  * lists incrementally; tombstone anti-joins stay broadcast (ids only);
  * compaction runs as a background pass and never blocks the
  * pipelines.
  */
class QueueStore(val spark: SparkSession, val root: String,
    val compactionGraceMs: Long = 600000,
    val leaseTimeoutMs: Long = 300000,
    ownerHost: String = QueueStore.localHost) {

  val scheduledSchema: StructType = Schemas.event
    .add("sched_id", StringType).add("not_before", "timestamp").add("kind", StringType)
  val processingSchema: StructType = Schemas.event
    .add("claim_id", StringType).add("claimed_at", "timestamp")
    // the queue part file the claimed copy was read from (basename;
    // null when the claim was made without file context). Acks inherit
    // it, giving the archiver EXACT per-copy consumption evidence: a
    // re-enqueued jid's new copy lands in a new file and can never be
    // covered by a stale ack of the old copy — and conversely, acks
    // whose file has left the live dir are provably never needed again
    // and safe to fold into counters.
    .add("src_file", StringType)
  val deadSchema: StructType = Schemas.event
  // tombstones carry the queue so acked-claim history stays queryable
  // per queue even after the row files are compacted away, and the
  // source file of the acked copy for the archiver (null for tables /
  // writers that don't need them)
  private val tombSchema =
    new StructType().add("id", StringType).add("queue", StringType)
      .add("src_file", StringType)
  private val limitSchema =
    new StructType().add("id", StringType).add("processed_at", "timestamp")

  def queueDir(q: String): String = s"$root/queue/$q"
  def scheduledDir: String = s"$root/scheduled"
  def processingDir: String = s"$root/processing"
  def deadDir: String = s"$root/dead"
  def limitDir(key: String): String = s"$root/limit/${key.replace('/', '_').replace(':', '_')}"
  def tombDir(table: String): String = s"$root/tombstones/$table"
  def checkpointDir(name: String): String = s"$root/checkpoints/$name"
  private def pausedFlag(name: String) = new Path(s"$root/control/paused/$name")

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def ensureDir(dir: String): Unit = fs.mkdirs(new Path(dir))

  // -- maintenance mutual exclusion ---------------------------------------
  // ONE lock serializes every pass that deletes or supersedes files
  // (compaction, claim fold, archiver, GC): two concurrent passes could
  // otherwise each list the same files, both act, and one's delete
  // invalidates the other's read mid-job. The hot pipeline path
  // (append/tombstone/read) never takes it — appends are new files,
  // invisible to a pass that already listed.
  private val maintenanceLock = new java.util.concurrent.locks.ReentrantLock
  private[graft] def withMaintenance[A](body: => A): A = {
    maintenanceLock.lock()
    try body finally maintenanceLock.unlock()
  }
  /** Non-blocking variant for scheduled ticks: skip (None) when another
    * maintenance pass is mid-flight instead of stacking behind it. */
  private[graft] def tryMaintenance[A](body: => A): Option[A] =
    if (maintenanceLock.tryLock()) {
      try Some(body) finally maintenanceLock.unlock()
    } else None

  // -- compaction manifest (the minimal commit log) -----------------------
  // `_manifest-<epoch>` in a state-table dir lists files that a
  // committed compaction superseded but that may still be on disk
  // (grace period for in-flight readers). Publication is atomic by
  // construction: the new epoch file is fully written+closed before the
  // older epoch is deleted, and readers take the highest epoch. The
  // `_` prefix keeps every parquet listing (Spark's and ours) blind to
  // it.
  /** `replaced`: row files a committed snapshot superseded (excluded
    * from reads, GC'd after grace). `folded`: tombstone files whose
    * suppression the snapshot absorbed AND whose files may be deleted
    * (excluded from the anti-join, GC'd after grace). `applied`:
    * tombstone files the snapshot absorbed but that must STAY in force
    * — the keepTombstones path (processing acks), where the tombstone
    * remains the durable ack record and must keep suppressing replayed
    * row copies; `applied` exists so the auto-compaction gauge and the
    * rewrite-skip see only tombstones NOT yet reflected in the
    * snapshot, instead of re-rewriting the table every tick for as
    * long as the kept tombstones sit on disk. */
  private case class Manifest(epoch: Long, replaced: Set[String], folded: Set[String],
      applied: Set[String] = Set.empty)

  private def manifestFiles(dir: String): Array[(Long, Path)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).flatMap { f =>
      val n = f.getPath.getName
      if (n.startsWith("_manifest-"))
        n.stripPrefix("_manifest-").toLongOption.map(_ -> f.getPath)
      else None
    }.sortBy(_._1)
  }

  private def readManifest(dir: String): Option[Manifest] =
    manifestFiles(dir).lastOption.map { case (epoch, path) =>
      val in = fs.open(path)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      Manifest(epoch,
        replaced = lines.collect { case l if l.startsWith("replaced ") => l.stripPrefix("replaced ") }.toSet,
        folded = lines.collect { case l if l.startsWith("folded ") => l.stripPrefix("folded ") }.toSet,
        applied = lines.collect { case l if l.startsWith("applied ") => l.stripPrefix("applied ") }.toSet)
    }

  /** Publish a new manifest epoch (or retire the manifest entirely when
    * nothing is superseded any more). The body is written to a
    * dot-prefixed temp name and RENAMED into place: readers take the
    * highest epoch lock-free, so a create-then-write at the final name
    * would expose a truncated manifest mid-write — a reader parsing it
    * would lose `replaced` entries and see old files beside the
    * snapshot. Rename is the same atomic-visibility primitive every
    * other publish in this file relies on. Old epochs deleted AFTER
    * the new one exists — a crash in between leaves two epochs and
    * readers take the highest. */
  private def writeManifest(dir: String, m: Manifest): Unit = {
    val olds = manifestFiles(dir)
    if (m.replaced.isEmpty && m.folded.isEmpty && m.applied.isEmpty) {
      olds.foreach { case (_, p) => fs.delete(p, false) }
      return
    }
    fs.mkdirs(new Path(dir))
    // sweep temp manifests orphaned by a crash mid-publish (age-bounded:
    // a live publish lasts milliseconds, and another store instance on
    // this root could in principle hold a younger one)
    val tmpCutoff = System.currentTimeMillis() - 3600000L
    fs.listStatus(new Path(dir))
      .filter(f => f.getPath.getName.startsWith(".manifest-tmp-") &&
        f.getModificationTime < tmpCutoff)
      .foreach(f => fs.delete(f.getPath, false))
    val tmp = new Path(dir, s".manifest-tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val body = ("graft-manifest-v1" +:
        (m.replaced.toSeq.sorted.map("replaced " + _) ++
          m.folded.toSeq.sorted.map("folded " + _) ++
          m.applied.toSeq.sorted.map("applied " + _))).mkString("\n")
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    val dest = new Path(dir, f"_manifest-${m.epoch}%09d")
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(s"manifest publish: rename $tmp -> $dest failed")
    olds.filter(_._1 != m.epoch).foreach { case (_, p) => fs.delete(p, false) }
  }

  /** All part files under `dir` (recursing into partition subdirs), as
    * (path relative to dir, status). Dot/underscore entries skipped. */
  private def listPartFilesRec(dir: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val base = new Path(dir)
    if (!fs.exists(base)) return Seq.empty
    def walk(p: Path, prefix: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        val n = f.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (f.isDirectory) walk(f.getPath, s"$prefix$n/")
        else if (n.startsWith("part-")) Seq((s"$prefix$n", f))
        else Seq.empty
      }
    walk(base, "")
  }

  /** The live data files of a state-table dir: everything listed minus
    * what the manifest marks replaced. Absolute paths. Driver-side
    * listing only, no Spark job: an append (a new file) or a committed
    * compaction changes it, a tombstone does not — which is what lets
    * the housekeeper skip re-scanning an unchanged table. */
  def dataFiles(dir: String): Seq[String] = {
    val replaced = readManifest(dir).map(_.replaced).getOrElse(Set.empty)
    listPartFilesRec(dir).collect {
      case (rel, st) if !replaced(rel) => st.getPath.toString
    }
  }

  /** GC a table's superseded files once they are older than the grace
    * period, measured from the COMMIT that superseded them: compact()
    * re-stamps every file it supersedes to the commit instant when it
    * publishes the manifest, because the files' own mtimes carry the
    * enqueue-time part stamp and can be arbitrarily old — grace
    * measured from those would delete an hours-old table the moment it
    * is superseded, out from under readers whose listing predates the
    * commit. Then shrink or retire the manifest. Any read plan still
    * holding a GC'd file in its listing was built before the
    * compaction committed; the grace period outlives such plans, and
    * state-table readers additionally pass ignoreMissingFiles as a
    * last-resort (a dropped file's rows are in the committed snapshot,
    * so the worst case is one transient undercount on a periodic pass —
    * same stance as footerRowCount). */
  private def gcSuperseded(dir: String, table: String): Unit =
    readManifest(dir).foreach { m =>
      val cutoff = System.currentTimeMillis() - compactionGraceMs
      def ripe(p: Path): Boolean =
        !fs.exists(p) || fs.getFileStatus(p).getModificationTime < cutoff
      val (repGone, repKept) = m.replaced.partition(rel => ripe(new Path(dir, rel)))
      val (foldGone, foldKept) = m.folded.partition(n => ripe(new Path(tombDir(table), n)))
      repGone.foreach(rel => fs.delete(new Path(dir, rel), false))
      foldGone.foreach(n => fs.delete(new Path(tombDir(table), n), false))
      // applied entries are never GC'd here (their files must stay in
      // force), but the claim fold deletes absorbed tombstone files —
      // drop entries whose file is gone so the set shrinks with it
      val appKept = m.applied.filter(n => fs.exists(new Path(tombDir(table), n)))
      if (repGone.nonEmpty || foldGone.nonEmpty || appKept != m.applied)
        writeManifest(dir, Manifest(m.epoch + 1, repKept, foldKept, appKept))
    }

  /** Re-stamp files a compaction is about to supersede to NOW, so the
    * GC grace period runs from the commit rather than from the files'
    * enqueue-time part stamps (see gcSuperseded). Called BEFORE the
    * manifest publishes: a crash in between leaves live files with a
    * bumped mtime, which is harmless — state-table mtimes carry no
    * FIFO meaning (queue dirs are never compacted), and processing
    * tombstones are kept (never stamped) on the compactProcessing
    * path, so the claim fold's age gate is untouched. */
  private def stampCommitTime(paths: Iterable[Path]): Unit = {
    val now = System.currentTimeMillis()
    paths.foreach { p =>
      try fs.setTimes(p, now, -1)
      catch { case _: java.io.IOException => () } // already gone: nothing to protect
    }
  }

  /** Manifest-aware table read: live files only (a committed
    * compaction's superseded files are excluded until GC'd). */
  def readOrEmpty(dir: String, schema: StructType): DataFrame =
    readParquet(dataFiles(dir), schema)

  /** The store's one parquet reader: exactly `files` as `schema`, or an
    * empty frame when there are none; `basePath` derives partition
    * columns from the paths. Lenient by default (ignoreMissingFiles):
    * GC may delete a superseded file between a listing and the job that
    * reads it — its rows are in the committed snapshot (also in that
    * listing), so dropping it is correct, and for pre-compaction plans
    * at worst a transient undercount on a periodic pass. Passes that
    * hold the maintenance lock read `strict`: nothing can delete under
    * them, and a dropped file would fold wrong rows into a durable
    * result. */
  private def readParquet(files: Seq[String], schema: StructType,
      basePath: Option[String] = None, strict: Boolean = false): DataFrame = {
    maybeRenewLease()
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val r = spark.read.schema(schema).option("ignoreMissingFiles", !strict)
      basePath.fold(r)(r.option("basePath", _)).parquet(files: _*)
    }
  }

  /** Monotonic part-file FIFO discipline (SURVEY §7). ONE strictly
    * increasing per-writer millisecond stamp (max(now, prev+1), one
    * atomic) drives BOTH carriers, so they can never contradict each
    * other under concurrent appends:
    *
    *  - NAMES: 13-digit zero-padded stamp + uuid — lexicographic name
    *    order == stamp order == append order; durable evidence that
    *    survives mtime mangling (copies, backup restores) and readable
    *    in a directory listing;
    *  - MTIMES: the file is explicitly re-stamped with the SAME value,
    *    because the file-stream source orders a micro-batch queue by
    *    modification time and breaks ties arbitrarily — two appends
    *    inside one mtime granule would otherwise drain in listing
    *    order. Forcing distinct stamps makes FIFO deterministic per
    *    writer instead of resting on filesystem timestamp granularity.
    *
    * Across concurrent writer JVMs inside one millisecond the order is
    * arbitrary — the same within-batch reorder the reference permits. */
  private val partClock = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextPartStampMs(): Long =
    partClock.updateAndGet(prev => math.max(System.currentTimeMillis(), prev + 1))

  /** The store's one publish path. A direct `mode("append")` is UNSAFE
    * here — the engine has concurrent writers per directory (multiple
    * pipelines claiming into `processing/`, enqueuers + housekeeper on a
    * queue dir) and they would share one `_temporary/0` committer dir,
    * where one job's cleanup deletes the other's in-flight task files.
    * So every write is ONE staged Spark write to a private dir, with its
    * row count observed on the write itself (no extra Spark job), and
    * then each staged part file moves into its live dir under a fresh
    * FIFO stamp (name + mtime), behind the ownership fence, by a checked
    * rename (atomic per file).
    *
    * `parts` are partition expressions: the staged write partitions on
    * them and `target` maps a file's partition values (unescaped, in
    * order) to its live dir. Partition dirs are visited in name order;
    * within one, files go in part-index order, or a multi-part write's
    * FIFO would ride on listing order — by the PARSED index, because
    * Spark's %05d padding overflows at 100k parts, where "part-100000"
    * sorts before "part-99999". A write of no rows publishes no file.
    * Returns the rows written. */
  private def publish(df: DataFrame, parts: Column*)(target: Seq[String] => Path): Long = {
    maybeRenewLease()
    val obs = org.apache.spark.sql.Observation()
    val staging = new Path(s"$root/.staging/${java.util.UUID.randomUUID()}")
    val names = parts.indices.map(i => s"__p$i")
    df.select(col("*") +: parts.zip(names).map { case (c, n) => c.as(n) }: _*)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy(names: _*).parquet(staging.toString)
    val n = obs.get("n").asInstanceOf[Long]
    val id = java.util.UUID.randomUUID().toString
    val partIdx = "part-(\\d+)".r
    var i = 0
    def moveIn(dir: Path, values: Vector[String]): Unit =
      if (values.length < names.length)
        fs.listStatus(dir).map(_.getPath.getName)
          .filter(_.startsWith(s"${names(values.length)}=")).sorted
          .foreach(d => moveIn(new Path(dir, d), values :+ unescapePath(d.split("=", 2)(1))))
      else {
        val to = target(values)
        fs.mkdirs(to)
        fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
          .sortBy(f => partIdx.findFirstMatchIn(f.getPath.getName)
            .map(_.group(1).toLong).getOrElse(Long.MaxValue))
          .foreach { f =>
            fenceCheck() // die before publishing if ownership was taken over
            val stamp = nextPartStampMs()
            val dest = new Path(to, f"part-$stamp%013d-$id-$i.parquet")
            i += 1
            // a silently failed rename (quota, concurrent delete,
            // cross-FS) would drop this file's rows — surface it
            if (!fs.rename(f.getPath, dest))
              throw new java.io.IOException(s"publish: rename ${f.getPath} -> $dest failed")
            fs.setTimes(dest, stamp, -1)
          }
      }
    if (n > 0) moveIn(staging, Vector.empty)
    fs.delete(staging, true)
    n
  }

  /** Append rows to a table dir; returns the rows written. */
  def append(dir: String, df: DataFrame, schema: StructType): Long =
    publish(df.select(schema.fieldNames.map(col).toSeq: _*))(_ => new Path(dir))

  /** Hive-escaped partition dir values → raw (e.g. "a%3Ab" → "a:b").
    * Local implementation to avoid Spark-internal APIs. */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        s.substring(i + 1, i + 3).forall(ch => Character.digit(ch, 16) >= 0)) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def events(df: DataFrame) = df.select(Schemas.event.fieldNames.map(col).toSeq: _*)
  private def enqueueDay = date_format(col("enqueued_at"), "yyyy-MM-dd")

  /** Append rows to a queue dir under its `day=<UTC enqueue date>`
    * partition. Queue dirs are date-partitioned so BATCH reads over
    * queue history prune on day (the streaming source globs `day=*` and
    * is indifferent — it lists the whole glob per trigger either way);
    * the day derives from enqueued_at, so replays land the same rows in
    * the same partition. FIFO is untouched: publish stamps name+mtime
    * across partition subdirs from ONE per-writer clock. */
  def appendQueue(q: String, df: DataFrame): Unit =
    publish(events(df), enqueueDay) { case Seq(d) => new Path(s"${queueDir(q)}/day=$d") }

  /** Append rows to every destination queue dir in ONE Spark job (the
    * staged write partitions on queue, then enqueue day). Replaces
    * per-queue job loops — at thousands of queues a loop is thousands
    * of Spark jobs per housekeeping tick. */
  def appendToQueues(df: DataFrame): Unit =
    publish(events(df), col("queue"), enqueueDay) {
      case Seq(q, d) => new Path(s"${queueDir(q)}/day=$d")
    }

  /** The scheduled table is hive-partitioned on nb_day (the UTC date of
    * not_before), so the housekeeper's due scan partition-prunes away
    * far-future days — the ZRANGEBYSCORE analog at the directory level. */
  def appendScheduled(df: DataFrame): Unit =
    publish(df.select(scheduledSchema.fieldNames.map(col).toSeq: _*),
      date_format(col("not_before"), "yyyy-MM-dd")) {
      case Seq(d) => new Path(s"$scheduledDir/nb_day=$d")
    }

  private val scheduledSchemaP: StructType = scheduledSchema.add("nb_day", StringType)

  /** Partition-discovering read of the scheduled table (nb_day comes
    * from the dir names; filters on it show as PartitionFilters).
    * Manifest-aware: live files only, resolved against basePath so the
    * partition column still derives from the paths. Reads exactly
    * `files` (a [[dataFiles]] listing). */
  private def readScheduled(files: Seq[String]): DataFrame =
    readParquet(files, scheduledSchemaP, basePath = Some(scheduledDir))

  /** Materialize df into a private staging dir and read it back: a
    * stable snapshot decoupled from live-table recomputation, so
    * two-phase moves (append then tombstone) act on ONE set even if
    * the source tables change in between. Caller runs the cleanup. */
  def snapshot(df: DataFrame): (DataFrame, () => Unit) = {
    val dir = s"$root/.staging/snap-${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").parquet(dir)
    (spark.read.schema(df.schema).parquet(dir),
      () => { fs.delete(new Path(dir), true); () })
  }

  /** Append tombstones: first column is the id; optional `queue` and
    * `src_file` columns are preserved (processing claims), else stored
    * null. */
  def tombstone(table: String, ids: DataFrame): Unit = {
    def opt(name: String) =
      if (ids.columns.contains(name)) col(name)
      else lit(null).cast(StringType).as(name)
    append(tombDir(table),
      ids.select(col(ids.columns.head).as("id"), opt("queue"), opt("src_file")),
      tombSchema)
  }

  /** Tombstones of `table` still in force: the listing minus the files
    * a committed compaction already folded into `dir`'s snapshot (they
    * stay on disk for the GC grace period; re-applying them would be
    * harmless — their rows are gone — but excluding them keeps the
    * anti-join side minimal). ignoreMissingFiles: the claim fold / GC
    * may delete a listed file mid-read; any row it suppressed has no
    * surviving copy (the fold proves that before deleting), so dropping
    * it cannot resurrect anything. */
  private def readTombsInForce(dir: String, table: String): DataFrame = {
    val folded = readManifest(dir).map(_.folded).getOrElse(Set.empty)
    readParquet(listPartFilesRec(tombDir(table)).collect {
      case (rel, st) if !folded(rel) => st.getPath.toString
    }, tombSchema)
  }

  /** rows minus tombstones; idCol names the row's tombstone key. */
  private def minusTombs(rows: DataFrame, dir: String, table: String, idCol: String): DataFrame = {
    val tombs = readTombsInForce(dir, table)
    rows.join(broadcast(tombs), rows(idCol) === tombs("id"), "left_anti")
  }

  // -- typed views of the state tables ------------------------------------
  def queueRows(q: String): DataFrame = readOrEmpty(queueDir(q), Schemas.event)

  /** The streaming source's path for a queue: the day-partition glob.
    * Globbed, not the bare dir, so the file-stream source lists data
    * files only (day subdirs appear under the glob as they are
    * created). */
  def queueStreamPath(q: String): String = s"${queueDir(q)}/day=*"

  private val eventSchemaP: StructType = Schemas.event.add("day", StringType)

  /** Partition-discovering batch read of a queue's history: carries the
    * `day` partition column, so date predicates prune whole day dirs
    * (PartitionFilters) instead of footer-scanning years of history.
    * The analytics/audit path; the pipeline itself streams the glob. */
  def queueHistory(q: String): DataFrame =
    readParquet(dataFiles(queueDir(q)), eventSchemaP, basePath = Some(queueDir(q)))
  /** Deduped on sched_id: a micro-batch that crashes after the
    * scheduled-table append replays and re-appends the same
    * deterministic sched_id; without the dedupe, promoteDue would
    * enqueue both copies — double execution of the retry. Carries the
    * nb_day partition column so callers' date predicates prune.
    * Reads exactly `files` (a [[dataFiles]] listing, the live one by
    * default): the housekeeper scans the listing it compares against
    * next tick. */
  def liveScheduled(files: Seq[String] = dataFiles(scheduledDir)): DataFrame =
    minusTombs(readScheduled(files), scheduledDir, "scheduled", "sched_id")
      .dropDuplicates("sched_id")
  /** Deduped on claim_id: a replayed micro-batch re-appends the same
    * deterministic claim ids (duplicate rows differ only in
    * claimed_at), and a compaction interrupted between snapshot move-in
    * and manifest commit leaves the snapshot's copies beside the
    * originals — in both cases one copy per claim is the truth, and
    * without the dedupe requeueStuck would requeue a stuck claim once
    * per copy. Reads exactly `files`, as liveScheduled. */
  def liveProcessing(files: Seq[String] = dataFiles(processingDir)): DataFrame =
    minusTombs(readParquet(files, processingSchema), processingDir, "processing", "claim_id")
      .dropDuplicates("claim_id")
  /** Deduped on jid for the same replayed-append reason as
    * liveScheduled (jid is the dead row's natural identity). */
  def deadRows: DataFrame = readOrEmpty(deadDir, deadSchema).dropDuplicates("jid")
  /** Distinct claims ever made for a queue. Distinct, because a
    * replayed micro-batch re-appends the same deterministic claim_id;
    * and a UNION of row claims with tombstoned claim ids, because
    * compaction drops acked rows but KEEPS the processing tombstones
    * (compactProcessing) — the id+queue tombstone is the durable record
    * of the ack, so job_counts survives compaction idempotently. */
  def rawProcessingCount(q: String): Long =
    rawProcessingCounts(Seq(q)).getOrElse(q, 0L)

  /** Distinct claims for MANY queues in ONE column-pruned Spark job
    * (ids + queue only — the claim tables are id-sized, and acked
    * rows compact away), instead of a scan per queue per call.
    * Reads = folded per-queue counters (latest fold epoch) + the
    * tombstones NOT yet folded + live claim rows — so the scan cost is
    * bounded by the fold horizon, not by all-time ack history. */
  def rawProcessingCounts(qs: Seq[String]): Map[String, Long] = {
    val (folded, excluded) = latestFoldEpoch() match {
      case Some((_, dir)) => (readFoldCounts(dir), readFoldManifest(dir))
      case None => (Map.empty[String, Long], Set.empty[String])
    }
    val rowClaims = readOrEmpty(processingDir, processingSchema)
      .select(col("claim_id").as("id"), col("queue"))
    val tombFiles = listTombFiles("processing")
      .filterNot(f => excluded(f.getPath.getName))
    // ignoreMissingFiles: a concurrent foldClaimCounters may delete a
    // listed file before the scan opens it — its claims are then in the
    // counters of an epoch this call has not read, so dropping the file
    // is a transient undercount, not a crash (matches footerRowCount's
    // FileNotFoundException->0 stance)
    val tombClaims = readParquet(tombFiles.map(_.getPath.toString).toSeq, tombSchema)
    val unfolded = rowClaims.unionAll(tombClaims.select(col("id"), col("queue")))
      .where(col("queue").isin(qs: _*))
      .groupBy("queue").agg(countDistinct("id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    qs.distinct.flatMap { q =>
      val n = folded.getOrElse(q, 0L) + unfolded.getOrElse(q, 0L)
      if (n == 0) None else Some(q -> n)
    }.toMap
  }

  // -- acked-claim counter fold --------------------------------------------
  // The processing tombstones are the durable acked-claim record that
  // job_counts depends on, so compactProcessing keeps them — which
  // makes them the store's one structure that would otherwise grow for
  // the lifetime of the deployment. The fold rolls old tombstone FILES
  // into a per-queue counter table: counts stay exact, reads touch only
  // the counters plus the recent (unfolded) tombstones.

  def claimCountsDir: String = s"$root/claimcounts"

  private def listTombFiles(table: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(tombDir(table))
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
  }

  private def latestFoldEpoch(): Option[(Int, Path)] = {
    val base = new Path(claimCountsDir)
    if (!fs.exists(base)) None
    else fs.listStatus(base).filter(_.isDirectory).flatMap { d =>
      d.getPath.getName.stripPrefix("epoch=").toIntOption.map(_ -> d.getPath)
    }.sortBy(_._1).lastOption
  }

  private def readFoldCounts(dir: Path): Map[String, Long] =
    spark.read.schema(new StructType().add("queue", StringType).add("n", "long"))
      .parquet(dir.toString)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Tombstone file names folded into this epoch's counters (they may
    * still exist on disk if the fold's deletes were interrupted — reads
    * must exclude them so no claim counts twice). `_`-prefixed so the
    * parquet reader of the same dir ignores it. */
  private def readFoldManifest(dir: Path): Set[String] = {
    val mf = new Path(dir, "_folded.txt")
    if (!fs.exists(mf)) Set.empty
    else {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** Complete a fold interrupted at any point: the latest epoch's
    * manifest lists exactly the tombstone files its counters absorbed —
    * re-delete them (idempotent) and drop superseded epoch dirs. Reads
    * were correct throughout because they exclude manifest files. */
  def recoverClaimFold(): Unit = {
    val base = new Path(claimCountsDir)
    if (!fs.exists(base)) return
    latestFoldEpoch().foreach { case (latest, dir) =>
      readFoldManifest(dir).foreach(nm =>
        fs.delete(new Path(tombDir("processing"), nm), false))
      fs.listStatus(base).filter(_.isDirectory).foreach { d =>
        if (d.getPath.getName.stripPrefix("epoch=").toIntOption.exists(_ < latest))
          fs.delete(d.getPath, true)
      }
    }
  }

  /** Fold acked-claim tombstone files older than `olderThanMs` into the
    * per-queue counter table, then delete them. Exactness invariants:
    *
    *  - a file is foldable only if NONE of its claim ids still has a
    *    row copy in the processing dir — deleting such a tombstone
    *    would resurrect the acked row in liveProcessing (run
    *    compactProcessing first to make files foldable);
    *  - a file is foldable only if none of its acks reference a source
    *    queue file still in the live dir — the archiver's per-copy
    *    coverage test still needs those acks (archiveConsumedAll runs
    *    first in maintenance(), so a fully-covered source file leaves
    *    the live dir before its acks become foldable);
    *  - an id that also appears in a REMAINING tombstone file
    *    contributes 0 to the counter now (it keeps counting as a
    *    tombstone until that file folds) — no double count;
    *  - the new epoch dir (counters + manifest of absorbed files) is
    *    staged and published by ONE atomic rename; absorbed files are
    *    deleted after. Every crash point is healed by recoverClaimFold
    *    and reads are correct in between (manifest exclusion).
    *
    * The age gate keeps the fold clear of streaming-replay horizons: a
    * replayed micro-batch re-appends the same deterministic claim ids,
    * which distinct-count as no-ops only while they are still visible
    * as tombstones. Returns files folded. Serialized with compaction:
    * both read-then-delete the same tombstone files. */
  def foldClaimCounters(olderThanMs: Long = 600000): Long =
    withMaintenance(foldClaimCountersLocked(olderThanMs))

  private def foldClaimCountersLocked(olderThanMs: Long): Long = {
    recoverClaimFold()
    val cutoff = System.currentTimeMillis() - olderThanMs
    val all = listTombFiles("processing")
    val candidates = all.filter(_.getModificationTime < cutoff)
    if (candidates.isEmpty) return 0L
    val candDF = readParquet(candidates.map(_.getPath.toString).toSeq, tombSchema, strict = true)
      .withColumn("f", input_file_name())
    val rowIds = readOrEmpty(processingDir, processingSchema)
      .select(col("claim_id").as("id"))
    val blocked = candDF.join(rowIds, Seq("id"), "left_semi")
      .select("f").distinct().collect().map(_.getString(0)).toSet
    // an ack whose copy's source file is STILL in the live queue dir is
    // evidence the archiver's per-copy coverage test has not consumed
    // yet — folding it would strand that file in the live dir forever.
    // Block the tombstone file until the source file is archived (fold
    // runs after archiveConsumedAll in maintenance(), so this clears
    // one tick after the source file becomes fully covered).
    val srcRefs = candDF
      .where(col("src_file").isNotNull && col("queue").isNotNull)
      .select(col("queue"), col("src_file"), col("f")).distinct().collect()
    // src_file records the BASENAME; queue files live under day=
    // subdirs, so liveness is a recursive basename lookup (one listing
    // per referenced queue, not one exists() per file)
    val liveNames: Map[String, Set[String]] =
      srcRefs.map(_.getString(0)).distinct.map(q =>
        q -> listPartFilesRec(queueDir(q)).map(_._2.getPath.getName).toSet).toMap
    val srcLive = srcRefs.map(r => (r.getString(0), r.getString(1))).distinct
      .filter { case (q, sf) => liveNames.getOrElse(q, Set.empty)(sf) }.toSet
    val blockedSrc = srcRefs
      .filter(r => srcLive((r.getString(0), r.getString(1))))
      .map(_.getString(2)).toSet
    val foldable = candidates.filterNot(f =>
      blocked.exists(_.endsWith(f.getPath.getName)) ||
        blockedSrc.exists(_.endsWith(f.getPath.getName)))
    if (foldable.isEmpty) return 0L
    val foldNames = foldable.map(_.getPath.getName).toSet
    val remaining = all.filterNot(f => foldNames(f.getPath.getName))
    val foldDF = readParquet(foldable.map(_.getPath.toString).toSeq, tombSchema, strict = true)
    val remIds = readParquet(remaining.map(_.getPath.toString).toSeq, tombSchema, strict = true)
    val newly = foldDF.select("id", "queue").distinct()
      .join(remIds.select("id"), Seq("id"), "left_anti")
      .groupBy("queue").agg(count("*").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prevEpoch = latestFoldEpoch()
    val prev = prevEpoch.map(e => readFoldCounts(e._2)).getOrElse(Map.empty[String, Long])
    val merged = (prev.keySet ++ newly.keySet).map(q =>
      q -> (prev.getOrElse(q, 0L) + newly.getOrElse(q, 0L))).toSeq
    val epoch = prevEpoch.map(_._1 + 1).getOrElse(0)
    val staging = s"$root/.staging/fold-${java.util.UUID.randomUUID()}"
    import spark.implicits._
    merged.toDF("queue", "n").coalesce(1).write.mode("overwrite").parquet(staging)
    val mf = fs.create(new Path(staging, "_folded.txt"), true)
    try mf.write(foldable.map(_.getPath.getName).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mf.close()
    fs.mkdirs(new Path(claimCountsDir))
    val epochDir = new Path(s"$claimCountsDir/epoch=$epoch")
    if (!fs.rename(new Path(staging), epochDir))
      throw new java.io.IOException(s"claim fold: rename $staging -> $epochDir failed")
    foldable.foreach(f => fs.delete(f.getPath, false))
    prevEpoch.foreach { case (_, d) => fs.delete(d, true) }
    foldable.length.toLong
  }

  /** Row count of an append-only table from parquet FOOTERS only —
    * driver-side metadata reads, no Spark job, no data scan. Exact for
    * queue dirs (append-only, never deduped). O(files) footer reads;
    * at scale the compactor keeps file counts bounded. */
  def footerRowCount(dir: String): Long = {
    val p = new Path(dir)
    if (!fs.exists(p)) 0L
    else listPartFilesRec(dir).map(f => footerCount(f._2)).sum
  }

  // a concurrently deleted/moved listed file opens as 0 rows: for queue
  // dirs the archiver counts its rows under the archive, for tombstones
  // a fold counted them into the counters — either way not lost
  private def footerCount(f: org.apache.hadoop.fs.FileStatus): Long =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    } catch {
      case _: java.io.FileNotFoundException => 0L
    }

  /** Row count of `table`'s tombstones a committed snapshot has NOT
    * yet absorbed — the listing minus `folded` (deleted-after-grace)
    * minus `applied` (kept in force but already reflected in the
    * snapshot) — from parquet footers only (driver-side metadata, no
    * Spark job). This is the auto-compaction trigger's gauge: counting
    * every file on disk would keep re-triggering full-table rewrites —
    * folded files sit out the GC grace window, applied files sit on
    * disk until the claim fold absorbs them, and neither justifies
    * another rewrite. */
  def tombstoneRowCountUnabsorbed(dir: String, table: String): Long = {
    val m = readManifest(dir)
    val excluded = m.map(x => x.folded ++ x.applied).getOrElse(Set.empty)
    listPartFilesRec(tombDir(table)).collect {
      case (rel, st) if !excluded(rel) => footerCount(st)
    }.sum
  }

  // -- driver-side rate-limit window mirror -------------------------------
  // Every rate-limited trigger needs the window's consumption count,
  // and a blocked short window its next-reopen instant. Answering
  // those from the parquet limit log is a Spark job PER TRIGGER
  // (~10-20 scheduler round-trips/second at a 100 ms trigger); the
  // reference answers the same question with a server-side O(log n)
  // ZCOUNT (bulk_dequeue.ex:196-219). The mirror keeps, per key, each
  // admitted id's LATEST processed_at in a driver hash map: rebuilt
  // from the log on first access (one Spark job per key per process),
  // updated synchronously by limitLogAppend AFTER the durable append
  // succeeds, pruned to the widest window any caller asked about. The
  // LOG stays the durable truth — the mirror is a cache of it, and a
  // restart rebuilds exactly the log's state (single-driver ownership
  // is enforced, so no other writer can grow the log behind it).
  private final class LimitWindow {
    val byId = new scala.collection.mutable.HashMap[String, Long]()
    var retainMs: Long = 0L // widest (now - sinceMs) any caller used
    // entries with ts < this may already be discarded: a later caller
    // whose window reaches back past it must NOT answer from this
    // mirror (it would undercount until restart) — see limitWindowCovering
    var prunedBeforeMs: Long = Long.MinValue
    def prune(nowMs: Long): Unit =
      if (retainMs > 0) {
        val cutoff = nowMs - retainMs - 60000L // slack for caller clock skew
        if (cutoff > prunedBeforeMs) prunedBeforeMs = cutoff
        byId.filterInPlace((_, ts) => ts >= cutoff)
      }
  }
  private val limitMirror =
    new java.util.concurrent.ConcurrentHashMap[String, LimitWindow]()

  /** Mirror for `key` guaranteed to cover entries back to `sinceMs`:
    * when a caller's window reaches past what earlier (narrower)
    * callers let prune() discard, the mirror key is invalidated and
    * rebuilt from the durable log (one Spark job — the same cost as
    * the first access; the log itself retains at least the hourly
    * disk-prune horizon, which bounds every supported window). */
  private def limitWindowCovering(key: String, sinceMs: Long): LimitWindow = {
    val w = limitWindow(key)
    val stale = w.synchronized(sinceMs < w.prunedBeforeMs)
    if (!stale) w
    else {
      limitMirror.remove(key, w)
      limitWindow(key)
    }
  }

  private def limitWindow(key: String): LimitWindow =
    limitMirror.computeIfAbsent(key, _ => {
      val w = new LimitWindow
      // rebuild from the durable log: per-id latest admission (the log
      // holds replayed duplicates of an id; only the newest bounds its
      // window membership). Disk is pruned hourly, so this is bounded.
      readOrEmpty(limitDir(key), limitSchema)
        .groupBy("id").agg(max("processed_at").as("processed_at"))
        .collect()
        .foreach(r => w.byId.update(r.getString(0), r.getTimestamp(1).getTime))
      w
    })

  /** Jobs admitted through a rate-limit window (B2's ns:limit ZSET).
    * Rows carry the deterministic claim id of the admission, so a
    * REPLAYED micro-batch re-appends the same ids and the distinct
    * count — the window state — is unchanged (replay-idempotent,
    * unlike a bare row count). Durable: rebuilt from disk on restart
    * exactly as the reference rebuilds from the limit ZSET. The ids
    * are collected driver-side (bounded by the per-trigger admission,
    * itself capped by the rate limit) — they feed both the durable
    * append and, only after it succeeds, the driver mirror. */
  def limitLogAppend(key: String, admissionIds: DataFrame, at: Timestamp): Unit = {
    val ids = admissionIds.toDF("id").collect().map(_.getString(0))
    import spark.implicits._
    val rows = ids.toSeq.toDF("id").withColumn("processed_at", lit(at))
    append(limitDir(key), rows, limitSchema)
    val w = limitWindow(key)
    w.synchronized {
      ids.foreach(id =>
        w.byId.update(id, math.max(w.byId.getOrElse(id, 0L), at.getTime)))
      w.prune(System.currentTimeMillis())
    }
  }

  /** Window consumption since `sinceMs`, answered from the driver
    * mirror — ZERO Spark jobs on the steady-state admission path (the
    * one rebuild on first access aside). `excludeIdSuffix` lets a
    * replayed micro-batch ignore its OWN previous attempt's entries
    * (ids end in :batchId), so replays recompute the same admission
    * split instead of counting themselves as foreign consumption.
    * Equivalent to the log-based distinct count: an id is in-window
    * iff ANY of its log rows is, iff its LATEST is — which is what the
    * mirror stores. */
  def limitCountSince(key: String, sinceMs: Long,
      excludeIdSuffix: Option[String] = None): Long = {
    val w = limitWindowCovering(key, sinceMs)
    w.synchronized {
      val now = System.currentTimeMillis()
      w.retainMs = math.max(w.retainMs, now - sinceMs)
      w.prune(now)
      w.byId.iterator.count { case (id, ts) =>
        ts > sinceMs && !excludeIdSuffix.exists(id.endsWith)
      }.toLong
    }
  }

  /** Earliest admission timestamp still inside the window (> sinceMs) —
    * `+ scale` gives the moment the window next frees a slot. The park
    * path deliberately passes NO exclusion: when this batch itself just
    * filled the window, its own earliest admission is exactly what must
    * expire first (excluding it would compute the reopen time from an
    * older foreign entry, or fall to the poll-interval fallback, and
    * promote parked rows before the window can admit them).
    * `excludeIdSuffix` exists for limitCountSince-style replay
    * recomputation only. None ⇔ the window holds no (non-excluded)
    * entries. Mirror-answered; over per-id LATEST admissions, which is
    * the exact instant an id stops counting against the window (an
    * older replayed row of the same id expiring frees nothing). */
  def limitEarliestSince(key: String, sinceMs: Long,
      excludeIdSuffix: Option[String] = None): Option[Long] = {
    val w = limitWindowCovering(key, sinceMs)
    w.synchronized {
      val now = System.currentTimeMillis()
      w.retainMs = math.max(w.retainMs, now - sinceMs)
      val vals = w.byId.iterator.collect {
        case (id, ts) if ts > sinceMs && !excludeIdSuffix.exists(id.endsWith) => ts
      }
      if (vals.isEmpty) None else Some(vals.min)
    }
  }

  /** Prune rate-limit window logs: a part file whose mtime is older
    * than `olderThanMs` cannot hold any entry inside a window of that
    * size (entries are stamped at write time), so it can be deleted —
    * the ZREMRANGEBYSCORE lazy-expiry analog (bulk_dequeue.ex:297-299).
    * Without this the admission log grows without bound. Returns files
    * deleted across all keys. */
  def pruneLimitLogs(olderThanMs: Long = 3600000): Long = {
    val base = new Path(s"$root/limit")
    if (!fs.exists(base)) return 0L
    val cutoff = System.currentTimeMillis() - olderThanMs
    var deleted = 0L
    fs.listStatus(base).filter(_.isDirectory).foreach { keyDir =>
      var lost = 0L
      fs.listStatus(keyDir.getPath)
        .filter(f => f.getPath.getName.startsWith("part-") &&
          f.getModificationTime < cutoff)
        .foreach { f => if (fs.delete(f.getPath, false)) { deleted += 1; lost += 1 } }
      // the prune mutated the durable log, so the driver mirror of any
      // key mapping to this dir is stale — drop it; the next admission
      // rebuilds from the surviving files (mirror keys are raw, dir
      // names sanitized, hence the limitDir-basename match)
      if (lost > 0) {
        val it = limitMirror.keySet().iterator()
        while (it.hasNext) {
          val k = it.next()
          if (new Path(limitDir(k)).getName == keyDir.getPath.getName) it.remove()
        }
      }
    }
    deleted
  }

  /** Sweep orphaned staging dirs — a crashed write leaves its private
    * `.staging/<uuid>` dir behind forever (completed writes always
    * delete their own). Age-bounded so live writes are untouched (a
    * staging dir lives for the duration of one write), and serialized
    * with compaction via the maintenance lock, so a compaction
    * snapshot mid-write can never be swept no matter how long it
    * takes. Returns dirs deleted. */
  def pruneStaleStaging(olderThanMs: Long = 3600000): Long = withMaintenance {
    val base = new Path(s"$root/.staging")
    if (!fs.exists(base)) 0L
    else {
      val cutoff = System.currentTimeMillis() - olderThanMs
      var n = 0L
      fs.listStatus(base).filter(_.getModificationTime < cutoff).foreach { d =>
        if (fs.delete(d.getPath, true)) n += 1
      }
      n
    }
  }

  // -- durable pause flag (pipeline/event.ex:41-55) -----------------------
  def setPaused(name: String, paused: Boolean): Unit =
    if (paused) { fs.mkdirs(pausedFlag(name).getParent); fs.create(pausedFlag(name), true).close() }
    else fs.delete(pausedFlag(name), false)
  def isPaused(name: String): Boolean = fs.exists(pausedFlag(name))

  /** Fold tombstones into the row files UNDER LIVE WRITERS — no
    * directory swap, no quiesce requirement. Protocol (serialized by
    * the maintenance lock; concurrent APPENDS are always safe because
    * they create new files this pass never listed):
    *
    *   1. snapshot the live row-file list R and in-force tombstone
    *      file list T (tombstones appended concurrently are not in T
    *      and stay in force — they suppress their rows in every read);
    *   2. append rows(R) ANTI-JOIN tombs(T), deduped on idCol, through
    *      the table's own append path (publish; the scheduled table's
    *      snapshot lands in its nb_day partitions) — additive: until
    *      commit, readers see both copies, which the id-dedup readers
    *      collapse (the same dedup replayed micro-batches already
    *      require);
    *   3. COMMIT: publish a manifest epoch marking R (and T, unless
    *      keepTombstones) superseded — readers now resolve
    *      listing-minus-superseded;
    *   4. GC superseded files after `compactionGraceMs`, so read plans
    *      listed before the commit never lose a file mid-job.
    *
    * Every crash point converges: before commit, duplicates are
    * dedup-invisible and the next pass folds them; after commit, the
    * next pass finishes the GC. Nothing is ever deleted before the
    * committed snapshot covers it.
    *
    * With NO unfolded tombstones the rewrite is skipped (the GC leg
    * still runs): a compaction that folds nothing would
    * churn a full table rewrite per call — the auto-compaction tick
    * fires on the in-force tombstone count, so a skip here is what
    * makes the grace window quiet (folded-but-not-yet-GC'd tombstone
    * files must not retrigger rewrites). `rewriteWithoutTombstones`
    * forces the rewrite anyway — the dead-table fold uses it to
    * collapse an append-only table's files and replay duplicates
    * even though nothing tombstones dead rows. */
  def compact(dir: String, table: String, schema: StructType, idCol: String,
      keepTombstones: Boolean = false,
      rewriteWithoutTombstones: Boolean = false): Unit = withMaintenance {
    gcSuperseded(dir, table)
    val manifest = readManifest(dir)
    val replaced0 = manifest.map(_.replaced).getOrElse(Set.empty)
    val folded0 = manifest.map(_.folded).getOrElse(Set.empty)
    val applied0 = manifest.map(_.applied).getOrElse(Set.empty)
    // in-force tombstones all participate in the anti-join (applied
    // ones must keep suppressing replayed row copies), but only files
    // the snapshot has NOT yet absorbed justify a rewrite
    val tombFiles = listPartFilesRec(tombDir(table)).filterNot(f => folded0(f._1))
    val tombFilesNew = tombFiles.filterNot(f => applied0(f._1))
    val rowFiles = listPartFilesRec(dir).filterNot(f => replaced0(f._1))
    if (rowFiles.isEmpty) {
      // empty table: tombstones suppress nothing, so they can go now
      // (unless the claim fold still needs them); nothing to rewrite
      if (!keepTombstones) tombFiles.foreach { case (_, st) => fs.delete(st.getPath, false) }
    } else if (tombFilesNew.isEmpty && !rewriteWithoutTombstones) {
      () // nothing to fold — leave the table untouched
    } else {
      // strict reads: T must be read completely or the pass must fail —
      // a silently dropped tombstone file would resurrect its rows INTO
      // the durable snapshot (deleters all hold the maintenance lock, so
      // this cannot race)
      val tombs = readParquet(tombFiles.map(_._2.getPath.toString), tombSchema, strict = true)
      val rows = readParquet(rowFiles.map(_._2.getPath.toString), schema, strict = true)
      val snap = rows.join(broadcast(tombs), rows(idCol) === tombs("id"), "left_anti")
        .dropDuplicates(idCol)
      // the snapshot goes through the table's own append path, so a
      // partitioned table keeps its layout
      if (dir == scheduledDir) appendScheduled(snap) else append(dir, snap, schema)
      stampCommitTime(rowFiles.map { case (rel, _) => new Path(dir, rel) } ++
        (if (keepTombstones) Nil
         else tombFiles.map { case (rel, _) => new Path(tombDir(table), rel) }))
      writeManifest(dir, Manifest(manifest.map(_.epoch + 1).getOrElse(0L),
        replaced0 ++ rowFiles.map(_._1),
        if (keepTombstones) folded0 else folded0 ++ tombFiles.map(_._1),
        if (keepTombstones) tombFiles.map(_._1).toSet else Set.empty))
      gcSuperseded(dir, table) // immediate when compactionGraceMs == 0
    }
  }

  /** Archive fully-consumed queue files: move every part file (older
    * than `olderThanMs`) whose rows ALL have acked claims into the
    * queue's archive dir. At 100 TB this is what keeps the streaming
    * source's per-trigger listing cost bounded — consumed files leave
    * the live dir instead of accumulating forever; history stays
    * queryable under archive/. Safe with the running query: the source
    * only lists for NEW files, and a crash-replay of an already-acked
    * file is skipped via spark.sql.files.ignoreMissingFiles (re-running
    * acked jobs is the at-least-once contract anyway; the jobs' claims
    * are acked, so only the file read is skipped). Returns files moved.
    */
  def archiveConsumed(q: String, olderThanMs: Long = 600000): Long =
    archiveConsumedAll(Seq(q), olderThanMs)

  /** Batched archiver: ONE pass serves every queue — the acked-claim
    * tombstones are scanned once instead of re-scanned per queue (at
    * thousands of queues, a per-queue loop is thousands of redundant
    * tombstone scans per maintenance tick).
    *
    * A row copy is consumed iff an acked claim exists for its EXACT
    * (queue, jid, source file) — acks inherit src_file from the claim.
    * A bare "has an acked claim" test per jid would be wrong: a
    * requeued/deferred job appends a NEW copy under the SAME jid to a
    * NEW file, and the old claim's tombstone must not let the new,
    * unprocessed copy's file be archived; per-copy matching makes that
    * impossible by construction, stays exact when two copies of one
    * jid land in the same micro-batch (one deterministic claim id),
    * and keeps working after old acks fold into counters (only acks of
    * STILL-LIVE files are ever needed — foldClaimCounters blocks on
    * exactly that). Rows are attributed to queues by their `queue`
    * column, which every engine write path keeps equal to the
    * directory's queue. */
  def archiveConsumedAll(qs: Seq[String], olderThanMs: Long = 600000): Long =
    withMaintenance(archiveConsumedAllLocked(qs, olderThanMs))

  private def archiveConsumedAllLocked(qs: Seq[String], olderThanMs: Long): Long = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    // recursive: queue files live under day= partition subdirs; the
    // archive move preserves the relative path so history stays
    // day-partitioned under .archive/ too
    val oldByQueue: Map[String, Seq[(String, org.apache.hadoop.fs.FileStatus)]] =
      qs.distinct.map { q =>
        q -> listPartFilesRec(queueDir(q))
          .filter(_._2.getModificationTime < cutoff)
      }.toMap.filter(_._2.nonEmpty)
    if (oldByQueue.isEmpty) return 0L
    val targets = oldByQueue.keys.toSeq
    // EXACT per-copy consumption evidence: claims record the basename
    // of the queue file their copy was read from, and acks inherit it —
    // so a row (queue, jid) in file F is consumed iff an acked claim
    // (queue, jid, src_file=F) exists. No per-jid counting across
    // live+archive copies (a count-based rule breaks when two copies of
    // one jid land in the SAME micro-batch — one deterministic claim id
    // covers both — and when old acks fold into counters), and the
    // archive dir never needs scanning.
    //
    // Claim ids are jid:batchId[:d]; parse the jid from the RIGHT
    // (strip the numeric batch id + optional defer marker) — external
    // jids from enqueueRawJson may themselves contain colons, so a
    // left-split would mis-attribute acks and could archive an
    // unprocessed job.
    val acks = readOrEmpty(tombDir("processing"), tombSchema)
      .where(col("queue").isin(targets: _*) && col("src_file").isNotNull)
      .select(col("queue"),
        regexp_replace(col("id"), ":[0-9]+(:d)?$", "").as("jid"),
        col("src_file"))
      .distinct()
    // files with any row copy not covered by a same-file ack stay
    val oldPaths = oldByQueue.values.flatten.map(_._2.getPath.toString).toSeq
    val pending = readParquet(oldPaths, Schemas.event, strict = true)
      .select(col("queue"), col("jid"),
        regexp_extract(input_file_name(), "[^/]+$", 0).as("src_file"))
      .join(acks, Seq("queue", "jid", "src_file"), "left_anti")
      .select("src_file").distinct().collect().map(_.getString(0)).toSet
    var moved = 0L
    oldByQueue.foreach { case (q, files) =>
      val archive = new Path(s"${queueDir(q)}/.archive")
      files.foreach { case (rel, f) =>
        // part names carry a UUID — unique across queues, so the
        // basename is a safe key
        if (!pending.contains(f.getPath.getName)) {
          val dest = new Path(archive, rel)
          fs.mkdirs(dest.getParent)
          if (fs.rename(f.getPath, dest)) moved += 1
          else graft.GraftLog.current.warn(
            s"archive rename failed for ${f.getPath.toUri}")
        }
      }
    }
    moved
  }

  /** Compact the processing table, KEEPING its tombstones: the
    * (claim_id, queue) tombstone is the durable acked-claim record that
    * rawProcessingCount/job_counts rely on after the rows are gone.
    * Correct only when processing tombstones carry their queue — all
    * engine write paths do; ad-hoc callers must too. */
  def compactProcessing(): Unit =
    compact(processingDir, "processing", processingSchema, "claim_id", keepTombstones = true)

  /** Compact the scheduled table: retry and promotion tombstones fold
    * away; the snapshot keeps the nb_day layout because it is written
    * through appendScheduled. */
  def compactScheduled(): Unit =
    compact(scheduledDir, "scheduled", scheduledSchema, "sched_id")

  /** Fold the dead-letter table to one deduped snapshot. The dead
    * table is append-only — nothing tombstones a dead row (parity: the
    * reference's ns:dead ZSET also only grows, dead_letter.ex path) —
    * but at always-on scale the per-read dropDuplicates("jid") in
    * deadRows pays for every replayed append since the dawn of the
    * deployment. The fold reuses the manifest-commit protocol
    * (`rewriteWithoutTombstones`: there are no tombstones to justify
    * the rewrite — collapsing files and replay duplicates IS the
    * point), so it is safe under live writers and crash-healing like
    * every other compaction. Call gated by deadPartFileCount, not
    * unconditionally: the rewrite always runs when invoked. */
  def compactDead(): Unit =
    compact(deadDir, "dead", deadSchema, "jid", rewriteWithoutTombstones = true)

  /** Live (non-replaced) part files in the dead dir — the driver-side
    * listing-only gauge that arms compactDead. Grows with appends
    * since the last fold, collapses to the snapshot's width after. */
  def deadPartFileCount(): Long = {
    val replaced = readManifest(deadDir).map(_.replaced).getOrElse(Set.empty)
    listPartFilesRec(deadDir).count { case (rel, _) => !replaced(rel) }.toLong
  }

  // -- single-driver ownership guard (SURVEY §2 E3) -----------------------
  // The FIFO part-stamp clock, the runner quiesce registry and the
  // maintenance lock are all per-driver state: a SECOND driver writing
  // the same root would interleave FIFO stamps non-monotonically and
  // delete files the other driver's passes still hold listed. The
  // reference gets this exclusivity from the single Redis server; here
  // a lockfile records the owning JVM + host.
  //
  // Same host: a second live owner pid is refused loudly; a lock whose
  // process is gone — crashed driver — is taken over silently;
  // re-opening from the owning JVM (restart-style tests, engine +
  // ad-hoc store on one root) is always allowed.
  //
  // Cross host (shared filesystem, where pid liveness means nothing):
  // the lock doubles as an MTIME LEASE. Every data-touching operation
  // re-stamps it at most once per leaseTimeoutMs/3 (the engine's
  // housekeeper tick renews it even when it skips its scans); a
  // foreign-host lock younger than leaseTimeoutMs is refused, an older
  // one is a crashed/partitioned owner and is taken over. The renewal
  // itself re-reads the lock first: if another host (or another live
  // local pid) has taken over in the meantime, this driver THROWS on
  // its next operation instead of silently double-writing — fail-stop,
  // not fencing; a paused-then-resumed driver dies loudly rather than
  // corrupting FIFO stamps.
  private val ownerLockPath = new Path(root, "_owner.lock")
  private val selfPid = ProcessHandle.current().pid()
  private val selfUuid = java.util.UUID.randomUUID().toString
  @volatile private var lastLeaseRenewMs = 0L
  @volatile private var lastOwnerCheckMs = 0L
  private val leaseWriteMutex = new Object

  private def pidAlive(pid: Long): Boolean =
    java.lang.ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive)
      .orElse(java.lang.Boolean.FALSE).booleanValue()

  /** Read the ownership lease. A MISSING lock is re-checked once after
    * a short pause: writeLock's delete→rename publish has a
    * milliseconds-wide gap where the path legitimately vanishes
    * mid-renewal, and a reader that concluded "no owner" inside that
    * blink could acquire over a LIVE lease (acquireOwnership) or skip
    * a takeover it should have refused (assertStillOwner/fenceCheck).
    * One retry outlasts the gap — the rename is the writer's very next
    * syscall — and costs nothing on the steady-state path where the
    * lock exists on the first read. */
  private def readLock(): Option[(Option[Long], String, String)] = {
    def once(): Option[(Option[Long], String, String)] =
      if (!fs.exists(ownerLockPath)) None
      else {
        val in = fs.open(ownerLockPath)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val toks = content.split("\\s+")
        val uuid = if (toks.length >= 2) toks(1) else ""
        // pre-lease locks carried "pid uuid" only: treat as same-host
        val host = if (toks.length >= 3) toks(2) else ownerHost
        Some((toks.headOption.flatMap(_.toLongOption), uuid, host))
      }
    once().orElse { Thread.sleep(50L); once() }
  }

  /** Publish this driver's lease record. Staged to a temp name and
    * RENAMED onto the lock, then READ BACK: rename is atomic, so two
    * drivers that both believed an expired lease was takeable end up
    * with exactly one record in the file (never torn content), and the
    * read-back makes the loser die HERE — milliseconds after the race
    * — instead of double-writing for up to leaseTimeoutMs/3 until its
    * next renewal noticed. A same-JVM instance (restart-style tests,
    * engine + ad-hoc store on one root) holds a different uuid but the
    * same pid/host and is a permitted co-owner, as before. */
  private def writeLock(): Unit = leaseWriteMutex.synchronized {
    fs.mkdirs(new Path(root))
    val tmp = new Path(root, s".owner-tmp-$selfUuid")
    val out = fs.create(tmp, true)
    try out.write(s"$selfPid $selfUuid $ownerHost"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(ownerLockPath)) fs.delete(ownerLockPath, false)
    if (!fs.rename(tmp, ownerLockPath))
      fs.delete(tmp, false) // lost an HDFS-style dest-exists race: read-back decides
    readLock() match {
      case Some((_, uuid, _)) if uuid == selfUuid => () // won
      case Some((pidOpt, _, host))
          if host == ownerHost && pidOpt.contains(selfPid) => () // same-JVM co-owner
      case other =>
        throw new IllegalStateException(
          s"QueueStore root $root ownership race lost during acquire/renewal " +
            s"(lock now: ${other.map(t => s"pid ${t._1.getOrElse(-1L)} host ${t._3}")
              .getOrElse("missing")}; this driver: $ownerHost pid $selfPid) — " +
            "refusing to double-write")
    }
    val now = System.currentTimeMillis()
    lastLeaseRenewMs = now
    lastOwnerCheckMs = now
  }

  private def refuseForeignOwner(pidOpt: Option[Long], host: String): Unit =
    if (host != ownerHost) {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(ownerLockPath).getModificationTime
      if (age < leaseTimeoutMs)
        throw new IllegalStateException(
          s"QueueStore root $root is leased by a driver on host $host " +
            s"(renewed ${age}ms ago, lease expires after ${leaseTimeoutMs}ms; " +
            s"this driver: $ownerHost) — one driver per store root")
      // else: expired foreign lease — crashed or partitioned owner
    } else pidOpt.foreach { pid =>
      if (pid != selfPid && pidAlive(pid))
        throw new IllegalStateException(
          s"QueueStore root $root is owned by live driver pid $pid " +
            s"(this driver: pid $selfPid) — one driver per store root; " +
            "a second writer would corrupt FIFO stamps and race maintenance")
    }

  private def acquireOwnership(): Unit = {
    readLock().foreach { case (pidOpt, _, host) => refuseForeignOwner(pidOpt, host) }
    writeLock()
  }

  /** Throw if the lock is now held by a FOREIGN owner — another host,
    * or another live pid on this one. Shared by lease renewal and the
    * publish-time fence check. */
  private def assertStillOwner(): Unit =
    readLock().foreach { case (pidOpt, _, host) =>
      if (host != ownerHost || pidOpt.exists(p => p != selfPid && pidAlive(p)))
        throw new IllegalStateException(
          s"QueueStore root $root ownership was taken over " +
            s"(lock now held by host $host pid ${pidOpt.getOrElse(-1L)}; " +
            s"this driver: $ownerHost pid $selfPid) — refusing to " +
            "double-write; restart against the root to re-acquire")
    }

  /** Publish-time fence (best-effort): before a staged part file is
    * renamed into a live table, re-verify ownership if more than a
    * second has passed since the last verification. A driver paused
    * past leaseTimeoutMs and then resumed would otherwise land its
    * in-flight renames AFTER a new owner took over (the renewal path
    * checks at most every leaseTimeoutMs/3); with this check it dies
    * within ~1 s of resuming, BEFORE the rename publishes. This is not
    * true fencing — a pause that begins in the instruction gap between
    * this check and the rename syscall still lands one file; closing
    * that needs a compare-and-swap primitive the filesystem does not
    * offer (the full design — lease epochs in part names, readers
    * ignoring revoked epochs — costs a listing-schema change and is
    * not warranted while single-driver deployment is the documented
    * contract). Cost: one ~60-byte FS read per second at most. */
  private def fenceCheck(): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastOwnerCheckMs > 1000L) {
      assertStillOwner()
      lastOwnerCheckMs = System.currentTimeMillis()
    }
  }

  /** Re-stamp the ownership lease (verifying no takeover happened),
    * at most once per leaseTimeoutMs/3. Called from every data path. */
  private[graft] def maybeRenewLease(): Unit =
    if (System.currentTimeMillis() - lastLeaseRenewMs > leaseTimeoutMs / 3) {
      assertStillOwner()
      writeLock()
    }

  acquireOwnership()
  // heal a claim fold interrupted by a crash in a previous process, and
  // finish any pending post-commit GC
  recoverClaimFold()
  gcSuperseded(processingDir, "processing")
  gcSuperseded(scheduledDir, "scheduled")
}

object QueueStore {
  /** This driver's identity in the ownership lease. Hostname (not IP):
    * stable across reconnects, comparable across a shared filesystem. */
  lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "localhost" }
}
