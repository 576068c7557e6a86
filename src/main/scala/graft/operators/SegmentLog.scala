package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max, struct}
import org.apache.spark.sql.types.{LongType, StructType}

/** The segment-log commit protocol [[DeltaIngest]], [[IvfMaintenance]]
  * and [[TextSearchIndex]] share — ONE definition of every step, so
  * marker semantics, snapshot reads, the latest-wins fold, crash
  * sweeping and the compaction swap can never drift bug-for-bug
  * between operators (they did: the stale-staging defect existed
  * identically in two compacts before this extraction).
  *
  * The protocol, in the order a batch and a compaction walk it:
  *   - stage: a batch writes each table's increment as an immutable
  *     `<root>/seg=<n>` dir (or into a staging dir first and is placed
  *     there by one checked rename — DeltaIngest's two-phase apply);
  *   - place: a dir lands only at its own `seg=<n>`; nothing already
  *     admitted is ever rewritten in place;
  *   - marker: a commit marker admits segment n atomically —
  *     `<markerDir>/seg-<n>` carrying the batch's replay key
  *     ([[commitMarker]]; `skip-<key>` records replay identity without
  *     consuming a segment), or DeltaIngest's `<key>` file carrying n.
  *     Its callers hand the committed set to every step below;
  *     [[wipeUncommitted]] sweeps the dirs no marker admitted;
  *   - fold-on-read: [[readCommitted]] reads only admitted dirs
  *     (snapshot isolation on bare parquet) and [[foldLatest]] keeps
  *     the latest row per key, tombstones dropping;
  *   - compaction stage: [[stageCompaction]] clears `<root>_compacted`
  *     and lets the caller write the folded table at the top segment;
  *   - swap: [[swapDir]] renames the live root aside, the staged one in;
  *   - key consolidation: [[consolidateKeys]] folds every marker's keys
  *     into one `keys-<top>-<v>` file, so replay identity survives the
  *     markers the compaction drops. */
private[graft] object SegmentLog {

  def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  def committedSegs(s: SparkSession, markerDir: String): Set[Long] = {
    val root = new Path(markerDir)
    val f = fs(s, root)
    if (!f.exists(root)) Set.empty
    else f.listStatus(root).toSeq
      .flatMap(_.getPath.getName.stripPrefix("seg-").toLongOption).toSet
  }

  /** Replay keys of every committed batch — O(files since last
    * compaction): [[consolidateKeys]] folds old markers into ONE
    * `keys-<top>-<v>` file before dropping them. */
  def committedKeys(s: SparkSession, markerDir: String): Set[String] = {
    val root = new Path(markerDir)
    val f = fs(s, root)
    if (!f.exists(root)) Set.empty
    else f.listStatus(root).toSeq
      // a crashed consolidation's .tmp may hold a TRUNCATED key that
      // collides with a real future batch key — never read dotfiles
      .filterNot(_.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = f.open(st.getPath)
        val txt = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
        txt.split('\n').map(_.trim).filter(_.nonEmpty)
      }.toSet
  }

  /** Atomic small-file write: content lands in a dotfile tmp (never
    * parsed by any marker/layout reader) and a CHECKED rename publishes
    * it — a crash mid-write can never leave a named file with empty or
    * truncated content. That matters everywhere this is used: a
    * truncated commit-marker KEY would make a replay re-ingest a
    * committed batch (duplicate rows); a truncated export-generation
    * marker would re-export covered segments (duplicate training
    * docs). */
  def writeSmallFile(s: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val f = fs(s, p)
    f.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmp, p))
      throw new java.io.IOException(s"writeSmallFile: rename $tmp -> $p failed")
  }

  def readSmallFile(s: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = fs(s, p).open(p)
    try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
  }

  /** Marker NAME carries the segment (visibility); CONTENT carries the
    * batch key (replay identity). seg < 0 writes a skip marker.
    * Published atomically ([[writeSmallFile]]) so an admitted segment
    * can never carry a lost replay key. */
  def commitMarker(s: SparkSession, markerDir: String, seg: Long,
      key: String): Unit = {
    val name = if (seg >= 0) s"seg-$seg"
      else "skip-" + key.replaceAll("[^A-Za-z0-9_.-]", "_")
    writeSmallFile(s, s"$markerDir/$name", key)
  }

  /** The index-layout record (`shards=N`) the sharded tables' readers
    * derive every modulus from — ONE definition for all index
    * operators, like the marker discipline above. [[readLayoutShards]]
    * returns None for a missing record (each caller owns its refusal
    * message — a guessed modulus silently mis-prunes) and throws on a
    * garbled one. */
  def writeLayout(s: SparkSession, layoutPath: String, nShards: Int): Unit =
    writeLayoutFields(s, layoutPath, Seq("shards" -> nShards.toLong))

  def readLayoutShards(s: SparkSession, layoutPath: String): Option[Int] =
    readLayoutFields(s, layoutPath).map { m =>
      val n = m.getOrElse("shards", 0L)
      require(n > 0, s"$layoutPath: layout record missing a positive shards field")
      n.toInt
    }

  /** Multi-field layout record (`k1=v1;k2=v2;…`) — the same one-file
    * build-time descriptor, grown for operators that fix more than a
    * shard modulus at build (IVF records its occupancy budget and
    * vector dim too). `shards=N` is the degenerate single-field form,
    * so pre-extension layouts parse unchanged and other operators'
    * layouts are untouched. */
  def writeLayoutFields(s: SparkSession, layoutPath: String,
      fields: Seq[(String, Long)]): Unit =
    writeSmallFile(s, layoutPath,
      fields.map { case (k, v) => s"$k=$v" }.mkString(";"))

  def readLayoutFields(s: SparkSession, layoutPath: String): Option[Map[String, Long]] = {
    val p = new Path(layoutPath)
    if (!fs(s, p).exists(p)) return None
    val txt = readSmallFile(s, layoutPath)
    val m = txt.split(';').toSeq.map { f =>
      f.split('=') match {
        case Array(k, v) if v.toLongOption.isDefined => k.trim -> v.toLong
        case _ => throw new IllegalArgumentException(
          s"$layoutPath: garbled layout record '$txt'")
      }
    }.toMap
    Some(m)
  }

  def presentSegs(s: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val f = fs(s, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg="))
      .flatMap(st => st.getPath.getName.stripPrefix("seg=").toLongOption)
  }

  /** Uncommitted segment dirs are crash leftovers: readers never admit
    * them, the next writer sweeps them. `committed` is the caller's
    * visibility set — SegmentLog markers or DeltaIngest's key map. */
  def wipeUncommitted(s: SparkSession, committed: Set[Long],
      roots: Seq[String]): Unit =
    for (r <- roots; n <- presentSegs(s, r) if !committed(n)) deleteDir(s, s"$r/seg=$n")

  /** The committed rows of the log at `root`, each with its `seg`: only
    * the `seg=<n>` dirs in `allowed` are read, so an uncommitted
    * (crashed) segment is invisible. Callers pass ONE committed-segment
    * snapshot to every read that must see the same commit point. None
    * when no allowed segment is present. `schema` is the table's
    * declared schema (or a column subset): handing it to the reader
    * spares the footer-inference Spark job a bare parquet read runs,
    * so building the frame launches none. */
  def committedLog(s: SparkSession, root: String, allowed: Set[Long],
      schema: StructType): Option[DataFrame] = {
    val segs = presentSegs(s, root).filter(allowed)
    if (segs.isEmpty) None
    else Some(s.read.schema(schema).option("basePath", root)
      .parquet(segs.map(n => s"$root/seg=$n"): _*)
      .withColumn("seg", col("seg").cast("long")))
  }

  /** [[committedLog]], empty-safe: with no allowed segment present the
    * read is an empty frame of `schema` plus `seg: long`. */
  def readCommitted(s: SparkSession, root: String, allowed: Set[Long],
      schema: StructType): DataFrame =
    committedLog(s, root, allowed, schema).getOrElse(
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema.add("seg", LongType)))

  /** Latest row per `key` across segments: `max(struct(seg, fields…))`,
    * so the newest segment wins and, within one segment, the caller's
    * field order breaks ties (`dead` right after `seg` makes a
    * tombstone beat a live row of the same segment). A winner with
    * `dead` set drops. Returns `key ++ fields` without `dead`. The fold
    * commutes with any key predicate: callers bound the log first (a
    * candidate semi-join, a pruned cell list) and fold the survivors —
    * never an index-sized shuffle. */
  def foldLatest(log: DataFrame, key: Seq[String], fields: Seq[String]): DataFrame = {
    val won = log.groupBy(key.map(col): _*)
      .agg(max(struct((col("seg") +: fields.map(col)): _*)).as("b"))
    val live = if (fields.contains("dead")) won.where(!col("b.dead")) else won
    live.select(key.map(col) ++
      fields.filterNot(_ == "dead").map(f => col(s"b.$f").as(f)): _*)
  }

  /** Compaction stage for the table at `root`: clear `<root>_compacted`
    * — a CRASHED prior compaction leaves stale `seg=<old>` dirs there,
    * and the whole-dir [[swapDir]] would carry them into the live root
    * and resurrect their rows — then let `write` fill the path it is
    * given (`seg=<top>` by [[stageCompaction]], the whole table for an
    * unsegmented base). Returns the staged root for [[swapDir]]. */
  def stageTable(s: SparkSession, root: String)(write: String => Unit): String = {
    val staged = s"${root}_compacted"
    deleteDir(s, staged)
    write(staged)
    staged
  }

  /** [[stageTable]] for a segment log: the folded table lands at
    * `seg=<top>`, so readers see identical data before and after the
    * swap. */
  def stageCompaction(s: SparkSession, root: String, top: Long)(
      write: String => Unit): String =
    stageTable(s, root)(staged => write(s"$staged/seg=$top"))

  def deleteDir(s: SparkSession, path: String): Unit = {
    val p = new Path(path); fs(s, p).delete(p, true)
  }

  /** Swap a staged dir into place: rename the live dir ASIDE (never
    * delete first), staged in, then drop the old — both renames
    * checked (object-store shims return false without throwing). */
  def swapDir(s: SparkSession, staged: String, path: String): Unit = {
    val p = new Path(path)
    val f = fs(s, p)
    val old = new Path(path + "_old")
    if (f.exists(old)) f.delete(old, true) // prior completed swap's leftover
    if (f.exists(p) && !f.rename(p, old))
      throw new java.io.IOException(s"swapDir: rename $p -> $old failed")
    if (!f.rename(new Path(staged), p)) {
      if (f.exists(old)) f.rename(old, p) // roll back: never leave the table absent
      throw new java.io.IOException(s"swapDir: rename $staged -> $p failed")
    }
    f.delete(old, true)
    s.catalog.refreshByPath(path) // bare renames bypass the FileStatusCache
  }

  /** Compaction tail: fold every marker's keys into one key file and
    * drop everything except it and seg-<top>. The file is published
    * ([[writeSmallFile]]) under a name that does not exist yet,
    * `keys-<top>-<v>` with v past every present version, and the
    * superseded key files go only after it lands: a compaction that
    * re-runs at the same top (a second compact, or one after skip
    * markers, which consume no segment) must never delete the live key
    * file before its replacement exists — a crash between the two would
    * lose every replay key earlier compactions folded in, and a
    * redelivered old batch would re-ingest. A crash after the publish
    * leaves duplicate keys (set semantics). */
  def consolidateKeys(s: SparkSession, markerDir: String, top: Long): Unit = {
    val mDir = new Path(markerDir)
    val f = fs(s, mDir)
    val allKeys = committedKeys(s, markerDir)
    val names = f.listStatus(mDir).map(_.getPath.getName)
    val v = (names.flatMap(_.stripPrefix(s"keys-$top-").toLongOption) :+ 0L).max + 1
    val consolidated = s"keys-$top-$v"
    writeSmallFile(s, s"$markerDir/$consolidated", allKeys.toSeq.sorted.mkString("\n"))
    names.filterNot(n => n == s"seg-$top" || n == consolidated)
      .foreach(n => f.delete(new Path(mDir, n), false))
  }
}
