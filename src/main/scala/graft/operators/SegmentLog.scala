package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The segment-log commit discipline [[IvfMaintenance]] and
  * [[TextSearchIndex]] share — ONE definition so marker semantics,
  * replay identity, crash sweeping, and the compaction swap can never
  * drift bug-for-bug between indexes (they did: the stale-staging
  * defect existed identically in both compacts before this extraction).
  *
  * Contract: data tables live as immutable `<root>/seg=<n>` dirs; a
  * marker file `<markerDir>/seg-<n>` (content = the batch's replay
  * key) admits segment n atomically; `skip-<key>` markers record
  * replay identity without consuming a segment; compaction folds to
  * the top segment, swaps via rename-aside, and consolidates every
  * marker's keys into one `keys-<top>-<v>` file. */
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
    * them, the next writer sweeps them. */
  def wipeUncommitted(s: SparkSession, markerDir: String,
      roots: Seq[String]): Unit = {
    val allowed = committedSegs(s, markerDir)
    for (r <- roots; n <- presentSegs(s, r) if !allowed(n)) {
      val p = new Path(s"$r/seg=$n"); fs(s, p).delete(p, true)
    }
  }

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
