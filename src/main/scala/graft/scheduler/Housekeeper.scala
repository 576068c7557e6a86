package graft.scheduler

import java.sql.Timestamp
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import graft.model.Schemas
import graft.store.QueueStore
import org.apache.spark.sql.functions._

/** Background housekeeping — the reference's two schedulers
  * (SURVEY.md §2 C1/C2) as periodic table-to-table moves:
  *
  *   - C1 (queue/scheduler.ex:38-53): promote due scheduled/retry rows
  *     (not_before <= now) back into their destination queue dirs and
  *     tombstone them;
  *   - C2 (queue/processing_scheduler.ex:39-67): requeue in-flight rows
  *     whose claim is older than the visibility timeout.
  *
  * Both moves are enqueue-then-tombstone — at-least-once on a crash in
  * between, identical to the reference's non-atomic two-phase promotion
  * (manager.ex:218-220). Deterministic ids keep replays idempotent.
  *
  * `tick()` is the unit of work (tests call it directly); `start()`
  * runs it on the reference's 10 s cadence.
  *
  * Skip rule. Each move first lists its table's live files
  * (`QueueStore.dataFiles`, driver-side) and skips the scan — zero
  * Spark jobs — when the listing equals the one the last completed
  * scan read AND `now` is before the bound that scan observed:
  *
  *   - promotion: the earliest `not_before` still in the future, capped
  *     at the start of the next `nb_day` (later days are pruned away,
  *     unseen);
  *   - requeue: the oldest live `claimed_at` + the visibility timeout.
  *
  * The skip is exact: rows only arrive as new files and a compaction
  * commits a new listing, while tombstones only remove rows, so a
  * stored bound stays conservative. An empty listing costs nothing.
  * Only a scan that completes updates the state, and a requeue (which
  * includes hitting the batch cap) clears it, so the next tick scans.
  * The bound is absolute: a tick at a later `now` past it scans.
  *
  * A tick renews the store's ownership lease before either move, so an
  * idle engine keeps its lease although its ticks read nothing.
  *
  * Job budget: an idle tick costs 0 Spark jobs; a promoting tick 5 (the
  * snapshot write — its tombstone broadcast and dedup shuffle — then
  * the queue append and the tombstone), plus the requeue scan when the
  * processing table changed since its last scan.
  */
class Housekeeper(
    store: QueueStore,
    visibilityTimeoutMs: Long = 600000,
    requeueBatchLimit: Int = 1000,
    autoCompactMinTombstones: Long = 10000,
    autoCompact: Boolean = true) {

  private var exec: Option[ScheduledExecutorService] = None

  import Housekeeper.Scanned
  @volatile private var promoteScan: Option[Scanned] = None
  @volatile private var requeueScan: Option[Scanned] = None

  /** Both moves. The ownership lease is renewed first: a skipped scan
    * reads no table, and the lease must not lapse while the engine is
    * idle (renewal is throttled in the store and runs no Spark job). */
  def tick(nowMs: Long = System.currentTimeMillis()): (Long, Long) = {
    store.maybeRenewLease()
    (promoteDue(nowMs), requeueStuck(nowMs))
  }

  /** C1: scheduled/retry rows with not_before <= now → queue dirs.
    *
    * Scale shape: the due scan partition-prunes on nb_day (far-future
    * days never touched — the directory-level ZRANGEBYSCORE analog),
    * the selection is snapshotted so the enqueue and the tombstone act
    * on ONE set, and the enqueue is a SINGLE dynamic-partition job
    * fanning out to all destination queues (grouped RPUSH,
    * redis/job.ex:70-87) instead of one Spark job per queue. The due
    * count and the next due instant are observed on the snapshot
    * write. */
  def promoteDue(nowMs: Long): Long = {
    val files = store.dataFiles(store.scheduledDir)
    if (files.isEmpty || promoteScan.exists(_.covers(files, nowMs))) return 0L
    val tz = java.time.ZoneId.of(store.spark.sessionState.conf.sessionLocalTimeZone)
    val today = java.time.Instant.ofEpochMilli(nowMs).atZone(tz).toLocalDate
    val nextDayMs = today.plusDays(1).atStartOfDay(tz).toInstant.toEpochMilli
    val isDue = col("not_before") <= lit(new Timestamp(nowMs))
    val obs = org.apache.spark.sql.Observation()
    val due = store.liveScheduled(files)
      .where(col("nb_day") <= today.toString) // partition pruning
      .observe(obs, count(when(isDue, 1)).as("n"),
        min(when(!isDue, col("not_before"))).as("next"))
      .where(isDue)
    val (snap, cleanup) = store.snapshot(due)
    try {
      val n = obs.get("n").asInstanceOf[Long]
      if (n > 0) {
        store.appendToQueues(snap)
        store.tombstone("scheduled", snap.select(col("sched_id")))
      }
      val next = Option(obs.get("next")).fold(Long.MaxValue)(_.asInstanceOf[Timestamp].getTime)
      promoteScan = Some(Scanned(files.toSet, math.min(next, nextDayMs)))
      n
    } finally cleanup()
  }

  /** C2: claims older than the visibility timeout → back to the queue
    * (batch-capped like the reference's Lua LIMIT 1000).
    *
    * The capped selection is MATERIALIZED (collect — bounded by
    * requeueBatchLimit, the same 1000-row cap the reference's Lua
    * script uses) with a claim_id tie-break: all claims from one
    * micro-batch share an identical claimed_at, so without both, a
    * recomputed plan between the queue append and the claim tombstone
    * could pick a different subset — a claim tombstoned without being
    * requeued is a lost job. The oldest live claim is observed on the
    * same collect. */
  def requeueStuck(nowMs: Long): Long = {
    val files = store.dataFiles(store.processingDir)
    if (files.isEmpty || requeueScan.exists(_.covers(files, nowMs))) return 0L
    val cutoff = new Timestamp(nowMs - visibilityTimeoutMs)
    val obs = org.apache.spark.sql.Observation()
    val selected = store.liveProcessing(files)
      .observe(obs, min(col("claimed_at")).as("oldest"))
      .where(col("claimed_at") < lit(cutoff))
      .orderBy(col("claimed_at"), col("claim_id"))
      .limit(requeueBatchLimit)
      .collect()
    // a requeue (or a full batch cap) leaves the state clear: scan again
    requeueScan =
      if (selected.nonEmpty) None
      else Some(Scanned(files.toSet, Option(obs.get("oldest"))
        .fold(Long.MaxValue)(_.asInstanceOf[Timestamp].getTime + visibilityTimeoutMs)))
    if (selected.isEmpty) return 0L
    val spark = store.spark
    val stuck = spark.createDataFrame(
      java.util.Arrays.asList(selected: _*), store.processingSchema)
    store.appendToQueues(stuck) // one job for all destination queues
    // the stale claim's src_file marks the ORIGINAL copy consumed (its
    // job now lives in the fresh requeued copy, which a new claim will
    // cover when it is next processed)
    store.tombstone("processing",
      stuck.select(col("claim_id").as("id"), col("queue"), col("src_file")))
    selected.length.toLong
  }

  def start(intervalMs: Long = 10000): Unit = synchronized {
    if (exec.isEmpty) {
      val e = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-housekeeper"); t.setDaemon(true); t
      })
      e.scheduleWithFixedDelay(() => {
        // keep the loop alive and never hide failures: anything that
        // escapes would make scheduleWithFixedDelay silently cancel all
        // future ticks. InterruptedException means shutdownNow — exit.
        try {
          val (promoted, requeued) = tick()
          if (promoted > 0 || requeued > 0)
            graft.GraftLog.current.info("housekeeper tick",
              Map("promoted" -> promoted.toString, "requeued" -> requeued.toString))
          if (maybeCompact())
            graft.GraftLog.current.info("housekeeper auto-compaction ran")
        } catch {
          case _: InterruptedException => Thread.currentThread().interrupt()
          case t: Throwable =>
            graft.GraftLog.current.error(s"housekeeper tick failed: $t")
            t.printStackTrace()
        }
      }, intervalMs, intervalMs, TimeUnit.MILLISECONDS)
      exec = Some(e)
    }
  }

  /** Graceful: let a mid-flight tick finish its table moves before the
    * executor dies — shutdownNow would interrupt a write job and leave
    * a retryable-but-noisy failed promotion behind. */
  def stop(): Unit = synchronized {
    exec.foreach { e =>
      e.shutdown()
      if (!e.awaitTermination(30, TimeUnit.SECONDS)) { e.shutdownNow(); () }
    }
    exec = None
  }

  /** Fold tombstones into the processing/scheduled tables when they
    * outnumber `minTombstones` — keeps the anti-join side broadcastable
    * over long runs. Safe under live pipelines: compaction commits a
    * manifest snapshot instead of swapping the directory (QueueStore
    * .compact), so claim/ack micro-batches never race it; the
    * streaming queue dirs are never compacted. The processing table
    * goes through compactProcessing, which preserves the acked-claim
    * tombstones that job_counts depends on. */
  def compactStateTables(minTombstones: Long = 10000): Unit = {
    // gauge from parquet footers, driver-side only (no Spark job per
    // tick), and counting only tombstones a committed fold has NOT
    // already absorbed — folded files stay on disk for the GC grace
    // window and kept (processing) ones until the claim fold, but
    // neither justifies re-rewriting the table every tick
    if (store.tombstoneRowCountUnabsorbed(store.processingDir, "processing") >= minTombstones)
      store.compactProcessing()
    if (store.tombstoneRowCountUnabsorbed(store.scheduledDir, "scheduled") >= minTombstones)
      store.compactScheduled()
  }

  /** Auto-compaction, called from the scheduled loop each tick. Runs
    * under live pipelines (the manifest protocol makes the fold
    * invisible to concurrent claim/ack batches); `autoCompact = false`
    * disables the tick path entirely (manual compactStateTables /
    * maintenance() still work). tryMaintenance serializes against the
    * engine's scheduled maintenance pass and manual calls — an
    * overlapping pass skips this tick instead of stacking. Without
    * auto-compaction, long-running deployments grow the tombstone
    * anti-join side unboundedly and every liveProcessing/liveScheduled
    * read slows with it. Returns true when a compaction pass ran (the
    * per-table threshold still applies inside). */
  def maybeCompact(): Boolean =
    autoCompact &&
      store.tryMaintenance(compactStateTables(autoCompactMinTombstones)).isDefined
}

object Housekeeper {
  /** The listing the last completed scan of a table read, and the
    * instant before which re-scanning it can find nothing to move. */
  private final case class Scanned(files: Set[String], quietUntilMs: Long) {
    def covers(listing: Seq[String], nowMs: Long): Boolean =
      nowMs < quietUntilMs && listing.toSet == files
  }
}
