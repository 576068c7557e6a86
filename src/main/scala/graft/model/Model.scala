package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types.StructType

/** The job envelope — one queued job. Mirrors the reference Event
  * (lib/flume/event.ex:24-54): fixed 13-field envelope, `args` kept as an
  * opaque raw-JSON string (the engine never interprets it), `context`
  * propagated to workers. Identity is `jid` (replaces the reference's
  * exact-original_json matching, event.ex:57 — jid keying is strictly
  * safer, see SURVEY.md §7 hard parts).
  */
case class GraftEvent(
    clazz: String,
    function: String,
    queue: String,
    jid: String,
    args: String,
    retry_count: Int,
    enqueued_at: Timestamp,
    finished_at: Option[Timestamp] = None,
    failed_at: Option[Timestamp] = None,
    retried_at: Option[Timestamp] = None,
    error_message: Option[String] = None,
    error_backtrace: Option[String] = None,
    context: Map[String, String] = Map.empty)

/** Result of dispatching one job to its worker. Carries the envelope
  * and the claimed copy's source file forward, so the outcome writer
  * builds the ack tombstone and the retry/dead rows without a join back
  * to the batch. */
case class Outcome(
    clazz: String,
    function: String,
    queue: String,
    jid: String,
    args: String,
    retry_count: Int,
    enqueued_at: Timestamp,
    context: Map[String, String],
    claim_id: String,
    src_file: Option[String],
    success: Boolean,
    error_message: Option[String],
    error_backtrace: Option[String],
    duration_ms: Double = 0.0)

/** One pipeline = one streaming query (reference: lib/flume/pipeline.ex:7-18).
  * maxDemand maps to maxFilesPerTrigger (each enqueue batch is one file);
  * pollIntervalMs maps to Trigger.ProcessingTime (producer.ex:17's 2 s).
  * instrument gates per-job telemetry like the reference's pipeline
  * flag (pipeline.ex:17; instrumentation.ex:10-11 skips emission when
  * not true — false is also the reference's effective default). */
case class PipelineConfig(
    name: String,
    queue: String,
    maxDemand: Int = 500,
    batchSize: Option[Int] = None,
    rateLimitCount: Option[Long] = None,
    rateLimitScaleMs: Option[Long] = None,
    rateLimitKey: Option[String] = None,
    pollIntervalMs: Long = 2000,
    instrument: Boolean = false) {
  /** Shared window key: explicit key, else per-queue (manager.ex:285-287). */
  def limitKey: String = rateLimitKey.getOrElse(s"queue:$queue")
}

/** Engine-wide knobs (reference defaults: lib/flume/config.ex:2-29).
  * dispatchTimeoutMs bounds each worker call, like the reference's
  * 10 s dequeue_process_timeout (config.ex:19) and the Task shutdown
  * that kills hung workers (utils.ex:6-14); <= 0 disables. Bulk
  * dispatch scales the bound by chunk size (one worker call serves N
  * jobs, so a per-call bound would spuriously kill legitimate large
  * batches). */
case class EngineConfig(
    maxRetries: Int = 5,
    backoffInitialMs: Long = 500,
    backoffMaxMs: Long = 10000,
    visibilityTimeoutMs: Long = 600000,
    schedulerIntervalMs: Long = 10000,
    dispatchTimeoutMs: Long = 10000,
    // deep-maintenance cadence (archive consumed queue files, prune
    // limit logs, compaction, claim fold); 0 disables the SCHEDULED
    // pass — manual maintenance() still runs everything, and the
    // housekeeper tick's auto-compaction is governed by autoCompact
    maintenanceIntervalMs: Long = 600000,
    // tombstone count above which the periodic passes fold the state
    // tables (compaction runs under live pipelines — manifest commit,
    // no quiesce needed)
    autoCompactMinTombstones: Long = 10000,
    // false turns the housekeeper-tick and scheduled-maintenance
    // compaction legs off entirely (manual compactStateTables /
    // maintenance() remain available)
    autoCompact: Boolean = true,
    // how long a committed compaction's superseded files linger before
    // GC — must outlive any in-flight read plan built from a
    // pre-commit listing (0 = delete at commit; tests only)
    compactionGraceMs: Long = 600000)

/** Exponential backoff: min(round(initial * count * 1.5), max)
  * (lib/flume/queue/backoff.ex:6-16). */
object Backoff {
  def nextDelayMs(retryCount: Int, initialMs: Long = 500, maxMs: Long = 10000): Long =
    math.min(math.round(initialMs.toDouble * retryCount * 1.5), maxMs)

  /** The same formula as a Column, so the pipeline's retry path and the
    * tested scalar helper cannot drift (ROUND is HALF_UP in both). */
  def delayMsCol(retryCount: org.apache.spark.sql.Column,
      initialMs: Long, maxMs: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    least(round(lit(initialMs) * retryCount * 1.5), lit(maxMs)).cast("long")
  }
}

object Schemas {
  val event: StructType = Encoders.product[GraftEvent].schema
  val outcome: StructType = Encoders.product[Outcome].schema
}
