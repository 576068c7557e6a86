package graft.api

import java.sql.Timestamp
import java.util.UUID

import graft.model.{GraftEvent, Schemas}
import graft.store.QueueStore
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** One job to enqueue: worker class, function, raw-JSON args. */
case class JobSpec(
    workerClass: String,
    function: String = "perform",
    args: String = "[]",
    context: Map[String, String] = Map.empty)

/** The enqueue-side API surface (reference: lib/flume.ex:11-102), with a
  * swappable implementation for tests (config.ex:98-116's mock layer →
  * a RecordingQueueApi that buffers instead of writing). */
trait QueueApi {
  def enqueue(queue: String, job: JobSpec): String
  def bulkEnqueue(queue: String, jobs: Seq[JobSpec]): Seq[String]
  def enqueueIn(queue: String, delayMs: Long, job: JobSpec): String
  def jobCounts(queues: Seq[String]): Map[String, Long]
  def pendingJobsCount(): Long
  /** In-flight gauge scoped to specific queues (the reference's
    * pending_jobs_count(pipeline_names), flume.ex:80-83). Abstract —
    * a global-count default would silently ignore the filter. */
  def pendingJobsCount(queues: Seq[String]): Long
}

object QueueApi {
  def newJid(): String = UUID.randomUUID().toString
  def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  def toEvent(queue: String, job: JobSpec, jid: String, at: Timestamp): GraftEvent =
    GraftEvent(
      clazz = job.workerClass, function = job.function, queue = queue,
      jid = jid, args = job.args, retry_count = 0, enqueued_at = at,
      context = job.context)
}

/** Real implementation over the parquet state store.
  *
  * A1/A2: enqueue = one parquet file appended to the queue directory per
  * call (bulk = N rows in that one file — the natural Spark write unit;
  * reference: single RPUSH with N values, redis/client.ex:183-185).
  * FIFO comes from file-stream source ordering; a single append commits
  * atomically.
  *
  * A3: enqueue_in = append to the scheduled table with
  * not_before = now + delay (score in ns:scheduled, manager.ex:54-67).
  *
  * D2: job_counts = enqueued rows minus claim rows (LLEN analog — the
  * count still in the "list" is everything written minus everything
  * moved to processing; requeues append on both sides so the arithmetic
  * stays consistent).
  */
class DefaultQueueApi(
    store: QueueStore,
    handler: graft.metrics.EventHandler = graft.metrics.NoopEventHandler) extends QueueApi {
  import QueueApi._
  private val spark = store.spark

  def enqueue(queue: String, job: JobSpec): String =
    bulkEnqueue(queue, Seq(job)).head

  def bulkEnqueue(queue: String, jobs: Seq[JobSpec]): Seq[String] = {
    import spark.implicits._
    val at = now()
    val events = jobs.map(j => toEvent(queue, j, newJid(), at))
    // one FILE per enqueue batch (FIFO-by-file ordering). Normal batches
    // ride a single-task plan (coalesce pulls the driver rows into one
    // task closure — the fast path: no shuffle, one job, one write).
    // Only a multi-MB bulk load trades that for one shuffle:
    // coalesce(1) would put the entire payload into a single task
    // binary (serialized with the task, Spark warns past ~1 MiB and the
    // driver pays the broadcast), while repartition(1) ships it as
    // sliced map outputs. 4 MiB keeps the common enqueue path
    // shuffle-free and caps the task binary where it starts to matter.
    // The shuffle does NOT preserve row order (reduce-side fetch order
    // is arbitrary), so the shuffled path re-sorts on an explicit
    // submission index before the write — within-batch FIFO holds on
    // both paths (the reference's single RPUSH with N values).
    val estBytes = jobs.iterator.map(j => j.args.length + 200L +
      j.context.iterator.map { case (k, v) => k.length + v.length + 32L }.sum).sum
    val df = events.toDF()
    val one =
      if (estBytes > (4L << 20)) {
        import org.apache.spark.sql.functions.{col => c, monotonically_increasing_id}
        df.withColumn("__seq", monotonically_increasing_id())
          .repartition(1).sortWithinPartitions(c("__seq")).drop("__seq")
      } else df.coalesce(1)
    store.appendQueue(queue, one)
    // [queue, :enqueue] payload-size telemetry (manager.ex:23-27,45-49)
    handler.handle("enqueue", queue, Map(
      "count" -> jobs.size.toDouble,
      "payloadBytes" -> jobs.map(
        _.args.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
        .sum.toDouble))
    events.map(_.jid)
  }

  def enqueueIn(queue: String, delayMs: Long, job: JobSpec): String = {
    import spark.implicits._
    val at = now()
    val e = toEvent(queue, job, newJid(), at)
    val df = Seq(e).toDF()
      .withColumn("sched_id", org.apache.spark.sql.functions.concat_ws(":",
        org.apache.spark.sql.functions.col("jid"),
        org.apache.spark.sql.functions.lit("0")))
      .withColumn("not_before",
        org.apache.spark.sql.functions.lit(new Timestamp(at.getTime + delayMs)))
      .withColumn("kind", org.apache.spark.sql.functions.lit("scheduled"))
    store.appendScheduled(df)
    e.jid
  }

  /** D2 without full scans: enqueued counts come from parquet footer
    * metadata (driver-side, zero Spark jobs), claim counts from ONE
    * column-pruned job across all queues — previously 2 full-table
    * jobs per queue per call. */
  def jobCounts(queues: Seq[String]): Map[String, Long] = {
    val claims = store.rawProcessingCounts(queues)
    // archived files' rows still have acked claims in the tombstone
    // table, so the enqueued side must count the archive too (footer
    // reads are metadata-only either way). Archive is listed FIRST: a
    // file the archiver moves between the two listings is then dropped
    // (FileNotFoundException→0 on the live side) instead of counted
    // twice — an under-by-one transient beats an overcount for a gauge
    // whose floor is checked against claims
    queues.map { q =>
      val archived = store.footerRowCount(s"${store.queueDir(q)}/.archive")
      q -> (archived + store.footerRowCount(store.queueDir(q)) -
        claims.getOrElse(q, 0L))
    }.toMap
  }

  // distinct: merge-style compaction recovery may leave duplicate rows
  // for the same claim, which must not inflate the in-flight gauge
  def pendingJobsCount(): Long =
    store.liveProcessing().select("claim_id").distinct().count()

  def pendingJobsCount(queues: Seq[String]): Long =
    store.liveProcessing()
      .where(org.apache.spark.sql.functions.col("queue").isin(queues: _*))
      .select("claim_id").distinct().count()

  /** Interop with the reference's wire format: enqueue raw JSON job
    * strings (one per element). Lenient decode (EventJson); rows whose
    * JSON is invalid (null jid) go straight to the dead table instead
    * of poisoning the queue (worker.ex:43-45 analog). Returns
    * (queued, dead) counts. */
  def enqueueRawJson(queue: String, jsons: Seq[String]): (Long, Long) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val decoded = graft.model.EventJson
      .decode(jsons.toDF("value"), col("value"))
      .withColumn("queue", coalesce(col("queue"), lit(queue)))
      .cache()
    try {
      val good = decoded.where(col("jid").isNotNull)
      val bad = decoded.where(col("jid").isNull)
        .withColumn("jid", org.apache.spark.sql.functions.expr("uuid()"))
        .withColumn("error_message", lit("invalid job JSON"))
      val nGood = good.count()
      val nBad = bad.count()
      if (nGood > 0)
        store.appendQueue(queue, good.coalesce(1))
      if (nBad > 0) store.append(store.deadDir, bad.coalesce(1), store.deadSchema)
      (nGood, nBad)
    } finally { decoded.unpersist(); () }
  }
}

/** Test double: records instead of writing (mock_api.ex:1-111 analog). */
class RecordingQueueApi extends QueueApi {
  import QueueApi._
  val recorded: ArrayBuffer[(String, JobSpec, Long)] = ArrayBuffer.empty
  private val counts = TrieMap.empty[String, Long]

  def enqueue(queue: String, job: JobSpec): String = {
    recorded.synchronized { recorded += ((queue, job, 0L)) }
    counts.updateWith(queue) { c => Some(c.getOrElse(0L) + 1) }
    newJid()
  }
  def bulkEnqueue(queue: String, jobs: Seq[JobSpec]): Seq[String] =
    jobs.map(enqueue(queue, _))
  def enqueueIn(queue: String, delayMs: Long, job: JobSpec): String = {
    recorded.synchronized { recorded += ((queue, job, delayMs)) }
    newJid()
  }
  def jobCounts(queues: Seq[String]): Map[String, Long] =
    queues.map(q => q -> counts.getOrElse(q, 0L)).toMap
  def pendingJobsCount(): Long = 0L
  def pendingJobsCount(queues: Seq[String]): Long = 0L
}
