package graft.metrics

import java.time.Instant

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Telemetry (reference: lib/flume/instrumentation.ex + the pluggable
  * EventHandler behaviour): a handler trait fed by a
  * StreamingQueryListener — batch duration and input rows per pipeline
  * replace the reference's [queue,:dequeue]/[pipeline,:worker] events.
  */
trait EventHandler extends Serializable {
  def handle(event: String, pipeline: String, measurements: Map[String, Double]): Unit
  /** Per-job worker duration — the [pipeline, :worker, :job] event
    * (event/worker.ex:57-67). Default no-op so batch-level handlers
    * stay source-compatible. */
  def handleJob(pipeline: String, jid: String, durationMs: Double, success: Boolean): Unit = ()
}

object NoopEventHandler extends EventHandler {
  def handle(event: String, pipeline: String, m: Map[String, Double]): Unit = ()
}

/** Default handler: keeps last-seen gauges queryable in-process (the
  * reference's logger-backed DefaultEventHandler analog). The per-job
  * record is a BOUNDED ring (insertion-ordered, oldest evicted past
  * maxJobs) — an unbounded map would be a driver memory leak on a
  * long-running engine. */
class InMemoryEventHandler(maxJobs: Int = 10000) extends EventHandler {
  val gauges: TrieMap[(String, String), Map[String, Double]] = TrieMap.empty
  private val jobRing =
    new java.util.LinkedHashMap[(String, String), (Double, Boolean)](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), (Double, Boolean)]): Boolean =
        size() > maxJobs
    }
  def handle(event: String, pipeline: String, m: Map[String, Double]): Unit =
    gauges.put((pipeline, event), m)
  override def handleJob(pipeline: String, jid: String, durationMs: Double, success: Boolean): Unit =
    jobRing.synchronized { jobRing.put((pipeline, jid), (durationMs, success)); () }
  /** Snapshot of the most recent (pipeline, jid) → (durationMs, success). */
  def jobs: Map[(String, String), (Double, Boolean)] = jobRing.synchronized {
    import scala.jdk.CollectionConverters._
    jobRing.asScala.toMap
  }
}

class PipelineListener(handler: EventHandler) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    handler.handle("query_started", e.name, Map.empty)
  /** One `batch` event per trigger: input rows and duration, Spark's
    * per-phase breakdown of the trigger (`addBatchMs`, `getBatchMs`,
    * `latestOffsetMs`, `queryPlanningMs`, `walCommitMs`,
    * `triggerExecutionMs`, ... — the phases Spark timed on that
    * trigger) and, when the query sets one, the event-time watermark
    * as epoch ms (`watermarkMs`). */
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val phases = Option(p.durationMs).fold(Map.empty[String, Double])(
      _.asScala.map { case (phase, ms) => s"${phase}Ms" -> ms.doubleValue }.toMap)
    // Spark reports the watermark as an ISO-8601 UTC instant
    val watermark = Option(p.eventTime).flatMap(t => Option(t.get("watermark")))
      .flatMap(w => Try(Instant.parse(w).toEpochMilli.toDouble).toOption)
      .map("watermarkMs" -> _)
    handler.handle("batch", Option(p.name).getOrElse(p.id.toString),
      Map(
        "numInputRows" -> p.numInputRows.toDouble,
        "batchDurationMs" -> p.batchDuration.toDouble,
        "inputRowsPerSecond" -> p.inputRowsPerSecond) ++ phases ++ watermark)
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    handler.handle("query_terminated", e.id.toString, Map.empty)
}

object Instrumentation {
  def attach(spark: SparkSession, handler: EventHandler): PipelineListener = {
    val l = new PipelineListener(handler)
    spark.streams.addListener(l)
    l
  }
}
