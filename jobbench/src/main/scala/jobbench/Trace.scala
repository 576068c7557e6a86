package jobbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is 0 for a root; spans of one run
  * share `runId`. Times are epoch milliseconds. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, runId: String, note: String = "") {
  def layer: String = name.takeWhile(_ != '.')
}

/** The traced run's recorder, built entirely from the benchmark's side
  * of the program's public API:
  *
  *  - `call` wraps a benchmark call into a layer in a span and sets a
  *    thread-local Spark property naming it, so every Spark job that
  *    call launches is attributed to it;
  *  - a `SparkListener` records every Spark job with its task time,
  *    rows read and shuffle bytes, attributed by that property, or by
  *    Spark's own `sql.streaming.queryId`/`streaming.sql.batchId`
  *    properties for jobs a pipeline trigger launches;
  *  - a `StreamingQueryListener` records each trigger's `durationMs`
  *    breakdown, from which the trigger span and its source, batch and
  *    commit children are laid out.
  *
  * Spans stay in memory and are written out once, at the end. When
  * tracing is off, `call` is a plain call and no listener is
  * registered. */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(1)
  private val calls = new ConcurrentLinkedQueue[Span]()

  // written only by the listener-bus thread; read after `finish`
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val triggers = mutable.ArrayBuffer.empty[Trigger]

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
      val j = new JobRec(e.jobId, e.time, prop(QueryIdKey).orNull,
        prop(BatchIdKey).map(_.toLong).getOrElse(-1L),
        prop(SpanKey).map(_.toLong).getOrElse(0L))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.taskMs += m.executorRunTime
        j.rowsRead += m.inputMetrics.recordsRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private object QueryListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // idle progress reports carry no addBatch: no batch ran
      if (d.contains("addBatch"))
        triggers += Trigger(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d, p.numInputRows)
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.streams.addListener(QueryListener)
  }

  /** Run `body` as span `name`; Spark jobs it launches on this thread
    * carry the span id. */
  def call[A](name: String)(body: => A): A = noted(name, (_: A) => "")(body)

  /** `call`, with a note on the span derived from the result. */
  def noted[A](name: String, note: A => String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      val id = ids.getAndIncrement()
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = Jobs.nowMs()
      var res: Option[A] = None
      try { res = Some(body); res.get }
      finally {
        calls.add(Span(id, name, t0, Jobs.nowMs(),
          Option(prev).map(_.toLong).getOrElse(0L), runId, res.map(note).getOrElse("failed")))
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Wait for the listener bus, then detach the listeners. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.JobbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(JobListener)
    spark.streams.removeListener(QueryListener)
  }

  /** The trigger a worker call ran in. The pipeline runs workers on its
    * timeout-guard pool, off the task thread, so the call usually cannot
    * read the batch id from its TaskContext; then the trigger is the one
    * whose interval holds the call (a pipeline's triggers never overlap,
    * and a pass runs one pipeline at a time). */
  private def triggerOf(c: Jobs.Call): Option[Trigger] =
    if (c.queryId != null) triggers.find(t => t.queryId == c.queryId && t.batchId == c.batchId)
    else triggers.find(t => t.startMs <= c.startMs && c.startMs <= t.startMs + t.d("triggerExecution"))

  /** Every span of the run: the benchmark's calls, the pipeline
    * triggers and their phases, the Spark jobs and the worker calls. */
  def spans(workerCalls: Seq[Jobs.Call]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    out ++= calls.asScala
    val batchSpan = mutable.HashMap.empty[(String, Long), Long]
    for (t <- triggers) {
      val s = t.startMs
      val e = s + t.d("triggerExecution")
      val tid = ids.getAndIncrement()
      out += Span(tid, "pipeline.trigger", s, e, 0, runId)
      val src = t.d("latestOffset") + t.d("getBatch")
      val b0 = s + src + t.d("queryPlanning")
      val bid = ids.getAndIncrement()
      out += Span(ids.getAndIncrement(), "pipeline.source", s, s + src, tid, runId)
      out += Span(bid, "pipeline.batch", b0, b0 + t.d("addBatch"), tid, runId)
      out += Span(ids.getAndIncrement(), "pipeline.commit",
        e - t.d("walCommit") - t.d("commitOffsets"), e, tid, runId)
      batchSpan((t.queryId, t.batchId)) = bid
    }
    val jobSpans = jobs.values.toSeq.map { j =>
      val parent =
        if (j.queryId != null) batchSpan.getOrElse((j.queryId, j.batchId), 0L)
        else j.spanId
      j -> Span(ids.getAndIncrement(), "spark.job", j.startMs.toDouble, j.endMs.toDouble,
        parent, runId)
    }
    out ++= jobSpans.map(_._2)
    val byBatch = jobSpans.filter(_._1.queryId != null)
      .groupBy { case (j, _) => (j.queryId, j.batchId) }
    for (c <- workerCalls) {
      val key = triggerOf(c).map(t => (t.queryId, t.batchId)).getOrElse((c.queryId, c.batchId))
      val parent = byBatch.getOrElse(key, Nil)
        .find { case (_, s) => s.startMs <= c.startMs && c.startMs <= s.endMs }
        .map(_._2.id).getOrElse(batchSpan.getOrElse(key, 0L))
      out += Span(ids.getAndIncrement(), "pipeline.worker", c.startMs, c.endMs, parent, runId)
    }
    out.toSeq
  }

  /** Per-layer metrics of the run. `dueMs` gives each job's due time,
    * `measuredQueries` the ids of the measured pipelines' streaming
    * queries; `extra` carries the workload's own layer counts. */
  def layerMetrics(workerCalls: Seq[Jobs.Call], dueMs: String => Option[Double],
      measuredQueries: Set[String],
      extra: Map[String, Double]): (Map[String, Double], Seq[Span]) = {
    val all = spans(workerCalls)
    val m = mutable.LinkedHashMap.empty[String, Double]
    def per(a: Double, n: Double) = if (n == 0) 0.0 else a / n

    // pipeline
    // only the measured pipelines: steady's set-up repetitions start
    // throwaway ones
    val trig = triggers.toSeq.filter(t => measuredQueries(t.queryId))
    val pJobs = jobs.values.filter(j => j.queryId != null && measuredQueries(j.queryId)).toSeq
    val n = trig.size.toDouble
    m("pipeline.triggers") = n
    // job counts are medians over triggers, ticks and calls: a count of
    // one kind of step repeats exactly even when the mix of steps in a
    // run varies with timing
    val jobsPerTrigger = pJobs.groupBy(j => (j.queryId, j.batchId)).values.map(_.size.toDouble)
    m("pipeline.spark_jobs_per_trigger") = Stats.median(jobsPerTrigger.toSeq)
    m("pipeline.task_ms_per_trigger") = per(pJobs.map(_.taskMs).sum, n)
    m("pipeline.rows_read_per_job") = per(pJobs.map(_.rowsRead).sum, trig.map(_.rows).sum)
    m("pipeline.batch_ms_per_trigger") = per(trig.map(_.d("addBatch")).sum, n)
    m("pipeline.source_ms_per_trigger") =
      per(trig.map(t => t.d("latestOffset") + t.d("getBatch")).sum, n)
    m("pipeline.commit_ms_per_trigger") =
      per(trig.map(t => t.d("walCommit") + t.d("commitOffsets")).sum, n)
    m("pipeline.planning_ms_per_trigger") = per(trig.map(_.d("queryPlanning")).sum, n)
    val split = workerCalls.filter(_.ok).flatMap { c =>
      for (t <- triggerOf(c) if measuredQueries(t.queryId); due <- dueMs(c.key))
        yield (t.startMs - due, c.endMs - t.startMs)
    }
    m("pipeline.wait_ms_p50") = Stats.median(split.map(_._1))
    m("pipeline.service_ms_p50") = Stats.median(split.map(_._2))
    m("pipeline.worker_busy_share") =
      per(workerCalls.map(c => c.endMs - c.startMs).sum, trig.map(_.d("addBatch")).sum)

    // api, scheduler, operators: jobs attributed to the calls' spans
    val jobsBySpan = jobs.values.groupBy(_.spanId)
    def named(names: String*) = all.filter(s => names.contains(s.name))
    def spanJobs(ss: Seq[Span]) = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
    def jobsPerSpan(ss: Seq[Span]) =
      Stats.median(ss.map(s => jobsBySpan.getOrElse(s.id, Nil).size.toDouble))
    val enq = named("api.bulkEnqueue")
    m("api.enqueue.spark_jobs_per_call") = jobsPerSpan(enq)
    m("api.enqueue.task_ms_per_call") = per(spanJobs(enq).map(_.taskMs).sum, enq.size)
    val gaugeCalls = named("api.jobCounts").size
    val gauge = named("api.jobCounts", "api.pendingJobsCount")
    m("api.gauge.spark_jobs_per_call") = per(spanJobs(gauge).size, gaugeCalls)
    m("api.gauge.task_ms_per_call") = per(spanJobs(gauge).map(_.taskMs).sum, gaugeCalls)
    // a tick that moves rows runs more jobs than an empty one
    val ticks = named("scheduler.tick")
    val (empty, busy) = ticks.partition(_.note == "empty")
    m("scheduler.tick_ms_p50") = Stats.median(ticks.map(s => s.endMs - s.startMs))
    m("scheduler.spark_jobs_per_empty_tick") = jobsPerSpan(empty)
    m("scheduler.spark_jobs_per_busy_tick") = jobsPerSpan(busy)
    val ing = named("operators.ingestDelta")
    m("operators.ingest.spark_jobs_per_batch") = jobsPerSpan(ing)
    m("operators.ingest.task_ms_per_batch") = per(spanJobs(ing).map(_.taskMs).sum, ing.size)
    m("operators.ingest.shuffle_mb_per_batch") =
      per(spanJobs(ing).map(_.shuffleWriteBytes).sum / 1e6, ing.size)
    val probe = named("operators.probeNearDups")
    m("operators.probe.spark_jobs_per_call") = jobsPerSpan(probe)

    // self time: a span's duration minus the part its children cover.
    // Spark jobs outside any layer call are the benchmark's own (input
    // preparation, checks) and are left out.
    val kids = all.groupBy(_.parent)
    val self = mutable.LinkedHashMap(Layers.map(_ -> 0.0): _*)
    for (s <- all if !(s.name == "spark.job" && s.parent == 0)) {
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))))
      self(s.layer) = self.getOrElse(s.layer, 0.0) + math.max(0.0, s.endMs - s.startMs - covered)
    }
    val total = self.values.sum
    for (l <- Layers) m(s"$l.self_share") = per(self(l), total)
    m("trace.spans") = all.size.toDouble
    (m.toMap ++ extra, all)
  }
}

object Tracer {
  final class JobRec(val id: Int, val startMs: Long, val queryId: String,
      val batchId: Long, val spanId: Long) {
    var endMs: Long = startMs
    var taskMs: Long = 0
    var rowsRead: Long = 0
    var shuffleWriteBytes: Long = 0
  }
  final case class Trigger(queryId: String, batchId: Long, startMs: Double,
      durations: Map[String, Long], rows: Long) {
    def d(k: String): Long = durations.getOrElse(k, 0L)
  }

  val SpanKey = "jobbench.span"
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
  val Layers: Seq[String] = Seq("api", "pipeline", "scheduler", "operators", "spark")

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startMs).foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "run_id" -> s.runId)))
      w.newLine()
    } finally w.close()
  }
}
