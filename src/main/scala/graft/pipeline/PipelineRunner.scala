package graft.pipeline

import java.sql.Timestamp

import graft.model._
import graft.store.QueueStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** One pipeline = one Structured Streaming query over the queue
  * directory (SURVEY.md §3.2): the file-stream source replaces the
  * GenStage demand loop, `Trigger.ProcessingTime` replaces the 2 s poll
  * (producer.ex:17), `maxFilesPerTrigger` bounds demand like max_demand
  * (pipeline.ex:5), and each micro-batch runs the reference's
  * claim → dispatch → ack dataflow inside `foreachBatch`:
  *
  *   1. rate-limit admission (B2, bulk_dequeue.ex:79-163): admit
  *      min(batch, count - consumed-in-window); deferred rows are
  *      re-appended to the queue tail (at-least-once, order deviation
  *      documented — the reference leaves them at the head);
  *   2. claim (B1, bulk_dequeue.ex:273-295): append admitted rows to
  *      `processing` with claimed_at — the durability backup that the
  *      visibility-timeout scheduler (C2) sweeps;
  *   3. dispatch (B5/B6, event/worker.ex:25-46): executor-side
  *      `mapPartitions` applies the registered worker per event — or
  *      per BulkEvent after groupByKey(class) + grouped(batchSize)
  *      (B3, producer_consumer.ex:51-61);
  *   4. outcomes (B7/B8, manager.ex:121-169): success → tombstone the
  *      processing row; failure → retry table (not_before = now +
  *      backoff) until maxRetries, then dead-letter; either way the
  *      claim is tombstoned. All writes are idempotent on deterministic
  *      ids (claim_id = jid:batchId, sched_id = jid:retry_count), so a
  *      replayed batch cannot double-apply — Spark's exactly-once file
  *      offsets + idempotent writes give the reference's at-least-once
  *      contract.
  *
  * Job budget (without a rate limit, per-job telemetry or batchSize
  * grouping): every Spark job of a micro-batch is a table write. The
  * stamped batch is persisted, so the claim write is the only job that
  * reads the source files; its observed row count replaces an
  * emptiness probe. Dispatch runs inside the ack write, which observes
  * the retry and dead counts, and the src_file the tombstone needs rides
  * through the typed dispatch instead of a join back to the claim. So an
  * all-success batch costs 2 jobs (claim, ack), a batch with retries or
  * dead letters 3, and one with both 4.
  *
  * Pause (D1, pipeline/event.ex:41-55): durable flag; `pause()` stops
  * the query after the in-flight micro-batch drains — exactly the
  * reference's "stop fetching, let in-flight work finish". `start()`
  * honors a persisted flag across restarts (event.ex:32-39).
  */
class PipelineRunner(
    store: QueueStore,
    cfg: PipelineConfig,
    engine: EngineConfig = EngineConfig(),
    handler: graft.metrics.EventHandler = graft.metrics.NoopEventHandler,
    workers: WorkerSet = WorkerSet.empty) {

  private val spark: SparkSession = store.spark
  /** The cluster-mode worker path: the set broadcasts lazily (once per
    * start/stop cycle) and the dispatch closures resolve from the
    * broadcast value first (per-JVM [[WorkerRegistry]] as fallback) —
    * executors never need a static-initializer registration story.
    * Empty set ⇒ no broadcast. `stop()` destroys the handle so
    * long-lived drivers constructing many runners don't accumulate
    * broadcast blocks; a restart re-broadcasts on first dispatch. */
  @volatile private var workerBcHandle: Option[org.apache.spark.broadcast.Broadcast[WorkerSet]] = None
  private def workerBc: Option[org.apache.spark.broadcast.Broadcast[WorkerSet]] =
    if (workers.size == 0) None
    else synchronized {
      if (workerBcHandle.isEmpty)
        workerBcHandle = Some(spark.sparkContext.broadcast(workers))
      workerBcHandle
    }
  /** Per-pipeline telemetry gate (pipeline.ex:17): unless
    * `cfg.instrument` is true, per-job telemetry is skipped entirely,
    * matching instrumentation.ex:10-11 / worker.ex:41. */
  private val jobHandler: graft.metrics.EventHandler =
    if (cfg.instrument) handler else graft.metrics.NoopEventHandler
  @volatile private var query: Option[StreamingQuery] = None
  /** Node-local pause override: Some(true)=paused here regardless of
    * the durable flag, Some(false)=running here regardless, None=follow
    * the durable flag. Mirrors the reference's producer state machine
    * vs the Redis flag (producer.ex:25-43 vs event.ex:41-55). */
  @volatile private var localOverride: Option[Boolean] = None

  PipelineRunner.register(this)

  private def effectivelyPaused: Boolean =
    localOverride.getOrElse(store.isPaused(cfg.name))

  /** No live query and no pause drain still stopping one — this runner
    * cannot touch the state tables until a start()/resume(). */
  private[pipeline] def isQuiet: Boolean =
    query.isEmpty && !pendingStop.exists(_.isAlive)

  def start(): Option[StreamingQuery] = synchronized {
    if (effectivelyPaused) None
    else {
      store.ensureDir(store.queueDir(cfg.queue))
      // batch_size demand multiplier (producer.ex:131-146): demand
      // counts BulkEvents when batching, so the fetch asks for
      // demand * batch_size raw jobs
      val fetchDemand = cfg.maxDemand * cfg.batchSize.getOrElse(1)
      val src = spark.readStream
        .schema(Schemas.event)
        .option("maxFilesPerTrigger", fetchDemand)
        // a crash-replay may reference a file the archiver has since
        // moved (possible only when every row in it was already acked)
        // — skip it instead of failing the query
        .option("ignoreMissingFiles", "true")
        // day-partition glob: batch analytics prune on day; the stream
        // lists data files across the day subdirs each trigger, FIFO
        // still rides the per-writer stamp discipline
        .parquet(store.queueStreamPath(cfg.queue))
      val q = src.writeStream
        .queryName(s"graft-pipeline-${cfg.name}")
        .option("checkpointLocation", store.checkpointDir(cfg.name))
        .trigger(Trigger.ProcessingTime(cfg.pollIntervalMs))
        .foreachBatch { (df: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          processBatch(df, batchId)
        }
        .start()
      query = Some(q)
      query
    }
  }

  @volatile private var pendingStop: Option[Thread] = None

  /** D1 with option parity (control/options.ex:33-59): temporary
    * (default) pauses this runner only; durable persists the flag.
    * async returns while the drain completes in the background; sync
    * waits up to timeoutMs (0 ⇒ don't wait). In-flight work always
    * drains — StreamingQuery.stop lets the running micro-batch finish.
    *
    * The query to stop is CLAIMED under the lock at pause time (query
    * field cleared), so a concurrent resume can never have its freshly
    * started query killed by a stale stopper. */
  def pause(opts: ControlOptions = ControlOptions()): Unit = {
    // claim the query AND publish the stopper in ONE critical section:
    // a resume interleaving after the lock releases either sees the
    // stopper (and waits for the drain) or ran before this pause (and
    // its query is the one claimed here) — never a missed drain. A
    // second pause chains on the previous drain inside the new
    // stopper, so overwriting pendingStop loses nothing.
    val stopper = synchronized {
      if (opts.temporary) localOverride = Some(true)
      else { store.setPaused(cfg.name, true); localOverride = None }
      val q0 = query; query = None
      val prev = pendingStop
      val t = new Thread(() => {
        prev.foreach(_.join())
        q0.foreach(_.stop())
      }, s"graft-pause-${cfg.name}")
      t.setDaemon(true)
      pendingStop = Some(t)
      t
    }
    stopper.start()
    if (!opts.async) {
      if (opts.timeoutMs == ControlOptions.Infinity) stopper.join()
      else if (opts.timeoutMs > 0) stopper.join(opts.timeoutMs)
    }
  }

  /** Temporary resume restarts this runner even under a durable flag
    * (the reference's local producer cast); durable resume clears the
    * flag for every future boot. Waits (bounded by timeoutMs) for any
    * in-flight pause drain first — two queries must never share the
    * checkpoint dir; a drain still running past the bound fails the
    * resume loudly instead of double-starting. */
  def resume(opts: ControlOptions = ControlOptions()): Unit = {
    // publish the resume intent AND claim the drain to wait on in one
    // critical section — the same lock pause() publishes under, so a
    // concurrent pause either happened-before (we wait on its stopper)
    // or happens-after (it sees our override and claims our query)
    val drain = synchronized {
      if (opts.temporary) localOverride = Some(false)
      else { store.setPaused(cfg.name, false); localOverride = None }
      pendingStop
    }
    drain.foreach { t =>
      if (opts.timeoutMs == ControlOptions.Infinity) t.join()
      else if (opts.timeoutMs > 0) t.join(opts.timeoutMs)
      if (t.isAlive)
        throw new IllegalStateException(
          s"resume(${cfg.name}): in-flight pause drain still running after ${opts.timeoutMs} ms")
    }
    synchronized {
      // a pause may have interleaved while we joined: clear only the
      // stopper we actually waited on, and start only if no NEWER
      // stopper was published since — otherwise start() could launch a
      // second query on the checkpoint dir while the old one drains
      if (pendingStop == drain) pendingStop = None
      if (pendingStop.isEmpty && query.isEmpty) start()
    }
  }

  /** Validating variants — reject malformed option maps like the
    * reference's sanitized_options doctest cases. */
  def pause(opts: Map[String, Any]): Unit =
    ControlOptions.sanitize(opts).fold(
      e => throw new IllegalArgumentException(e), pause)
  def resume(opts: Map[String, Any]): Unit =
    ControlOptions.sanitize(opts).fold(
      e => throw new IllegalArgumentException(e), resume)

  def stop(): Unit = {
    // claim both the query and the in-flight drain under the lock
    val (toStop, drain) = synchronized {
      val q0 = query; query = None; (q0, pendingStop)
    }
    drain.foreach(_.join(60000)) // bounded: a hung drain must not wedge shutdown
    // clear the stopper ONLY if it actually finished: a drain still
    // alive after the bounded join is still stopping its query, and
    // clearing it would let a later resume() start a second query on
    // the same checkpoint dir (resume checks isAlive; so must we)
    synchronized {
      if (pendingStop == drain && !drain.exists(_.isAlive)) pendingStop = None
    }
    toStop.foreach(_.stop())
    // free the WorkerSet broadcast blocks (driver + executors) now that
    // no query can dispatch through it; a later start() re-broadcasts
    synchronized {
      workerBcHandle.foreach(_.destroy())
      workerBcHandle = None
    }
  }
  def activeQuery: Option[StreamingQuery] = query

  /** Visible for tests: run one micro-batch worth of the dataflow. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val nowMs = System.currentTimeMillis()
    // stamp each row with the basename of the queue file it was read
    // from: claims carry it, acks inherit it, and the archiver uses it
    // as exact per-copy consumption evidence (null for rows without
    // file context, e.g. tests driving processBatch with in-memory
    // frames — such copies are simply never archived). Persisted once:
    // the claim write fills the cache and dispatch reads from it, so
    // the source files are read by one job per batch.
    val stamped = batch.withColumn("src_file",
      when(length(input_file_name()) > 0,
        regexp_extract(input_file_name(), "[^/]+$", 0))
        .otherwise(lit(null).cast("string")))
      .persist()
    var admitted = stamped
    try {
      admitted = admit(stamped, batchId, nowMs)
      val (claimed, n) = claim(admitted, batchId, nowMs)
      if (n > 0) writeOutcomes(dispatch(claimed), nowMs)
    } finally {
      // admit caches its own frame only when the rate limit defers rows
      if (admitted ne stamped) admitted.unpersist()
      stamped.unpersist()
    }
  }

  /** B2: sliding-window admission.
    *
    *  - Replay-aware: the window count EXCLUDES ids from this batch's
    *    own earlier attempt (ids are jid:batchId), so a replayed
    *    micro-batch recomputes the same split instead of counting its
    *    crashed attempt as foreign consumption; re-logging the same
    *    ids is a distinct-count no-op.
    *  - Back-pressure, not churn: a closed window BLOCKS (bounded by
    *    one scale period — entries must expire by then) instead of
    *    rewriting the whole batch every trigger; this is the analog of
    *    the reference's locked-queue re-poll (producer.ex:174-178).
    *  - Whatever still overflows is deferred as claim-and-instant-
    *    requeue — the same move C2 uses — so the job_counts arithmetic
    *    (queue rows minus claims) stays exact.
    *  - Deterministic split (sort by enqueued_at, jid). */
  private def admit(batch: DataFrame, batchId: Long, nowMs: Long): DataFrame =
    (cfg.rateLimitCount, cfg.rateLimitScaleMs) match {
      case (Some(limit), Some(scale)) =>
        // own-attempt ids are namespaced per PIPELINE (jid:name:batchId):
        // batch ids restart at 0 for every pipeline, so a bare :batchId
        // suffix would make pipelines sharing a rateLimitKey ignore each
        // other's admissions and over-admit N× the configured rate
        val ownSuffix = Some(s":${cfg.name}:$batchId")
        def allowedNow(): Long = math.max(0L,
          limit - store.limitCountSince(cfg.limitKey,
            System.currentTimeMillis() - scale, ownSuffix))
        val total = batch.count()
        // nothing to admit: never block on a closed window for it
        if (total == 0) return batch
        var allowed = allowedNow()
        // Two admission regimes:
        //  - SHORT windows (≤ 4 trigger intervals): a closed window
        //    BLOCKS in place — entries expire within one trigger's
        //    patience, and blocking avoids any table churn (the analog
        //    of the reference's locked-queue re-poll,
        //    producer.ex:174-178). The wait is ONE computed sleep, not
        //    a poll: the reopen instant is knowable from the limit log
        //    (earliest in-window entry + scale), so we read it once,
        //    sleep until then, and re-check once;
        //  - LONG windows (quota-style scales ≫ the trigger, floor
        //    10 s): blocking would wedge the micro-batch for up to the
        //    whole scale and the old poll loop ran a Spark job every
        //    100 ms against the limit log. Instead the overflow is
        //    PARKED in the scheduled table with not_before = the
        //    window's earliest expiry: the trigger returns immediately
        //    (pause/stop stay responsive), nothing polls, and the
        //    housekeeper promotes the rows back exactly when the
        //    window can admit them — zero requeue churn while closed.
        val longScale = scale > math.max(4 * cfg.pollIntervalMs, 10000L)
        if (!longScale) {
          // computed sleep: the window reopens when its oldest FOREIGN
          // in-window entry expires (own replayed entries are excluded —
          // they never count against this batch, so their expiry is
          // irrelevant). The loop re-enters only if new foreign
          // admissions landed while we slept, so a blocked batch costs
          // ≤2 limit-log reads in the common case, not one per 100 ms.
          //
          // The sleep itself is sliced (≤100 ms, NO extra log reads) and
          // pause-aware: a pause() landing mid-block aborts the wait and
          // falls through to the defer path below — the runner must not
          // sit out a closed window after being told to stop fetching.
          // This mirrors the reference's producer, which re-polls its
          // locked queue every 500 ms and reacts to pause between polls
          // (producer.ex:174-178).
          val waitDeadline = nowMs + scale
          var abort = false
          while (allowed <= 0 && !abort && System.currentTimeMillis() < waitDeadline) {
            val now = System.currentTimeMillis()
            val reopenMs = store.limitEarliestSince(cfg.limitKey,
              now - scale, ownSuffix).map(_ + scale).getOrElse(now + 100L)
            val sleepUntil = math.min(reopenMs, waitDeadline) + 1L
            while (!abort && System.currentTimeMillis() < sleepUntil) {
              Thread.sleep(math.max(1L,
                math.min(100L, sleepUntil - System.currentTimeMillis())))
              if (effectivelyPaused) abort = true
            }
            if (!abort) allowed = allowedNow()
          }
        }
        val at = new Timestamp(System.currentTimeMillis())
        def admissionIds(df: DataFrame) =
          df.select(concat_ws(":", col("jid"), lit(cfg.name), lit(batchId)).as("id"))
        if (allowed >= total) {
          store.limitLogAppend(cfg.limitKey, admissionIds(batch), at)
          batch
        } else {
          val adm = batch.orderBy(col("enqueued_at"), col("jid"))
            .limit(allowed.toInt).cache()
          val deferred = batch.join(broadcast(adm.select("jid")), Seq("jid"), "left_anti")
          val marker = deferred
            .withColumn("claim_id", concat_ws(":", col("jid"), lit(batchId), lit("d")))
            .withColumn("claimed_at", lit(at))
          store.append(store.processingDir, marker, store.processingSchema)
          store.tombstone("processing",
            marker.select(col("claim_id").as("id"), col("queue"), col("src_file")))
          if (allowed > 0)
            store.limitLogAppend(cfg.limitKey, admissionIds(adm), at)
          if (longScale) {
            // reopen time = oldest in-window admission + scale, over
            // ALL entries (including the ones this batch just logged —
            // when the batch itself filled the window, those are
            // exactly what must expire first); if the window is empty
            // (we lost a race with expiry), the next trigger interval
            // is the soonest re-admission
            val reopenMs = store.limitEarliestSince(cfg.limitKey,
              System.currentTimeMillis() - scale)
              .map(_ + scale)
              .getOrElse(System.currentTimeMillis() + cfg.pollIntervalMs)
            store.appendScheduled(deferred
              .withColumn("sched_id",
                concat_ws(":", col("jid"), lit(batchId), lit("ds")))
              .withColumn("not_before", lit(new Timestamp(reopenMs)))
              .withColumn("kind", lit("deferred")))
          } else {
            store.appendQueue(cfg.queue, deferred)
          }
          adm
        }
      case _ => batch
    }

  /** B1: move the batch into the processing (in-flight) set. Returns
    * the claimed frame and its row count, observed on the claim write
    * (no separate emptiness probe; an empty batch publishes no file). */
  private def claim(admitted: DataFrame, batchId: Long, nowMs: Long): (DataFrame, Long) = {
    val claimed = admitted
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(batchId)))
      .withColumn("claimed_at", lit(new Timestamp(nowMs)))
    (claimed, store.append(store.processingDir, claimed, store.processingSchema))
  }

  /** B5/B6 worker dispatch on executors; B3 grouping when batchSize set. */
  private def dispatch(claimed: DataFrame): Dataset[Outcome] = {
    import spark.implicits._
    val timeoutMs = engine.dispatchTimeoutMs
    val events = claimed.select(
      (Schemas.event.fieldNames :+ "claim_id" :+ "src_file").map(col).toSeq: _*)
    // local val so the task closures capture the broadcast handle and
    // the timeout, never `this` (the runner holds the SparkSession)
    val bc = workerBc
    cfg.batchSize match {
      case Some(bs) =>
        events.as[ClaimedEvent]
          .groupByKey(e => (e.clazz, e.function))
          .flatMapGroups { (_: (String, String), it: Iterator[ClaimedEvent]) =>
            val ws = bc.map(_.value)
            it.grouped(bs).flatMap(c =>
              PipelineRunner.dispatchBulk(c.toSeq, timeoutMs, ws))
          }
      case None =>
        events.as[ClaimedEvent].mapPartitions { it =>
          val ws = bc.map(_.value)
          it.map(PipelineRunner.dispatchOne(_, timeoutMs, ws))
        }
    }
  }

  /** B7/B8: acks, retries, dead letters. The ack write materializes the
    * dispatch into the cache and observes the retry and dead-letter
    * counts on the way, so each failure write runs only when it has
    * rows. */
  private def writeOutcomes(outcomes: Dataset[Outcome], nowMs: Long): Unit = {
    val out = outcomes.toDF().cache()
    try {
      val now = new Timestamp(nowMs)
      val isRetry = !col("success") && col("retry_count") < engine.maxRetries
      val isDead = !col("success") && col("retry_count") >= engine.maxRetries
      val obs = org.apache.spark.sql.Observation()
      // every dispatched job leaves the in-flight set; the (id, queue,
      // src_file) tombstone is the durable acked-claim record for
      // job_counts AND the archiver's per-copy consumption evidence
      store.tombstone("processing",
        out.observe(obs, count(when(isRetry, 1)).as("retry"), count(when(isDead, 1)).as("dead"))
          .select(col("claim_id").as("id"), col("queue"), col("src_file")))
      val nRetry = obs.get("retry").asInstanceOf[Long]
      val nDead = obs.get("dead").asInstanceOf[Long]

      // per-job worker telemetry ([pipeline,:worker,:job],
      // event/worker.ex:57-67): the collect is metadata only — (jid,
      // duration, success) bounded by maxDemand per micro-batch
      if (jobHandler ne graft.metrics.NoopEventHandler)
        out.select("jid", "duration_ms", "success").collect().foreach { r =>
          jobHandler.handleJob(cfg.name, r.getString(0), r.getDouble(1), r.getBoolean(2))
        }

      if (nRetry + nDead > 0)
        graft.GraftLog.current.warn("worker failures in micro-batch",
          Map("pipeline" -> cfg.name, "failed" -> (nRetry + nDead).toString))

      if (nRetry > 0)
        store.appendScheduled(out.where(isRetry)
          .withColumn("retry_count", col("retry_count") + 1)
          .withColumn("failed_at", lit(now))
          .withColumn("retried_at", lit(now))
          .withColumn("finished_at", lit(null).cast("timestamp"))
          .withColumn("sched_id", concat_ws(":", col("jid"), col("retry_count")))
          .withColumn("not_before", timestamp_millis(lit(nowMs) +
            Backoff.delayMsCol(col("retry_count"), engine.backoffInitialMs, engine.backoffMaxMs)))
          .withColumn("kind", lit("retry")))

      if (nDead > 0)
        store.append(store.deadDir, out.where(isDead)
          .withColumn("failed_at", lit(now))
          .withColumn("finished_at", lit(null).cast("timestamp"))
          .withColumn("retried_at", lit(null).cast("timestamp")),
          store.deadSchema)
    } finally out.unpersist()
  }
}

/** Executor-side dispatch functions — kept on the companion object so
  * task closures capture nothing but the registry lookup. */
object PipelineRunner extends Serializable {

  // weakly-held registry of every runner constructed in this driver —
  // single-driver ownership (SURVEY §2 E3) makes it authoritative for
  // "is any pipeline touching the state tables right now". Weak so
  // abandoned test/short-lived runners don't accumulate; all access
  // goes through registryLock (WeakHashMap is not thread-safe).
  @transient private lazy val registryLock = new Object
  @transient private lazy val runners =
    new java.util.WeakHashMap[PipelineRunner, java.lang.Boolean]()

  private[pipeline] def register(r: PipelineRunner): Unit =
    registryLock.synchronized { runners.put(r, java.lang.Boolean.TRUE); () }

  /** Engine-level quiesce signal: true when no registered runner has a
    * live streaming query OR an in-flight pause drain (a draining query
    * can still be claiming/acking for up to one micro-batch). Gates
    * auto-compaction — the state-table swap must never race a claim. */
  def allQuiet: Boolean = {
    val snap = registryLock.synchronized {
      new java.util.ArrayList[PipelineRunner](runners.keySet())
    }
    val it = snap.iterator()
    var quiet = true
    while (quiet && it.hasNext) quiet = it.next().isQuiet
    quiet
  }

  /** Per-executor-JVM pool for timeout-guarded worker calls. Cached:
    * a hung (uninterruptible) worker strands its thread, but the next
    * dispatch just gets a fresh one — the pipeline keeps draining,
    * exactly like the reference's ConsumerSupervisor killing stuck
    * worker Tasks (utils.ex:6-14). */
  @transient private lazy val dispatchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-worker-dispatch"); t.setDaemon(true); t
    })

  /** Run `body` bounded by timeoutMs (<= 0 ⇒ unbounded). Timeout ⇒
    * interrupt the worker thread and surface a failure outcome — a
    * worker that blocks forever must not wedge the micro-batch. */
  private[pipeline] def timed(timeoutMs: Long)(body: => Unit): Option[Throwable] =
    if (timeoutMs <= 0) {
      try { body; None } catch { case t: Throwable => Some(t) }
    } else {
      val fut = dispatchPool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = body
      })
      try { fut.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS); None }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          fut.cancel(true)
          Some(new java.util.concurrent.TimeoutException(
            s"worker timed out after $timeoutMs ms"))
        case e: java.util.concurrent.ExecutionException => Some(e.getCause)
        case t: Throwable => Some(t)
      }
    }

  private[pipeline] def dispatchOne(e: ClaimedEvent, timeoutMs: Long = 0,
      ws: Option[WorkerSet] = None): Outcome = {
    val t0 = System.nanoTime()
    val result =
      timed(timeoutMs)(ws.flatMap(_.resolve(e.clazz, e.function))
        .getOrElse(WorkerRegistry.resolve(e.clazz, e.function))(e.args, e.context))
    val durMs = (System.nanoTime() - t0) / 1e6
    result match {
      case None => e.toOutcome(success = true, None, durationMs = durMs)
      case Some(t) =>
        e.toOutcome(success = false, Some(t.toString), Some(backtrace(t)), durMs)
    }
  }

  /** First frames of the worker failure, like the reference's
    * error_backtrace field (event.ex:36). */
  private[pipeline] def backtrace(t: Throwable): String =
    t.getStackTrace.take(10).mkString("\n")

  /** One worker call per chunk; all members succeed or fail together
    * (bulk_event/worker.ex:33-64). The timeout scales with chunk size:
    * one call does N jobs' work, so the per-job bound multiplies. */
  private[pipeline] def dispatchBulk(chunk: Seq[ClaimedEvent], timeoutMs: Long = 0,
      ws: Option[WorkerSet] = None): Seq[Outcome] = {
    val t0 = System.nanoTime()
    val result = timed(if (timeoutMs <= 0) timeoutMs else timeoutMs * chunk.size)(
      ws.flatMap(_.resolveBulk(chunk.head.clazz, chunk.head.function))
        .getOrElse(WorkerRegistry.resolveBulk(chunk.head.clazz, chunk.head.function))(
          chunk.map(_.args)))
    // one worker call per chunk → each member carries the call's duration
    val durMs = (System.nanoTime() - t0) / 1e6
    result match {
      case None => chunk.map(_.toOutcome(success = true, None, durationMs = durMs))
      case Some(t) =>
        chunk.map(_.toOutcome(success = false, Some(t.toString), Some(backtrace(t)), durMs))
    }
  }
}

/** GraftEvent + its claim id and source file, as dispatched. */
case class ClaimedEvent(
    clazz: String, function: String, queue: String, jid: String,
    args: String, retry_count: Int, enqueued_at: Timestamp,
    finished_at: Option[Timestamp], failed_at: Option[Timestamp],
    retried_at: Option[Timestamp], error_message: Option[String],
    error_backtrace: Option[String], context: Map[String, String],
    claim_id: String, src_file: Option[String]) {
  def toOutcome(success: Boolean, error: Option[String],
      backtrace: Option[String] = None, durationMs: Double = 0.0): Outcome =
    Outcome(clazz, function, queue, jid, args, retry_count, enqueued_at,
      context, claim_id, src_file, success, error, backtrace, durationMs)
}
