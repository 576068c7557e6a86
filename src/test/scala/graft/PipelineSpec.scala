package graft

import graft.api.{DefaultQueueApi, JobSpec}
import graft.metrics.{InMemoryEventHandler, Instrumentation}
import graft.model.{EngineConfig, PipelineConfig}
import graft.pipeline.{PipelineRunner, WorkerRegistry}
import graft.scheduler.Housekeeper
import graft.store.QueueStore
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The minimum end-to-end slice from SURVEY.md §7 plus the retry, rate
  * limit, batching and pause paths — each asserting the state tables
  * like the reference's manager tests assert Redis keys. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = TestSpark.spark

  override def beforeEach(): Unit = { Buffers.clear(); WorkerRegistry.clear() }

  test("minimum e2e slice: enqueue 100 → streaming pipeline → all acked (A1,B1,B4,B5,B7,D2,D5)") {
    WorkerRegistry.register("EchoWorker", (args, ctx) => {
      Buffers.echo.add(args); Buffers.ctx.add(ctx)
    })
    val handler = new InMemoryEventHandler
    val listener = Instrumentation.attach(spark, handler)
    val store = new QueueStore(spark, TestSpark.tmpRoot("e2e"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("default",
      (1 to 100).map(i => JobSpec("EchoWorker", args = s"[$i]",
        context = Map("request_id" -> i.toString))))

    val runner = new PipelineRunner(store,
      PipelineConfig("default_pipeline", "default", maxDemand = 10, pollIntervalMs = 100))
    val q = runner.start().get
    try q.processAllAvailable() finally runner.stop()
    spark.streams.removeListener(listener)

    assert(Buffers.echo.size === 100)
    assert(Buffers.ctx.toArray.map(_.asInstanceOf[Map[String, String]]("request_id")).toSet.size === 100)
    assert(api.pendingJobsCount() === 0) // B7: acks cleared processing
    assert(api.jobCounts(Seq("default"))("default") === 0)
    assert(store.deadRows.count() === 0)
    // D5: listener surfaced batch telemetry
    val deadline = System.currentTimeMillis() + 10000
    while (!handler.gauges.keys.exists(_._2 == "batch") && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(handler.gauges.keys.exists(_._2 == "batch"))
  }

  test("failure → retry with backoff → dead letter after max_retries (B8,B9,C1)") {
    WorkerRegistry.register("FailWorker", (_, _) => throw new RuntimeException("boom"))
    val store = new QueueStore(spark, TestSpark.tmpRoot("retry"))
    val api = new DefaultQueueApi(store)
    val engine = EngineConfig(maxRetries = 2, backoffInitialMs = 1, backoffMaxMs = 2)
    val runner = new PipelineRunner(store, PipelineConfig("rp", "rq"), engine)
    val hk = new Housekeeper(store)
    api.bulkEnqueue("rq", (1 to 3).map(i => JobSpec("FailWorker", args = s"[$i]")))

    runner.processBatch(store.queueRows("rq"), 0)
    val retry1 = store.liveScheduled()
    assert(retry1.count() === 3)
    assert(retry1.where(col("kind") === "retry").count() === 3)
    assert(retry1.where(col("retry_count") === 1).count() === 3)
    assert(retry1.where(col("error_message").contains("boom")).count() === 3)
    assert(store.liveProcessing().count() === 0) // claims tombstoned
    assert(store.deadRows.count() === 0)

    // C1: promote due retries (backoff is 1-2ms; move clock forward)
    assert(hk.promoteDue(System.currentTimeMillis() + 1000) === 3)
    assert(store.liveScheduled().count() === 0)
    runner.processBatch(store.queueRows("rq").where(col("retry_count") === 1), 1)
    assert(store.liveScheduled().where(col("retry_count") === 2).count() === 3)

    assert(hk.promoteDue(System.currentTimeMillis() + 2000) === 3)
    runner.processBatch(store.queueRows("rq").where(col("retry_count") === 2), 2)
    // retry_count 2 >= maxRetries 2 → dead letter
    assert(store.deadRows.count() === 3)
    assert(store.liveScheduled().count() === 0)
    assert(store.liveProcessing().count() === 0)
  }

  test("rate-limited admission defers overflow and rebuilds window from disk (B2)") {
    WorkerRegistry.register("EchoWorker", (args, _) => Buffers.echo.add(args))
    val store = new QueueStore(spark, TestSpark.tmpRoot("rate"))
    val api = new DefaultQueueApi(store)
    val cfg = PipelineConfig("lp", "lim", rateLimitCount = Some(10),
      rateLimitScaleMs = Some(60000), rateLimitKey = Some("shared"))
    val runner = new PipelineRunner(store, cfg)
    api.bulkEnqueue("lim", (1 to 25).map(i => JobSpec("EchoWorker", args = s"[$i]")))

    val t0 = System.currentTimeMillis()
    runner.processBatch(store.queueRows("lim"), 0)
    val elapsed = System.currentTimeMillis() - t0
    assert(Buffers.echo.size === 10) // admitted = limit
    // LONG window (60 s ≫ trigger): the overflow is PARKED in the
    // scheduled table (not re-appended to the queue tail), and the
    // trigger returns without sleeping out the window
    assert(elapsed < 30000, s"long-window admission blocked ${elapsed} ms")
    assert(store.queueRows("lim").count() === 25)
    val parked = store.liveScheduled().where(col("kind") === "deferred")
    assert(parked.count() === 15)
    // parked jobs count like scheduled jobs (not queued) until promoted
    assert(api.jobCounts(Seq("lim"))("lim") === 0)
    // not_before = the window's earliest expiry (admissions + 60 s)
    val nb = parked.select(min("not_before")).collect()(0).getTimestamp(0).getTime
    assert(nb >= t0 + 60000 - 1000 && nb <= System.currentTimeMillis() + 61000)
    // the housekeeper returns them to the queue once the window reopens
    new Housekeeper(store).promoteDue(nb + 1)
    assert(store.queueRows("lim").count() === 40)
    assert(api.jobCounts(Seq("lim"))("lim") === 15)
    // durable window state: a fresh store (≈ restart) counts the same
    val fresh = new QueueStore(spark, store.root)
    assert(fresh.limitCountSince("shared", System.currentTimeMillis() - 60000) === 10)
    // replay-awareness: from batch 0's own perspective the window is
    // still open (its own entries are excluded)
    assert(fresh.limitCountSince("shared",
      System.currentTimeMillis() - 60000, Some(":0")) === 0)
    // a CLOSED long window never sleep-blocks the trigger: a second
    // pipeline on the same shared window parks its whole batch and
    // returns at once (the old path slept out up to the 60 s scale,
    // polling the limit log with a Spark job every 100 ms)
    val cfg2 = PipelineConfig("lp2", "lim2", rateLimitCount = Some(10),
      rateLimitScaleMs = Some(60000), rateLimitKey = Some("shared"))
    val runner2 = new PipelineRunner(store, cfg2)
    api.bulkEnqueue("lim2", (1 to 5).map(i => JobSpec("EchoWorker", args = s"[x$i]")))
    val t1 = System.currentTimeMillis()
    runner2.processBatch(store.queueRows("lim2"), 0)
    assert(System.currentTimeMillis() - t1 < 20000,
      "closed long window must not block the trigger")
    assert(Buffers.echo.size === 10) // nothing admitted through the closed window
    assert(store.liveScheduled()
      .where(col("kind") === "deferred" && col("queue") === "lim2").count() === 5)
  }

  test("closed rate window applies back-pressure, then drains to exactly-once per job (B2 pacing)") {
    WorkerRegistry.register("EchoWorker", (args, _) => Buffers.echo.add(args))
    val store = new QueueStore(spark, TestSpark.tmpRoot("pace"))
    val api = new DefaultQueueApi(store)
    // 10 jobs per 1.5s window; 25 jobs need ~3 windows via the real
    // streaming query (the closed window blocks the trigger — flume's
    // locked-queue re-poll analog)
    val runner = new PipelineRunner(store,
      PipelineConfig("pp2", "pace", rateLimitCount = Some(10),
        rateLimitScaleMs = Some(1500), pollIntervalMs = 100))
    api.bulkEnqueue("pace", (1 to 25).map(i => JobSpec("EchoWorker", args = s"[p$i]")))
    val q = runner.start().get
    val t0 = System.currentTimeMillis()
    val deadline = t0 + 60000
    while (Buffers.echo.size < 25 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    Thread.sleep(300)
    runner.stop()
    val all = Buffers.echo.toArray.map(_.toString)
    assert(all.length === 25) // every job exactly once — no double dispatch
    assert(all.toSet.size === 25)
    assert(System.currentTimeMillis() - t0 >= 2000) // genuinely paced (>= 2 windows)
    assert(api.jobCounts(Seq("pace"))("pace") === 0) // arithmetic exact after churn
    assert(api.pendingJobsCount() === 0)
  }

  test("blocked short window sleeps once to the computed reopen — no 100ms poll (B2)") {
    WorkerRegistry.register("EchoWorker", (args, _) => Buffers.echo.add(args))
    // instrumented store: every limit-log read (the Spark jobs the old
    // poll loop issued every 100 ms) increments a counter
    var countReads = 0
    var earliestReads = 0
    val store = new QueueStore(spark, TestSpark.tmpRoot("onesleep")) {
      override def limitCountSince(key: String, sinceMs: Long,
          excludeIdSuffix: Option[String]): Long = {
        countReads += 1; super.limitCountSince(key, sinceMs, excludeIdSuffix)
      }
      override def limitEarliestSince(key: String, sinceMs: Long,
          excludeIdSuffix: Option[String]): Option[Long] = {
        earliestReads += 1; super.limitEarliestSince(key, sinceMs, excludeIdSuffix)
      }
    }
    import spark.implicits._
    // 10 foreign admissions 3.6 s ago fill the 10-slot / 5 s window:
    // it reopens 1.4 s from now — knowable from the log, no polling
    val t0 = System.currentTimeMillis()
    store.limitLogAppend("sk",
      (1 to 10).map(i => s"foreign$i").toDF("id"),
      new java.sql.Timestamp(t0 - 3600))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("sq", (1 to 4).map(i => JobSpec("EchoWorker", args = s"[s$i]")))
    val runner = new PipelineRunner(store,
      PipelineConfig("sp", "sq", rateLimitCount = Some(10),
        rateLimitScaleMs = Some(5000), rateLimitKey = Some("sk"),
        pollIntervalMs = 100))
    countReads = 0; earliestReads = 0
    val rows = store.queueRows("sq")
    runner.processBatch(rows, 0)
    val elapsed = System.currentTimeMillis() - t0
    assert(Buffers.echo.size === 4) // admitted once the window reopened
    assert(elapsed >= 1300, s"returned before the window reopened: $elapsed ms")
    // No wall-clock upper bound: the computed sleep ends at the window
    // reopen (t0 + 1400) while a full-scale sleep lasts 5000 ms, but
    // post-sleep Spark work (claim + dispatch + outcome writes) is
    // unbounded on a loaded machine — two successive re-anchorings of a
    // `inBatch < 4900`-style bound both flaked under sandbox contention
    // (measured 5693 ms with the sleep itself correct). What the feature
    // actually promises — ONE computed sleep, no 100 ms poll loop — is
    // exactly what the instrumented read counters prove, machine speed
    // notwithstanding: a poll loop would issue one count per 100 ms
    // (14+ for this window) and recompute the reopen each time.
    // ≤2 limit-log reads per blocked batch: the pre-sleep count and the
    // post-sleep re-check (+1 slack for an expiry race).
    assert(countReads <= 3, s"window recounted like a poll loop: $countReads reads")
    assert(earliestReads <= 2, s"reopen recomputed: $earliestReads reads")
  }

  test("pause during a blocked admission window aborts the wait and defers (B2,D1)") {
    WorkerRegistry.register("EchoWorker", (args, _) => Buffers.echo.add(args))
    val store = new QueueStore(spark, TestSpark.tmpRoot("pauseblock"))
    val api = new DefaultQueueApi(store)
    import spark.implicits._
    // 10 foreign admissions NOW fill the 10-slot / 10 s window (short
    // regime: scale == max(4*poll, 10 s) block bound) — reopen is a
    // full 10 s away, far longer than a pause should have to wait
    val t0 = System.currentTimeMillis()
    store.limitLogAppend("pk",
      (1 to 10).map(i => s"foreign$i").toDF("id"), new java.sql.Timestamp(t0))
    api.bulkEnqueue("pbq", (1 to 3).map(i => JobSpec("EchoWorker", args = s"[b$i]")))
    val runner = new PipelineRunner(store,
      PipelineConfig("pb", "pbq", rateLimitCount = Some(10),
        rateLimitScaleMs = Some(10000), rateLimitKey = Some("pk"),
        pollIntervalMs = 500))
    val rows = store.queueRows("pbq")
    val th = new Thread(() => runner.processBatch(rows, 0), "test-blocked-batch")
    th.start()
    Thread.sleep(700) // let the batch enter (or head toward) the block
    assert(th.isAlive, "batch returned before the pause — the window was not closed")
    runner.pause(graft.pipeline.ControlOptions(async = true)) // no query to stop: flips the local override
    th.join(20000)
    assert(!th.isAlive, "blocked admission sat out the window despite the pause")
    // the abort fell through to the defer path: nothing dispatched,
    // the whole batch re-appended to the tail, claim arithmetic exact
    assert(Buffers.echo.size === 0, "paused runner dispatched through the closed window")
    assert(store.queueRows("pbq").count() === 6) // originals + requeued copies
    assert(api.jobCounts(Seq("pbq"))("pbq") === 3) // 6 copies - 3 deferred claims
  }

  test("group-by-class batching dispatches BulkEvents of batch_size (B3,B6)") {
    WorkerRegistry.registerBulk("BulkWorker", argsList => { Buffers.bulk.add(argsList); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("bulk"))
    val api = new DefaultQueueApi(store)
    val runner = new PipelineRunner(store,
      PipelineConfig("bp", "bq", batchSize = Some(2)))
    api.bulkEnqueue("bq", (1 to 4).map(i => JobSpec("BulkWorker", args = s"[$i]")))

    runner.processBatch(store.queueRows("bq"), 0)
    val chunks = Buffers.bulk.toArray.map(_.asInstanceOf[Seq[String]])
    assert(chunks.length === 2) // producer_consumer_test.exs:57-61 shape
    assert(chunks.forall(_.size === 2))
    assert(chunks.flatten.toSet === Set("[1]", "[2]", "[3]", "[4]"))
    assert(store.liveProcessing().count() === 0)
  }

  test("rapid enqueue batches drain FIFO: monotonic names + forced mtime stamps (E1)") {
    WorkerRegistry.register("EchoWorker", (args, _) => Buffers.echo.add(args))
    val store = new QueueStore(spark, TestSpark.tmpRoot("fifo"))
    val api = new DefaultQueueApi(store)
    (1 to 6).foreach(i => api.enqueue("fq", JobSpec("EchoWorker", args = s"[f$i]")))
    val dir = new org.apache.hadoop.fs.Path(store.queueDir("fq"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(dir, "day=*/part-*"))
    // (1) lexicographic NAME order == enqueue order (durable evidence)
    val byName = files.sortBy(_.getPath.getName)
    // (2) forced MTIME stamps strictly increase in that same order even
    // when appends land inside one wall-clock granule — this is what the
    // file-stream source actually sorts by, so FIFO no longer rests on
    // filesystem timestamp granularity
    val stamps = byName.map(_.getModificationTime).toSeq
    assert(stamps === stamps.sorted && stamps.distinct.size === stamps.size,
      s"part-file mtime stamps not strictly increasing: $stamps")
    // (3) end-to-end: one file per trigger drains in enqueue order
    val runner = new PipelineRunner(store,
      PipelineConfig("fifo_p", "fq", maxDemand = 1, pollIntervalMs = 50))
    val q = runner.start().get
    try q.processAllAvailable() finally runner.stop()
    assert(Buffers.echo.toArray.map(_.toString).toSeq ===
      (1 to 6).map(i => s"[f$i]"))

    // (4) every other publish path stamps names and mtimes from the same
    // clock: a processing append, appendScheduled into nb_day=
    // partitions, appendToQueues into two queues, a compaction snapshot
    val s2 = new QueueStore(spark, TestSpark.tmpRoot("fifo_paths"))
    new DefaultQueueApi(s2).bulkEnqueue("src",
      (1 to 6).map(i => JobSpec("EchoWorker", args = s"[$i]")))
    val rows = s2.queueRows("src")
    val low = col("args").isin("[1]", "[2]", "[3]")
    def under(glob: String) =
      fs.globStatus(new org.apache.hadoop.fs.Path(s"${s2.root}/$glob")).toSeq
    def assertStamped(files: Seq[org.apache.hadoop.fs.FileStatus], what: String): Unit = {
      assert(files.nonEmpty, s"$what published no file")
      val sorted = files.sortBy(_.getPath.getName)
      val mtimes = sorted.map(_.getModificationTime)
      assert(mtimes === mtimes.sorted && mtimes.distinct.size === mtimes.size,
        s"$what: mtime stamps not strictly increasing in name order: $mtimes")
      assert(sorted.map(_.getPath.getName.slice(5, 18).toLong) === mtimes,
        s"$what: name stamps differ from mtimes")
    }
    val claims = rows.repartition(3)
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    assert(s2.append(s2.processingDir, claims, s2.processingSchema) === 6)
    val claimFiles = under("processing/part-*")
    assertStamped(claimFiles, "processing append")
    val now = System.currentTimeMillis()
    s2.appendScheduled(rows.withColumn("sched_id", col("jid"))
      .withColumn("not_before", when(low, lit(new java.sql.Timestamp(now)))
        .otherwise(lit(new java.sql.Timestamp(now + 2 * 86400000L))))
      .withColumn("kind", lit("retry")))
    val schedFiles = under("scheduled/nb_day=*/part-*")
    assertStamped(schedFiles, "appendScheduled")
    assert(schedFiles.map(_.getPath.getParent.getName).distinct.size === 2)
    s2.appendToQueues(rows.withColumn("queue", when(low, lit("qa")).otherwise(lit("qb"))))
    val fanFiles = under("queue/q[ab]/day=*/part-*")
    assertStamped(fanFiles, "appendToQueues")
    assert(fanFiles.map(_.getPath.getParent.getParent.getName).toSet === Set("qa", "qb"))
    assert(s2.queueRows("qa").count() === 3 && s2.queueRows("qb").count() === 3)
    s2.tombstone("processing", claims.where(low).select(col("claim_id"), col("queue")))
    s2.compactProcessing()
    val snapFiles = s2.dataFiles(s2.processingDir).toSet
    assert((snapFiles & claimFiles.map(_.getPath.toString).toSet).isEmpty)
    val liveClaimFiles = under("processing/part-*").filter(f => snapFiles(f.getPath.toString))
    assertStamped(liveClaimFiles, "compaction snapshot")
    assert(s2.liveProcessing().count() === 3)
    // one clock across every path: the root's live files are one FIFO
    // sequence (superseded files are re-stamped to the commit instant)
    assertStamped(under("queue/*/day=*/part-*") ++ liveClaimFiles ++
      under("scheduled/nb_day=*/part-*") ++ under("tombstones/*/part-*"), "all publish paths")
    // an empty input publishes no file and reports 0 rows
    assert(s2.append(s2.deadDir, rows.limit(0), s2.deadSchema) === 0)
    assert(s2.dataFiles(s2.deadDir).isEmpty)
    s2.appendScheduled(s2.liveScheduled().limit(0))
    assert(under("scheduled/nb_day=*/part-*").size === schedFiles.size)
  }

  test("batch_size multiplies fetch demand: demand counts BulkEvents (B4 multiplier)") {
    WorkerRegistry.registerBulk("MulWorker", argsList => { Buffers.bulk.add(argsList); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("mul"))
    val api = new DefaultQueueApi(store)
    // 6 enqueue batches = 6 files, one job each
    (1 to 6).foreach(i => api.enqueue("mq", JobSpec("MulWorker", args = s"[$i]")))
    // maxDemand=2 × batchSize=3 ⇒ fetch 6 files per trigger: ONE batch
    val runner = new PipelineRunner(store,
      PipelineConfig("mul_p", "mq", maxDemand = 2, batchSize = Some(3), pollIntervalMs = 50))
    val q = runner.start().get
    try q.processAllAvailable() finally runner.stop()
    assert(Buffers.bulk.toArray.flatMap(_.asInstanceOf[Seq[String]]).length === 6)
    val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
    assert(nonEmpty === 1) // without the multiplier this takes 3 micro-batches
  }

  test("bulk failure fails all members of the chunk together (B6)") {
    WorkerRegistry.registerBulk("BadBulk", _ => throw new RuntimeException("bulk boom"))
    val store = new QueueStore(spark, TestSpark.tmpRoot("bulkfail"))
    val api = new DefaultQueueApi(store)
    val runner = new PipelineRunner(store,
      PipelineConfig("bp2", "bq2", batchSize = Some(3)))
    api.bulkEnqueue("bq2", (1 to 3).map(i => JobSpec("BadBulk", args = s"[$i]")))
    runner.processBatch(store.queueRows("bq2"), 0)
    assert(store.liveScheduled().where(col("kind") === "retry").count() === 3)
  }

  test("durable pause persists and blocks start; resume restarts (D1)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("pause"))
    val runner = new PipelineRunner(store, PipelineConfig("pp", "pq", pollIntervalMs = 100))
    runner.pause(graft.pipeline.ControlOptions(temporary = false))
    assert(store.isPaused("pp"))
    assert(runner.start().isEmpty) // paused-state restore on boot
    runner.resume(graft.pipeline.ControlOptions(temporary = false))
    assert(!store.isPaused("pp"))
    assert(runner.activeQuery.nonEmpty)
    runner.stop()
  }

  test("temporary pause is node-local: not durable, survives as running on a fresh runner (D1 options)") {
    import graft.pipeline.ControlOptions
    val store = new QueueStore(spark, TestSpark.tmpRoot("pause_tmp"))
    val runner = new PipelineRunner(store, PipelineConfig("tpp", "tpq", pollIntervalMs = 100))
    runner.pause() // default: temporary
    assert(!store.isPaused("tpp")) // nothing persisted
    assert(runner.start().isEmpty) // paused on THIS runner
    // a fresh runner (≈ restart) boots running — the flag was never set
    val rebooted = new PipelineRunner(store, PipelineConfig("tpp", "tpq", pollIntervalMs = 100))
    assert(rebooted.start().nonEmpty)
    rebooted.stop()
    // temporary resume restarts locally even under a durable flag
    store.setPaused("tpp", true)
    runner.resume() // default: temporary
    assert(runner.activeQuery.nonEmpty)
    assert(store.isPaused("tpp")) // durable flag untouched
    runner.stop()
    store.setPaused("tpp", false)
  }

  test("pause option validation rejects malformed maps, drops unknown keys (control/options parity)") {
    import graft.pipeline.ControlOptions
    assert(ControlOptions.sanitize(Map.empty) ===
      Right(ControlOptions(temporary = true, async = false, timeoutMs = 5000)))
    assert(ControlOptions.sanitize(Map("unwanted" -> "option", "timeout" -> 1000)) ===
      Right(ControlOptions(temporary = true, async = false, timeoutMs = 1000)))
    assert(ControlOptions.sanitize(Map("timeout" -> "infinity", "async" -> true)) ===
      Right(ControlOptions(temporary = true, async = true, timeoutMs = ControlOptions.Infinity)))
    assert(ControlOptions.sanitize(Map("temporary" -> 1)).isLeft)
    assert(ControlOptions.sanitize(Map("async" -> 0)).isLeft)
    assert(ControlOptions.sanitize(Map("timeout" -> -1)).isLeft)
    val store = new QueueStore(spark, TestSpark.tmpRoot("pause_bad"))
    val runner = new PipelineRunner(store, PipelineConfig("vp", "vq"))
    intercept[IllegalArgumentException] { runner.pause(Map("temporary" -> 1)) }
  }

  test("restart recovery: checkpoint resumes mid-stream without loss or double-count") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    WorkerRegistry.register("RecWorker", (args, _) => { seen.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("recover"))
    val api = new DefaultQueueApi(store)
    // 4 separate enqueue batches = 4 files
    (1 to 4).foreach(b => api.bulkEnqueue("rcq",
      (1 to 5).map(i => JobSpec("RecWorker", args = s"[$b,$i]"))))

    // phase 1: consume ONE file, then stop (simulated crash/restart point)
    val r1 = new PipelineRunner(store,
      PipelineConfig("rec_p", "rcq", maxDemand = 1, pollIntervalMs = 50))
    val q1 = r1.start().get
    val deadline = System.currentTimeMillis() + 30000
    while (seen.size < 5 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    r1.stop()
    val afterPhase1 = seen.size

    // phase 2: a NEW runner over the same store + checkpoint finishes
    val r2 = new PipelineRunner(store,
      PipelineConfig("rec_p", "rcq", maxDemand = 10, pollIntervalMs = 50))
    val q2 = r2.start().get
    try q2.processAllAvailable() finally r2.stop()

    assert(afterPhase1 >= 5 && afterPhase1 < 20) // genuinely mid-stream
    // at-least-once: every job delivered; a batch interrupted between
    // dispatch and offset-commit may replay (same as the reference's
    // two-phase promotion), but state tables stay consistent because
    // claim ids are deterministic
    val distinctSeen = seen.toArray.map(_.toString).toSet
    assert(distinctSeen.size === 20) // no loss
    assert(seen.size >= 20) // replays allowed, loss is not
    assert(api.jobCounts(Seq("rcq"))("rcq") === 0) // distinct-claim arithmetic
    assert(store.liveProcessing().count() === 0)
    assert(store.deadRows.count() === 0)
  }

  test("bulk dispatch timeout scales with chunk size (B6 timeout)") {
    WorkerRegistry.registerBulk("SlowBulk", _ => { Thread.sleep(300); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("bulktmo"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("btq", (1 to 3).map(i => JobSpec("SlowBulk", args = s"[$i]")))
    // one 300 ms worker call serves the whole 3-job chunk: a per-call
    // bound of 150 ms would spuriously kill it, but the bound scales
    // per member (3 × 150 = 450 ms) and the chunk succeeds
    val runner = new PipelineRunner(store,
      PipelineConfig("bt_p", "btq", batchSize = Some(3)),
      EngineConfig(dispatchTimeoutMs = 150, backoffInitialMs = 1, backoffMaxMs = 2))
    runner.processBatch(store.queueRows("btq"), 0)
    assert(store.liveScheduled().count() === 0) // no retry rows — no timeout
    assert(api.jobCounts(Seq("btq"))("btq") === 0)
  }

  test("hung worker is timed out into the retry path; batch keeps draining (B5 timeout)") {
    WorkerRegistry.register("HangWorker", (_, _) => {
      // responds to interrupt; an UNinterruptible worker would strand
      // its pool thread but the batch still completes (cached pool)
      try Thread.sleep(3600000) catch { case _: InterruptedException => () }
    })
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("hang"))
    val api = new DefaultQueueApi(store)
    val engine = EngineConfig(dispatchTimeoutMs = 500, backoffInitialMs = 1, backoffMaxMs = 2)
    val runner = new PipelineRunner(store, PipelineConfig("hp", "hq2"), engine)
    api.enqueue("hq2", JobSpec("HangWorker"))
    api.bulkEnqueue("hq2", (1 to 3).map(i => JobSpec("EchoWorker", args = s"[$i]")))
    runner.processBatch(store.queueRows("hq2"), 0)
    // the live jobs all ran — the hung one did not wedge the batch
    assert(Buffers.echo.size === 3)
    val retry = store.liveScheduled()
    assert(retry.count() === 1)
    assert(retry.collect().head.getAs[String]("error_message").contains("timed out"))
    assert(store.liveProcessing().count() === 0) // every claim tombstoned
  }

  test("failed jobs carry error backtrace into the retry table (B8)") {
    WorkerRegistry.register("TraceWorker", (_, _) => throw new IllegalStateException("trace me"))
    val store = new QueueStore(spark, TestSpark.tmpRoot("trace"))
    val api = new DefaultQueueApi(store)
    val runner = new PipelineRunner(store, PipelineConfig("tp", "tq"))
    api.enqueue("tq", JobSpec("TraceWorker"))
    runner.processBatch(store.queueRows("tq"), 0)
    val row = store.liveScheduled().collect().head
    assert(row.getAs[String]("error_message").contains("trace me"))
    assert(row.getAs[String]("error_backtrace") != null)
    assert(row.getAs[String]("error_backtrace").contains("graft"))
  }

  test("FIFO: enqueue batches are consumed in file order (E1)") {
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    WorkerRegistry.register("OrderWorker", (args, _) => { order.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("fifo"))
    val api = new DefaultQueueApi(store)
    // three sequential enqueue batches = three files with increasing mtime
    (1 to 3).foreach { b =>
      api.bulkEnqueue("fq", Seq(JobSpec("OrderWorker", args = s"[$b]")))
      Thread.sleep(20) // distinct mtimes
    }
    val runner = new PipelineRunner(store,
      PipelineConfig("fifo_p", "fq", maxDemand = 1, pollIntervalMs = 50))
    val q = runner.start().get
    try q.processAllAvailable() finally runner.stop()
    assert(order.toArray.map(_.toString).toSeq === Seq("[1]", "[2]", "[3]"))
  }

  test("housekeeper periodic loop promotes due jobs while running (C1 cadence)") {
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("hkloop"))
    val api = new DefaultQueueApi(store)
    api.enqueueIn("hq", 1, graft.api.JobSpec("EchoWorker", args = "[42]")) // due ~now
    val hk = new Housekeeper(store)
    hk.start(intervalMs = 200)
    try {
      val deadline = System.currentTimeMillis() + 20000
      // promotion is enqueue-then-tombstone (two writes): wait for both
      while ((store.queueRows("hq").count() == 0 || store.liveScheduled().count() > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(store.queueRows("hq").count() === 1)
      assert(store.liveScheduled().count() === 0)
    } finally hk.stop()
  }

  test("archiver moves fully-acked queue files out of the live dir; counts stay exact (E1 at scale)") {
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("arch"))
    val api = new DefaultQueueApi(store)
    // two files: one fully consumed, one untouched
    api.bulkEnqueue("aq", (1 to 5).map(i => JobSpec("EchoWorker", args = s"[a$i]")))
    val runner = new PipelineRunner(store, PipelineConfig("arch_p", "aq"))
    runner.processBatch(store.queueRows("aq"), 0) // consume + ack file 1
    api.bulkEnqueue("aq", (1 to 3).map(i => JobSpec("EchoWorker", args = s"[b$i]")))
    assert(api.jobCounts(Seq("aq"))("aq") === 3)
    val moved = store.archiveConsumed("aq", olderThanMs = 0)
    assert(moved === 1) // only the fully-acked file moved
    // live dir holds just the unconsumed file; archive holds the other
    val live = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
      .globStatus(new org.apache.hadoop.fs.Path(store.queueDir("aq"), "day=*/part-*"))
    assert(live.length === 1)
    assert(store.footerRowCount(s"${store.queueDir("aq")}/.archive") === 5)
    // jobCounts arithmetic survives archiving
    assert(api.jobCounts(Seq("aq"))("aq") === 3)
    assert(store.queueRows("aq").count() === 3) // live reads exclude archive
  }

  test("archiver never archives a file whose jid has an unconsumed copy (requeue safety)") {
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("arch2"))
    val api = new DefaultQueueApi(store)
    api.enqueue("aq2", JobSpec("EchoWorker", args = "[r1]"))
    // visibility-timeout shape: claim goes stale, requeueStuck acks the
    // OLD claim and appends a NEW copy of the same jid in a new file
    val past = new java.sql.Timestamp(System.currentTimeMillis() - 700000)
    val claimed = store.queueRows("aq2")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", lit(past))
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    new Housekeeper(store, visibilityTimeoutMs = 600000).requeueStuck(System.currentTimeMillis())
    // 2 copies of the jid, 1 acked claim → NOTHING archivable, even
    // though the jid "has an acked claim" (the old one)
    assert(store.archiveConsumed("aq2", olderThanMs = 0) === 0)
    // consume the backlog → second claim acked → both files archivable
    val runner = new PipelineRunner(store, PipelineConfig("arch2_p", "aq2"))
    runner.processBatch(store.queueRows("aq2"), 1)
    assert(store.archiveConsumed("aq2", olderThanMs = 0) === 2)
    assert(api.jobCounts(Seq("aq2"))("aq2") === 0)
  }

  test("promotion round-trips queue names with Hive-escaped characters (C1 naming)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("esc"))
    val api = new DefaultQueueApi(store)
    val weird = "q:colon space" // ':' and ' ' are Hive-escaped in partition dirs
    api.enqueueIn(weird, 1, JobSpec("W", args = "[w]"))
    Thread.sleep(20)
    val hk = new Housekeeper(store)
    assert(hk.promoteDue(System.currentTimeMillis()) === 1)
    // the dynamic-partition move unescaped the dir name back correctly
    assert(store.queueRows(weird).count() === 1)
    assert(api.jobCounts(Seq(weird))(weird) === 1)
    // scoped in-flight gauge (reference pending_jobs_count(names))
    assert(api.pendingJobsCount(Seq(weird)) === 0)
  }

  test("limit-log pruning deletes only files older than the window (B2 lazy expiry)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("limprune"))
    import spark.implicits._
    val at = new java.sql.Timestamp(System.currentTimeMillis())
    store.limitLogAppend("k1", Seq("a:0", "b:0").toDF("id"), at)
    store.limitLogAppend("k1", Seq("c:1").toDF("id"), at)
    // nothing is old enough yet
    assert(store.pruneLimitLogs(olderThanMs = 60000) === 0)
    assert(store.limitCountSince("k1", 0) === 3)
    // age ONE file artificially (deterministic, no sleeps): only it goes
    val limDir = new org.apache.hadoop.fs.Path(store.limitDir("k1"))
    val fs = limDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = fs.listStatus(limDir)
      .filter(_.getPath.getName.startsWith("part-")).minBy(_.getPath.getName)
    fs.setTimes(first.getPath, System.currentTimeMillis() - 7200000, -1)
    assert(store.pruneLimitLogs(olderThanMs = 3600000) === 1)
    assert(store.limitCountSince("k1", 0) < 3) // survivors only
  }

  test("limit window is answered by the driver mirror: zero Spark jobs, log-equivalent") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("limmirror"))
    import spark.implicits._
    val now = System.currentTimeMillis()
    // appends warm the mirror (the one rebuild job runs here, outside
    // the measured group); ids: two in-window, one replayed duplicate,
    // one out-of-window
    store.limitLogAppend("mk", Seq("a:p:0", "b:p:0").toDF("id"),
      new java.sql.Timestamp(now - 2000))
    store.limitLogAppend("mk", Seq("a:p:0").toDF("id"),
      new java.sql.Timestamp(now - 1000)) // replay: same id, newer stamp
    store.limitLogAppend("mk", Seq("old:p:9").toDF("id"),
      new java.sql.Timestamp(now - 3600000))
    val sc = spark.sparkContext
    sc.setJobGroup("limmirror-check", "steady-state admission checks")
    try {
      (1 to 25).foreach { _ =>
        assert(store.limitCountSince("mk", now - 60000) === 2)
        assert(store.limitCountSince("mk", now - 60000, Some(":0")) === 0)
      }
      // earliest = per-id LATEST admission (the instant the id stops
      // counting): a's replay moved it to now-1000, so earliest is b
      assert(store.limitEarliestSince("mk", now - 60000) === Some(now - 2000))
      // sentinel job: proves the tracker observes this group at all —
      // and is the ONLY job the group may contain. RDD-level on
      // purpose: a DataFrame count goes through AQE, which
      // materializes its shuffle as a SEPARATE job and would count 2.
      sc.parallelize(Seq(1)).count()
    } finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    var ids = sc.statusTracker.getJobIdsForGroup("limmirror-check")
    while (ids.length < 1 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); ids = sc.statusTracker.getJobIdsForGroup("limmirror-check")
    }
    assert(ids.length === 1,
      s"expected only the sentinel job in the group; admission checks ran ${ids.length - 1} Spark jobs")
    // the mirror is a CACHE of the log: a log-based recompute agrees
    val disk = spark.read
      .schema(new org.apache.spark.sql.types.StructType()
        .add("id", "string").add("processed_at", "timestamp"))
      .parquet(store.limitDir("mk"))
      .where(col("processed_at") > new java.sql.Timestamp(now - 60000))
      .select("id").distinct().count()
    assert(disk === 2)
    // restart (fresh store): the mirror rebuilds from the durable log
    val fresh = new QueueStore(spark, store.root)
    assert(fresh.limitCountSince("mk", now - 60000) === 2)
    assert(fresh.limitEarliestSince("mk", now - 60000) === Some(now - 2000))
  }

  test("pluggable logger captures engine log events (D7)") {
    val buf = new graft.BufferingGraftLogger
    val prev = graft.GraftLog.current
    graft.GraftLog.current = buf
    try {
      WorkerRegistry.register("FailLog", (_, _) => throw new RuntimeException("lboom"))
      val store = new QueueStore(spark, TestSpark.tmpRoot("logger"))
      val api = new DefaultQueueApi(store)
      api.enqueue("lgq", JobSpec("FailLog"))
      val runner = new PipelineRunner(store, PipelineConfig("lg_p", "lgq"))
      runner.processBatch(store.queueRows("lgq"), 0)
      val warns = buf.entries.filter(_._1 == "warn")
      assert(warns.exists(e => e._2.contains("worker failures") &&
        e._3.get("pipeline").contains("lg_p") && e._3.get("failed").contains("1")))
    } finally graft.GraftLog.current = prev
  }

  test("footer row counts equal full-scan counts (D2 metadata-only path)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("footer"))
    val api = new DefaultQueueApi(store)
    (1 to 3).foreach(b => api.bulkEnqueue("fc", (1 to 7).map(i => JobSpec("W", args = s"[$b$i]"))))
    assert(store.footerRowCount(store.queueDir("fc")) === 21)
    assert(store.footerRowCount(store.queueDir("fc")) === store.queueRows("fc").count())
    assert(store.footerRowCount(store.queueDir("missing")) === 0)
  }

  test("per-job telemetry: worker durations and enqueue payload sizes reach the handler (D5)") {
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val handler = new InMemoryEventHandler
    val store = new QueueStore(spark, TestSpark.tmpRoot("jobtel"))
    val api = new DefaultQueueApi(store, handler)
    api.bulkEnqueue("jt", (1 to 10).map(i => JobSpec("EchoWorker", args = s"[$i]")))
    // [queue,:enqueue] with payload size (manager.ex:23-27)
    val enq = handler.gauges(("jt", "enqueue"))
    assert(enq("count") === 10.0)
    assert(enq("payloadBytes") >= 30.0)
    // [pipeline,:worker,:job] per-job durations (event/worker.ex:57-67),
    // gated on the pipeline's instrument flag (pipeline.ex:17)
    val runner = new PipelineRunner(store,
      PipelineConfig("jt_p", "jt", instrument = true), EngineConfig(), handler)
    runner.processBatch(store.queueRows("jt"), 0)
    val jobs = handler.jobs.filter(_._1._1 == "jt_p")
    assert(jobs.size === 10)
    assert(jobs.values.forall { case (d, ok) => d >= 0.0 && ok })
  }

  test("instrument=false suppresses per-job telemetry even with a recording handler (pipeline.ex:17)") {
    WorkerRegistry.register("QuietWorker", (_, _) => ())
    val handler = new InMemoryEventHandler
    val store = new QueueStore(spark, TestSpark.tmpRoot("jobtel_off"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("jq", (1 to 5).map(i => JobSpec("QuietWorker", args = s"[$i]")))
    // default instrument=false: the handler must see no job events
    val runner = new PipelineRunner(store, PipelineConfig("jq_p", "jq"), EngineConfig(), handler)
    runner.processBatch(store.queueRows("jq"), 0)
    assert(handler.jobs.isEmpty)
    // and the jobs were still processed (claims tombstoned)
    assert(api.jobCounts(Seq("jq"))("jq") === 0)
  }

  test("queue dirs are day-partitioned and history reads partition-prune (E1 at scale)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("qpart"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("pq", (1 to 4).map(i => JobSpec("W", args = s"[$i]")))
    // an old-day batch (promotions keep original enqueued_at, so old
    // days genuinely occur): lands under its own day= dir
    import spark.implicits._
    val oldTs = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    store.appendQueue("pq", Seq(
      graft.model.GraftEvent("W", "perform", "pq", "old-1", "[]", 0, oldTs),
      graft.model.GraftEvent("W", "perform", "pq", "old-2", "[]", 0, oldTs)).toDF())
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dayDirs = fs.listStatus(new org.apache.hadoop.fs.Path(store.queueDir("pq")))
      .map(_.getPath.getName).filter(_.startsWith("day="))
    assert(dayDirs.length === 2, s"expected 2 day partitions, got ${dayDirs.mkString(",")}")
    // date predicates prune whole day dirs in the batch-history plan
    val recent = store.queueHistory("pq").where(col("day") > "2025-01-01")
    val plan = recent.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"), plan)
    assert(recent.count() === 4)
    assert(store.queueHistory("pq").count() === 6)
    // the flat readers still see everything (recursive, partition-blind)
    assert(store.queueRows("pq").count() === 6)
    assert(store.footerRowCount(store.queueDir("pq")) === 6)
  }

  test("scheduled table is nb_day-partitioned and the due scan partition-prunes (C1 at scale)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("sched_part"))
    val api = new DefaultQueueApi(store)
    api.enqueueIn("spq", 30L * 86400 * 1000, JobSpec("W")) // due in 30 days
    api.enqueueIn("spq", 10, JobSpec("W")) // due ~now
    // hive layout on disk: one nb_day=... dir per day
    val dirs = new java.io.File(store.scheduledDir.stripPrefix("file:"))
      .listFiles.map(_.getName).filter(_.startsWith("nb_day="))
    assert(dirs.length === 2)
    // physical plan of the due scan prunes on the partition column
    val now = System.currentTimeMillis()
    val tz = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val day = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      .withZone(tz).format(java.time.Instant.ofEpochMilli(now))
    val due = store.liveScheduled().where(col("nb_day") <= day &&
      col("not_before") <= lit(new java.sql.Timestamp(now)))
    val plan = due.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("nb_day"))
    // behavior: only the due row is promoted, in ONE dynamic-partition job
    Thread.sleep(20)
    val hk = new Housekeeper(store)
    assert(hk.promoteDue(System.currentTimeMillis()) === 1)
    assert(store.queueRows("spq").count() === 1)
    assert(store.liveScheduled().count() === 1) // far-future row untouched
  }

  test("visibility timeout requeues stuck claims (C2)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("vis"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("vq", (1 to 5).map(i => JobSpec("W", args = s"[$i]")))
    // claim all 5, 700s in the past (visibility_timeout default 600s)
    val past = new java.sql.Timestamp(System.currentTimeMillis() - 700000)
    val claimed = store.queueRows("vq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", lit(past))
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)

    val hk = new Housekeeper(store, visibilityTimeoutMs = 600000)
    val (_, requeued) = hk.tick()
    assert(requeued === 5)
    assert(store.queueRows("vq").count() === 10) // 5 original + 5 requeued
    assert(store.liveProcessing().count() === 0)
    // D2 arithmetic stays consistent: 10 enqueued - 5 claims = 5 pending
    assert(api.jobCounts(Seq("vq"))("vq") === 5)
  }
}
