package graft

import graft.api.JobSpec
import graft.model.PipelineConfig
import graft.pipeline.WorkerRegistry
import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("engine supervises multiple pipelines: boot, drain, pause_all, resume_all") {
    Buffers.clear(); WorkerRegistry.clear()
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val engine = GraftEngine(spark, TestSpark.tmpRoot("engine"),
      Seq(
        PipelineConfig("p_high", "high", pollIntervalMs = 100),
        PipelineConfig("p_low", "low", pollIntervalMs = 100)))
    engine.start()
    try {
      engine.api.bulkEnqueue("high", (1 to 20).map(i => JobSpec("EchoWorker", args = s"[$i]")))
      engine.api.bulkEnqueue("low", (1 to 5).map(i => JobSpec("EchoWorker", args = s"[l$i]")))
      engine.processAllAvailable()
      assert(Buffers.echo.size === 25)
      assert(engine.jobCounts() === Map("high" -> 0L, "low" -> 0L))
      assert(engine.pendingJobsCount() === 0)

      engine.pauseAll()
      engine.api.enqueue("high", JobSpec("EchoWorker", args = "[x]"))
      Thread.sleep(400) // a few trigger intervals — nothing must consume
      assert(engine.jobCounts()("high") === 1)
      assert(Buffers.echo.size === 25)

      engine.resumeAll()
      engine.processAllAvailable()
      assert(engine.jobCounts()("high") === 0)
      assert(Buffers.echo.size === 26)

      // maintenance: everything above is consumed+acked, so the queue
      // files archive out of the live dirs and counts stay exact
      val (archived, _) = engine.maintenance(archiveOlderThanMs = 0)
      assert(archived >= 2) // at least one file per queue
      assert(engine.jobCounts() === Map("high" -> 0L, "low" -> 0L))
    } finally engine.stop()
  }

  test("scheduled maintenance compacts under a live pipeline; autoCompact=false defers") {
    Buffers.clear(); WorkerRegistry.clear()
    WorkerRegistry.register("GWorker", (_, _) => ())
    val engine = GraftEngine(spark, TestSpark.tmpRoot("maint_live_compact"),
      Seq(PipelineConfig("g_p", "gq", pollIntervalMs = 100)),
      graft.model.EngineConfig(
        autoCompactMinTombstones = 0, // every pass may fold
        schedulerIntervalMs = 60000, // keep the housekeeper tick out of the window
        maintenanceIntervalMs = 0, // drive the scheduled pass by hand
        compactionGraceMs = 0)) // GC at commit so physical counts are assertable
    engine.start()
    try {
      engine.api.bulkEnqueue("gq", (1 to 10).map(i => JobSpec("GWorker", args = s"[$i]")))
      engine.processAllAvailable()
      assert(spark.read.parquet(engine.store.processingDir).count() >= 10)
      // LIVE pipeline: the scheduled pass compacts anyway — the
      // manifest protocol never races the stream's claim/ack writes
      engine.maintenance(gateCompaction = true)
      // physical rows left on disk, read from every part file's footer
      // (an all-acked snapshot publishes no file, so the dir may hold
      // none for a schema-inferring read)
      assert(engine.store.footerRowCount(engine.store.processingDir) === 0,
        "scheduled maintenance failed to compact under a live query")
      assert(engine.jobCounts()("gq") === 0) // folded history preserved
      // and the pipeline still works after the fold
      engine.api.bulkEnqueue("gq", (1 to 5).map(i => JobSpec("GWorker", args = s"[x$i]")))
      engine.processAllAvailable()
      assert(engine.jobCounts()("gq") === 0)
    } finally engine.stop()

    // off switch: the scheduled pass must leave the tables alone
    val off = GraftEngine(spark, TestSpark.tmpRoot("maint_off"),
      Seq(PipelineConfig("o_p", "oq", pollIntervalMs = 100)),
      graft.model.EngineConfig(
        autoCompactMinTombstones = 0, schedulerIntervalMs = 60000,
        maintenanceIntervalMs = 0, autoCompact = false, compactionGraceMs = 0))
    off.start()
    try {
      off.api.bulkEnqueue("oq", (1 to 5).map(i => JobSpec("GWorker", args = s"[$i]")))
      off.processAllAvailable()
      val claims = spark.read.parquet(off.store.processingDir).count()
      assert(claims >= 5)
      off.maintenance(gateCompaction = true)
      assert(spark.read.parquet(off.store.processingDir).count() === claims,
        "autoCompact=false but the scheduled pass still compacted")
    } finally off.stop()
  }

  test("compaction races a stream that is actively claiming and acking: nothing lost") {
    Buffers.clear(); WorkerRegistry.clear()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    WorkerRegistry.register("RWorker", (args, _) => { seen.add(args); Thread.sleep(2); () })
    val engine = GraftEngine(spark, TestSpark.tmpRoot("compact_race"),
      Seq(PipelineConfig("r_p", "rq", pollIntervalMs = 50)),
      graft.model.EngineConfig(
        schedulerIntervalMs = 60000, maintenanceIntervalMs = 0,
        compactionGraceMs = 0)) // worst case: superseded files GC'd AT commit
    engine.start()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // hammer compaction + fold + archive from another thread the whole
    // time the stream drains — the exact interleaving the old quiesce
    // gate forbade
    val compactor = new Thread(() => {
      while (!stop.get()) {
        engine.maintenance(archiveOlderThanMs = 0, minTombstones = 0,
          claimFoldOlderThanMs = 0)
        Thread.sleep(20)
      }
    }, "test-compactor")
    compactor.setDaemon(true)
    try {
      compactor.start()
      (1 to 8).foreach { b =>
        engine.api.bulkEnqueue("rq",
          (1 to 25).map(i => JobSpec("RWorker", args = s"[$b,$i]")))
        Thread.sleep(30)
      }
      engine.processAllAvailable()
      stop.set(true); compactor.join(10000)
      engine.processAllAvailable()
      assert(seen.toArray.map(_.toString).toSet.size === 200, "jobs lost under live compaction")
      assert(engine.jobCounts()("rq") === 0)
      assert(engine.pendingJobsCount() === 0)
    } finally { stop.set(true); engine.stop() }
  }

  test("aggressive maintenance during a live pipeline loses nothing") {
    Buffers.clear(); WorkerRegistry.clear()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    WorkerRegistry.register("MWorker", (args, _) => { seen.add(args); () })
    val engine = GraftEngine(spark, TestSpark.tmpRoot("maint_live"),
      Seq(PipelineConfig("m_p", "mq", pollIntervalMs = 100)))
    engine.start()
    try {
      // interleave enqueues with immediate-cutoff maintenance — the
      // worst-case race between the archiver and the running stream
      (1 to 6).foreach { b =>
        engine.api.bulkEnqueue("mq",
          (1 to 5).map(i => graft.api.JobSpec("MWorker", args = s"[$b,$i]")))
        engine.processAllAvailable()
        // immediate-cutoff archive AND claim-counter fold (compaction
        // threshold forced to 0 so every tick compacts + folds) — the
        // worst-case interleaving of all three background moves with
        // the running stream
        engine.maintenance(archiveOlderThanMs = 0, minTombstones = 0,
          claimFoldOlderThanMs = 0)
      }
      engine.processAllAvailable()
      assert(seen.toArray.map(_.toString).toSet.size === 30) // no loss
      assert(engine.jobCounts()("mq") === 0) // arithmetic exact after archive+fold
      assert(engine.pendingJobsCount() === 0)
    } finally engine.stop()
  }
}
