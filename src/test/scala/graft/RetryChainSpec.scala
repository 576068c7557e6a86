package graft

import java.sql.Timestamp

import graft.api.{DefaultQueueApi, JobSpec}
import graft.model.PipelineConfig
import graft.pipeline.{PipelineRunner, WorkerRegistry}
import graft.scheduler.Housekeeper
import graft.store.QueueStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The retry chain's coordination cost, pinned in Spark jobs (counted
  * by a SparkListener, so the numbers do not move with host load), and
  * the housekeeper's skip rule pinned for exactness: a skipped tick
  * must never delay a row past the first tick where it is due. */
class RetryChainSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = TestSpark.spark
  private val Key = "graft.spec.jobTag"

  override def beforeEach(): Unit = { Buffers.clear(); WorkerRegistry.clear() }

  /** Spark jobs `body` launches. Jobs are tagged through a thread-local
    * property (inherited by broadcast and AQE stage jobs); a sentinel
    * job after the body marks the end, and since the listener bus
    * delivers in order, every earlier job start has been seen once the
    * sentinel's has. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      val a = try body finally sc.setLocalProperty(Key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(s"$tag-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "sentinel job never reached the listener")
      (a, seen.toArray.count(_ == tag))
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }

  private def claimAt(store: QueueStore, q: String, atMs: Long, batch: Int): Unit =
    store.append(store.processingDir, store.queueRows(q)
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(batch)))
      .withColumn("claimed_at", lit(new Timestamp(atMs)))
      .withColumn("src_file", lit(null).cast("string")),
      store.processingSchema)

  private def notBefore(store: QueueStore): Long =
    store.liveScheduled().select(max("not_before")).collect()(0).getTimestamp(0).getTime

  test("processBatch: an all-success batch costs 2 Spark jobs (claim, ack)") {
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("jobs_ok"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("okq", (1 to 6).map(i => JobSpec("EchoWorker", args = s"[$i]")))
    val runner = new PipelineRunner(store, PipelineConfig("ok_p", "okq"))
    val batch = store.queueRows("okq")
    val (_, jobs) = jobsOf(runner.processBatch(batch, 0))
    assert(jobs === 2)
    assert(Buffers.echo.size === 6)
    assert(api.jobCounts(Seq("okq"))("okq") === 0)
    assert(api.pendingJobsCount() === 0)
    assert(store.liveScheduled().count() === 0)
    // the ack tombstones carry the claimed copy's source file
    val acks = store.readOrEmpty(store.tombDir("processing"),
      new org.apache.spark.sql.types.StructType()
        .add("id", "string").add("queue", "string").add("src_file", "string"))
    assert(acks.where(col("src_file").isNull).count() === 0)
    assert(store.archiveConsumed("okq", olderThanMs = 0) === 1)
  }

  test("processBatch: a batch with retries only costs 3 Spark jobs (claim, ack, retry)") {
    WorkerRegistry.register("FailWorker", (_, _) => throw new RuntimeException("boom"))
    val store = new QueueStore(spark, TestSpark.tmpRoot("jobs_retry"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("frq", (1 to 4).map(i => JobSpec("FailWorker", args = s"[$i]")))
    val runner = new PipelineRunner(store, PipelineConfig("fr_p", "frq"))
    val batch = store.queueRows("frq")
    val (_, jobs) = jobsOf(runner.processBatch(batch, 0))
    assert(jobs === 3)
    assert(store.liveScheduled().where(col("retry_count") === 1).count() === 4)
    assert(store.liveProcessing().count() === 0)
    assert(store.deadRows.count() === 0)
    // no empty dead-letter file was written
    assert(store.dataFiles(store.deadDir).isEmpty)
  }

  test("processBatch: an empty frame writes no claim rows and no files") {
    WorkerRegistry.register("EchoWorker", (args, _) => { Buffers.echo.add(args); () })
    val store = new QueueStore(spark, TestSpark.tmpRoot("jobs_empty"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("eq", (1 to 3).map(i => JobSpec("EchoWorker", args = s"[$i]")))
    val runner = new PipelineRunner(store, PipelineConfig("e_p", "eq"))
    val empty = store.queueRows("eq").where(col("jid") === "no-such-jid")
    val (_, jobs) = jobsOf(runner.processBatch(empty, 0))
    assert(jobs === 1) // the claim write, which finds no rows
    assert(store.dataFiles(store.processingDir).isEmpty)
    assert(store.footerRowCount(store.tombDir("processing")) === 0)
    assert(Buffers.echo.isEmpty)
    assert(api.jobCounts(Seq("eq"))("eq") === 3)
  }

  test("housekeeper: an idle tick after a scan costs 0 jobs; a promoting tick at most 5") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("hk_jobs"))
    val api = new DefaultQueueApi(store)
    api.enqueueIn("hq", 3600L * 1000, JobSpec("W", args = "[later]"))
    api.bulkEnqueue("hq", Seq(JobSpec("W", args = "[inflight]")))
    claimAt(store, "hq", System.currentTimeMillis(), 0) // fresh claim: not stuck
    val hk = new Housekeeper(store)
    val (first, scanJobs) = jobsOf(hk.tick())
    assert(first === ((0L, 0L)))
    assert(scanJobs > 0)
    val (idle, idleJobs) = jobsOf(hk.tick())
    assert(idle === ((0L, 0L)))
    assert(idleJobs === 0)
    api.enqueueIn("hq", 1, JobSpec("W", args = "[soon]"))
    Thread.sleep(20)
    val (busy, busyJobs) = jobsOf(hk.tick())
    assert(busy === ((1L, 0L)))
    assert(busyJobs <= 5, s"promoting tick ran $busyJobs jobs")
    // an empty table is not scanned at all
    val (_, emptyJobs) = jobsOf(new Housekeeper(
      new QueueStore(spark, TestSpark.tmpRoot("hk_none"))).tick())
    assert(emptyJobs === 0)
  }

  test("housekeeper: an idle tick that skips its scans still renews the ownership lease") {
    val root = TestSpark.tmpRoot("hk_lease")
    // renewal falls due once leaseTimeoutMs/3 = 1 s has passed
    val store = new QueueStore(spark, root, leaseTimeoutMs = 3000)
    new DefaultQueueApi(store).enqueueIn("lq", 3600L * 1000, JobSpec("W", args = "[later]"))
    val hk = new Housekeeper(store)
    assert(hk.tick() === ((0L, 0L))) // scans, stores the bound
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(root, "_owner.lock")
    fs.setTimes(lock, System.currentTimeMillis() - 400000, -1) // lease long expired
    Thread.sleep(1100)
    val (idle, jobs) = jobsOf(hk.tick())
    assert(idle === ((0L, 0L)))
    assert(jobs === 0, "the tick was expected to skip both scans")
    val age = System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
    assert(age < 60000, s"lease not renewed by an idle tick (age ${age}ms)")
  }

  test("skip rule: a row enqueueIn appends after an idle tick is promoted on the next tick") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("skip_new"))
    val api = new DefaultQueueApi(store)
    api.enqueueIn("sq", 3600L * 1000, JobSpec("W", args = "[later]"))
    val hk = new Housekeeper(store)
    assert(hk.tick() === ((0L, 0L)))
    assert(hk.tick() === ((0L, 0L)))
    api.enqueueIn("sq", 1, JobSpec("W", args = "[soon]"))
    Thread.sleep(20)
    assert(hk.tick() === ((1L, 0L)))
    assert(store.queueRows("sq").select("args").collect().map(_.getString(0)).toSeq === Seq("[soon]"))
  }

  test("skip rule: a row whose not_before passes with no new file is promoted once due") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("skip_due"))
    val api = new DefaultQueueApi(store)
    api.enqueueIn("dq", 60000, JobSpec("W", args = "[minute]"))
    val nb = notBefore(store)
    val hk = new Housekeeper(store)
    assert(hk.promoteDue(nb - 30000) === 0) // scans, stores the bound nb
    val (skipped, jobs) = jobsOf(hk.promoteDue(nb - 1))
    assert(skipped === 0)
    assert(jobs === 0)
    assert(hk.promoteDue(nb) === 1) // not_before <= now: due, scanned
    assert(store.liveScheduled().count() === 0)
    assert(store.queueRows("dq").count() === 1)
  }

  test("skip rule: a backdated claim appended after an idle requeue scan is requeued") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("skip_claim"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("cq", Seq(JobSpec("W", args = "[a]")))
    val now = System.currentTimeMillis()
    claimAt(store, "cq", now, 0)
    val hk = new Housekeeper(store, visibilityTimeoutMs = 600000)
    assert(hk.requeueStuck(now) === 0)
    assert(jobsOf(hk.requeueStuck(now))._2 === 0)
    claimAt(store, "cq", now - 700000, 1)
    assert(hk.requeueStuck(now) === 1)
    // the fresh claim's bound is its own timeout
    assert(hk.requeueStuck(now + 600000 - 1) === 0)
    assert(hk.requeueStuck(now + 600001) === 1)
    assert(store.liveProcessing().count() === 0)
  }

  test("skip rule: hitting the requeue cap clears the state so the next tick scans") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("skip_cap"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("kq", (1 to 3).map(i => JobSpec("W", args = s"[$i]")))
    claimAt(store, "kq", System.currentTimeMillis() - 700000, 0)
    val hk = new Housekeeper(store, visibilityTimeoutMs = 600000, requeueBatchLimit = 2)
    assert(hk.tick()._2 === 2)
    assert(hk.tick()._2 === 1)
    assert(hk.tick()._2 === 0)
    assert(store.liveProcessing().count() === 0)
  }

  test("skip rule: a listing changed by compactScheduled is re-scanned") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("skip_compact"), compactionGraceMs = 0)
    val api = new DefaultQueueApi(store)
    api.enqueueIn("pq", 1, JobSpec("W", args = "[now]"))
    api.enqueueIn("pq", 60000, JobSpec("W", args = "[minute]"))
    val nb = notBefore(store)
    val hk = new Housekeeper(store)
    Thread.sleep(20)
    assert(hk.promoteDue(System.currentTimeMillis()) === 1)
    val before = store.dataFiles(store.scheduledDir).toSet
    store.compactScheduled() // folds the promoted row's tombstone
    val after = store.dataFiles(store.scheduledDir)
    assert(after.toSet != before)
    // the snapshot keeps the partitioning promoteDue prunes on: every
    // live file sits under nb_day=<UTC date of its rows' not_before>
    after.foreach { f =>
      val days = spark.read.parquet(f)
        .select(date_format(col("not_before"), "yyyy-MM-dd")).distinct()
        .collect().map(_.getString(0)).toSeq
      assert(days.map(d => s"nb_day=$d") === Seq(new org.apache.hadoop.fs.Path(f).getParent.getName),
        s"$f is outside its not_before partition")
    }
    val (n, jobs) = jobsOf(hk.promoteDue(nb - 1))
    assert(n === 0)
    assert(jobs > 0, "a changed listing must be scanned")
    assert(hk.promoteDue(nb) === 1)
    assert(store.liveScheduled().count() === 0)
    assert(store.queueRows("pq").select("args").collect().map(_.getString(0)).toSet ===
      Set("[now]", "[minute]"))
  }
}
