package graft

import graft.api.{DefaultQueueApi, JobSpec, RecordingQueueApi}
import graft.store.QueueStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StoreApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("enqueue + bulk_enqueue append FIFO rows; job_counts sees them (A1/A2/D2)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("store"))
    val api = new DefaultQueueApi(store)
    val jid = api.enqueue("default", JobSpec("EchoWorker", args = "[1]"))
    val jids = api.bulkEnqueue("default", (1 to 9).map(i => JobSpec("EchoWorker", args = s"[$i]")))
    assert(jid.nonEmpty && jids.size === 9)
    assert((jids :+ jid).distinct.size === 10)
    assert(api.jobCounts(Seq("default", "empty")) === Map("default" -> 10L, "empty" -> 0L))
    val rows = store.queueRows("default")
    assert(rows.count() === 10)
    assert(rows.where(col("retry_count") === 0).count() === 10)
    assert(rows.select("function").distinct().collect().map(_.getString(0)).toSeq === Seq("perform"))
  }

  test("enqueue_in lands in scheduled with not_before = now + delay (A3)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("store"))
    val api = new DefaultQueueApi(store)
    val t0 = System.currentTimeMillis()
    api.enqueueIn("later", 60000, JobSpec("EchoWorker"))
    val row = store.liveScheduled().collect().head
    assert(row.getAs[String]("queue") === "later")
    assert(row.getAs[String]("kind") === "scheduled")
    val nb = row.getAs[java.sql.Timestamp]("not_before").getTime
    assert(nb >= t0 + 60000 && nb <= t0 + 70000)
  }

  test("tombstone + live + compact roundtrip") {
    import spark.implicits._
    val store = new QueueStore(spark, TestSpark.tmpRoot("store"), compactionGraceMs = 0)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("q", (1 to 4).map(i => JobSpec("W", args = s"[$i]")))
    // claim two rows into processing, then ack one via tombstone
    val two = store.queueRows("q").orderBy("jid").limit(2)
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, two, store.processingSchema)
    assert(store.liveProcessing().count() === 2)
    val victim = store.liveProcessing().select("claim_id").orderBy("claim_id").limit(1)
    store.tombstone("processing", victim)
    assert(store.liveProcessing().count() === 1)
    // idempotent re-apply: same tombstone again changes nothing
    store.tombstone("processing", victim)
    assert(store.liveProcessing().count() === 1)
    store.compact(store.processingDir, "processing", store.processingSchema, "claim_id")
    assert(store.liveProcessing().count() === 1)
    assert(spark.read.parquet(store.processingDir).count() === 1)
  }

  test("concurrent writers to one directory never clobber each other") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("conc"))
    val api = new DefaultQueueApi(store)
    // 8 threads × 200 rows into the SAME queue dir: a naive
    // mode(append) shares _temporary/0 and silently loses files
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        (0 until 4).foreach { b =>
          api.bulkEnqueue("shared", (1 to 50).map(i => JobSpec("W", args = s"[$t,$b,$i]")))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(store.queueRows("shared").count() === 1600)
    assert(store.queueRows("shared").select("jid").distinct().count() === 1600)
  }

  test("durable pause flag (D1)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("store"))
    assert(!store.isPaused("p1"))
    store.setPaused("p1", true)
    assert(store.isPaused("p1"))
    // a fresh store instance (≈ restart) still sees it
    assert(new QueueStore(spark, store.root).isPaused("p1"))
    store.setPaused("p1", false)
    assert(!store.isPaused("p1"))
  }

  test("raw JSON enqueue: lenient decode, poison rows go to dead (wire-format interop)") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("json"))
    val api = new DefaultQueueApi(store)
    val (queued, dead) = api.enqueueRawJson("jq", Seq(
      """{"class":"W","queue":"jq","jid":"j1","args":[1],"enqueued_at":1514367662}""",
      """{"class":"W","jid":"j2","args":{"m":1},"enqueued_at":1514367662}""",
      """garbage"""))
    assert((queued, dead) === (2L, 1L))
    assert(store.queueRows("jq").count() === 2)
    val q = store.queueRows("jq").orderBy("jid").collect()
    assert(q(1).getAs[String]("queue") === "jq") // missing queue defaulted
    assert(q(1).getAs[String]("args") === "[]") // map-args coerced
    val d = store.deadRows.collect()
    assert(d.length === 1 && d.head.getAs[String]("error_message") === "invalid job JSON")
  }

  test("housekeeper compaction folds tombstones past the threshold") {
    import spark.implicits._
    val store = new QueueStore(spark, TestSpark.tmpRoot("compact2"), compactionGraceMs = 0)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("cq", (1 to 20).map(i => JobSpec("W", args = s"[$i]")))
    val claimed = store.queueRows("cq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    // ack 15 of 20 — processing tombstones must carry the queue (they
    // are the durable acked-claim record job_counts reads post-compaction)
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue"))
        .orderBy("claim_id").limit(15))
    assert(store.liveProcessing().count() === 5)
    assert(api.jobCounts(Seq("cq"))("cq") === 0) // all 20 claimed
    val hk = new graft.scheduler.Housekeeper(store)
    hk.compactStateTables(minTombstones = 100) // below threshold: no-op
    assert(spark.read.parquet(store.processingDir).count() === 20)
    hk.compactStateTables(minTombstones = 10) // above: folds
    assert(spark.read.parquet(store.processingDir).count() === 5)
    assert(store.liveProcessing().count() === 5)
    // the folded claim history must survive compaction: backlog stays 0
    assert(api.jobCounts(Seq("cq"))("cq") === 0)
  }

  test("auto-compaction folds UNDER a live pipeline; off switch honored") {
    import spark.implicits._
    val store = new QueueStore(spark, TestSpark.tmpRoot("autocompact"), compactionGraceMs = 0)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("acq", (1 to 20).map(i => JobSpec("W", args = s"[$i]")))
    val claimed = store.queueRows("acq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue"))
        .orderBy("claim_id").limit(15))
    assert(spark.read.parquet(store.processingDir).count() === 20)

    graft.pipeline.WorkerRegistry.register("W", (_, _) => ())
    val runner = new graft.pipeline.PipelineRunner(store,
      graft.model.PipelineConfig("acp", "ac_idle", pollIntervalMs = 100))
    // ACTIVE pipeline: the manifest-commit protocol makes the fold safe
    // under live queries — the tick-path call compacts immediately, no
    // quiesce gate
    val hk = new graft.scheduler.Housekeeper(store, autoCompactMinTombstones = 10)
    val q = runner.start().get
    try {
      assert(hk.maybeCompact(), "tick-path compaction deferred under a live query")
      assert(spark.read.parquet(store.processingDir).count() === 5)
      assert(store.liveProcessing().count() === 5)
      assert(api.jobCounts(Seq("acq"))("acq") === 0) // folded history preserved
    } finally { runner.stop(); q.awaitTermination(30000) }
    // the off switch: autoCompact = false skips the tick path entirely
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue"))
        .orderBy("claim_id").limit(3))
    val hkOff = new graft.scheduler.Housekeeper(store,
      autoCompactMinTombstones = 0, autoCompact = false)
    assert(!hkOff.maybeCompact(), "autoCompact=false still compacted")
    assert(spark.read.parquet(store.processingDir).count() === 5, "off switch ignored")
    // ...while manual compaction stays available
    hkOff.compactStateTables(minTombstones = 0)
    assert(store.liveProcessing().count() === 2)
  }

  test("compaction commit is invisible mid-protocol: duplicates dedup, grace-window reads exclude replaced") {
    import spark.implicits._
    // grace LARGE: after a commit the superseded files stay on disk and
    // readers must exclude them via the manifest
    val root = TestSpark.tmpRoot("graceful")
    val store = new QueueStore(spark, root, compactionGraceMs = 3600000)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("gq", (1 to 10).map(i => JobSpec("W", args = s"[$i]")))
    val claimed = store.queueRows("gq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue"))
        .orderBy("claim_id").limit(6))
    // crash-state A: snapshot files moved in but no manifest committed
    // (simulated by copying a live part file under a fresh part- name):
    // readers dedup on claim_id, so the duplicate copies are invisible
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val aPart = fs.listStatus(new org.apache.hadoop.fs.Path(store.processingDir))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, aPart, fs,
      new org.apache.hadoop.fs.Path(store.processingDir, "part-9999999999999-dup-0.parquet"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(store.liveProcessing().count() === 4, "pre-commit duplicate copies leaked into reads")
    // a real commit now: physical files KEEP the old copies (grace) but
    // manifest-aware reads see exactly the folded table
    store.compactProcessing()
    assert(store.liveProcessing().count() === 4)
    assert(spark.read.parquet(store.processingDir).count() > 4,
      "superseded files deleted before the grace period")
    assert(store.readOrEmpty(store.processingDir, store.processingSchema).count() === 4,
      "manifest-aware read double-counted replaced files")
    // crash-state B: a fresh store (≈ restart) with grace 0 finishes the
    // GC at boot — only the committed snapshot remains on disk
    val store2 = new QueueStore(spark, root, compactionGraceMs = 0)
    assert(spark.read.parquet(store2.processingDir).count() === 4)
    assert(store2.liveProcessing().count() === 4)
  }

  test("second live driver on the same root is refused; stale locks are taken over (E3)") {
    val root = TestSpark.tmpRoot("own")
    new QueueStore(spark, root) // we own it
    new QueueStore(spark, root) // owning-JVM re-open (≈ restart / engine + ad-hoc store) is fine
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def forgeLock(content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, "_owner.lock"), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // a DIFFERENT live process (pid 1 is always alive) holds the root
    forgeLock("1 forged-uuid")
    val ex = intercept[IllegalStateException](new QueueStore(spark, root))
    assert(ex.getMessage.contains("owned by live driver pid 1"))
    // a crashed driver's lock (dead pid) is taken over silently
    forgeLock("999999999 stale-uuid")
    new QueueStore(spark, root) // no throw
  }

  test("cross-host lease: fresh foreign lock refused, expired taken over, ops renew (E3)") {
    val root = TestSpark.tmpRoot("lease")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(root, "_owner.lock")
    def forgeLock(content: String): Unit = {
      val out = fs.create(lock, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // hostA owns the root with a FRESH lease; pid liveness is
    // meaningless cross-host (pid 999999999 is dead HERE), so a driver
    // on this host must still be refused until the lease ages out
    forgeLock("999999999 some-uuid hostA")
    val ex = intercept[IllegalStateException](
      new QueueStore(spark, root, leaseTimeoutMs = 300000, ownerHost = "hostB"))
    assert(ex.getMessage.contains("leased by a driver on host hostA"))
    // the same lock PAST the lease timeout is a crashed/partitioned
    // owner: takeover succeeds and re-stamps the lock with our host
    fs.setTimes(lock, System.currentTimeMillis() - 400000, -1)
    val store = new QueueStore(spark, root, leaseTimeoutMs = 300000, ownerHost = "hostB")
    val in = fs.open(lock)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    assert(content.endsWith(" hostB"), content)
    // data operations RENEW the lease once the renewal interval
    // (leaseTimeoutMs/3, tracked in-memory) is past due
    def forceRenewalDue(): Unit = {
      val f = store.getClass.getDeclaredMethods
        .find(_.getName.endsWith("lastLeaseRenewMs_$eq")).get
      f.setAccessible(true); f.invoke(store, Long.box(0L))
    }
    fs.setTimes(lock, System.currentTimeMillis() - 400000, -1)
    forceRenewalDue()
    store.readOrEmpty(store.processingDir, store.processingSchema)
    val age = System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
    assert(age < 60000, s"lease not renewed by a read (age ${age}ms)")
    // split-brain fail-stop: hostC takes the root (our lease expired
    // from ITS point of view); our next op must throw, not double-write
    forgeLock("7 other-uuid hostC")
    fs.setTimes(lock, System.currentTimeMillis(), -1)
    forceRenewalDue()
    val ex2 = intercept[IllegalStateException](
      store.readOrEmpty(store.processingDir, store.processingSchema))
    assert(ex2.getMessage.contains("taken over"), ex2.getMessage)
  }

  test("claim fold: counts unchanged across compaction + fold + repeat folds") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("fold"))
    val api = new DefaultQueueApi(store)
    // 10 jobs on q1, 6 on q2 — claim and ack all of them
    api.bulkEnqueue("fq1", (1 to 10).map(i => JobSpec("W", args = s"[$i]")))
    api.bulkEnqueue("fq2", (1 to 6).map(i => JobSpec("W", args = s"[$i]")))
    def ackAll(q: String, batch: Int, onlyJids: Option[Seq[String]] = None): Unit = {
      val rows = store.queueRows(q)
      val scoped = onlyJids.fold(rows)(js => rows.where(col("jid").isin(js: _*)))
      val claimed = scoped
        .withColumn("claim_id", concat_ws(":", col("jid"), lit(batch)))
        .withColumn("claimed_at", current_timestamp())
        .withColumn("src_file", lit(null).cast("string"))
      store.append(store.processingDir, claimed, store.processingSchema)
      store.tombstone("processing",
        claimed.select(col("claim_id").as("id"), col("queue")))
    }
    ackAll("fq1", 0); ackAll("fq2", 0)
    val before = store.rawProcessingCounts(Seq("fq1", "fq2"))
    assert(before === Map("fq1" -> 10L, "fq2" -> 6L))
    // rows still live → nothing foldable (the tombstones still suppress)
    assert(store.foldClaimCounters(olderThanMs = 0) === 0L)
    store.compactProcessing()
    assert(store.rawProcessingCounts(Seq("fq1", "fq2")) === before)
    // now the acked rows are gone → everything folds
    assert(store.foldClaimCounters(olderThanMs = 0) > 0L)
    assert(store.rawProcessingCounts(Seq("fq1", "fq2")) === before)
    // idempotent: a second fold has nothing to do and changes nothing
    assert(store.foldClaimCounters(olderThanMs = 0) === 0L)
    assert(store.rawProcessingCounts(Seq("fq1", "fq2")) === before)
    // a second generation of acks folds cumulatively into a new epoch
    val newJids = api.bulkEnqueue("fq1", (1 to 3).map(i => JobSpec("W", args = s"[n$i]")))
    ackAll("fq1", 1, Some(newJids))
    store.compactProcessing()
    assert(store.foldClaimCounters(olderThanMs = 0) > 0L)
    assert(store.rawProcessingCounts(Seq("fq1", "fq2")) ===
      Map("fq1" -> 13L, "fq2" -> 6L))
    // jobCounts arithmetic holds after compaction + fold
    assert(api.jobCounts(Seq("fq1", "fq2")) === Map("fq1" -> 0L, "fq2" -> 0L))
  }

  test("claim fold: crash between epoch publish and tombstone deletes is safe + recoverable") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("foldcrash"))
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("fcq", (1 to 8).map(i => JobSpec("W", args = s"[$i]")))
    val claimed = store.queueRows("fcq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    store.tombstone("processing",
      claimed.select(col("claim_id").as("id"), col("queue")))
    store.compactProcessing()
    // snapshot the tombstone files so we can resurrect them post-fold,
    // simulating a crash after the epoch rename but before the deletes
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tombDir = new org.apache.hadoop.fs.Path(store.tombDir("processing"))
    val saved = new org.apache.hadoop.fs.Path(store.root, ".saved-tombs")
    fs.mkdirs(saved)
    fs.listStatus(tombDir).filter(_.getPath.getName.startsWith("part-")).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
        new org.apache.hadoop.fs.Path(saved, f.getPath.getName), false,
        spark.sparkContext.hadoopConfiguration)
    }
    assert(store.foldClaimCounters(olderThanMs = 0) > 0L)
    fs.listStatus(saved).foreach { f => // the "crash": folded files reappear
      org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
        new org.apache.hadoop.fs.Path(tombDir, f.getPath.getName), false,
        spark.sparkContext.hadoopConfiguration)
    }
    // reads exclude manifest-listed files → no double count even before recovery
    assert(store.rawProcessingCounts(Seq("fcq")) === Map("fcq" -> 8L))
    // recovery (runs on store construction) re-deletes them
    store.recoverClaimFold()
    assert(fs.listStatus(tombDir).count(_.getPath.getName.startsWith("part-")) === 0)
    assert(store.rawProcessingCounts(Seq("fcq")) === Map("fcq" -> 8L))
    assert(api.jobCounts(Seq("fcq")) === Map("fcq" -> 0L))
  }

  test("batched archiver: one pass serves N queues with bounded Spark jobs") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("archall"))
    val api = new DefaultQueueApi(store)
    val queues = (1 to 4).map(i => s"baq$i")
    queues.foreach { q =>
      api.bulkEnqueue(q, (1 to 3).map(i => JobSpec("W", args = s"[$i]")))
      // claims record the copy's source file; acks inherit it — the
      // archiver's per-copy coverage evidence
      val claimed = store.queueRows(q)
        .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
        .withColumn("claimed_at", current_timestamp())
        .withColumn("src_file", regexp_extract(input_file_name(), "[^/]+$", 0))
      store.append(store.processingDir, claimed, store.processingSchema)
      store.tombstone("processing",
        claimed.select(col("claim_id").as("id"), col("queue"), col("src_file")))
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val moved = store.archiveConsumedAll(queues, olderThanMs = 0)
      assert(moved === 4)
      // listener events are async; poll briefly for the last job-start
      val deadline = System.currentTimeMillis() + 5000
      var last = -1
      while (System.currentTimeMillis() < deadline && jobs.get() != last) {
        last = jobs.get(); Thread.sleep(200)
      }
      // the pass is one action tree (plus AQE stage jobs) — NOT O(queues):
      // a per-queue loop would run 4× this many
      assert(jobs.get() <= 8, s"archiver ran ${jobs.get()} Spark jobs for 4 queues")
    } finally spark.sparkContext.removeSparkListener(listener)
    queues.foreach { q =>
      assert(store.footerRowCount(s"${store.queueDir(q)}/.archive") === 3)
      assert(api.jobCounts(Seq(q))(q) === 0)
    }
  }

  test("per-copy archiver evidence: stale acks never cover re-appended copies; fold waits for the archiver") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("percopy"))
    val api = new DefaultQueueApi(store)
    api.enqueue("pcq", JobSpec("W", args = "[1]"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def liveParts = fs.globStatus(
      new org.apache.hadoop.fs.Path(store.queueDir("pcq"), "day=*/part-*")).length
    val rowSnapshot = store.queueRows("pcq").collect()
    // consume copy 1 (file F1): claim records F1, ack inherits it
    val c1 = store.queueRows("pcq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", regexp_extract(input_file_name(), "[^/]+$", 0))
    store.append(store.processingDir, c1, store.processingSchema)
    store.tombstone("processing",
      c1.select(col("claim_id").as("id"), col("queue"), col("src_file")))
    store.compactProcessing() // clear the acked row so the ack is fold-ELIGIBLE
    // fold must NOT eat the ack while F1 is still live — the archiver
    // has not consumed the evidence yet
    assert(store.foldClaimCounters(olderThanMs = 0) === 0L)
    // the requeue/promotion move: the SAME jid gains a new copy in a NEW file F2
    store.appendQueue("pcq", spark.createDataFrame(
      java.util.Arrays.asList(rowSnapshot: _*), graft.model.Schemas.event))
    assert(liveParts === 2)
    // F1 is covered by its exact-copy ack; F2 must stay (no ack names it)
    assert(store.archiveConsumedAll(Seq("pcq"), olderThanMs = 0) === 1L)
    assert(liveParts === 1)
    // with F1 archived the ack is provably never needed again → folds now
    assert(store.foldClaimCounters(olderThanMs = 0) > 0L)
    assert(store.rawProcessingCounts(Seq("pcq")) === Map("pcq" -> 1L))
    // consume copy 2 — its own claim/ack, the folded ack plays no part
    val c2 = store.queueRows("pcq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(1)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", regexp_extract(input_file_name(), "[^/]+$", 0))
    store.append(store.processingDir, c2, store.processingSchema)
    store.tombstone("processing",
      c2.select(col("claim_id").as("id"), col("queue"), col("src_file")))
    // under the old per-jid COUNT rule this stranded F2 forever (the
    // folded ack made n_acked < n_copies unsatisfiable); per-copy
    // evidence archives it
    assert(store.archiveConsumedAll(Seq("pcq"), olderThanMs = 0) === 1L)
    assert(liveParts === 0)
    assert(api.jobCounts(Seq("pcq")) === Map("pcq" -> 0L)) // 2 copies, 2 claims
  }

  test("stale staging sweep deletes only old orphan dirs") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("staging"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(store.root + "/.staging")
    val old = new org.apache.hadoop.fs.Path(base, "orphan-old")
    val fresh = new org.apache.hadoop.fs.Path(base, "orphan-new")
    fs.mkdirs(old); fs.mkdirs(fresh)
    fs.setTimes(old, System.currentTimeMillis() - 7200000, -1)
    assert(store.pruneStaleStaging(3600000) === 1)
    assert(!fs.exists(old), "old orphan survived the sweep")
    assert(fs.exists(fresh), "swept a staging dir inside the age bound (live-write hazard)")
  }

  test("GC grace runs from the COMMIT, not the superseded file's enqueue-time stamp") {
    import spark.implicits._
    // files whose part-stamp mtime is hours old must still survive the
    // grace window after the compaction that supersedes them — grace
    // protects readers whose listing predates the COMMIT, and the
    // commit is now, regardless of how old the data is
    val store = new QueueStore(spark, TestSpark.tmpRoot("commitgrace"),
      compactionGraceMs = 3600000)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("ggq", (1 to 8).map(i => JobSpec("W", args = s"[$i]")))
    val claimed = store.queueRows("ggq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue")).orderBy("claim_id").limit(5))
    // age every processing part file far past the grace period —
    // simulating a table that accumulated for hours before compacting
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dirP = new org.apache.hadoop.fs.Path(store.processingDir)
    val preFiles = fs.listStatus(dirP).filter(_.getPath.getName.startsWith("part-"))
    preFiles.foreach(f => fs.setTimes(f.getPath, System.currentTimeMillis() - 7200000L, -1))
    store.compactProcessing()
    // the superseded (old-stamped) files must still be on disk: a
    // pre-commit reader's listing may hold them
    val post = fs.listStatus(dirP).filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName).toSet
    assert(preFiles.map(_.getPath.getName).forall(post),
      "superseded files GC'd immediately despite the grace period (grace ran from file age)")
    assert(store.liveProcessing().count() === 3)
  }

  test("applied tombstones do not re-trigger or re-run processing compaction") {
    import spark.implicits._
    val store = new QueueStore(spark, TestSpark.tmpRoot("applied"),
      compactionGraceMs = 3600000) // grace long: superseded files stay on disk
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("apq", (1 to 10).map(i => JobSpec("W", args = s"[$i]")))
    val claimed = store.queueRows("apq")
      .withColumn("claim_id", concat_ws(":", col("jid"), lit(0)))
      .withColumn("claimed_at", current_timestamp())
      .withColumn("src_file", lit(null).cast("string"))
    store.append(store.processingDir, claimed, store.processingSchema)
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue")).orderBy("claim_id").limit(6))
    val hk = new graft.scheduler.Housekeeper(store)
    assert(store.tombstoneRowCountUnabsorbed(store.processingDir, "processing") === 6)
    hk.compactStateTables(minTombstones = 5) // folds: 6 unabsorbed >= 5
    assert(store.liveProcessing().count() === 4)
    // the kept (applied) tombstones remain in force for reads but no
    // longer count toward the trigger...
    assert(store.tombstoneRowCountUnabsorbed(store.processingDir, "processing") === 0)
    // ...and a second pass must not rewrite the table again: same
    // physical files before and after
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def listing = fs.listStatus(new org.apache.hadoop.fs.Path(store.processingDir))
      .map(_.getPath.getName).toSet
    val before = listing
    store.compactProcessing() // direct call: the skip is in compact() itself
    assert(listing === before, "compaction rewrote the table with no new tombstones")
    // new acks re-arm the trigger and the fold applies ALL in-force
    // tombstones (old applied + new) to the fresh snapshot
    store.tombstone("processing",
      store.liveProcessing().select(col("claim_id"), col("queue")).orderBy("claim_id").limit(2))
    assert(store.tombstoneRowCountUnabsorbed(store.processingDir, "processing") === 2)
    hk.compactStateTables(minTombstones = 1)
    assert(store.liveProcessing().count() === 2)
    assert(store.tombstoneRowCountUnabsorbed(store.processingDir, "processing") === 0)
  }

  test("publish-time fence: an append after a takeover dies BEFORE landing a file") {
    val root = TestSpark.tmpRoot("fence")
    val store = new QueueStore(spark, root, leaseTimeoutMs = 300000)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("fq", Seq(JobSpec("W", args = "[1]")))
    assert(store.queueRows("fq").count() === 1)
    // another host takes the root with a FRESH lease (as it would after
    // this driver sat paused past the lease timeout)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(root, "_owner.lock")
    val out = fs.create(lock, true)
    try out.write("7 usurper-uuid hostZ".getBytes("UTF-8")) finally out.close()
    fs.setTimes(lock, System.currentTimeMillis(), -1)
    Thread.sleep(1100) // pass the 1 s fence-check horizon
    // the lease RENEWAL path is not due for another ~100 s
    // (leaseTimeoutMs/3) — the old behavior would land this append as a
    // zombie write; the publish-time fence must refuse it instead
    val ex = intercept[IllegalStateException](
      api.bulkEnqueue("fq", Seq(JobSpec("W", args = "[2]"))))
    assert(ex.getMessage.contains("taken over"), ex.getMessage)
    assert(store.queueRows("fq").count() === 1, "zombie append landed after takeover")
  }

  test("dead-letter fold collapses replay duplicates to one deduped snapshot") {
    val store = new QueueStore(spark, TestSpark.tmpRoot("deadfold"), compactionGraceMs = 0)
    val api = new DefaultQueueApi(store)
    api.bulkEnqueue("dfq", (1 to 6).map(i => JobSpec("W", args = s"[$i]")))
    val rows = store.queueRows("dfq")
    // three replayed appends of the same dead rows (same jids) — the
    // at-least-once dead-letter path re-appends on micro-batch replay
    (1 to 3).foreach(_ => store.append(store.deadDir, rows, store.deadSchema))
    val before = store.deadRows.select("jid").collect().map(_.getString(0)).sorted
    assert(before.length === 6)
    assert(store.deadPartFileCount() >= 3)
    store.compactDead()
    // grace 0: superseded files GC at commit — all-time history is now
    // ONE deduped snapshot, and the read view is unchanged
    assert(store.deadPartFileCount() < 3)
    assert(spark.read.parquet(store.deadDir).count() === 6,
      "snapshot still carries replay duplicates")
    val after = store.deadRows.select("jid").collect().map(_.getString(0)).sorted
    assert(after.toSeq === before.toSeq)
    // appends after the fold stay visible beside the snapshot
    api.bulkEnqueue("dfq2", Seq(JobSpec("W", args = "[7]")))
    store.append(store.deadDir, store.queueRows("dfq2"), store.deadSchema)
    assert(store.deadRows.count() === 7)
  }

  test("recording api buffers instead of writing (D6)") {
    val api = new RecordingQueueApi
    api.enqueue("q", JobSpec("W", args = "[1]"))
    api.bulkEnqueue("q", Seq(JobSpec("W"), JobSpec("W")))
    api.enqueueIn("q", 5000, JobSpec("W"))
    assert(api.recorded.size === 4)
    assert(api.recorded.last._3 === 5000)
    assert(api.jobCounts(Seq("q"))("q") === 3) // enqueueIn not counted as queued
  }

  test("rate-limit mirror: a wider window after narrow-caller pruning recounts from the log") {
    import spark.implicits._
    val store = new QueueStore(spark, TestSpark.tmpRoot("limitwide"))
    val now = System.currentTimeMillis()
    store.limitLogAppend("wk", Seq("old:0").toDF("id"),
      new java.sql.Timestamp(now - 600000L)) // 10 min ago
    store.limitLogAppend("wk", Seq("new:1").toDF("id"),
      new java.sql.Timestamp(now - 30000L))
    // narrow caller (2-minute window): sees only the recent admission,
    // and its retain horizon lets prune() discard the old entry
    assert(store.limitCountSince("wk", now - 120000L) === 1)
    // wider caller (30-minute window) must count BOTH — before the
    // widening invalidation the mirror answered 1 until restart
    assert(store.limitCountSince("wk", now - 1800000L) === 2)
    assert(store.limitEarliestSince("wk", now - 1800000L)
      .exists(ts => ts <= now - 590000L), "earliest must be the old admission")
    // narrow view stays correct after the rebuild
    assert(store.limitCountSince("wk", now - 120000L) === 1)
  }

  test("acquire during another writer's lock-renewal blink refuses instead of stealing") {
    val root = TestSpark.tmpRoot("blink")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    val lock = new org.apache.hadoop.fs.Path(root, "_owner.lock")
    // a live FOREIGN owner is mid-renewal: its delete has happened and
    // the rename lands a few ms later — exactly the window where a
    // single missing-lock read used to conclude "no owner"
    val writer = new Thread(() => {
      Thread.sleep(15)
      val out = fs.create(lock, true)
      try out.write("7 foreign-uuid hostZ".getBytes("UTF-8")) finally out.close()
      fs.setTimes(lock, System.currentTimeMillis(), -1)
    })
    writer.start()
    val ex = intercept[IllegalStateException](
      new QueueStore(spark, root, leaseTimeoutMs = 300000))
    writer.join()
    assert(ex.getMessage.contains("hostZ"), ex.getMessage)
  }
}
