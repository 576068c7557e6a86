package jobbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.api.{DefaultQueueApi, JobSpec}
import graft.model.{EngineConfig, PipelineConfig}
import graft.pipeline.PipelineRunner
import graft.scheduler.Housekeeper
import graft.store.QueueStore
import org.apache.spark.sql.SparkSession

/** What one workload run hands back: the samples behind the
  * end-to-end metrics, the correctness tally, and the inputs the trace
  * needs (due times, measured pipelines, the workload's own layer
  * counts). Thread-safe: sender and poller threads record into it. */
final class Record {
  private def q() = new ConcurrentLinkedQueue[Double]()
  val setupS, itemsPerS, itemLatMs, writeMs, readMs = q()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val problems = new ConcurrentLinkedQueue[String]()
  val due = new ConcurrentHashMap[String, Double]()
  val queries = new ConcurrentLinkedQueue[String]()
  val extra = new ConcurrentHashMap[String, Double]()
  val calls = new ConcurrentLinkedQueue[Jobs.Call]()

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (problems.size < 20) problems.add(msg)
  }
  /** One attempted operation; counts as failed unless `ok`. */
  def check(ok: Boolean, msg: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(msg)
  }
  def add(k: String, v: Double): Unit = extra.merge(k, v, (a, b) => a + b)
}

/** Everything a workload run needs; `dir` names a state directory under
  * the run's working directory. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val tracer: Tracer, val threads: Int) {
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d.getParent)
    d.toString
  }
}

/** Shared queue-side steps: seeding a backlog, gauge reads, store
  * state, waiting. */
object Queue {
  val Name = "q"

  def nowMs(): Double = Jobs.nowMs()

  /** Progress line on stderr (the run's log). */
  def log(msg: String): Unit =
    System.err.println(f"jobbench ${System.currentTimeMillis() / 1000.0}%.3f $msg")

  def timedS[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed-loop seeding: `calls` bulkEnqueue calls of pre-built jobs
    * spread over at most `threads` threads. Returns key -> jid. */
  def seed(c: Ctx, rec: Record, api: DefaultQueueApi,
      calls: Seq[Seq[(String, JobSpec)]]): Map[String, String] = {
    val pool = Executors.newFixedThreadPool(math.min(c.threads, calls.size))
    val jids = new ConcurrentHashMap[String, String]()
    try {
      calls.map { batch =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val t0 = nowMs()
            val res = scala.util.Try(c.tracer.call("api.bulkEnqueue")(
              api.bulkEnqueue(Name, batch.map(_._2))))
            rec.writeMs.add(nowMs() - t0)
            rec.check(res.isSuccess, s"bulkEnqueue threw: ${res.failed.map(_.toString).getOrElse("")}")
            res.foreach(js => batch.map(_._1).zip(js).foreach { case (k, j) => jids.put(k, j) })
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    jids.asScala.toMap
  }

  /** One gauge read (jobCounts + pendingJobsCount), timed from `dueMs`.
    * Returns (queued, in flight), or None if a call threw. */
  def gauge(c: Ctx, rec: Record, api: DefaultQueueApi, dueMs: Double): Option[(Long, Long)] = {
    val res = scala.util.Try {
      val counts = c.tracer.call("api.jobCounts")(api.jobCounts(Seq(Name)))
      val pending = c.tracer.call("api.pendingJobsCount")(api.pendingJobsCount())
      (counts.getOrElse(Name, 0L), pending)
    }
    rec.readMs.add(nowMs() - dueMs)
    rec.check(res.isSuccess, s"gauge threw: ${res.failed.map(_.toString).getOrElse("")}")
    res.toOption
  }

  /** After a drained run: every gauge must read zero. */
  def checkDrained(c: Ctx, rec: Record, api: DefaultQueueApi, reads: Int): Unit =
    (0 until reads).foreach { _ =>
      gauge(c, rec, api, nowMs()).foreach { case (queued, pending) =>
        rec.check(queued == 0 && pending == 0,
          s"gauges after drain read queued=$queued in-flight=$pending")
      }
    }

  def await(timeoutMs: Long, pollMs: Long = 5)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < end) Thread.sleep(pollMs)
    done
  }

  /** Data files (not checksums or markers) and bytes under `dir`. */
  def files(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        s.iterator().asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) { (acc, f) =>
          val n = f.getFileName.toString
          val data = !n.startsWith(".") && !n.startsWith("_")
          (acc._1 + (if (data) 1 else 0), acc._2 + Files.size(f))
        }
      } finally s.close()
    }
  }

  /** The store layer's state at the end of a run. */
  def storeState(rec: Record, store: QueueStore): Unit = {
    val (all, bytes) = files(store.root)
    rec.extra.put("store.queue_files", files(store.queueDir(Name))._1.toDouble)
    rec.extra.put("store.files_written", all.toDouble)
    rec.extra.put("store.disk_mb", bytes / 1e6)
    rec.extra.put("store.tombstone_rows",
      (store.footerRowCount(store.tombDir("processing")) +
        store.footerRowCount(store.tombDir("scheduled"))).toDouble)
    rec.extra.put("store.dead_rows", store.footerRowCount(store.deadDir).toDouble)
  }

  /** Enqueue calls made and queue files they left, for files_per_call. */
  def countEnqueueFiles(rec: Record, store: QueueStore, calls: Int): Unit = {
    rec.add("enqueue_calls", calls)
    rec.add("enqueue_files", files(store.queueDir(Name))._1.toDouble)
  }

  /** Let the last trigger commit, then stop the pipeline. */
  def stop(runner: PipelineRunner, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    runner.stop()
  }

  /** Every job completed by a worker exactly once, after `attempts`
    * worker calls. */
  def checkExactlyOnce(rec: Record, keys: Iterable[String], attempts: String => Int): Unit =
    keys.foreach { k =>
      val s = Jobs.successCount(k)
      val a = Jobs.attemptCount(k)
      rec.check(s == 1 && a == attempts(k),
        s"job $k completed $s times after $a attempts (expected 1 after ${attempts(k)})")
    }
}

/** `drain`: a seeded backlog drained by one pipeline (closed system). */
object Drain {
  val Backlog = 5000
  val CallSize = 250
  val PayloadBytes = 1024
  val MinRounds = 3

  def run(c: Ctx): Record = {
    val rec = new Record
    val in = new Inputs(c.seed)
    var measuredS = 0.0
    var round = 0
    while (round < MinRounds || measuredS < c.seconds) {
      val keys = (0 until Backlog).map(i => s"d$round-$i")
      val calls = keys.map(k => k -> in.job(k, Jobs.Ok, PayloadBytes)).grouped(CallSize).toSeq
      val ((store, api), setupS) = Queue.timedS {
        val store = new QueueStore(c.spark, c.dir(s"drain-$round"))
        val api = new DefaultQueueApi(store)
        Queue.seed(c, rec, api, calls)
        (store, api)
      }
      rec.setupS.add(setupS)
      Queue.log(f"set-up done in $setupS%.2f s")
      Queue.countEnqueueFiles(rec, store, calls.size)

      Jobs.reset()
      val runner = new PipelineRunner(store,
        PipelineConfig("drain", Queue.Name, maxDemand = 10, pollIntervalMs = 100),
        workers = Jobs.workers)
      val t0 = Queue.nowMs()
      val q = runner.start().get
      rec.queries.add(q.id.toString)
      Queue.log("pipeline started")
      val drained = Queue.await(120000)(Jobs.completed >= Backlog)
      Queue.log("measured work done")
      Queue.stop(runner, q)
      Queue.log("pipeline stopped")
      val dt = Queue.nowMs() - t0
      measuredS += dt / 1000
      rec.itemsPerS.add(Backlog / (dt / 1000))
      if (!drained) rec.fail(s"drain round $round: ${Jobs.completed} of $Backlog done")
      keys.foreach(k => rec.due.put(k, t0))
      Jobs.allCalls.foreach { call => rec.calls.add(call); rec.itemLatMs.add(call.endMs - t0) }
      Queue.checkExactlyOnce(rec, keys, _ => 1)
      Queue.checkDrained(c, rec, api, reads = 1)
      Queue.storeState(rec, store)
      round += 1
    }
    rec
  }
}

/** `steady`: open-loop enqueue at a fixed offered rate while one
  * rate-limited pipeline drains and a poller reads the gauges. */
object Steady {
  val CallsPerSec = 4
  val CallSize = 25
  val Senders = 3
  val PollEveryMs = 2000L
  val SetupReps = 3
  val PeriodMs: Double = 1000.0 / CallsPerSec
  /** A sender's own period: its calls are `Senders` global periods apart. */
  val SenderPeriodMs: Double = PeriodMs * Senders

  private def config = PipelineConfig("steady", Queue.Name, pollIntervalMs = 100,
    // above the offered rate, like the reference bench's 50k/1000 ms:
    // admission runs on every trigger and never defers
    rateLimitCount = Some(50000L), rateLimitScaleMs = Some(1000L))

  def run(c: Ctx): Record = {
    val rec = new Record
    val in = new Inputs(c.seed)
    // set-up = a fresh store and a started pipeline that has completed
    // one job; repeated, and the last one is measured
    val (store, api, runner, q) = (0 until SetupReps).map { r =>
      val (res, s) = Queue.timedS {
        val store = new QueueStore(c.spark, c.dir(s"steady-$r"))
        val api = new DefaultQueueApi(store)
        Jobs.reset()
        val runner = new PipelineRunner(store, config, workers = Jobs.workers)
        val q = runner.start().get
        api.bulkEnqueue(Queue.Name, Seq(in.job(s"w$r", Jobs.Ok, 512)))
        if (!Queue.await(60000)(Jobs.completed >= 1)) rec.fail(s"set-up $r: warm-up job not done")
        (store, api, runner, q)
      }
      rec.setupS.add(s)
      Queue.log(f"set-up done in $s%.2f s")
      if (r < SetupReps - 1) Queue.stop(res._3, res._4)
      res
    }.last
    rec.queries.add(q.id.toString)
    Queue.log("pipeline started")
    Jobs.reset()

    val nCalls = math.max(Senders, (c.seconds * CallsPerSec).toInt)
    val calls = (0 until nCalls).map { k =>
      (0 until CallSize).map { i =>
        val key = s"s$k-$i"
        key -> in.job(key, Jobs.Ok, in.mixedPayload())
      }
    }
    val t0 = Queue.nowMs() + 200
    val sent = new AtomicLong
    val lagMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val pollLagMax = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    def sleepUntil(ms: Double): Unit = {
      val d = ms - Queue.nowMs()
      if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
    }
    def lag(max: java.util.concurrent.atomic.AtomicReference[Double], due: Double): Unit = {
      val l = Queue.nowMs() - due
      max.accumulateAndGet(l, (a, b) => math.max(a, b))
    }
    val senders = (0 until Senders).map { j =>
      new Thread(() => {
        for (k <- j until nCalls by Senders) {
          val due = t0 + k * PeriodMs
          sleepUntil(due)
          lag(lagMax, due)
          calls(k).foreach { case (key, _) => rec.due.put(key, due) }
          val res = scala.util.Try(c.tracer.call("api.bulkEnqueue")(
            api.bulkEnqueue(Queue.Name, calls(k).map(_._2))))
          rec.writeMs.add(Queue.nowMs() - due)
          rec.check(res.isSuccess, s"bulkEnqueue threw: ${res.failed.map(_.toString).getOrElse("")}")
          if (res.isSuccess) sent.addAndGet(CallSize)
        }
      }, s"jobbench-sender-$j")
    }
    val sendEnd = t0 + nCalls * PeriodMs
    val backlog = new ConcurrentLinkedQueue[(Double, Long)]()
    val poller = new Thread(() => {
      var p = 1
      while (t0 + p * PollEveryMs <= sendEnd) {
        val due = t0 + p * PollEveryMs
        sleepUntil(due)
        lag(pollLagMax, due)
        Queue.gauge(c, rec, api, due)
        backlog.add((due, sent.get - Jobs.completed))
        p += 1
      }
    }, "jobbench-poller")
    (senders :+ poller).foreach(_.start())
    (senders :+ poller).foreach(_.join())
    Queue.log(s"sending done, backlog ${sent.get - Jobs.completed}")
    val backlogEnd = sent.get - Jobs.completed
    val total = nCalls * CallSize
    val drained = Queue.await(120000)(Jobs.completed >= sent.get)
    Queue.log("measured work done")
    Queue.stop(runner, q)
    Queue.log("pipeline stopped")
    if (!drained) rec.fail(s"steady: ${Jobs.completed} of ${sent.get} done")

    val done = Jobs.allCalls
    rec.calls.addAll(done.asJava)
    done.foreach(call => Option(rec.due.get(call.key)).foreach(d => rec.itemLatMs.add(call.endMs - d)))
    if (done.nonEmpty) rec.itemsPerS.add(done.size / ((done.map(_.endMs).max - t0) / 1000))
    Queue.checkExactlyOnce(rec, calls.flatten.map(_._1), _ => 1)
    Queue.checkDrained(c, rec, api, reads = 1)
    Queue.storeState(rec, store)
    Queue.countEnqueueFiles(rec, store, nCalls + SetupReps)

    // open-loop validity: a lagging generator or a growing backlog
    // means the offered rate was not sustained, and the latencies are
    // not those of that rate
    val offered = total / ((sendEnd - t0) / 1000)
    val bl = backlog.asScala.toSeq.map(_._2.toDouble)
    val (first, last) = bl.splitAt(bl.size / 2)
    val grew = first.nonEmpty && last.nonEmpty &&
      last.sum / last.size > 1.5 * (first.sum / first.size) + 2 * CallSize
    rec.extra.put("load.generator_lag_ms_max", lagMax.get)
    rec.extra.put("load.poller_lag_ms_max", pollLagMax.get)
    rec.extra.put("load.offered_jobs_per_sec", offered)
    rec.extra.put("pipeline.backlog_end", backlogEnd.toDouble)
    rec.check(lagMax.get <= SenderPeriodMs,
      f"generator lagged ${lagMax.get}%.0f ms, more than one send period")
    rec.check(!grew, s"backlog grew: ${bl.mkString(",")}")
    rec
  }
}

/** `retry`: a seeded mix of succeeding, once-failing and always-failing
  * jobs, with the housekeeper promoting retries. */
object Retry {
  val Jobs0 = 500
  val CallSize = 50
  val TickMs = 500L
  val MinRounds = 1
  val SetupReps = 3
  val GaugeReads = 5
  val Engine = EngineConfig(maxRetries = 3, backoffInitialMs = 100, backoffMaxMs = 1000)

  def run(c: Ctx): Record = {
    val rec = new Record
    val in = new Inputs(c.seed)
    var measuredS = 0.0
    var r = 0
    while (r < MinRounds || measuredS < c.seconds) {
      // the first round repeats its set-up; later ones (a fast host
      // fits more than one in the run) set up once
      measuredS += round(c, rec, in, s"r$r", Jobs0, if (r == 0) SetupReps else 1,
        warmUp = r == 0)
      r += 1
    }
    rec
  }

  /** One round: a fresh store seeded with `n` jobs (the set-up, done
    * `setupReps` times, the last one used), run until every job is
    * final, then checked. Returns the round's measured seconds.
    *
    * The first set-up in a JVM compiles the enqueue path (JIT, Spark
    * codegen) and takes 4-6x as long as later ones. With `warmUp` one
    * more set-up runs before the timed ones, checked but neither timed
    * nor traced: its ten cold enqueue calls would otherwise be exactly
    * the ten samples beyond the write tail, which would then fall on
    * the boundary between cold and warm calls. */
  private def round(c: Ctx, rec: Record, in: Inputs, tag: String, n: Int,
      setupReps: Int, warmUp: Boolean): Double = {
    val keys = (0 until n).map(i => s"$tag-$i")
    val modes = keys.zip(in.retryModes(n)).toMap
    val calls = keys.map(k => k -> in.job(k, modes(k), in.mixedPayload())).grouped(CallSize).toSeq
    def setUp(name: String, cx: Ctx, into: Record) = {
      val store = new QueueStore(c.spark, c.dir(s"retry-$tag-$name"))
      val api = new DefaultQueueApi(store)
      val jids = Queue.seed(cx, into, api, calls)
      (store, api, jids)
    }
    if (warmUp) {
      val cold = new Record
      setUp("warm-up", new Ctx(c.spark, c.work, c.seed, c.seconds,
        new Tracer(c.spark, "warm-up", enabled = false), c.threads), cold)
      rec.check(cold.failed.get == 0, s"warm-up set-up: ${cold.failed.get} enqueue calls failed")
    }
    val (store, api, jids) = (0 until setupReps).map { r =>
      val (res, setupS) = Queue.timedS(setUp(r.toString, c, rec))
      rec.setupS.add(setupS)
      Queue.log(f"set-up done in $setupS%.2f s")
      res
    }.last
    Queue.countEnqueueFiles(rec, store, calls.size)
    val dead = keys.filter(modes(_) == Jobs.Always)
    val succeed = keys.size - dead.size

    Jobs.reset()
    val runner = new PipelineRunner(store,
      PipelineConfig("retry", Queue.Name, maxDemand = 10, pollIntervalMs = 100),
      engine = Engine, workers = Jobs.workers)
    val hk = new Housekeeper(store)
    val t0 = Queue.nowMs()
    val q = runner.start().get
    rec.queries.add(q.id.toString)
    Queue.log("pipeline started")
    @volatile var ticking = true
    val ticker = new Thread(() => {
      var next = t0 + TickMs
      while (ticking) {
        val d = next - Queue.nowMs()
        if (d > 0) Thread.sleep(d.toLong)
        if (ticking) {
          def empty(moved: (Long, Long)) = moved == ((0L, 0L))
          val moved = c.tracer.noted("scheduler.tick",
            (m: (Long, Long)) => if (empty(m)) "empty" else "busy")(hk.tick())
          rec.add("scheduler.ticks", 1)
          rec.add("scheduler.promoted_rows", moved._1.toDouble)
          if (empty(moved)) rec.add("scheduler.empty_ticks", 1)
        }
        next += TickMs
      }
    }, "jobbench-ticker")
    ticker.start()
    // the dead-table check lists files and reads footers: poll it
    // gently, so the benchmark's own work stays off the cores
    val finished = Queue.await(120000, pollMs = 100)(
      Jobs.completed >= succeed && store.footerRowCount(store.deadDir) >= dead.size)
    Queue.log("measured work done")
    ticking = false
    ticker.join()
    Queue.stop(runner, q)
    Queue.log("pipeline stopped")
    val dt = Queue.nowMs() - t0
    rec.itemsPerS.add(keys.size / (dt / 1000))
    if (!finished) rec.fail(s"retry round $tag: not every job final")

    // final outcome time: a success's worker completion, a dead job's
    // last failed attempt
    val calls0 = Jobs.allCalls
    rec.calls.addAll(calls0.asJava)
    val last = calls0.groupBy(_.key).map { case (k, cs) =>
      k -> (cs.find(_.ok).getOrElse(cs.maxBy(_.endMs)).endMs)
    }
    last.values.foreach(e => rec.itemLatMs.add(e - t0))
    keys.foreach(k => rec.due.put(k, t0))
    Queue.checkExactlyOnce(rec, keys.filter(modes(_) != Jobs.Always), k =>
      if (modes(k) == Jobs.Once) 2 else 1)
    dead.foreach { k =>
      rec.check(Jobs.successCount(k) == 0 && Jobs.attemptCount(k) == Engine.maxRetries + 1,
        s"job $k: ${Jobs.attemptCount(k)} attempts, ${Jobs.successCount(k)} successes; expected dead")
    }
    val deadJids = store.deadRows.select("jid").collect().map(_.getString(0)).toSet
    rec.check(deadJids == dead.flatMap(jids.get).toSet,
      s"dead set: ${deadJids.size} rows, expected ${dead.size}")
    Queue.checkDrained(c, rec, api, reads = GaugeReads)
    Queue.storeState(rec, store)
    dt / 1000
  }
}

/** `ingest`: delta batches into a curated, indexed corpus, each followed
  * by a near-duplicate probe. Only `operators` works here. */
object Ingest {
  val BaseDocs = 300
  val BatchDocs = 60
  val DupShare = 0.2
  val MinBatches = 1
  val ProbesPerBatch = 5

  final case class Doc(id: Long, words: Vector[String], source: String) {
    def text: String = words.mkString(" ")
  }

  def run(c: Ctx): Record = {
    import c.spark.implicits._
    import graft.operators.{CurationRun, DeltaIngest}
    val rec = new Record
    val in = new Inputs(c.seed)
    val sources = Seq("web", "books", "code")
    def src() = sources(in.nextInt(sources.size))
    def frame(docs: Seq[Doc]) =
      docs.map(d => (d.id, d.text, "en", d.source, d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")

    // base corpus: clean docs, near-duplicates of earlier clean docs,
    // and gate failures
    val originals = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var nDup = 0
    var nJunk = 0
    val base = (1L to BaseDocs).map { id =>
      val r = in.nextInt(20)
      if (r < 2 && originals.nonEmpty) {
        nDup += 1
        Doc(id, in.nearDup(originals(in.nextInt(originals.size)).words), src())
      } else if (r == 2) { nJunk += 1; Doc(id, in.junkWords(), src()) }
      else { val d = Doc(id, in.cleanWords(), src()); originals += d; d }
    }

    // set-up = curation run + index build over the base corpus (once:
    // at ~20 s it is most of a run)
    val inDir = c.dir("ingest-in")
    frame(base).write.parquet(s"$inDir/documents.parquet")
    val out = c.dir("ingest-out")
    val (report, setupS) = Queue.timedS {
      val report = CurationRun.run(c.spark, inDir, out)
      DeltaIngest.buildIndex(c.spark, out)
      report
    }
    rec.setupS.add(setupS)
    Queue.log(f"set-up done in $setupS%.2f s")
    rec.check(report.consistent && report.nInput == BaseDocs && report.nQualityFail == nJunk &&
      report.nNearDupDropped == nDup,
      s"curation report $report, expected $nJunk gate fails, $nDup dups")
    val finalCount0 = DeltaIngest.readFinal(c.spark, out).count()

    val indexed = originals.clone()
    var fresh = 5000000L
    def freshDoc() = { fresh += 1; Doc(fresh, in.cleanWords(), src()) }
    /** `BatchDocs` docs, `DupShare` of them near-duplicates of indexed
      * docs (id -> source id). */
    def mix(): (Seq[Doc], Map[Long, Long]) = {
      val nd = (BatchDocs * DupShare).toInt
      val dups = (0 until nd).map { _ =>
        val s = indexed(in.nextInt(indexed.size))
        val d = freshDoc().copy(words = in.nearDup(s.words))
        d -> s.id
      }
      (dups.map(_._1) ++ (nd until BatchDocs).map(_ => freshDoc()), dups.map(x => x._1.id -> x._2).toMap)
    }

    val ingested = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    /** One delta batch followed by `probes` probes, every outcome
      * checked. Returns the seconds spent in the calls. A timed batch
      * records its samples and runs inside layer spans; an untimed one
      * (the warm-up) does neither. */
    def batch(n: Int, timed: Boolean, probes: Int): Double = {
      def call[A](name: String)(body: => A): A =
        if (timed) c.tracer.call(name)(body) else body
      val (delta, deltaDups) = mix()
      val df = frame(delta).localCheckpoint(true)
      val files0 = Queue.files(out)._1
      val t0 = Queue.nowMs()
      val rep = scala.util.Try(call("operators.ingestDelta")(
        DeltaIngest.ingestDelta(c.spark, df, out)))
      val ms = Queue.nowMs() - t0
      if (timed) {
        rec.add("operators.ingest.files_written", (Queue.files(out)._1 - files0).toDouble)
        rec.add("operators.ingest.batches", 1)
        rec.writeMs.add(ms)
        delta.foreach(_ => rec.itemLatMs.add(ms))
        rec.itemsPerS.add(BatchDocs / (ms / 1000))
      }
      val nFresh = BatchDocs - deltaDups.size
      rec.check(rep.toOption.exists(r => r.consistent && r.nDelta == BatchDocs &&
        r.nQualityFail == 0 && r.nDupDropped == deltaDups.size && r.nAppended == nFresh &&
        r.nRemoved == 0), s"ingest batch $n: $rep, expected $nFresh appended")
      indexed ++= delta.filterNot(d => deltaDups.contains(d.id))
      ingested ++= delta.map(d => d.id -> !deltaDups.contains(d.id))

      val probeMs = (0 until probes).map { _ =>
        val (probe, probeDups) = mix()
        val pdf = frame(probe).localCheckpoint(true)
        val p0 = Queue.nowMs()
        val hits = scala.util.Try(call("operators.probeNearDups")(
          DeltaIngest.probeNearDups(c.spark, pdf, out).collect()))
        val pms = Queue.nowMs() - p0
        if (timed) rec.readMs.add(pms)
        rec.check(hits.isSuccess, s"probe threw: ${hits.failed.map(_.toString).getOrElse("")}")
        val found = hits.toOption.toSeq.flatten.map(r => r.getLong(0) -> r.getLong(1))
        // each probe doc: a near-duplicate matches (at least) its source,
        // a fresh doc matches nothing
        probe.foreach { d =>
          val matched = found.filter(_._1 == d.id).map(_._2)
          rec.check(probeDups.get(d.id).fold(matched.isEmpty)(matched.contains),
            s"probe doc ${d.id}: matched ${matched.mkString(",")}, source ${probeDups.get(d.id)}")
        }
        pms
      }
      Queue.log(s"batch $n${if (timed) "" else " (warm-up)"}: ingest ${ms.toLong} ms, " +
        s"probes ${probeMs.map(_.toLong).mkString(" ")} ms")
      (ms + probeMs.sum) / 1000
    }

    // the first batch in a JVM compiles the ingest path (JIT, Spark
    // codegen) and takes 1.1-1.5x as long as later ones on a 4-core
    // host, the more so when it is busy: it is checked, not timed. The
    // first probe after a batch is the slowest of the five, so their
    // median is the middle one of the other four.
    batch(0, timed = false, probes = 0)
    var measuredS = 0.0
    var batches = 0
    while (batches < MinBatches || measuredS < c.seconds) {
      batches += 1
      measuredS += batch(batches, timed = true, ProbesPerBatch)
    }
    // each ingested doc: fresh ones are in the final layout, near-
    // duplicates are not
    val rows = DeltaIngest.readFinal(c.spark, out).select("doc_id").collect().map(_.getLong(0))
    val live = rows.toSet
    ingested.foreach { case (id, kept) =>
      rec.check(live(id) == kept, s"doc $id: in final layout ${live(id)}, expected $kept")
    }
    val expect = finalCount0 + ingested.count(_._2)
    rec.check(rows.length == expect, s"readFinal: ${rows.length} rows, expected $expect")
    rec
  }
}
