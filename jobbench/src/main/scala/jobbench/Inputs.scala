package jobbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import graft.api.JobSpec
import graft.pipeline.WorkerSet

/** Seeded inputs. Everything the program receives is generated here
  * from the workload seed: job keys, payloads, the failure assignment
  * and the ingest documents. */
final class Inputs(seed: Long) {
  private val rnd = new Random(seed)

  /** BASELINE.md's three payload sizes (the reference bench's
    * 150/250/650-arg inputs). */
  val PayloadBytes: Seq[Int] = Seq(512, 1024, 2560)

  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  def text(n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += alphabet.charAt(rnd.nextInt(alphabet.length)); i += 1 }
    sb.result()
  }

  def mixedPayload(): Int = PayloadBytes(rnd.nextInt(PayloadBytes.size))

  /** One job. `key` is unique per job in a run and is how the worker
    * reports back; `mode` is the worker's scripted outcome. */
  def job(key: String, mode: String, payloadBytes: Int): JobSpec =
    JobSpec(Jobs.WorkerClass, args = s"""["$key","$mode","${text(payloadBytes)}"]""")

  /** The retry mix for `n` jobs, in seeded order: exactly 25% always
    * fail, 25% fail their first attempt only, 50% succeed. Exact shares
    * keep each latency percentile on the same outcome class from seed
    * to seed. */
  def retryModes(n: Int): IndexedSeq[String] =
    rnd.shuffle(IndexedSeq.tabulate(n)(i =>
      if (i < n / 4) Jobs.Always else if (i < n / 2) Jobs.Once else Jobs.Ok))

  def nextInt(n: Int): Int = rnd.nextInt(n)

  /** A quality-gate-passing document: 30 distinct random 5-letter
    * words (the DeltaIngestSpec convention; 30 words, type/token ratio
    * 1, mean word length 5). */
  def cleanWords(): Vector[String] = {
    val ws = scala.collection.mutable.LinkedHashSet.empty[String]
    while (ws.size < 30) ws += word()
    ws.toVector
  }
  def word(): String = {
    val sb = new StringBuilder(5)
    (0 until 5).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.result()
  }
  /** Near-duplicate: the last word replaced, so the 3-gram shingle
    * Jaccard against the source is 27/29. Same length, so the source
    * (smaller doc_id) wins the keeper election.
    *
    * The program finds near-duplicates by banded MinHash, which by
    * design misses a pair now and then (for this Jaccard, when all four
    * bands differ: about 2 in 100 000). A near-duplicate is redrawn
    * until it shares a band with its source, so that which documents
    * are duplicates is known exactly and the checks can demand it. */
  def nearDup(ws: Vector[String]): Vector[String] = {
    val src = Inputs.bands(ws)
    var d = ws.updated(ws.size - 1, word())
    while (!Inputs.bands(d).zip(src).exists { case (a, b) => a == b })
      d = ws.updated(ws.size - 1, word())
    d
  }
  /** A document the quality gate rejects (one word repeated). */
  def junkWords(): Vector[String] = { val w = word(); Vector.fill(30)(w) }
}

object Inputs {
  /** The four MinHash band keys of a document, as the program defines
    * them: per band, the least 8-hex-digit slice (offsets 0, 8, 16, 24)
    * of the md5 of each distinct word 3-gram. */
  def bands(ws: Vector[String]): Seq[String] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val hs = ws.sliding(3).map(_.mkString(" ")).toSeq.distinct.map { sh =>
      md5.digest(sh.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    Seq(0, 8, 16, 24).map(o => hs.map(_.substring(o, o + 8)).min)
  }
}

object Jobs {
  val WorkerClass = "JobbenchWorker"
  val Ok = "ok"
  val Once = "once"
  val Always = "always"

  /** One worker call as seen from inside the executor task. */
  final case class Call(key: String, ok: Boolean, startMs: Double, endMs: Double,
      queryId: String, batchId: Long)

  // Local mode runs tasks in this JVM, so the executor-side worker can
  // hand its records straight to the benchmark thread.
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val successes = new ConcurrentHashMap[String, AtomicInteger]()
  private val done = new AtomicInteger()

  def reset(): Unit = { calls.clear(); attempts.clear(); successes.clear(); done.set(0) }
  def completed: Int = done.get()
  def allCalls: Seq[Call] = { import scala.jdk.CollectionConverters._; calls.asScala.toSeq }
  def successCount(key: String): Int = Option(successes.get(key)).map(_.get).getOrElse(0)
  def attemptCount(key: String): Int = Option(attempts.get(key)).map(_.get).getOrElse(0)

  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** The worker: reads its key and mode from the args, touches the
    * payload (a checksum, so the args are really consumed) and fails
    * as scripted. */
  def perform(args: String): Unit = {
    val t0 = nowMs()
    val k1 = args.indexOf('"') + 1
    val k2 = args.indexOf('"', k1)
    val key = args.substring(k1, k2)
    val m1 = args.indexOf('"', k2 + 1) + 1
    val mode = args.substring(m1, args.indexOf('"', m1))
    var sum = 0
    var i = 0
    while (i < args.length) { sum = sum * 31 + args.charAt(i); i += 1 }
    val attempt = attempts.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet()
    val ok = mode match {
      case Always => false
      case Once => attempt > 1
      case _ => true
    }
    val tc = org.apache.spark.TaskContext.get()
    def prop(k: String) = if (tc == null) null else tc.getLocalProperty(k)
    val batch = Option(prop("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L)
    if (ok) {
      successes.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet()
      done.incrementAndGet()
    }
    calls.add(Call(key, ok, t0, nowMs(), prop("sql.streaming.queryId"), batch))
    if (!ok) throw new IllegalStateException(s"scripted failure of $key ($sum)")
  }

  val workers: WorkerSet = WorkerSet.empty.register(WorkerClass, (a: String, _: Map[String, String]) => perform(a))
}
