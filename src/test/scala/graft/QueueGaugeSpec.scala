package graft

import scala.collection.mutable

import graft.TestSpark.jobsOf
import graft.api.{DefaultQueueApi, JobSpec}
import graft.store.QueueStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The queue gauges (`jobCounts`, `pendingJobsCount`) answer from the
  * store's per-file memo: pinned in Spark jobs (0 on an unchanged
  * store, at most 1 after appends) and for exactness against a ledger
  * of what the test wrote and against the in-flight count computed the
  * old way (`liveProcessing` + `countDistinct`), through every path
  * that removes files from a listing. */
class QueueGaugeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A store plus a ledger of every queue row, claim and ack written
    * through it, the ground truth the gauges must match. */
  private class Ledger(val store: QueueStore) {
    val api = new DefaultQueueApi(store)
    private val enqueued = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val claims = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    private val acked = mutable.Set.empty[String]

    def enqueue(q: String, n: Int): Seq[String] = {
      val jids = api.bulkEnqueue(q, (1 to n).map(i => JobSpec("W", args = s"[$i]")))
      synchronized(enqueued(q) += n)
      jids
    }

    /** The engine's claim shape: id jid:batch, the copy's source file. */
    private def claimRows(q: String, batch: Int, jids: Seq[String]) =
      store.queueRows(q).where(col("jid").isin(jids: _*))
        .withColumn("claim_id", concat_ws(":", col("jid"), lit(batch)))
        .withColumn("claimed_at", current_timestamp())
        .withColumn("src_file", regexp_extract(input_file_name(), "[^/]+$", 0))

    /** Claim `jids` as micro-batch `batch`, in `files` part files; a
      * second call with the same arguments is a replay and re-appends
      * the same claim ids. */
    def claim(q: String, batch: Int, jids: Seq[String], files: Int = 1): Unit = {
      store.append(store.processingDir, claimRows(q, batch, jids).repartition(files),
        store.processingSchema)
      synchronized(claims(q) ++= jids.map(j => s"$j:$batch"))
    }

    def ack(q: String, batch: Int, jids: Seq[String]): Unit = {
      store.tombstone("processing", claimRows(q, batch, jids)
        .select(col("claim_id").as("id"), col("queue"), col("src_file")))
      synchronized(acked ++= jids.map(j => s"$j:$batch"))
    }

    /** Every gauge equals the ledger and the old-way in-flight count. */
    def check(queues: Seq[String]): Unit = synchronized {
      val inFlight = claims.values.flatten.toSet -- acked
      assert(store.rawProcessingCounts(queues) ===
        queues.map(q => q -> claims(q).size.toLong).filter(_._2 > 0).toMap)
      assert(api.jobCounts(queues) ===
        queues.map(q => q -> (enqueued(q) - claims(q).size)).toMap)
      assert(api.pendingJobsCount() === inFlight.size)
      assert(api.pendingJobsCount() === oldPending(None))
      queues.foreach { q =>
        assert(api.pendingJobsCount(Seq(q)) === (claims(q) -- acked).size)
        assert(api.pendingJobsCount(Seq(q)) === oldPending(Some(q)))
      }
    }

    private def oldPending(q: Option[String]): Long = {
      val live = store.liveProcessing()
      q.fold(live)(q => live.where(col("queue") === q))
        .select(countDistinct("claim_id")).head().getLong(0)
    }
  }

  private def gaugePair(l: Ledger, q: String): Unit = {
    l.api.jobCounts(Seq(q)); l.api.pendingJobsCount(); ()
  }

  test("a gauge read costs 0 Spark jobs on an unchanged store and at most 1 after appends") {
    val l = new Ledger(new QueueStore(spark, TestSpark.tmpRoot("gauge_jobs")))
    val jids = l.enqueue("gq", 8)
    l.claim("gq", 0, jids.take(5))
    l.ack("gq", 0, jids.take(2))
    l.check(Seq("gq")) // fills the memo
    assert(jobsOf(gaugePair(l, "gq"))._2 === 0)
    assert(jobsOf(gaugePair(l, "gq"))._2 === 0)
    // a processing append and a tombstone append: one scan of both
    l.claim("gq", 1, jids.drop(5))
    l.ack("gq", 0, jids.slice(2, 4))
    assert(jobsOf(gaugePair(l, "gq"))._2 <= 1)
    assert(jobsOf(gaugePair(l, "gq"))._2 === 0)
    l.check(Seq("gq"))
    // a queue append changes only footers: no job
    l.enqueue("gq", 3)
    assert(jobsOf(gaugePair(l, "gq"))._2 === 0)
    l.check(Seq("gq"))
    // more new files than Spark lists on the driver for an explicit
    // path list (32) are still one scan
    val many = l.enqueue("gq", 40)
    val before = l.store.dataFiles(l.store.processingDir).size
    l.claim("gq", 2, many, files = 40)
    assert(l.store.dataFiles(l.store.processingDir).size - before > 32)
    assert(jobsOf(gaugePair(l, "gq"))._2 <= 1)
    l.check(Seq("gq"))
  }

  test("gauges stay exact through replays, compaction, the claim fold, archiving and GC") {
    val l = new Ledger(new QueueStore(spark, TestSpark.tmpRoot("gauge_exact"),
      compactionGraceMs = 0))
    val qs = Seq("xq1", "xq2")
    val a = l.enqueue("xq1", 6)
    val b = l.enqueue("xq2", 4)
    l.claim("xq1", 0, a); l.claim("xq2", 0, b.take(2))
    l.ack("xq1", 0, a.take(4))
    l.check(qs)
    // a replayed micro-batch re-appends the same claim ids
    l.claim("xq1", 0, a)
    l.ack("xq1", 0, a.take(4))
    l.check(qs)
    // compaction supersedes the row files (GC'd at once, grace 0)
    l.store.compactProcessing()
    l.check(qs)
    l.ack("xq1", 0, a.drop(4)); l.ack("xq2", 0, b.take(2))
    l.store.compactProcessing()
    l.check(qs)
    // xq1's file is fully acked: archived; xq2's still has unclaimed rows
    assert(l.store.archiveConsumedAll(qs, olderThanMs = 0) === 1L)
    l.check(qs)
    // the fold absorbs the acks whose rows and source files are gone
    assert(l.store.foldClaimCounters(olderThanMs = 0) > 0L)
    l.check(qs)
    // a second generation folds into a new epoch
    val c = l.enqueue("xq1", 3)
    l.claim("xq1", 1, c); l.claim("xq2", 1, b.drop(2))
    l.check(qs)
    l.ack("xq1", 1, c)
    l.store.compactProcessing()
    assert(l.store.archiveConsumedAll(qs, olderThanMs = 0) === 1L)
    assert(l.store.foldClaimCounters(olderThanMs = 0) > 0L)
    l.check(qs)
  }

  test("gauges read mid-flight converge to exact once a concurrent writer stops") {
    val l = new Ledger(new QueueStore(spark, TestSpark.tmpRoot("gauge_conc")))
    val qs = Seq("cq1", "cq2")
    @volatile var failure: Option[Throwable] = None
    val writer = new Thread(() =>
      try (0 until 6).foreach { i =>
        val q = qs(i % 2)
        val js = l.enqueue(q, 3)
        l.claim(q, i, js.take(2))
        l.ack(q, i, js.take(1))
      } catch { case t: Throwable => failure = Some(t) }, "gauge-writer")
    writer.start()
    while (writer.isAlive) {
      // a read between two appends may lag them, but never goes negative
      assert(l.api.jobCounts(qs).values.forall(_ >= 0))
      assert(l.api.pendingJobsCount() >= 0)
    }
    writer.join()
    failure.foreach(throw _)
    l.check(qs)
    assert(jobsOf(gaugePair(l, "cq1"))._2 === 0)
  }
}
