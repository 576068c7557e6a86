package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (the "TestWithRedis" analog:
  * temp-dir state roots wiped per test instead of a flushed keyspace). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val roots = new ConcurrentLinkedQueue[Path]()
  // every root a spec asked for goes when the (forked) test JVM exits
  sys.addShutdownHook(roots.forEach(r => FileUtils.deleteQuietly(r.toFile)))

  /** A fresh temp dir that outlives the spec but not the test run. */
  def tmpRoot(prefix: String): String = {
    val root = Files.createTempDirectory(prefix)
    roots.add(root)
    root.toString
  }

  /** Delete `dir`, made by the code under test, with the tmpRoot dirs. */
  def deleteAtExit(dir: String): String = {
    roots.add(Paths.get(dir))
    dir
  }

  private val JobTag = "graft.spec.jobTag"

  /** Spark jobs `body` launches. Jobs are tagged through a thread-local
    * property (inherited by broadcast and AQE stage jobs); a sentinel
    * job after the body marks the end, and since the listener bus
    * delivers in order, every earlier job start has been seen once the
    * sentinel's has. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, tag)
      val a = try body finally sc.setLocalProperty(JobTag, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(s"$tag-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "sentinel job never reached the listener")
      (a, seen.toArray.count(_ == tag))
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(listener)
    }
  }
}

/** Executor-visible buffers for echo workers (local mode = same JVM). */
object Buffers {
  val echo = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val ctx = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
  val bulk = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  def clear(): Unit = { echo.clear(); ctx.clear(); bulk.clear() }
}
