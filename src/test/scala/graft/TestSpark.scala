package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.commons.io.FileUtils
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
}

/** Executor-visible buffers for echo workers (local mode = same JVM). */
object Buffers {
  val echo = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val ctx = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
  val bulk = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  def clear(): Unit = { echo.clear(); ctx.clear(); bulk.clear() }
}
