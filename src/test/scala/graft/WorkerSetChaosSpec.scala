package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one WorkerSet behavior the in-JVM serialization round-trip
  * cannot pin: a FRESH executor (joined after the broadcast was
  * created, e.g. a replacement for a crashed one) must re-fetch the
  * broadcast WorkerSet from the driver and dispatch through it. This
  * spec runs a REAL multi-process cluster (`local-cluster[2,1,1024]`:
  * standalone master + 2 worker JVMs + separate executor JVMs) in a
  * spark-shell subprocess, drains one batch, SIGKILLs every executor
  * JVM, lets the standalone worker relaunch replacements, and drains a
  * second batch — asserting (a) zero pending / zero dead-letter rows
  * after both phases (a failed broadcast fetch would dead-letter or
  * wedge the batch) and (b) executor-side evidence files from at least
  * one JVM pid that did not exist in phase 1 (the dispatch really ran
  * on a post-kill executor, driver pid excluded by construction).
  *
  * Needs the installed Spark distribution (the repo's unmanaged
  * classpath); cancels with a documented reason where it is absent
  * rather than failing.
  */
class WorkerSetChaosSpec extends AnyFunSuite {

  test("cluster chaos: dispatch survives executor loss; replacements re-fetch the broadcast WorkerSet") {
    val shell = new java.io.File("/opt/spark/bin/spark-shell")
    assume(shell.canExecute,
      "no Spark distribution at /opt/spark — local-cluster chaos needs the real launcher")
    val classes = new java.io.File(
      classOf[graft.store.QueueStore].getProtectionDomain
        .getCodeSource.getLocation.toURI).getAbsolutePath
    val base = java.nio.file.Paths.get(TestSpark.tmpRoot("ws_chaos"))
    val evDir = base.resolve("ev").toString
    val storeDir = base.resolve("store").toString
    // single-line statements only: -i feeds the REPL line by line
    val script =
      s"""
         |import graft.api.{DefaultQueueApi, JobSpec}
         |import graft.model.PipelineConfig
         |import graft.pipeline.{PipelineRunner, WorkerSet}
         |import graft.store.QueueStore
         |val ws = WorkerSet.empty.register("ChaosEcho", (args, _) => { val d = new java.io.File("$evDir"); d.mkdirs(); new java.io.File(d, "pid-" + java.lang.management.ManagementFactory.getRuntimeMXBean.getName).createNewFile(); () })
         |val store = new QueueStore(spark, "$storeDir")
         |val api = new DefaultQueueApi(store)
         |api.bulkEnqueue("cq", (1 to 30).map(i => JobSpec("ChaosEcho", args = "[" + i + "]")))
         |val runner = new PipelineRunner(store, PipelineConfig("chaos_pipe", "cq", maxDemand = 10, pollIntervalMs = 100), workers = ws)
         |val q = runner.start().get
         |q.processAllAvailable()
         |println("CHAOS1 pending=" + api.pendingJobsCount() + " dead=" + store.deadRows.count())
         |val pids1 = Option(new java.io.File("$evDir").list()).map(_.toSet).getOrElse(Set.empty[String])
         |println("CHAOS1 pids=" + pids1.size)
         |val rc = new ProcessBuilder("pkill", "-9", "-f", "CoarseGrainedExecutorBackend").start().waitFor()
         |println("CHAOS killed rc=" + rc)
         |Thread.sleep(8000)
         |api.bulkEnqueue("cq", (31 to 60).map(i => JobSpec("ChaosEcho", args = "[" + i + "]")))
         |q.processAllAvailable()
         |println("CHAOS2 pending=" + api.pendingJobsCount() + " dead=" + store.deadRows.count())
         |val pids2 = Option(new java.io.File("$evDir").list()).map(_.toSet).getOrElse(Set.empty[String])
         |println("CHAOS2 newpids=" + pids2.diff(pids1).size)
         |runner.stop()
         |System.exit(0)
         |""".stripMargin
    val scriptFile = base.resolve("chaos.scala")
    java.nio.file.Files.write(scriptFile, script.getBytes("UTF-8"))
    val pb = new ProcessBuilder(shell.getAbsolutePath,
      "--master", "local-cluster[2,1,1024]",
      "--conf", "spark.ui.enabled=false",
      "--conf", "spark.sql.shuffle.partitions=4",
      "--conf", s"spark.executor.extraClassPath=$classes",
      "--driver-class-path", classes,
      "-i", scriptFile.toString)
      .redirectErrorStream(true)
    val p = pb.start()
    val outBuf = new StringBuilder
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(p.getInputStream)
      try src.getLines().foreach { l =>
        outBuf.synchronized { outBuf ++= l; outBuf += '\n' } }
      finally src.close()
    })
    reader.setDaemon(true); reader.start()
    val finished = p.waitFor(420, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    reader.join(5000)
    val out = outBuf.synchronized(outBuf.toString)
    def chaosLines = out.linesIterator.filter(_.startsWith("CHAOS")).mkString("\n")
    assert(finished, s"chaos run timed out; CHAOS lines so far:\n$chaosLines")
    // the launcher can fail for environment reasons (no free ports,
    // cgroup limits) before any phase runs — that is a sandbox refusal,
    // not a WorkerSet bug
    assume(out.contains("CHAOS1 "),
      s"local-cluster never reached phase 1 — sandbox refusal. Output tail:\n${out.takeRight(2000)}")
    assert(out.contains("CHAOS1 pending=0 dead=0"),
      s"phase 1 did not drain cleanly:\n$chaosLines")
    assert(out.contains("CHAOS2 pending=0 dead=0"),
      s"post-kill phase did not drain cleanly (broadcast re-fetch or relaunch failed):\n$chaosLines")
    val newPids = """CHAOS2 newpids=(\d+)""".r.findFirstMatchIn(out)
      .map(_.group(1).toInt)
      .getOrElse(fail(s"no CHAOS2 newpids line:\n$chaosLines"))
    assert(newPids >= 1,
      s"phase 2 dispatched on no fresh executor JVM — the kill did not exercise the re-fetch path:\n$chaosLines")
  }
}
