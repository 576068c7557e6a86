package graft


/** Targeted per-query measurement + plan capture for optimization work.
  *
  * Reproduces Bench's environment exactly (same session config, same
  * relayout, same noop sink, per-query warmup, min-of-N with cleared
  * caches) but runs ONLY the queries named on the command line, so an
  * A/B of one optimization costs seconds, not a 25-minute full run.
  * Also embeds the HostProbe yardsticks so every reading carries its
  * own band evidence.
  *
  * Usage: runMain graft.QueryProbe [--samples N] [--plans OUTDIR] q1 q2 ...
  *   --plans OUTDIR  additionally writes each query's
  *                   .explain("formatted") to OUTDIR/<name>.txt
  *                   (constructing some query plans runs their internal
  *                   materialization jobs — that is the cost of a
  *                   faithful final-plan capture).
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    var samples = 3
    var plansDir: Option[String] = None
    var traceJobs = false
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--samples" => samples = args(i + 1).toInt; i += 2
        case "--plans" => plansDir = Some(args(i + 1)); i += 2
        case "--jobs" => traceJobs = true; i += 1
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Per-job tracing: wall time between job start/end plus the summed
    // executor task time — the gap between (wall × cores) and task time
    // is scheduler/driver overhead, the axis the optimization guide says
    // to separate from compute before touching anything.
    if (traceJobs) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          private val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
          private val nTasks = new java.util.concurrent.atomic.AtomicInteger(0)
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
            t0.put(js.jobId, (System.nanoTime(), desc))
            taskMs.set(0); nTasks.set(0)
          }
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            if (te.taskMetrics != null) {
              taskMs.addAndGet(te.taskMetrics.executorRunTime)
              nTasks.incrementAndGet()
            }
            ()
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val rec = Option(t0.remove(je.jobId))
            val wallMs = rec.map(r => (System.nanoTime() - r._1) / 1e6).getOrElse(-1.0)
            System.err.println(
              f"[job] id=${je.jobId}%-4d wall=${wallMs}%8.1fms taskSum=${taskMs.get}%6dms tasks=${nTasks.get}%4d desc=${rec.map(_._2).getOrElse("")}")
          }
        })
    }
    val (st, mt) = HostProbe.cpuProbes()
    val (benchDir, _) = Relayout.spreadUnsplittable(spark, sfDir)
    val (jobMs, _) = HostProbe.jobProbeMs(spark)
    def r3(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    System.err.println(
      s"[probe] st=${r3(st)} mt=${r3(mt)} job_ms=${r3(jobMs)}")
    val reg = SparkEntry.queries
    val out = names.map { name =>
      val fn = reg.getOrElse(name,
        sys.error(s"unknown query '$name' — not in SparkEntry.queries"))
      def run(): Double = {
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"probe: $name")
        fn(spark, benchDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      run() // warmup (unmeasured)
      val ts = (1 to samples).map(_ => run())
      plansDir.foreach { d =>
        val dir = new java.io.File(d); dir.mkdirs()
        val plan = fn(spark, benchDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        spark.catalog.clearCache()
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"))
        try w.println(plan) finally w.close()
      }
      System.err.println(
        s"[probe] $name min=${r3(ts.min)} all=${ts.map(r3).mkString("/")}")
      name -> ts.min
    }
    val qs = out.map { case (k, v) => s"\"$k\":${r3(v)}" }.mkString("{", ",", "}")
    spark.stop()
    Thread.sleep(300)
    println(s"""{"probe":"query","queries":$qs,"cpu_probe_st_sec":${r3(st)},"cpu_probe_mt_sec":${r3(mt)},"job_probe_ms":${r3(jobMs)},"sf":"$sfDir"}""")
  }
}
