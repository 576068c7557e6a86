package jobbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload against the program's
  * public entry points and writes one JSON result object to `--result`:
  * the end-to-end metrics with `--trace 0`, the per-layer metrics of a
  * traced run with `--trace 1`. */
object Main {
  val Workloads: Map[String, Ctx => Record] = Map(
    "drain" -> Drain.run, "steady" -> Steady.run, "retry" -> Retry.run, "ingest" -> Ingest.run)

  /** Per-layer metrics every traced run reports; a layer the workload
    * leaves idle reads 0. */
  val PerLayer: Seq[String] = Seq(
    "pipeline.triggers", "pipeline.spark_jobs_per_trigger", "pipeline.task_ms_per_trigger",
    "pipeline.rows_read_per_job", "pipeline.batch_ms_per_trigger",
    "pipeline.source_ms_per_trigger", "pipeline.commit_ms_per_trigger",
    "pipeline.planning_ms_per_trigger", "pipeline.wait_ms_p50", "pipeline.service_ms_p50",
    "pipeline.worker_busy_share",
    "api.enqueue.spark_jobs_per_call", "api.enqueue.task_ms_per_call",
    "api.enqueue.files_per_call", "api.gauge.spark_jobs_per_call", "api.gauge.task_ms_per_call",
    "scheduler.tick_ms_p50", "scheduler.spark_jobs_per_empty_tick",
    "scheduler.spark_jobs_per_busy_tick", "scheduler.promoted_rows",
    "scheduler.empty_tick_share",
    "store.queue_files", "store.files_written", "store.disk_mb", "store.tombstone_rows",
    "store.dead_rows",
    "operators.ingest.spark_jobs_per_batch", "operators.ingest.task_ms_per_batch",
    "operators.ingest.shuffle_mb_per_batch", "operators.ingest.files_written_per_batch",
    "operators.probe.spark_jobs_per_call") ++
    Tracer.Layers.map(l => s"$l.self_share") ++
    Seq("trace.spans", "trace.headline_ms",
      "host.cpu_probe_st_s", "host.cpu_probe_mt_s", "host.job_probe_ms")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val threads = Runtime.getRuntime.availableProcessors()
    val spark = session(work, threads)
    try {
      val tr = new Tracer(spark, s"$workload-$seed", enabled = trace)
      val rec = run(new Ctx(spark, work.resolve("state"), seed, a("seconds").toDouble, tr,
        threads))
      Queue.log("workload done")
      val e2e = endToEnd(rec, retainedHeapMb())
      val layers =
        if (!trace) Map.empty[String, Double]
        else {
          tr.finish()
          val (m, spans) = tr.layerMetrics(rec.calls.asScala.toSeq, k => Option(rec.due.get(k)),
            rec.queries.asScala.toSet, derived(rec))
          Tracer.writeSpans(Paths.get(a("spans")), spans)
          m + ("trace.headline_ms" -> headlineMs(workload, e2e))
        }
      // the host yardstick, recorded and never gated on; the empty-job
      // probe takes about 4 s, so only traced runs pay for it
      Queue.log("probing host")
      val (st, mt) = graft.HostProbe.cpuProbes()
      val host = Map("host.cpu_probe_st_s" -> st, "host.cpu_probe_mt_s" -> mt) ++
        (if (trace) Map("host.job_probe_ms" -> graft.HostProbe.jobProbeMs(spark)._1) else Nil)
      println("host " + Json.value(host))

      val attempted = rec.attempted.get
      val failed = rec.failed.get
      rec.problems.asScala.foreach(p => System.err.println(s"FAILED: $p"))
      println(summary(workload, rec, e2e, attempted, failed))
      val metrics =
        if (!trace) e2e
        else {
          val all = layers ++ host
          PerLayer.map(k => k -> (all.getOrElse(k, 0.0), unit(k))).toMap
        }
      val result = Json.obj(Seq(
        "correct" -> (failed == 0),
        "attempted" -> math.max(1L, attempted),
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
      Files.write(Paths.get(a("result")), result.getBytes("UTF-8"))
      Queue.log("result written")
    } finally spark.stop()
  }

  def session(work: Path, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("jobbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections, in MB: the least of three,
    * since Spark's cleaner frees what the first collection makes
    * unreachable only after it has run. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  def endToEnd(r: Record, heapMb: Double): Map[String, (Double, String)] = {
    def s(q: java.util.concurrent.ConcurrentLinkedQueue[Double]) = q.asScala.toSeq
    Map(
      "setup_s" -> (Stats.median(s(r.setupS)), "s"),
      "items_per_s" -> (Stats.median(s(r.itemsPerS)), "1/s"),
      "item_latency_ms_p50" -> (Stats.median(s(r.itemLatMs)), "ms"),
      "item_latency_ms_tail" -> (Stats.tail(s(r.itemLatMs)), "ms"),
      "write_ms_p50" -> (Stats.median(s(r.writeMs)), "ms"),
      "write_ms_tail" -> (Stats.tail(s(r.writeMs)), "ms"),
      "read_ms_p50" -> (Stats.median(s(r.readMs)), "ms"),
      "retained_heap_mb" -> (heapMb, "MB"))
  }

  /** The figure tracing overhead is judged on, in ms: what each
    * workload exists to measure. The traced run reports it as
    * `trace.headline_ms`; against the same figure from untraced runs it
    * gives the overhead. */
  def headlineMs(workload: String, m: Map[String, (Double, String)]): Double = workload match {
    case "drain" | "retry" => 1000.0 / m("items_per_s")._1
    case "steady" => m("item_latency_ms_p50")._1
    case _ => m("write_ms_p50")._1
  }

  /** Ratios of the workload's own counts. */
  def derived(r: Record): Map[String, Double] = {
    val x = r.extra.asScala.toMap
    def g(k: String) = x.getOrElse(k, 0.0)
    def per(a: Double, n: Double) = if (n == 0) 0.0 else a / n
    x.filter { case (k, _) => PerLayer.contains(k) } ++ Map(
      "api.enqueue.files_per_call" -> per(g("enqueue_files"), g("enqueue_calls")),
      "scheduler.empty_tick_share" -> per(g("scheduler.empty_ticks"), g("scheduler.ticks")),
      "operators.ingest.files_written_per_batch" ->
        per(g("operators.ingest.files_written"), g("operators.ingest.batches")))
  }

  def unit(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb") || k.contains("_mb_")) "MB"
    else if (k.endsWith("_share")) "ratio"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("per_sec")) "1/s"
    else "count"

  def summary(workload: String, r: Record, e2e: Map[String, (Double, String)],
      attempted: Long, failed: Long): String = {
    val lat = r.itemLatMs.size
    val wr = r.writeMs.size
    s"$workload: " + e2e.toSeq.sortBy(_._1).map { case (k, (v, u)) => f"$k=$v%.4g $u" }
      .mkString(", ") +
      f"; item tail = p${100 * Stats.tailQ(lat)}%.0f of $lat, write tail = p${100 * Stats.tailQ(wr)}%.0f of $wr" +
      r.extra.asScala.toSeq.filter(x => x._1.startsWith("load.") || x._1.contains("backlog"))
        .sortBy(_._1).map { case (k, v) => f"; $k=$v%.4g" }.mkString +
      s"; error_rate=${if (attempted == 0) 0.0 else failed.toDouble / attempted} ($failed of $attempted)"
  }
}
