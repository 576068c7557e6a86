package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Delta-ingest micro-benchmark — the operator-side ruler the registry
  * bench cannot provide (registry queries re-derive delta semantics
  * under the DuckDB oracle; this times the OPERATOR: CurationRun +
  * buildIndex, then N sequential ingestKeyed batches + a readFinal
  * fold). Prints one JSON line, same contract as [[Bench]]. Used to
  * adjudicate delta-family changes (the r16 localCheckpoint→MatScope
  * conversion) against a fixed workload.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS,
  * GRAFT_INGEST_BATCHES (default 5), GRAFT_INGEST_BATCH_DOCS (60). */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nBatches = sys.env.getOrElse("GRAFT_INGEST_BATCHES", "5").toInt
    val batchDocs = sys.env.getOrElse("GRAFT_INGEST_BATCH_DOCS", "60").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t = java.nio.file.Files.createTempDirectory("ingest_bench").toString
    def sec(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    try {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$t/in/documents.parquet")
      val buildSec = sec {
        operators.CurationRun.run(spark, s"$t/in", s"$t/out")
        operators.DeltaIngest.buildIndex(spark, s"$t/out")
      }
      // 30 globally-unique 5-char words per doc — gate-passing (n=30,
      // TTR=1, avg word length 5), the DeltaIngestSpec convention
      def words(id: Long) = (0 until 30).map { j =>
        val w = java.lang.Long.toString(id * 32 + j, 36)
        "0" * (5 - w.length max 0) + w
      }
      val batches = (0 until nBatches).map { b =>
        (0 until batchDocs).map { k =>
          val id = 900000L + b * 10000 + k
          val text = words(id).mkString(" ")
          (id, text, "en", "web", text.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .localCheckpoint(true) // input materialized: time the OPERATOR
      }
      var appended = 0L
      val perBatch = batches.zipWithIndex.map { case (d, i) =>
        sec { appended +=
          operators.DeltaIngest.ingestKeyed(spark, d, s"$t/out", s"ib-$i").nAppended }
      }
      val foldSec = sec {
        operators.DeltaIngest.readFinal(spark, s"$t/out")
          .write.format("noop").mode("overwrite").save()
      }
      def r3(v: Double) =
        BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
      // the artifact carries its own hardware yardstick (the Bench
      // convention): per-batch ingest numbers from a latency-sick host
      // (r16: 98–190 ms empty-job round-trips vs ~20 ms healthy) are
      // not comparable across rounds without it
      val (st, mt) = HostProbe.cpuProbes()
      val (jobMs, _) = HostProbe.jobProbeMs(spark)
      val bandSuspect = HostProbe.bandSuspect(mt, jobMs)
      val json = s"""{"metric":"ingest_bench","build_sec":${r3(buildSec)},""" +
        s""""ingest_total_sec":${r3(perBatch.sum)},""" +
        s""""ingest_per_batch_sec":[${perBatch.map(r3).mkString(",")}],""" +
        s""""read_final_sec":${r3(foldSec)},"n_batches":$nBatches,""" +
        s""""batch_docs":$batchDocs,"n_appended":$appended,""" +
        s""""cpu_probe_st_sec":${r3(st)},"cpu_probe_mt_sec":${r3(mt)},""" +
        s""""job_probe_ms":${r3(jobMs)},"band_suspect":$bandSuspect,""" +
        s""""sf":"$sfDir"}"""
      // persist next to BENCH.json so every certified session commits
      // the delta-ingest trend row alongside the query-bench artifact
      try {
        val w = new java.io.PrintWriter(
          Bench.benchJsonPath.resolveSibling("INGEST.json").toFile)
        try w.println(json) finally w.close()
      } catch { case _: Throwable => () }
      spark.stop()
      Thread.sleep(300)
      System.out.flush(); System.err.flush()
      println(json)
    } finally {
      val p = new org.apache.hadoop.fs.Path(t)
      p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    }
  }
}
