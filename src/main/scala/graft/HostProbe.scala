package graft

import org.apache.spark.sql.SparkSession

/** Cheap host-health probe for bench certification (~40 s vs the
  * 25-minute full Bench run): measures the SAME two yardsticks Bench
  * embeds in BENCH.json — the CPU-spin pair (single-thread +
  * all-threads wall) and the empty-job scheduler round-trip median —
  * and prints one JSON line with a go/no-go verdict against the same
  * pinned canonical-host anchors ([[Bench.CanonicalMtRefSec]],
  * [[Bench.CanonicalJobLatMs]]). Run this FIRST; fire the certified
  * bench only on "healthy": the r16 session burned three blind
  * 25-minute runs on a host whose scheduler latency (98–190 ms
  * round-trips, healthy 10–30 ms) was invisible until measured.
  *
  * The probe primitives are shared with [[Bench]], [[IngestBench]]
  * and [[QueryProbe]], and the band-suspect flag with the first two,
  * so every committed artifact carries the same hardware yardstick.
  */
object HostProbe {
  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L; var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** (single-thread, all-threads-wall) CPU-spin seconds — the Bench
    * probe pair, JIT-warmed. */
  def cpuProbes(): (Double, Double) = {
    spin(20000000L) // JIT warm
    val t0 = System.nanoTime(); spin(200000000L)
    val st = (System.nanoTime() - t0) / 1e9
    val n = Runtime.getRuntime.availableProcessors()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val t1 = System.nanoTime()
    val fs = (1 to n).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = spin(200000000L)
    }))
    fs.foreach(_.get())
    pool.shutdown()
    (st, (System.nanoTime() - t1) / 1e9)
  }

  /** Median (and p90) empty-job round-trip over 30 `range(1).count()`
    * jobs after a 5-job scheduler warm — the contention axis the
    * CPU-spin pair cannot see. */
  def jobProbeMs(spark: SparkSession): (Double, Double) = {
    (1 to 5).foreach(_ => spark.range(1).count())
    val ls = (1 to 30).map { _ =>
      val s = System.nanoTime(); spark.range(1).count()
      (System.nanoTime() - s) / 1e6
    }.sorted
    (ls(ls.size / 2), ls((ls.size * 9) / 10))
  }

  /** The band-suspect flag every bench artifact carries: the
    * all-threads spin more than 25% off [[Bench.CanonicalMtRefSec]]
    * either way, or the empty-job median past 2.5x
    * [[Bench.CanonicalJobLatMs]]. */
  private[graft] def bandSuspect(mt: Double, jobMs: Double): Boolean =
    math.max(mt, Bench.CanonicalMtRefSec) /
      math.min(mt, Bench.CanonicalMtRefSec) > 1.25 ||
      jobMs > Bench.CanonicalJobLatMs * 2.5

  def main(args: Array[String]): Unit = {
    val (st, mt) = cpuProbes()
    // the scheduler width of the Bench run this probe certifies
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (jobMs, jobP90) = jobProbeMs(spark)
    spark.stop()
    val mtOk =
      math.max(mt, Bench.CanonicalMtRefSec) /
        math.min(mt, Bench.CanonicalMtRefSec) <= 1.25
    val jobOk = jobMs < 40.0 // NOTES/VERDICT fire-when threshold
    def r3(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"probe":"host","cpu_probe_st_sec":${r3(st)},"cpu_probe_mt_sec":${r3(mt)},"job_probe_ms":${r3(jobMs)},"job_probe_p90_ms":${r3(jobP90)},"mt_ok":$mtOk,"job_ok":$jobOk,"healthy":${mtOk && jobOk}}""")
  }
}
