package graft
import java.nio.file.{Files, Paths}

/** Dev-loop helper: dump oracle_sql.json WITHOUT running any Spark query
  * (the registry is a pure map), so tools/oracle_check.py can budget and
  * replay the DuckDB side of the contract in seconds. */
object DumpOracles {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)),
      queries.OracleJson.obj(SparkEntry.oracleSql))
}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter]
    // The optional filter is a dev-loop accelerator (re-verify just the
    // queries under work); the driver's 2-arg invocation dumps all.
    val (sfDir, outDir) = (args(0), args(1))
    val onlyQueries: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are persisted to _errors.json, not just stderr: round 9's
    // empty correctness file was unattributable because the only failure
    // record lived in a discarded log stream.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => onlyQueries.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = e.toString.take(500)
      }
      // queries cache stage-shared frames internally; release them so a
      // 60+-query run doesn't accumulate executor storage
      spark.catalog.clearCache()
    }
    // strict JSON escaping lives in OracleJson (shared with the
    // OracleGuardSpec local guard so both emit identical bytes)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      queries.OracleJson.obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      queries.OracleJson.obj(errors))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
