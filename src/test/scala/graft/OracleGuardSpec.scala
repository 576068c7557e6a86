package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The oracle-cost + oracle-agreement gate (the r10 lesson, twice over).
  *
  * r10's driver correctness file came back EMPTY because ONE oracle
  * (dedup_rank_propagate before `AS MATERIALIZED`) re-inlined its shared
  * CTEs into six rank rounds: >20 min in DuckDB on a 500-doc corpus,
  * silently eating the driver's whole correctness budget. Nothing in
  * `sbt test` bounded the DuckDB-side cost of a builder-authored oracle —
  * the engine was 128/128 correct and the round still scored zero
  * correctness rows.
  *
  * This suite closes that hole locally:
  *  1. every registered oracle must complete under a per-query DuckDB
  *     budget on sf0.001;
  *  2. the guard itself is proven able to catch the r10 failure mode
  *     (the de-materialized rank oracle must trip the timeout);
  *  3. the two heaviest cross-engine graph contracts (rank propagation,
  *     cluster resolution) are replayed END-TO-END — Spark result vs
  *     DuckDB oracle, exact — instead of being driver-only checks.
  *
  * Cancels (not fails) when python3+duckdb aren't installed: the guard
  * is a dev/CI fixture mirroring the driver's own oracle runner, never
  * a library dependency.
  */
class OracleGuardSpec extends AnyFunSuite {
  private val SfDir = "/root/testdata/sf0.001"
  private val Tool = "tools/oracle_check.py"

  private lazy val duckdbAvailable: Boolean =
    // pandas too: oracle_check's fetchdf()/norm() needs it and it is
    // NOT a duckdb dependency — probing duckdb alone would turn a
    // missing-pandas machine into 3 failures instead of a cancel
    scala.util.Try(Seq("python3", "-c", "import duckdb, pandas").! == 0)
      .getOrElse(false)

  private def checkEnv(): Unit = {
    assume(duckdbAvailable, "python3+duckdb not available (driver-side fixture)")
    assume(Files.exists(Paths.get(SfDir)), s"$SfDir fixture missing")
  }

  /** Run the guard tool; returns (exitCode, combined output). */
  private def runTool(args: Seq[String]): (Int, String) = {
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'),
      l => out.append(l).append('\n'))
    val code = (Seq("python3", Tool) ++ args).!(logger)
    (code, out.toString)
  }

  private def dumpOracles(oracles: Map[String, String]): String = {
    val f = Paths.get(TestSpark.tmpRoot("oracles"), "oracles.json")
    Files.writeString(f, queries.OracleJson.obj(oracles))
    f.toString
  }

  test("every registered oracle completes within the per-query DuckDB budget") {
    checkEnv()
    val json = dumpOracles(SparkEntry.oracleSql)
    // 60 s: the heaviest honest oracles (the dedup_clusters* family's
    // shared md5-shingle LSH prefix) run ~7 s on an idle host but were
    // measured at 17-30+ s when the suite's Spark JVM loads the same
    // box (one flake at 30 s, r13). The failure mode this guards is a
    // PLAN-TIME blowup measured in minutes (the r10 zeroed round), so
    // doubling the budget keeps the guard's teeth without tripping on
    // load variance.
    val (code, out) = runTool(Seq(SfDir, json, "--timeout", "60"))
    assert(code === 0, s"oracle budget violated:\n$out")
  }

  test("the guard catches the r10 failure mode: a de-materialized chained-CTE oracle") {
    checkEnv()
    val fixed = SparkEntry.oracleSql("dedup_rank_propagate")
    assert(fixed.contains(" AS MATERIALIZED ("),
      "rank oracle must carry the MATERIALIZED hint (the r10 fix)")
    // strip the hint → DuckDB re-inlines the LSH pipeline into every
    // rank round (measured >20 min at sf0.001); the guard must trip
    val inlined = fixed.replace(" AS MATERIALIZED (", " AS (")
    val json = dumpOracles(Map("dedup_rank_propagate" -> inlined))
    val (code, out) = runTool(Seq(SfDir, json, "--timeout", "5"))
    assert(code !== 0, "inlined rank oracle unexpectedly fit the budget")
    assert(out.contains("TIMEOUT dedup_rank_propagate"), s"unexpected output:\n$out")
  }

  test("heaviest graph contracts replay exactly: spark vs oracle on rank + clusters") {
    checkEnv()
    val spark = TestSpark.spark
    val outDir = TestSpark.tmpRoot("graph-oracle")
    val names = Seq("dedup_rank_propagate", "dedup_clusters")
    names.foreach { n =>
      SparkEntry.queries(n)(spark, SfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
    }
    spark.catalog.clearCache()
    val json = dumpOracles(names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    val (code, out) = runTool(
      Seq(SfDir, json, "--timeout", "60", "--compare", outDir))
    assert(code === 0, s"graph-oracle agreement broken:\n$out")
    names.foreach(n => assert(out.contains(s"ok $n"), s"missing ok row for $n:\n$out"))
  }
}
