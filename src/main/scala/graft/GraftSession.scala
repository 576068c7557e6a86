package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe every harness main (Bench, QueryProbe,
  * Verify, HostProbe, IngestBench) and the test suite build from, so a
  * setting can never drift between the bench that times a plan and the
  * spec that pins it. `cpus` is the scheduler width and the shuffle
  * partition count. Sessions read `ts` through the schema adapter
  * (queries/QueryDef.scala): `nanosAsLong` keeps epoch-ns fixtures
  * readable and the UTC zone makes the µs TIMESTAMP_NTZ path exact.
  * Callers set their own log level. */
object GraftSession {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
