package graft

import graft.operators.CurationRun
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The assembled pipeline must agree with the oracle-checked queries it
  * is built from, stage by stage — and resume for free. */
class CurationRunSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val out = {
    val d = TestSpark.tmpRoot("curation_run")
    (d, CurationRun.run(spark, sf, d))
  }

  test("report is internally consistent and attrition is monotone") {
    val (_, r) = out
    assert(r.consistent, s"report inconsistent: $r")
    assert(r.nInput > 0 && r.nFinalTrain > 0)
    assert(r.nQualityFail >= 0 && r.nNearDupDropped >= 0 && r.nContaminated >= 0)
  }

  test("stage 1 survivors equal the rule funnel's stage-4 output") {
    val (dir, r) = out
    val funnelOut = SparkEntry.queries("t_rule_funnel")(spark, sf).collect()
      .find(_.getAs[Int]("stage") == 4).get.getAs[Long]("n_out")
    assert(r.nInput - r.nQualityFail == funnelOut)
    assert(spark.read.parquet(s"$dir/stage1_clean/documents.parquet").count()
      == funnelOut)
  }

  test("near-dup drops equal the survivor election run on the staged dir") {
    val (dir, r) = out
    // dedup_keep_best is dir-parameterized — point the ORACLE-CHECKED
    // query at the run's own stage-1 output
    val expected = SparkEntry.queries("dedup_keep_best")(
      spark, s"$dir/stage1_clean").collect()
      .map(_.getAs[Int]("n_members").toLong - 1).sum
    assert(r.nNearDupDropped == expected)
  }

  test("final outputs: split partitioning, manifest parity, no contaminated train doc") {
    val (dir, r) = out
    val fin = spark.read.parquet(s"$dir/final")
    assert(fin.count() == r.nFinalTrain + r.nVal + r.nTest)
    val bySplit = fin.groupBy("split").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySplit("train") == r.nFinalTrain)
    assert(bySplit.getOrElse("val", 0L) == r.nVal)
    assert(bySplit.getOrElse("test", 0L) == r.nTest)
    assert(new java.io.File(s"$dir/final/split=train").isDirectory)
    val manifest = spark.read.parquet(s"$dir/manifest.parquet")
    assert(manifest.count() == fin.count())
    assert(manifest.select("shard").distinct().collect()
      .forall(x => { val v = x.getInt(0); v >= 0 && v < 16 }))
    // re-derive contamination on the staged dir: none of those ids may
    // survive in the final train split
    val contamIds = graft.queries.DedupQueries.decontaminateGrams(
      spark, s"$dir/stage2_deduped")
      .where(col("n_shared") * 5 >= col("n_grams"))
      .select("doc_id")
    assert(fin.where(col("split") === "train")
      .join(contamIds, Seq("doc_id"), "left_semi").count() == 0,
      "a contaminated doc leaked into the final train split")
  }

  test("crash recovery: a partial stage (no _SUCCESS) is rebuilt, not trusted") {
    val dir = TestSpark.tmpRoot("curation_crash")
    // simulate a run that died mid-stage-1: directory exists, data is
    // garbage, no _SUCCESS marker
    val partial = new java.io.File(s"$dir/stage1_clean/documents.parquet")
    partial.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(partial.getPath, "part-00000.parquet"),
      "not parquet".getBytes)
    val r = CurationRun.run(spark, sf, dir)
    assert(r.consistent, "recovery run must produce a consistent report")
    val (_, clean) = out
    assert(r == clean, "recovered report must equal an uncrashed run's")
  }

  test("resume: a second run skips completed stages and reproduces the report") {
    val (dir, r) = out
    val marker = new java.io.File(s"$dir/stage1_clean/documents.parquet/_SUCCESS")
    val before = marker.lastModified()
    val r2 = CurationRun.run(spark, sf, dir)
    assert(r2 == r, "resumed run must reproduce the report")
    assert(marker.lastModified() == before, "completed stage must not rerun")
  }

  test("resume after a COMPLETED run is a stage-3 no-op: final outputs byte-untouched") {
    val (dir, r) = out
    // a rewrite would emit NEW part-file UUIDs — the exact file listing
    // (names + sizes + mtimes) is therefore a recompute detector for
    // stage 3's split/decontaminate/final/manifest work
    def listing(root: String): Set[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .map(f => (f.getPath, f.length(), f.lastModified())).toSet
    }
    val before = listing(s"$dir/final") ++ listing(s"$dir/manifest.parquet")
    val r2 = CurationRun.run(spark, sf, dir)
    assert(r2 == r, "no-op resume must return the persisted report")
    val after = listing(s"$dir/final") ++ listing(s"$dir/manifest.parquet")
    assert(after == before,
      "stage 3 re-ran on a completed run — final outputs were rewritten")
  }

  test("shard layout: the record rides the run; a resume refuses a mismatch or a lost record") {
    val (dir, _) = out
    assert(CurationRun.layoutShards(spark, dir) == CurationRun.DefaultShards)
    // a resume asking a different manifest-shard count must refuse —
    // silently returning the 16-shard manifest as if it were 64 desyncs
    // loader-side pruning
    val e = intercept[IllegalArgumentException] {
      CurationRun.run(spark, sf, dir, nShards = 64)
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
    // a LOST record refuses too (a fallback default would route delta
    // manifest rows with the wrong modulus on any non-default run)
    val d2 = TestSpark.tmpRoot("curation_lost")
    CurationRun.run(spark, sf, d2)
    assert(new java.io.File(s"$d2/_layout").delete())
    val e2 = intercept[IllegalArgumentException] {
      CurationRun.layoutShards(spark, d2)
    }
    assert(e2.getMessage.contains("_layout"), e2.getMessage)
  }

  test("crash AFTER stage 3's outputs but before the report marker re-runs stage 3 only") {
    // the report parquet is the stage-3 _SUCCESS: if the run died
    // between the final writes and the report write, the gate must NOT
    // trust the (possibly partial) final outputs
    val (srcDir, r) = out
    val dir = TestSpark.tmpRoot("curation_post3")
    // stage 1+2 completed; stage-3 outputs present but UNMARKED
    def cp(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(to, src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    cp(s"$srcDir/stage1_clean", s"$dir/stage1_clean")
    cp(s"$srcDir/stage2_deduped", s"$dir/stage2_deduped")
    cp(s"$srcDir/final", s"$dir/final")
    cp(s"$srcDir/manifest.parquet", s"$dir/manifest.parquet")
    // no report.parquet → stage 3 must re-execute (idempotent overwrite)
    val r2 = CurationRun.run(spark, sf, dir)
    assert(r2 == r, "re-run of the unmarked stage 3 must reproduce the report")
    assert(new java.io.File(s"$dir/report.parquet/_SUCCESS").exists(),
      "the re-run must land the stage-3 marker")
  }
}
