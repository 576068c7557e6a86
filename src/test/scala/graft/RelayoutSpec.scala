package graft

import org.scalatest.funsuite.AnyFunSuite

/** Relayout = the bench-side ingest compaction for unsplittable
  * single-row-group fixture files. Pins: content identity, spread
  * parallelism, pass-through of well-laid-out tables, and stamp reuse.
  */
class RelayoutSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Relayout.spreadUnsplittable; its spread copy (a fixed /tmp path
    * per source dir) goes with the test run's temp dirs. */
  private def spreadCopy(src: String): (String, Double) = {
    val (out, sec) = Relayout.spreadUnsplittable(spark, src)
    (TestSpark.deleteAtExit(out), sec)
  }

  private def writeSingleFile(dir: java.io.File, name: String, n: Int): Unit = {
    // coalesce(1) → one part file, one row group → unsplittable
    val tmp = new java.io.File(dir, s"_stage_$name")
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(
      part.toPath, new java.io.File(dir, s"$name.parquet").toPath)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(tmp)
  }

  test("unsplittable table is spread multi-file with identical content") {
    val src = new java.io.File(TestSpark.tmpRoot("relayout-src"))
    writeSingleFile(src, "t1", 1000)
    val (outDir, sec) = spreadCopy(src.getAbsolutePath)
    assert(outDir != src.getAbsolutePath)
    assert(sec >= 0.0)
    val spread = spark.read.parquet(s"$outDir/t1.parquet")
    assert(spread.rdd.getNumPartitions > 1, "spread copy must be splittable")
    val a = spark.read.parquet(s"$src/t1.parquet").collect().map(_.toSeq).toSet
    val b = spread.collect().map(_.toSeq).toSet
    assert(a == b, "relayout must not change content")
  }

  test("second call reuses the stamped copy; source touch rebuilds") {
    val src = new java.io.File(TestSpark.tmpRoot("relayout-reuse"))
    writeSingleFile(src, "t1", 100)
    val (out1, _) = spreadCopy(src.getAbsolutePath)
    val stamp = new java.io.File(out1, "_GRAFT_SPREAD_DONE")
    val stampT = stamp.lastModified()
    val (out2, _) = spreadCopy(src.getAbsolutePath)
    assert(out1 == out2)
    assert(stamp.lastModified() == stampT, "fresh copy must be reused, not rebuilt")
    // a newer source invalidates the stamp
    val tbl = new java.io.File(src, "t1.parquet")
    assert(tbl.setLastModified(stamp.lastModified() + 2000))
    val (_, _) = spreadCopy(src.getAbsolutePath)
    assert(stamp.lastModified() > stampT, "stale copy must be rebuilt")
  }

  test("already-split input passes through by link, dir-per-table by identity") {
    // dir-per-table layout (no bare files) → returned unchanged
    val dirLayout = TestSpark.tmpRoot("relayout-dirs")
    (1 to 10).toDF("id").write.parquet(s"$dirLayout/t1.parquet")
    val (same, _) = spreadCopy(dirLayout)
    assert(same == dirLayout)
    // a genuinely multi-row-group single file passes through as a link
    val src = new java.io.File(TestSpark.tmpRoot("relayout-pass"))
    writeSingleFile(src, "tiny", 50)
    val many = new java.io.File(src, "many.parquet")
    // many row groups: tiny blocks force one row group per ~batch
    val conf = spark.sessionState.newHadoopConf()
    conf.setLong("parquet.block.size", 1024)
    val rows = (1 to 20000).map(i => (i.toLong, s"pad-$i-" + "x" * 50))
    val stage = new java.io.File(src, "_stage_many")
    rows.toDF("id", "v").coalesce(1).write
      .option("parquet.block.size", 1024)
      .parquet(stage.getAbsolutePath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, many.toPath)
    val (outDir, _) = spreadCopy(src.getAbsolutePath)
    val linked = new java.io.File(outDir, "many.parquet")
    assert(java.nio.file.Files.isSymbolicLink(linked.toPath),
      "well-laid-out table should pass through untouched")
    assert(spark.read.parquet(linked.getAbsolutePath).count() == 20000)
  }
}
