package graft

import graft.queries.Tables
import org.scalatest.funsuite.AnyFunSuite

/** Pins the parallelism-floor memo's invalidation contract: the key is
  * the table's FILE LISTING (names+sizes+mtimes), not the directory
  * mtime, so an in-place file swap that leaves the directory mtime
  * untouched still re-probes the layout decision. */
class TablesFloorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("a same-dir-mtime file swap re-probes the floor decision") {
    val root = new java.io.File(TestSpark.tmpRoot("tfloor"))
    val tbl = new java.io.File(root, "t1.parquet")
    // layout A: one part file → 1 scan partition → floor engages
    (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(tbl.getAbsolutePath)
    val target = spark.sparkContext.defaultParallelism
    val p1 = Tables.t(spark, root.getAbsolutePath, "t1").rdd.getNumPartitions
    assert(p1 == target, s"single-file layout must be floored to $target, got $p1")
    // layout B swapped IN PLACE: two part files, directory mtime pinned
    // back to layout A's — the old dir-mtime key would reuse the stale
    // "floor" decision and round-robin to `target` partitions
    val dirMtime = tbl.lastModified()
    val stage = new java.io.File(root, "_stage")
    (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(2).write.parquet(stage.getAbsolutePath)
    tbl.listFiles().foreach(f => assert(f.delete(), s"cleanup of $f"))
    stage.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, i) =>
        java.nio.file.Files.move(
          f.toPath, new java.io.File(tbl, s"part-$i.parquet").toPath)
      }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(stage)
    assert(tbl.setLastModified(dirMtime), "mtime pin must succeed")
    assert(tbl.lastModified() == dirMtime)
    val p2 = Tables.t(spark, root.getAbsolutePath, "t1").rdd.getNumPartitions
    assert(p2 == 2,
      s"swapped 2-file layout must re-probe (no floor), got $p2 partitions")
  }

  test("an unchanged listing reuses the memoized decision (same key)") {
    val root = new java.io.File(TestSpark.tmpRoot("tfloor2"))
    (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$root/t2.parquet")
    val stamp1 = Tables.layoutStamp(new java.io.File(s"$root/t2.parquet"))
    val stamp2 = Tables.layoutStamp(new java.io.File(s"$root/t2.parquet"))
    assert(stamp1 == stamp2, "stamp must be stable for an untouched table")
    val a = Tables.t(spark, root.getAbsolutePath, "t2").rdd.getNumPartitions
    val b = Tables.t(spark, root.getAbsolutePath, "t2").rdd.getNumPartitions
    assert(a == b)
  }

  test("a file moved between partition subdirs under the same name, size and mtime changes the stamp") {
    val root = new java.io.File(TestSpark.tmpRoot("tfloor3"))
    val tbl = new java.io.File(root, "t3.parquet")
    (1 to 40).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .repartition(1).write.partitionBy("p").parquet(tbl.getAbsolutePath)
    // one write names its files alike in every partition, so the file
    // moves into a partition dir of its own
    val f = new java.io.File(tbl, "p=0").listFiles().filter(_.getName.endsWith(".parquet")).head
    val (size, mtime) = (f.length, f.lastModified)
    val before = Tables.layoutStamp(tbl)
    val to = new java.io.File(tbl, "p=2")
    assert(to.mkdir())
    val moved = new java.io.File(to, f.getName)
    java.nio.file.Files.move(f.toPath, moved.toPath)
    assert(moved.setLastModified(mtime), "mtime pin must succeed")
    assert(moved.length == size && moved.lastModified == mtime)
    assert(Tables.layoutStamp(tbl) != before,
      "same name/size/mtime in another partition is a different layout")
  }
}
