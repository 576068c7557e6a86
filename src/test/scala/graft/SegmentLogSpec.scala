package graft

import java.net.URI

import graft.operators.SegmentLog
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Local filesystem under the `faultfs` scheme whose rename fails
  * (returns false, as object-store shims do) when the destination name
  * matches the armed predicate. */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (FaultFs.failRenameTo(dst.getName)) false else super.rename(src, dst)
}

object FaultFs {
  @volatile var failRenameTo: String => Boolean = _ => false
}

class SegmentLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("consolidateKeys: a failed publish at the same top loses no replay key") {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
    val markers = s"faultfs://${TestSpark.tmpRoot("seglog_keys")}/markers"
    SegmentLog.commitMarker(spark, markers, 1, "b1")
    SegmentLog.commitMarker(spark, markers, 2, "b2")
    SegmentLog.consolidateKeys(spark, markers, 2)
    // a skip marker consumes no segment: the next compaction re-runs at top 2
    SegmentLog.commitMarker(spark, markers, -1, "b3")
    val all = Set("b1", "b2", "b3")
    assert(SegmentLog.committedKeys(spark, markers) === all)
    FaultFs.failRenameTo = _.startsWith("keys-")
    try intercept[java.io.IOException](SegmentLog.consolidateKeys(spark, markers, 2))
    finally FaultFs.failRenameTo = _ => false
    assert(SegmentLog.committedKeys(spark, markers) === all,
      "a crash in the key-file publish must not drop folded replay keys")
    // the re-run converges to seg-<top> plus one key file holding every key
    SegmentLog.consolidateKeys(spark, markers, 2)
    assert(SegmentLog.committedKeys(spark, markers) === all)
    val dir = new Path(markers)
    val names = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath.getName).toSet
    assert(names.size === 2 && names("seg-2") && names.exists(_.startsWith("keys-2-")), names)
  }

  private def log(rows: (Long, Long, Boolean, String)*): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "seg", "dead", "v")
  }

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("foldLatest: the latest segment wins per key") {
    val folded = SegmentLog.foldLatest(
      log((1, 1, false, "z"), (1, 2, false, "a"), (2, 1, false, "b")),
      Seq("k"), Seq("dead", "v"))
    assert(folded.columns.toSeq === Seq("k", "v"))
    assert(rowsOf(folded) === Set((1L, "a"), (2L, "b")))
  }

  test("foldLatest: within one segment a tombstone beats a live row, and dead keys drop") {
    val folded = SegmentLog.foldLatest(
      log((1, 3, false, "z"), (1, 3, true, "a"), (2, 1, false, "b"), (2, 2, true, "")),
      Seq("k"), Seq("dead", "v"))
    assert(rowsOf(folded) === Set.empty[(Long, String)])
    val live = SegmentLog.foldLatest(
      log((1, 3, true, "a"), (1, 4, false, "c")), Seq("k"), Seq("dead", "v"))
    assert(rowsOf(live) === Set((1L, "c")), "a later live row revives the key")
  }

  test("foldLatest: a log without dead passes every key's latest row through") {
    val folded = SegmentLog.foldLatest(
      log((1, 1, true, "a"), (1, 2, true, "b"), (2, 1, true, "c")).drop("dead"),
      Seq("k"), Seq("v"))
    assert(folded.columns.toSeq === Seq("k", "v"))
    assert(rowsOf(folded) === Set((1L, "b"), (2L, "c")))
  }

  private val Schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))

  private def writeSeg(root: String, seg: Long, rows: (Long, String)*): Unit = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "v").write.mode("overwrite").parquet(s"$root/seg=$seg")
  }

  test("readCommitted: an uncommitted seg dir stays invisible") {
    val root = s"${TestSpark.tmpRoot("seglog_read")}/t"
    writeSeg(root, 1, 1L -> "a")
    writeSeg(root, 2, 2L -> "b") // a crashed batch: no marker admits seg 2
    val df = SegmentLog.readCommitted(spark, root, Set(0L, 1L), Schema)
    assert(df.columns.toSeq === Seq("k", "v", "seg"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      Set((1L, "a", 1L)))
  }

  test("readCommitted: building a non-empty read launches no Spark job, and seg stays long") {
    val root = s"${TestSpark.tmpRoot("seglog_jobs")}/t"
    writeSeg(root, 1, 1L -> "a")
    writeSeg(root, 2, 2L -> "b")
    val (df, jobs) = TestSpark.jobsOf(SegmentLog.readCommitted(spark, root, Set(1L, 2L), Schema))
    assert(jobs === 0, "the declared schema spares the footer-inference job")
    assert(df.schema === Schema.add("seg", LongType))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      Set((1L, "a", 1L), (2L, "b", 2L)))
  }

  test("readCommitted: an empty committed set reads as schema plus seg: long") {
    val root = s"${TestSpark.tmpRoot("seglog_empty")}/t"
    writeSeg(root, 1, 1L -> "a")
    val df = SegmentLog.readCommitted(spark, root, Set.empty, Schema)
    assert(df.schema === Schema.add("seg", LongType))
    assert(df.isEmpty)
  }

  test("stageCompaction: a crashed compaction's stale staged seg never reaches the live root") {
    val root = s"${TestSpark.tmpRoot("seglog_stage")}/t"
    writeSeg(root, 1, 1L -> "a")
    writeSeg(root, 2, 2L -> "b")
    // a prior compaction died after staging seg=1, before its swap
    writeSeg(s"${root}_compacted", 1, 9L -> "stale")
    val folded = SegmentLog.readCommitted(spark, root, Set(1L, 2L), Schema)
      .drop("seg").localCheckpoint(true)
    val staged = SegmentLog.stageCompaction(spark, root, 2)(
      folded.write.mode("overwrite").parquet)
    assert(staged === s"${root}_compacted")
    SegmentLog.swapDir(spark, staged, root)
    assert(SegmentLog.presentSegs(spark, root) === Seq(2L))
    assert(rowsOf(SegmentLog.readCommitted(spark, root, Set(1L, 2L), Schema).drop("seg")) ===
      Set((1L, "a"), (2L, "b")))
  }
}
