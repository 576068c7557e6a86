package graft

import java.net.URI

import graft.operators.SegmentLog
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
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
}
