package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the dedup_lines rewrite on crafted corpora.
  * The DuckDB oracle proves ENGINE PARITY on the driver fixture; these
  * pin the ALGORITHM itself: unique content must survive
  * byte-identical, verbatim copies must empty out, and partial overlap
  * must cut exactly the shared segments — so a refactor that keeps the
  * two engines agreeing but breaks the rewrite semantics still fails. */
class DedupLinesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Run dedup_lines over a crafted documents table; returns
    * doc_id -> (n_segs, n_kept, clean_text). */
  private def run(docs: Seq[(Long, String)]): Map[Long, (Int, Long, String)] = {
    val dir = TestSpark.tmpRoot("lines")
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(dir + "/documents.parquet")
    SparkEntry.queries("dedup_lines")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
  }

  test("unique docs reconstruct byte-identical; copies empty; overlap cuts shared segments") {
    val w = (1 to 24).map(i => s"w$i").mkString(" ") // 3 segments of 8
    val other = (1 to 24).map(i => s"x$i").mkString(" ")
    // first segment identical to doc 1's, then 16 fresh words
    val partial =
      ((1 to 8).map(i => s"w$i") ++ (1 to 16).map(i => s"y$i")).mkString(" ")
    val out = run(Seq((1L, w), (2L, w), (3L, other), (4L, partial)))
    assert(out(1L) === ((3, 3L, w)), "keeper must survive byte-identical")
    assert(out(2L)._2 === 0L && out(2L)._3 === "",
      "verbatim copy must lose every segment")
    assert(out(3L) === ((3, 3L, other)), "unique doc must be untouched")
    assert(out(4L)._1 === 3 && out(4L)._2 === 2L,
      "exactly the shared segment must be cut")
    assert(out(4L)._3 === partial.split(" ").drop(8).mkString(" "),
      "surviving segments must re-join in order")
  }

  test("within-doc repetition dedups too: repeated segment kept once at first position") {
    val seg = (1 to 8).map(i => s"r$i").mkString(" ")
    val doc = s"$seg $seg $seg" // 24 words = the same segment 3 times
    val out = run(Seq((7L, doc)))
    assert(out(7L) === ((3, 1L, seg)),
      "only the first occurrence inside the doc survives")
  }

  test("ragged tail segment (len < 8) participates like any other") {
    val a = (1 to 11).map(i => s"a$i").mkString(" ") // segs: 8 + 3-word tail
    val b = (9 to 11).map(i => s"a$i").mkString(" ") // == doc a's tail segment
    val out = run(Seq((1L, a), (2L, b)))
    assert(out(1L)._2 === 2L, "doc 1 keeps both segments (it is first)")
    assert(out(2L)._2 === 0L && out(2L)._3 === "",
      "doc 2's only segment is doc 1's tail — cut")
  }
}
