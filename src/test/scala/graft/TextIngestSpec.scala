package graft

import graft.sources.TextIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion front door: messy JSON-lines / CSV drops must land in the
  * canonical documents layout with bad rows quarantined, duplicate ids
  * resolved deterministically, and the partitioned sink prunable. */
class TextIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmp(name: String): String = TestSpark.tmpRoot(s"ingest_$name")

  private def writeLines(dir: String, file: String, lines: Seq[String]): String = {
    val p = java.nio.file.Paths.get(dir, file)
    java.nio.file.Files.write(p,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p.toString
  }

  test("json-lines ingest: quarantine, trim, dedupe, partitioned roundtrip") {
    val in = tmp("in")
    writeLines(in, "drop1.jsonl", Seq(
      """{"doc_id": 1, "text": "  hello world  ", "lang": "en", "source": "web"}""",
      """{"doc_id": 2, "text": "short", "lang": "en", "source": "web"}""",
      """{"doc_id": 2, "text": "a longer duplicate wins", "lang": "en", "source": "web"}""",
      """{"doc_id": 3, "text": "   ", "lang": "en", "source": "web"}""", // ws-only
      """{"doc_id": null, "text": "no id", "lang": "en", "source": "web"}""",
      """not json at all""",
      """{"doc_id": 4, "text": "book text", "source": "books"}""")) // lang missing
    val out = tmp("out")
    val (nOk, nBad) = TextIngest.ingestJsonLines(spark, in, out)
    assert(nBad == 3, "ws-only + null-id + corrupt line quarantined")
    assert(nOk == 3, "ids 1, 2 (deduped), 4")
    val got = spark.read.parquet(s"$out/documents.parquet")
    // canonical schema, fixture-compatible
    assert(got.columns.sorted.toSeq == Seq("doc_id", "lang", "n_chars", "source", "text"))
    val byId = got.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[String]("text") == "hello world", "trimmed")
    assert(byId(1L).getAs[Long]("n_chars") == 11L, "n_chars recomputed post-trim")
    assert(byId(2L).getAs[String]("text") == "a longer duplicate wins", "longest wins")
    assert(byId(4L).getAs[String]("lang") == "und", "missing lang defaulted")
    // partition pruning: the source=books directory exists on disk
    assert(new java.io.File(s"$out/documents.parquet/source=books").isDirectory)
    // and a source filter prunes to one partition dir in the plan
    val plan = got.where(col("source") === "books")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("source"), plan)
    // the sink IS a table dir: registry queries run on it unchanged
    val planRows = SparkEntry.queries("q_write_plan")(spark, out).collect()
    assert(planRows.map(_.getAs[Long]("n_docs")).sum == nOk,
      "ingest output must plug straight into the registry")
  }

  test("duplicate-id election is deterministic: md5-smallest wins among equal lengths") {
    val in = tmp("tie")
    // equal-length texts: the winner must be the md5-smallest, under
    // any input order
    val a = "tied text aa"
    val b = "tied text bb"
    writeLines(in, "t.jsonl", Seq(
      s"""{"doc_id": 9, "text": "$a", "lang": "en", "source": "s"}""",
      s"""{"doc_id": 9, "text": "$b", "lang": "en", "source": "s"}"""))
    val got = TextIngest.normalize(TextIngest.readJsonLines(spark, in))
      .collect()
    assert(got.length == 1)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) =
      md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = if (hex(a) < hex(b)) a else b
    assert(got(0).getAs[String]("text") == want, "tie must break on smallest md5")
  }

  test("streaming ingest: multi-batch file stream lands the same canonical layout") {
    val in = tmp("sin"); val out = tmp("sout"); val ck = tmp("sck")
    writeLines(in, "b1.jsonl", Seq(
      """{"doc_id": 21, "text": " batch one ", "lang": "en", "source": "web"}""",
      """garbage line"""))
    writeLines(in, "b2.jsonl", Seq(
      """{"doc_id": 22, "text": "batch two", "lang": "fr", "source": "books"}"""))
    val q = TextIngest.streamJsonLines(spark, in, out, ck, maxFilesPerTrigger = 1)
    try { q.processAllAvailable() } finally q.stop()
    val canon = TextIngest.readStreamedCanonical(spark, out)
    assert(canon.columns.sorted.toSeq ==
      Seq("doc_id", "lang", "n_chars", "source", "text"),
      "reader restores the canonical schema (ingest_batch key dropped)")
    val got = canon.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.keySet == Set(21L, 22L), "good rows from both batches, garbage dropped")
    assert(got(21L).getAs[String]("text") == "batch one", "same trim contract as batch")
    // sink is batchId-keyed THEN source-partitioned (the idempotency layout)
    val bookDirs = new java.io.File(s"$out/documents.parquet").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
      .flatMap(_.listFiles()).filter(_.getName == "source=books")
    assert(bookDirs.nonEmpty, "partitioned sink under the batch key")
    // restart with the same checkpoint: nothing reprocessed
    val before = TextIngest.readStreamedCanonical(spark, out).count()
    val q2 = TextIngest.streamJsonLines(spark, in, out, ck, maxFilesPerTrigger = 1)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(TextIngest.readStreamedCanonical(spark, out).count() == before,
      "checkpoint must make the restart a no-op")
  }

  test("streaming sink is replay-idempotent: a re-run micro-batch replaces, never appends") {
    // foreachBatch is at-least-once: a crash between the sink write and
    // the checkpoint commit replays the batch. The sink must absorb
    // that — including a PARTIAL first attempt — byte-identically.
    val in = tmp("rin"); val out = tmp("rout")
    writeLines(in, "partial.jsonl", Seq(
      """{"doc_id": 31, "text": "web doc", "lang": "en", "source": "web"}"""))
    writeLines(in, "full.jsonl", Seq(
      """{"doc_id": 31, "text": "web doc", "lang": "en", "source": "web"}""",
      """{"doc_id": 32, "text": "book doc", "lang": "en", "source": "books"}"""))
    // crashed attempt: batch 0 lands only the web slice
    TextIngest.writeBatch(
      TextIngest.readJsonLines(spark, s"$in/partial.jsonl"), 0L, out)
    // replay of batch 0 with its full content
    TextIngest.writeBatch(
      TextIngest.readJsonLines(spark, s"$in/full.jsonl"), 0L, out)
    // and a second identical replay on top
    TextIngest.writeBatch(
      TextIngest.readJsonLines(spark, s"$in/full.jsonl"), 0L, out)
    val rows = TextIngest.readStreamedCanonical(spark, out).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(31L, 32L),
      "replays replace the batch's partitions — no duplicates, partial attempt healed")
    // a DIFFERENT batch id appends (other batches' partitions untouched)
    writeLines(in, "b1.jsonl", Seq(
      """{"doc_id": 33, "text": "later doc", "lang": "en", "source": "web"}"""))
    TextIngest.writeBatch(
      TextIngest.readJsonLines(spark, s"$in/b1.jsonl"), 1L, out)
    assert(TextIngest.readStreamedCanonical(spark, out).count() == 3,
      "a new batch id must not clobber batch 0's output")
  }

  test("csv ingest shares the contract: explicit schema, corrupt rows quarantined") {
    val in = tmp("csv")
    writeLines(in, "d.csv", Seq(
      "doc_id,text,lang,source",
      "10,csv text,en,web",
      "not_a_long,bad row,en,web",
      "11,second,fr,books"))
    val raw = TextIngest.readCsv(spark, in)
    assert(TextIngest.quarantine(raw).count() == 1)
    val good = TextIngest.normalize(raw).collect()
    assert(good.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(10L, 11L))
  }
}
