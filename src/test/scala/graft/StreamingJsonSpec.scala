package graft

import graft.model.{EventJson, GraftEvent}
import graft.streaming.StreamingAnalytics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingJsonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // StateStore evidence across every micro-batch of a finished query:
  // rows the watermark refused (late data) and state rows evicted
  private def sumDropped(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
  private def sumRemoved(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum

  /** Append `df` as one file and pin its mtime: FileStreamSource orders
    * (and batches) files by modification time with ARBITRARY tie-break,
    * so late-data tests that need "file A in batch 1, file B in batch 2"
    * must stamp the order explicitly — a 100 ms sleep between writes
    * proved insufficient on this filesystem. */
  private def appendStamped(df: org.apache.spark.sql.DataFrame, dir: String,
      mtimeMs: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.toString).toSet
      else Set.empty[String]
    df.coalesce(1).write.mode("append").parquet(dir)
    fs.listStatus(p).filterNot(s => before(s.getPath.toString))
      .foreach(s => fs.setTimes(s.getPath, mtimeMs, -1))
  }

  test("stream-static enrichment over a real file stream: dim joined per micro-batch, closed window emits enriched counts") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("enrich") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    val dim = Seq((1L, "AUTO"), (2L, "BUILD"), (3L, "HOME"))
      .toDF("c_custkey", "c_mktsegment")
    // batch 1: hour-0 events for keys 1,1,2 plus a sentinel 3 h ahead —
    // after it the 1 h watermark stands at +2 h, closing hour 0
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 1000L), 1L),
      (new java.sql.Timestamp(base + 2000L), 1L),
      (new java.sql.Timestamp(base + 3000L), 2L),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000), 3L))
      .toDF("ts", "c_custkey"), dir, base)
    // batch 2: spacer — emission engages the batch after the watermark
    // advances; the static side is re-joined in THIS micro-batch too
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 60000L), 3L))
      .toDF("ts", "c_custkey"), dir, base + 60000)

    val src = spark.readStream
      .schema("ts timestamp, c_custkey long")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = StreamingAnalytics.enrichedWindowedCounts(
      src, dim, "c_custkey", "c_mktsegment", "1 hour", "1 hour")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("enrichout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("enrichout")
      .orderBy("window_start", "c_mktsegment").collect()
    // only the closed hour-0 window emitted, enriched with the dim attr
    assert(out.map(r => (r.getAs[String]("c_mktsegment"), r.getAs[Long]("n")))
      .toSeq === Seq(("AUTO", 2L), ("BUILD", 1L)), out.mkString(","))
    assert(out.forall(_.getAs[java.sql.Timestamp]("window_start").getTime == base))
    // the join kept ZERO state: the only stateful operator is the window
    assert(q.recentProgress.forall(_.stateOperators.length <= 1),
      "unexpected second stateful operator (join state?)")
  }

  test("sliding windows over a real file stream: overlap expansion, append-mode close, state eviction") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("slide") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z (15-min aligned)
    // batch 1: two clicks 16 min apart — each lands in FOUR overlapping
    // 1h/15min windows, three of which they share — plus a sentinel 3 h
    // ahead (type "late", its windows stay open and must NOT emit)
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 10000L), "click", 1.50),
      (new java.sql.Timestamp(base + 960000L), "click", 2.25),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000), "late", 9.99))
      .toDF("ts", "event_type", "value"), dir, base)
    // batch 2: spacer — emission engages the batch AFTER the watermark
    // (computed from batch 1's max event time) advances
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 60000L), "late", 0.01))
      .toDF("ts", "event_type", "value"), dir, base + 60000)

    val src = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val ev = src.select(col("ts"), col("event_type"),
      round(col("value") * 100).cast("long").as("value"))
    val agg = StreamingAnalytics.windowedCounts(ev, "1 hour", "15 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("slideout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("slideout").orderBy("window_start").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime - base,
        r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Long]("total")))
    // t=+10s covers starts {-45,-30,-15,0} min; t=+16min covers
    // {-30,-15,0,+15}: 5 distinct windows, 3 shared — the sliding
    // overlap factor made visible, closed and emitted by the watermark
    assert(out.toSeq === Seq(
      (-2700000L, "click", 1L, 150L),
      (-1800000L, "click", 2L, 375L),
      (-900000L, "click", 2L, 375L),
      (0L, "click", 2L, 375L),
      (900000L, "click", 1L, 225L)), out.mkString(","))
    assert(sumRemoved(q) >= 5, "closed sliding-window state was not evicted")
  }

  test("windowed CMS over a real file stream: constant cells, closed-window emit, probe overestimates") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("cms") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    // batch 1: user 7 three times, user 9 once, all in hour 0 — plus a
    // sentinel 3 h ahead so the 10-min watermark closes hour 0
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 1000L), 7L),
      (new java.sql.Timestamp(base + 2000L), 7L),
      (new java.sql.Timestamp(base + 3000L), 7L),
      (new java.sql.Timestamp(base + 4000L), 9L),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000), 1L))
      .toDF("ts", "user_id"), dir, base)
    // batch 2: spacer so emission engages after the watermark advances
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 60000L), 1L))
      .toDF("ts", "user_id"), dir, base + 60000)

    val src = spark.readStream
      .schema("ts timestamp, user_id long")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = graft.streaming.StreamingAnalytics.cmsCells(src, "1 hour", 256, "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("cmsout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("cmsout").collect()
    // only hour 0 closed: its 4 events land in exactly 4 cells per hash
    // row unless buckets collide — sum per row is ALWAYS the event count
    assert(out.nonEmpty, "closed CMS window emitted nothing")
    assert(out.forall(_.getAs[java.sql.Timestamp]("window_start").getTime == base))
    val perRow = out.groupBy(_.getAs[Int]("r"))
      .map { case (_, cs) => cs.map(_.getAs[Long]("cell")).sum }
    assert(perRow.forall(_ == 4L), s"row sums != event count: $perRow")
    // probe user 7 from the EMITTED cells exactly as a consumer would:
    // min over its 4 (r,bucket) cells must overestimate the true 3
    val probe = Seq(7L).toDF("user_id").select(posexplode(array(
      Seq(1, 9, 17, 25).map(o =>
        conv(substring(md5(col("user_id").cast("string").cast("binary")), o, 8),
          16, 10).cast("long") % 256): _*)).as(Seq("r", "bucket")))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val est = out.filter(r => probe.get(r.getAs[Int]("r"))
        .contains(r.getAs[Long]("bucket")))
      .map(_.getAs[Long]("cell")).min
    assert(est >= 3L && est <= 4L, s"probe estimate $est outside [3,4]")
    assert(sumRemoved(q) >= 1, "closed CMS window state was not evicted")
  }

  test("windowed HLL registers over a real file stream: replay-idempotent, closed-window emit") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("hll") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    // batch 1: users 7 and 9 in hour 0 + a sentinel 3 h ahead
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 1000L), 7L),
      (new java.sql.Timestamp(base + 2000L), 9L),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000), 1L))
      .toDF("ts", "user_id"), dir, base)
    // batch 2: user 7 REPLAYED in hour 0 (idempotent max must not
    // change its register) + spacer advancing the watermark
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 5000L), 7L),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 60000L), 1L))
      .toDF("ts", "user_id"), dir, base + 60000)

    val src = spark.readStream
      .schema("ts timestamp, user_id long")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = graft.streaming.StreamingAnalytics.hllRegisters(src, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("hllout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("hllout").collect()
    assert(out.nonEmpty, "closed HLL window emitted nothing")
    assert(out.forall(_.getAs[java.sql.Timestamp]("window_start").getTime == base))
    // 2 distinct users -> at most 2 registers, NOT 3: the replayed
    // third event left its register untouched (max is idempotent) —
    // this is what windowed countDistinct state cannot give for free
    assert(out.length <= 2, s"replay inflated registers: ${out.mkString(",")}")
    // registers match the batch run of the same operator on hour-0 data
    val batch = graft.streaming.StreamingAnalytics.hllRegisters(
      spark.read.parquet(dir)
        .where(col("ts") < new java.sql.Timestamp(base + 3600000L)), "1 hour")
      .select("b", "m").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out.map(r => (r.getAs[Long]("b"), r.getAs[Int]("m"))).toSet == batch)
    assert(sumRemoved(q) >= 1, "closed HLL window state was not evicted")
  }

  test("windowed log-histogram over a real file stream: cross-batch additive counts, closed-window emit") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("loghist") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    // batch 1: two values in hour 0 (1.00 -> bucket 7, 5.00 -> bucket 9)
    // + a sentinel 3 h ahead that will close the window
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 1000L), 1.00),
      (new java.sql.Timestamp(base + 2000L), 5.00),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000), 0.10))
      .toDF("ts", "value"), dir, base)
    // batch 2: ANOTHER 1.00 in hour 0 (its bucket-7 count must merge to
    // 2 across micro-batches) + spacer advancing the watermark
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 5000L), 1.00),
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 60000L), 0.10))
      .toDF("ts", "value"), dir, base + 60000)

    val src = spark.readStream
      .schema("ts timestamp, value double")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = graft.streaming.StreamingAnalytics.logHistCells(src, "1 hour", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("lhout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("lhout").collect()
    assert(out.nonEmpty, "closed log-hist window emitted nothing")
    assert(out.forall(_.getAs[java.sql.Timestamp]("window_start").getTime == base))
    val cells = out.map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("c"))).toMap
    // 1.00 -> cents 100 -> bin(101) is 7 bits; 5.00 -> bin(501) is 9 bits
    assert(cells == Map(7 -> 2L, 9 -> 1L),
      s"cells $cells != Map(7 -> 2, 9 -> 1): cross-batch add or binning broke")
    // parity with the batch run of the same operator on hour-0 data
    val batch = graft.streaming.StreamingAnalytics.logHistCells(
      spark.read.parquet(dir)
        .where(col("ts") < new java.sql.Timestamp(base + 3600000L)), "1 hour")
      .select("bucket", "c").collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(cells == batch)
    assert(sumRemoved(q) >= 1, "closed log-hist window state was not evicted")
  }

  test("dedupWithinWatermark drops replays inside the horizon, re-admits after eviction") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("ddww") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    // batch 1: key A plus a replay 1 min later (inside the 10 min
    // watermark) — the replay must drop
    appendStamped(Seq(
      (new java.sql.Timestamp(base), "A"),
      (new java.sql.Timestamp(base + 60000L), "A"))
      .toDF("ts", "k"), dir, base)
    // batch 2: sentinel 3 h ahead — the watermark (computed from the
    // PREVIOUS batch's max event time) advances on the NEXT batch
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 3L * 3600 * 1000), "B"))
      .toDF("ts", "k"), dir, base + 60000)
    // batch 3: spacer — runs with the sentinel-advanced watermark, and
    // its end-of-batch eviction removes key A's expired state
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 60000L), "C"))
      .toDF("ts", "k"), dir, base + 120000)
    // batch 4: key A again — state was evicted, so this is re-admitted
    // (the bounded-horizon contract)
    appendStamped(Seq(
      (new java.sql.Timestamp(base + 3L * 3600 * 1000 + 120000L), "A"))
      .toDF("ts", "k"), dir, base + 180000)

    val src = spark.readStream
      .schema("ts timestamp, k string")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val out = StreamingAnalytics.dedupWithinWatermark(src, Seq("k"), "10 minutes")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("ddwwout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("ddwwout").orderBy("ts").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts").getTime - base, r.getAs[String]("k")))
    assert(rows.toSeq === Seq(
      (0L, "A"),                          // first occurrence
      (3L * 3600 * 1000, "B"),            // sentinel
      (3L * 3600 * 1000 + 60000L, "C"),   // spacer
      (3L * 3600 * 1000 + 120000L, "A")   // re-admitted after eviction
    ), rows.mkString(","))
    assert(sumRemoved(q) >= 1, "expired dedup state was not evicted")
  }

  test("lenient JSON decode matches reference semantics (event.ex:60-89)") {
    import spark.implicits._
    val rows = Seq(
      // canonical fixture shape (FIXTURES.md §1)
      """{"class":"EchoWorker","function":"perform","queue":"test",
        |"jid":"1082fd87","args":[1,"a"],"retry_count":0,
        |"enqueued_at":1514367662.25,"finished_at":null,"failed_at":null,
        |"retried_at":null,"error_message":null,"error_backtrace":null,
        |"context":{"request_id":"123"},"unknown_field":42}""".stripMargin.replace("\n", ""),
      // missing optionals -> defaults; map-valued args -> []
      """{"class":"W","queue":"q","jid":"j2","args":{"bad":"map"},"enqueued_at":1514367662}""",
      // garbage -> null jid (poison message)
      """not json at all""")
    val decoded = EventJson.decode(rows.toDF("value"), col("value")).collect()

    val e0 = decoded(0)
    assert(e0.getAs[String]("clazz") === "EchoWorker")
    assert(e0.getAs[String]("args") === """[1,"a"]""") // raw heterogeneous passthrough
    assert(e0.getAs[java.sql.Timestamp]("enqueued_at").getTime === 1514367662250L)
    assert(e0.getAs[Map[String, String]]("context") === Map("request_id" -> "123"))

    val e1 = decoded(1)
    assert(e1.getAs[String]("function") === "perform") // defaulted
    assert(e1.getAs[Int]("retry_count") === 0) // defaulted
    assert(e1.getAs[String]("args") === "[]") // map coerced (event.ex:88-89)

    assert(decoded(2).getAs[String]("jid") === null) // lenient: no throw
  }

  test("JSON round-trip: decode(encode(event)) preserves the envelope") {
    import spark.implicits._
    val at = new java.sql.Timestamp(1714367662123L)
    val ev = GraftEvent("W", "perform", "q", "jid-1", """["x",2]""", 3, at,
      context = Map("k" -> "v"))
    val encoded = EventJson.encode(Seq(ev).toDF())
    val json = encoded.select("json").as[String].collect().head
    assert(json.contains(""""class":"W"""") && json.contains(""""args":["x",2]"""))
    val back = EventJson.decode(encoded.select("json"), col("json")).as[GraftEvent].collect().head
    assert(back === ev)
  }

  test("watermarked windowed aggregation over a file stream") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("stream") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    val rows = (0 until 600).map { i =>
      (new java.sql.Timestamp(base + i * 1000L), if (i % 2 == 0) "click" else "view", i.toDouble)
    }
    rows.toDF("ts", "event_type", "value").coalesce(1).write.parquet(dir)

    val src = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .parquet(dir)
    val agg = StreamingAnalytics.windowedCounts(src, "5 minutes", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("winout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // append mode emits only windows the watermark has closed: with max
    // event ts at +599s, the 10-minute watermark closes no window yet —
    // so run the same aggregation in batch mode for value assertions.
    val batch = StreamingAnalytics.windowedCounts(
      spark.read.parquet(dir), "5 minutes", "5 minutes", "10 minutes")
      .orderBy("window_start", "event_type").collect()
    assert(batch.length === 4) // 600s = two 5-min windows x two types
    assert(batch.forall(_.getAs[Long]("n") === 150))
    val streamed = spark.table("winout")
    assert(streamed.schema.fieldNames.toSeq ===
      Seq("window_start", "window_end", "event_type", "n", "total"))
  }

  test("windowedCounts drops late rows past the watermark and evicts closed-window state") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("late") + "/data"
    val base = 1704067200000L // 2024-01-01T00:00Z
    // batch 1: 10 clicks inside window [00:00, 00:05) plus a sentinel
    // 2 h ahead — after this batch the watermark stands at 1h50m,
    // closing the click window
    val early = (0 until 10).map(i =>
      (new java.sql.Timestamp(base + i * 1000L), "click", 1.0))
    val sentinel = Seq((new java.sql.Timestamp(base + 7200 * 1000L), "view", 1.0))
    appendStamped(
      (early ++ sentinel).toDF("ts", "event_type", "value"), dir, base)
    // batch 2: an on-time spacer — the input-side late filter engages
    // one batch AFTER the watermark advances (eviction engages first);
    // this batch closes + emits the click window with n=10
    appendStamped(
      Seq((new java.sql.Timestamp(base + 7260 * 1000L), "view", 1.0))
        .toDF("ts", "event_type", "value"), dir, base + 60000)
    // batch 3: a click at 00:00:30 — 1h49m OLDER than the watermark
    appendStamped(
      Seq((new java.sql.Timestamp(base + 30 * 1000L), "click", 100.0))
        .toDF("ts", "event_type", "value"), dir, base + 120000)

    val src = spark.readStream
      .schema("ts timestamp, event_type string, value double")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = StreamingAnalytics.windowedCounts(src, "5 minutes", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("lateout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // the closed window emitted WITHOUT the late row: n=10 and the
    // late row's value=100 never entered the sum
    val out = spark.table("lateout").where(col("event_type") === "click").collect()
    assert(out.length === 1, spark.table("lateout").collect().mkString(","))
    assert(out.head.getAs[Long]("n") === 10)
    assert(out.head.getAs[Double]("total") === 10.0)
    assert(sumDropped(q) >= 1, "late row was not dropped by the watermark")
    assert(sumRemoved(q) >= 1, "closed-window state was not evicted")
  }

  test("sessionCounts on a stream: closed session emits, late row is dropped, state evicted") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("sess") + "/data"
    val base = 1704067200000L
    // batch 1: user 1 burst (3 events over 2 min; 5-min gap → ONE
    // session [00:00, 00:07)) + user 99 sentinel 2 h out that advances
    // the watermark past the session end
    val burst = Seq(0L, 60L, 120L).map(s =>
      (new java.sql.Timestamp(base + s * 1000), 1L))
    val sentinel = Seq((new java.sql.Timestamp(base + 7200 * 1000L), 99L))
    appendStamped((burst ++ sentinel).toDF("ts", "user_id"), dir, base)
    // batch 2: on-time spacer (extends user 99's open session only);
    // closes + emits user 1's session — the late filter engages one
    // batch after the watermark advances
    appendStamped(
      Seq((new java.sql.Timestamp(base + 7260 * 1000L), 99L)).toDF("ts", "user_id"),
      dir, base + 60000)
    // batch 3: late user-1 event inside the already-closed session
    appendStamped(
      Seq((new java.sql.Timestamp(base + 90 * 1000), 1L)).toDF("ts", "user_id"),
      dir, base + 120000)

    val src = spark.readStream.schema("ts timestamp, user_id long")
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val agg = StreamingAnalytics.sessionCounts(src, gap = "5 minutes", watermark = "10 minutes")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("sessout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // exactly user 1's session, counting the 3 pre-watermark events
    // only; the sentinel's session never closes so never emits
    val out = spark.table("sessout").collect()
    assert(out.length === 1, out.mkString(","))
    assert(out.head.getAs[Long]("user_id") === 1L)
    assert(out.head.getAs[Long]("n_events") === 3)
    assert(out.head.getAs[java.sql.Timestamp]("session_end").getTime
      === base + (120 + 300) * 1000) // last event + gap, late row absent
    assert(sumDropped(q) >= 1, "late session row was not dropped")
    assert(sumRemoved(q) >= 1, "closed-session state was not evicted")
  }

  test("intervalJoin drops late rows past the watermark and evicts join state") {
    import spark.implicits._
    val ldir = TestSpark.tmpRoot("lssl") + "/l"
    val rdir = TestSpark.tmpRoot("lssr") + "/r"
    val base = 1704067200000L
    def row(id: Long, user: Long, offSec: Long, tpe: String) =
      (user, id, new java.sql.Timestamp(base + offSec * 1000), tpe)
    // L batch 1: click@0s (user 7) + sentinel (user 8, 2 h out);
    // R: purchase@60s (user 7, joins the click) + sentinel (user 9).
    // Both sides carry the 2 h sentinel so the GLOBAL watermark (min
    // across sources) lands at 1h50m after batch 1.
    appendStamped(Seq(row(1, 7, 0, "click"), row(3, 8, 7200, "click"))
      .toDF("user_id", "event_id", "ts", "event_type"), ldir, base)
    appendStamped(Seq(row(10, 7, 60, "purchase"), row(11, 9, 7200, "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type"), rdir, base)
    // L batch 2: on-time spacer (user 8, no matching purchase) — the
    // join's late filter engages one batch after the watermark advances
    appendStamped(Seq(row(4, 8, 7260, "click"))
      .toDF("user_id", "event_id", "ts", "event_type"), ldir, base + 60000)
    // L batch 3: click@30s (user 7) — WOULD match purchase@60s, but is
    // 1h49m older than the watermark → dropped before the join state
    appendStamped(Seq(row(2, 7, 30, "click"))
      .toDF("user_id", "event_id", "ts", "event_type"), ldir, base + 120000)

    val schema = "user_id long, event_id long, ts timestamp, event_type string"
    val l = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(ldir)
    val r = spark.readStream.schema(schema).parquet(rdir)
    val joined = StreamingAnalytics.intervalJoin(l, r, maxGapSec = 1800)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("latejoin").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    // only the on-time pair: the late click produced NO new match
    val pairs = spark.table("latejoin")
      .collect().map(r0 => (r0.getAs[Long]("l_id"), r0.getAs[Long]("r_id"))).sorted
    assert(pairs.toSeq === Seq((1L, 10L)), pairs.mkString(","))
    assert(sumDropped(q) >= 1, "late join row was not dropped")
    // click@0 / purchase@60 are > gap behind the watermark → buffered
    // join state for them must have been evicted
    assert(sumRemoved(q) >= 1, "join state was not evicted")
  }

  test("dedupByJid evicts state on processing-time timeout (replay re-admitted)") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("dedupevict")
    val at = new java.sql.Timestamp(System.currentTimeMillis())
    def ev(jid: String) = GraftEvent("W", "perform", "q", jid, "[]", 0, at)
    Seq(ev("a")).toDF().coalesce(1).write.mode("append").parquet(dir)

    val src = spark.readStream.schema(graft.model.Schemas.event)
      .parquet(dir).as[GraftEvent]
    val deduped = StreamingAnalytics.dedupByJid(src, stateTimeout = Some("500 milliseconds"))
    // ProcessingTime trigger (not AvailableNow): the timeout needs the
    // query ticking between data batches to fire the eviction. NOTE:
    // with a processing-time timeout the engine always schedules
    // another batch, so processAllAvailable() would never return —
    // every synchronization below is result-polling instead.
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedupevict").trigger(Trigger.ProcessingTime(100)).start()
    try {
      def outCount(): Long = spark.table("dedupevict").count()
      def awaitUntil(cond: () => Boolean, what: String): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (!cond() && System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(cond(), what)
      }
      awaitUntil(() => outCount() == 1, "first occurrence not emitted")
      // the state row times out and is REMOVED in a no-data batch
      awaitUntil(() => sumRemoved(q) >= 1, "jid state was not evicted by the timeout")
      // behavioral proof of eviction: the same jid now passes dedup again
      Seq(ev("a")).toDF().coalesce(1).write.mode("append").parquet(dir)
      awaitUntil(() => outCount() == 2,
        "replay after eviction should re-admit a second 'a'")
    } finally q.stop()
    val jids = spark.table("dedupevict").select("jid").as[String].collect()
    assert(jids.toSeq === Seq("a", "a"), jids.mkString(","))
  }

  test("stream-stream interval join pairs events within the gap (state-bounded)") {
    import spark.implicits._
    val ldir = TestSpark.tmpRoot("ssl") + "/l"
    val rdir = TestSpark.tmpRoot("ssr") + "/r"
    val base = 1704067200000L
    def row(id: Long, user: Long, offSec: Long, tpe: String) =
      (user, id, new java.sql.Timestamp(base + offSec * 1000), tpe)
    // clicks at 0s and 100s; purchases at 60s (within 30min of both
    // clicks → 2 pairs... gap 1800s: click@0 and click@100 both pair)
    // and at 4000s (pairs only with nothing — both clicks > 1800s away)
    Seq(row(1, 7, 0, "click"), row(2, 7, 100, "click"))
      .toDF("user_id", "event_id", "ts", "event_type").coalesce(1).write.parquet(ldir)
    Seq(row(10, 7, 60, "purchase"), row(11, 7, 4000, "purchase"))
      .toDF("user_id", "event_id", "ts", "event_type").coalesce(1).write.parquet(rdir)

    val schema = "user_id long, event_id long, ts timestamp, event_type string"
    val l = spark.readStream.schema(schema).parquet(ldir)
    val r = spark.readStream.schema(schema).parquet(rdir)
    val joined = StreamingAnalytics.intervalJoin(l, r, maxGapSec = 1800)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjoin").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val out = spark.table("ssjoin").orderBy("l_id", "r_id").collect()
    // click@0→purchase@60 only (click@100 is AFTER the purchase);
    // purchase@4000 is beyond the 1800s gap from either click
    assert(out.map(r0 => (r0.getAs[Long]("l_id"), r0.getAs[Long]("r_id"))).toSeq
      === Seq((1L, 10L)))
  }

  test("stateful dedup by jid across micro-batches (flatMapGroupsWithState)") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("dedup")
    val at = new java.sql.Timestamp(System.currentTimeMillis())
    def ev(jid: String) = GraftEvent("W", "perform", "q", jid, "[]", 0, at)
    // batch 1: a,b ; batch 2 (separate file): b replay + c
    Seq(ev("a"), ev("b")).toDF().coalesce(1).write.mode("append").parquet(dir)
    Seq(ev("b"), ev("c")).toDF().coalesce(1).write.mode("append").parquet(dir)

    val src = spark.readStream.schema(graft.model.Schemas.event)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[GraftEvent]
    val deduped = StreamingAnalytics.dedupByJid(src)
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedupout").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val jids = spark.table("dedupout").select("jid").as[String].collect().sorted
    assert(jids.toSeq === Seq("a", "b", "c")) // the replayed b dropped
  }

  test("lshBucketCanon carries bucket state across micro-batches") {
    import spark.implicits._
    val dir = TestSpark.tmpRoot("lshst") + "/bands"
    // batch 1: bucket B1 sees docs 7, 9 → canon 7 for both.
    // batch 2: the SAME bucket sees 5 and 8 → 5 becomes the new canon
    // (emitted as (5,5)); 8 must get canon 5 from min(batch, STATE).
    // The batch-1 emissions carrying canon 7 (not 5) prove the batches
    // really ran separately; (8 → 5) proves state carried forward.
    appendStamped(Seq((0, "B1", 7L), (0, "B1", 9L)).toDF("band", "bkey", "doc_id"),
      dir, 1000000L)
    appendStamped(Seq((0, "B1", 5L), (0, "B1", 8L)).toDF("band", "bkey", "doc_id"),
      dir, 2000000L)
    val src = spark.readStream.schema("band int, bkey string, doc_id long")
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[(Int, String, Long)]
    val out = StreamingAnalytics.lshBucketCanon(src)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("lshcanon").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("lshcanon")
      .select("doc_id", "bucket_canon").as[(Long, Long)].collect().toSet
    assert(rows === Set((7L, 7L), (9L, 7L), (5L, 5L), (8L, 5L)), rows.toString)
  }
}
