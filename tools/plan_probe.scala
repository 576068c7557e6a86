// Plan-identity probe for the segment-log operators, run in spark-shell
// against one build's classes (--driver-class-path <classes> -i this file).
// Builds DeltaIngest, IvfMaintenance and TextSearchIndex fixture dirs
// under $PLAN_FIX_DIR (absent or empty; use the SAME path for both builds
// so file paths match), then writes to $PLAN_OUT the explain("formatted")
// of readFinal, readManifest, assignments, knnQuery and adcKnn (flat and
// sprobe) and TextSearchIndex.query, the served rows (probeNearDups's too),
// the sorted rows of every segment DeltaIngest's ingests placed, and each
// dir's listing after an ingest and after a compaction (uuids and
// time-stamped batch keys masked). Two builds' outputs diff clean once
// plan_id, RDD ids and source line numbers are normalized.
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.{File, PrintWriter}

val root = sys.env("PLAN_FIX_DIR")
val outFile = sys.env("PLAN_OUT")
require(!new File(root).exists || new File(root).list.isEmpty, s"$root is not empty")
new File(root).mkdirs()
val pw = new PrintWriter(outFile)
def norm(t: String) = t.replaceAll("#\\d+", "#N")
def plan(name: String, df: DataFrame): Unit = {
  pw.println(s"===== PLAN $name")
  pw.println(norm(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
}
def listing(name: String, dir: String): Unit = {
  pw.println(s"===== LIST $name")
  val base = new File(dir).toPath
  val all = scala.collection.mutable.ArrayBuffer[String]()
  def walk(f: File): Unit = {
    all += base.relativize(f.toPath).toString + (if (f.isDirectory) "/" else "")
    if (f.isDirectory) f.listFiles.foreach(walk)
  }
  new File(dir).listFiles.foreach(walk)
  all.map(_.replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID")
      .replaceAll("seq-\\d+", "seq-T").replaceAll("rm-\\d+", "rm-T"))
    .sorted.distinct.foreach(pw.println)
}

import spark.implicits._
def words(id: Long, n: Int = 30) =
  (0 until n).map(j => java.lang.Long.toString(id, 36) + "." + Integer.toString(j, 36))
def docs(ids: Seq[Long], dupOf: Long => Option[Long] = _ => None) =
  ids.map { id =>
    val ws = dupOf(id).map(o => words(o).dropRight(1)).getOrElse(words(id))
    (id, ws.mkString(" "), "en", if (id % 3 == 0) "books" else "web", ws.mkString(" ").length.toLong)
  }.toDF("doc_id", "text", "lang", "source", "n_chars")

// ---- DeltaIngest ----
val run = s"$root/run"
docs(1L to 200L).coalesce(2).write.parquet(s"$root/in/documents.parquet")
CurationRun.run(spark, s"$root/in", run)
DeltaIngest.buildIndex(spark, run)
DeltaIngest.ingestDelta(spark, docs(1000L to 1040L, id => if (id % 5 == 0) Some(id - 990) else None), run)
DeltaIngest.ingestDelta(spark, docs(2000L to 2030L, id => if (id % 4 == 0) Some(id - 1990) else None), run)
// a third delta with the edit shapes the first two lack: docs beating a
// base keeper, a within-delta pair, and a doc id twice
def frame(rows: Seq[(Long, Seq[String])]) = rows.map { case (id, ws) =>
  (id, ws.mkString(" "), "en", if (id % 3 == 0) "books" else "web", ws.mkString(" ").length.toLong)
}.toDF("doc_id", "text", "lang", "source", "n_chars")
DeltaIngest.ingestDelta(spark, frame((0 until 6).map(k => (4000L + k, words(20 + k) ++ words(4000 + k, 2))) ++
  Seq((4100L, words(4100)), (4101L, words(4100) ++ words(4101, 2)), (4102L, words(4102)),
    (4102L, words(4102)))), run)
// the rows of every segment the ingests placed
for (t <- Seq("bands", "members", "keepers", "train_meta", "train_grams", "holdout_grams",
    "clean_delta").map(t => s"index/$t") ++ Seq("manifest_log", "final_log");
    seg <- new File(s"$run/$t").list.filter(_.startsWith("seg=")).sorted
    if seg != "seg=0") {
  pw.println(s"===== ROWS $t/$seg")
  spark.read.parquet(s"$run/$t/$seg").collect().map(_.toString).sorted.foreach(pw.println)
}
plan("readFinal", DeltaIngest.readFinal(spark, run))
plan("readManifest", DeltaIngest.readManifest(spark, run))
// probeNearDups answers from the driver (its plan is a LocalTableScan of
// the hits), so its rows stand in for the plan
pw.println("probeNearDups rows " + DeltaIngest.probeNearDups(spark,
    docs(3000L to 3010L, id => Some(id - 2990)), run)
  .collect().map(_.toString).sorted.mkString(","))
pw.println("readFinal rows " + DeltaIngest.readFinal(spark, run).count())
listing("delta after ingest", run)
DeltaIngest.compact(spark, run)
listing("delta after compact", run)
plan("readFinal compacted", DeltaIngest.readFinal(spark, run))

// ---- IvfMaintenance ----
val ivf = s"$root/ivf"
val vecs = (for (cl <- 0 until 8; j <- 0 until 30) yield {
  val id = (cl * 30 + j).toLong
  (id, cl.toLong, Array.tabulate(8)(d => (if (d == cl) 10.0 else 0.3 * ((cl + d) % 5)) + 0.01 * ((id * 7 + d) % 11)).toSeq)
}).toDF("vec_id", "label", "embedding")
IvfMaintenance.build(spark, vecs.select("vec_id", "embedding"), ivf, nlist = Some(8), targetOcc = 30L)
IvfMaintenance.buildPq(spark, vecs.select("label", "embedding"), ivf, m = 4)
IvfMaintenance.buildSuper(spark, ivf, nSuper = Some(3))
IvfMaintenance.ingest(spark, vecs.where(col("vec_id") < 40)
  .select((col("vec_id") + 10000).as("vec_id"), col("embedding")), ivf)
IvfMaintenance.remove(spark, Seq(3L, 4L).toDF("vec_id"), ivf)
val qs = vecs.where(col("vec_id") % 17 === 0).select(col("vec_id").as("query_id"), col("embedding"))
plan("assignments", IvfMaintenance.assignments(spark, ivf))
plan("knnQuery flat", IvfMaintenance.knnQuery(spark, ivf, qs, k = 3, nprobe = 2))
plan("knnQuery sprobe", IvfMaintenance.knnQuery(spark, ivf, qs, k = 3, nprobe = 2, sprobe = Some(2)))
plan("adcKnn flat", IvfMaintenance.adcKnn(spark, ivf, qs, k = 3, nprobe = 2))
plan("adcKnn sprobe", IvfMaintenance.adcKnn(spark, ivf, qs, k = 3, nprobe = 2, sprobe = Some(2)))
pw.println("knn rows " + IvfMaintenance.knnQuery(spark, ivf, qs, k = 3, nprobe = 2).orderBy("query_id", "rk").collect().mkString(","))
pw.println("adc rows " + IvfMaintenance.adcKnn(spark, ivf, qs, k = 3, nprobe = 2).orderBy("query_id", "rk").collect().mkString(","))
listing("ivf after ingest", ivf)
IvfMaintenance.compact(spark, ivf)
listing("ivf after compact", ivf)
pw.println("adc rows compacted " + IvfMaintenance.adcKnn(spark, ivf, qs, k = 3, nprobe = 2).orderBy("query_id", "rk").collect().mkString(","))

// ---- TextSearchIndex ----
val tsi = s"$root/tsi"
TextSearchIndex.build(spark, docs(1L to 100L).select("doc_id", "text"), tsi, nShards = 4)
TextSearchIndex.ingest(spark, docs(500L to 530L).select("doc_id", "text"), tsi)
TextSearchIndex.remove(spark, Seq(7L, 8L).toDF("doc_id"), tsi)
val terms = Seq(words(5).head, words(6)(3), words(510)(2))
plan("TextSearchIndex.query", TextSearchIndex.query(spark, tsi, terms, k = 5))
pw.println("tsi rows " + TextSearchIndex.query(spark, tsi, terms, k = 5).collect().mkString(","))
listing("tsi after ingest", tsi)
TextSearchIndex.compact(spark, tsi)
listing("tsi after compact", tsi)
pw.println("tsi rows compacted " + TextSearchIndex.query(spark, tsi, terms, k = 5).collect().mkString(","))
pw.close()
println("PROBE DONE")
System.exit(0)
