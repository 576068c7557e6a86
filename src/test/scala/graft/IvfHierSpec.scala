package graft

import graft.operators.IvfMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hierarchical coarse quantizer — the serve shape past the
  * flat-IVF broadcast ceiling. Exactness contract: with sprobe
  * covering every super-cell, the two-stage probe selects EXACTLY the
  * flat probe's cells (the candidate set is the full snapshot either
  * way and both argmins break ties identically), so serve results are
  * byte-equal; smaller sprobe trades recall for probe cost exactly
  * like nprobe one level down. Orphan cells — created after the super
  * build — reach every query unpruned, so layer age degrades
  * coverage, never correctness. */
class IvfHierSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmp(name: String): String =
    TestSpark.tmpRoot(s"hier_$name")

  // 12 well-separated 8-d cluster centers, 40 points each: clear
  // geometry so small-sprobe pruning is meaningful, deterministic by
  // vec_id (no RNG state)
  private def clustered: DataFrame = {
    import spark.implicits._
    val rows = for {
      cl <- 0 until 12
      j <- 0 until 40
    } yield {
      val base = Array.tabulate(8)(d =>
        if (d == cl % 8) 10.0 * (1 + cl / 8) else 0.3 * ((cl * 31 + d) % 7))
      val jig = Array.tabulate(8)(d => 0.01 * (((cl * 40 + j) * 17 + d) % 11))
      ((cl * 40 + j).toLong, base.zip(jig).map { case (a, b) => a + b }.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def served(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private lazy val idx = {
    val out = tmp("idx")
    IvfMaintenance.build(spark, clustered, out, nlist = Some(12),
      targetOcc = 40L)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(4))
    out
  }

  private def queries = clustered.where(col("vec_id") % 20 === 3)
    .select(col("vec_id").as("query_id"), col("embedding"))

  test("full-sprobe hier probe equals the flat probe exactly, at several nprobe") {
    for (np <- Seq(1, 3, 12)) {
      val flat = served(IvfMaintenance.knnQuery(spark, idx, queries,
        k = 4, nprobe = np))
      val hier = served(IvfMaintenance.knnQuery(spark, idx, queries,
        k = 4, nprobe = np, sprobe = Some(4)))
      assert(hier == flat, s"nprobe=$np: hier diverged from flat")
    }
  }

  test("small sprobe keeps high recall on clusterable geometry") {
    val flat = served(IvfMaintenance.knnQuery(spark, idx, queries,
      k = 4, nprobe = 2))
    val hier = served(IvfMaintenance.knnQuery(spark, idx, queries,
      k = 4, nprobe = 2, sprobe = Some(2)))
    val recall = hier.intersect(flat).size.toDouble / flat.size
    assert(recall >= 0.85, s"recall@4 vs flat fell to $recall")
  }

  test("orphan cells (post-buildSuper splits) stay reachable at sprobe=1") {
    val out = tmp("orphan")
    // build WITHOUT cluster 11, super-layer it, then ingest cluster 11
    // as a dense delta that overgrows its landing cell and splits —
    // the split-born cells postdate the super build
    val base = clustered.where(col("vec_id") < 440)
    IvfMaintenance.build(spark, base, out, nlist = Some(11), targetOcc = 40L)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(4))
    val before = IvfMaintenance.centroids(spark, out).count()
    IvfMaintenance.ingest(spark,
      clustered.where(col("vec_id") >= 440)
        .select(col("vec_id"), col("embedding")), out)
    val after = IvfMaintenance.centroids(spark, out).count()
    assert(after > before, "fixture must split at least one cell")
    val orphans = IvfMaintenance.superOrphans(spark, out)
    assert(orphans.exists(_ > 0), s"split-born cells must be orphans: $orphans")
    // a query in cluster 11: its neighbors live in orphan cells; the
    // hier probe must still find exactly what the flat probe finds
    val q11 = clustered.where(col("vec_id") === 447)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val flat = served(IvfMaintenance.knnQuery(spark, out, q11, k = 3, nprobe = 1))
    val hier = served(IvfMaintenance.knnQuery(spark, out, q11, k = 3,
      nprobe = 1, sprobe = Some(1)))
    assert(hier == flat, "an orphan-cell neighbor was lost to super pruning")
    assert(flat.nonEmpty)
  }

  test("adcKnn rides the same two-stage probe: full-sprobe equals flat") {
    val out = tmp("adc")
    IvfMaintenance.build(spark, clustered, out, nlist = Some(12),
      targetOcc = 40L)
    IvfMaintenance.buildPq(spark,
      clustered.select(lit(0L).as("label"), col("embedding")), out, 4)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(4))
    val flat = IvfMaintenance.adcKnn(spark, out, queries, k = 4, nprobe = 3)
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val hier = IvfMaintenance.adcKnn(spark, out, queries, k = 4, nprobe = 3,
      sprobe = Some(4))
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hier == flat)
  }

  test("plan pin: the broadcastable slices are the super layer and the In-pruned children, never the full centroid table") {
    // the serve plan only shows the checkpointed probes as an
    // ExistingRDD, so the pin targets the two probe stages directly
    val s1 = IvfMaintenance.hierStage1(spark, idx, queries, 2)
    val p1 = s1.queryExecution.executedPlan.toString
    val l1 = p1.split('\n')
    // stage 1: the O(sqrt(nlist)) super-centroid table is the ONLY
    // broadcast input — never ivf/cents
    assert(l1.exists(l => l.contains("FileScan") && l.contains("super/cents")),
      s"no super-centroid scan:\n${p1.take(3000)}")
    assert(!p1.contains("ivf/cents"),
      s"stage 1 must not touch the full centroid table:\n${p1.take(3000)}")
    // stage 2 with a proper subset of supers probed: the cell->super
    // map scan carries the probed-super In pushdown — the pruning that
    // keeps the broadcast child slice O(sprobe * occupancy), not
    // O(nlist)
    val sProbes = s1.localCheckpoint(true)
    val p2 = IvfMaintenance.hierStage2(spark, idx, sProbes, Seq(0L, 1L), 2,
        Set(0L)).queryExecution.executedPlan.toString
    val l2 = p2.split('\n')
    val mapScan = l2.find(l => l.contains("FileScan") && l.contains("super/map"))
    assert(mapScan.isDefined, s"no super-map scan:\n${p2.take(3000)}")
    assert(mapScan.get.contains("In(super_id"),
      s"the map scan must be In-pruned to the probed supers: ${mapScan.get.take(600)}")
    // every broadcast in stage 2 is fed by the pruned map join or the
    // orphan anti-join — no BroadcastExchange may sit DIRECTLY over a
    // bare ivf/cents scan (the flat probe's unshippable shape)
    val bcastOverBareCents = p2.split("BroadcastExchange").drop(1).exists { seg =>
      val firstScan = seg.split('\n').find(_.contains("FileScan"))
      firstScan.exists(sc => sc.contains("ivf/cents")) &&
        !seg.split('\n').takeWhile(!_.contains("FileScan"))
          .exists(l => l.contains("Join") || l.contains("join"))
    }
    assert(!bcastOverBareCents,
      s"a broadcast carries the unpruned centroid table:\n${p2.take(3000)}")
  }

  test("a rebuild invalidates the super layer: fresh cell-id space, stale map refused") {
    val out = tmp("rebuild")
    IvfMaintenance.build(spark, clustered, out, nlist = Some(12),
      targetOcc = 40L)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(3))
    assert(IvfMaintenance.superSeg(spark, out).isDefined)
    IvfMaintenance.build(spark, clustered, out, nlist = Some(10),
      targetOcc = 40L)
    assert(IvfMaintenance.superSeg(spark, out).isEmpty,
      "a rebuilt index must not keep a map keyed to the old cell-id space")
    val e = intercept[IllegalArgumentException] {
      IvfMaintenance.knnQuery(spark, out, queries, k = 3, nprobe = 1,
        sprobe = Some(2)).count()
    }
    assert(e.getMessage.contains("buildSuper"), e.getMessage)
  }

  test("buildSuper republish supersedes: one marker, old generation gone") {
    val out = tmp("regen")
    IvfMaintenance.build(spark, clustered, out, nlist = Some(12),
      targetOcc = 40L)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(3))
    val s1 = IvfMaintenance.superSeg(spark, out)
    // ingest advances the committed segment; the rebuild publishes at
    // the new seg and drops the old generation after its marker lands
    IvfMaintenance.ingest(spark,
      clustered.select(col("vec_id") + 10000L as "vec_id", col("embedding")),
      out)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(3))
    val s2 = IvfMaintenance.superSeg(spark, out)
    assert(s2.get > s1.get, s"$s1 -> $s2")
    val names = new java.io.File(s"$out/ivf/super").listFiles()
      .map(_.getName).filter(_.startsWith("marker-")).toSeq
    assert(names == Seq(s"marker-${s2.get}"), names.mkString(", "))
    assert(IvfMaintenance.superOrphans(spark, out).contains(0L),
      "a fresh rebuild covers every live cell")
  }

  test("incremental super-map upkeep: split-born cells map onto existing supers without a rebuild; orphans stay 0 across N ingests; drift gauge guards") {
    import spark.implicits._
    val out = tmp("mapd")
    IvfMaintenance.build(spark, clustered, out, nlist = Some(12),
      targetOcc = 40L)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(4))
    val seg0 = IvfMaintenance.superSeg(spark, out)
    var nextId = 100000L
    var sawSplit = false
    for (round <- 1 to 3) {
      // a dense delta aimed at one cell's centroid overgrows it →
      // split → split-born cells postdate the super layer
      val c0 = IvfMaintenance.centroids(spark, out)
        .orderBy("cell").select("c").head().getSeq[Double](0)
      val delta = (0 until 90).map { j =>
        val id = nextId + j
        (id, c0.zipWithIndex.map { case (x, i) => x + 0.001 * ((id + i) % 7) })
      }.toDF("vec_id", "embedding")
      nextId += 1000
      IvfMaintenance.ingest(spark, delta, out)
      val orphans = IvfMaintenance.superOrphans(spark, out).get
      if (orphans > 0) sawSplit = true
      // the upkeep maps exactly the uncovered cells, no retraining
      val mapped = IvfMaintenance.mapNewCellsToSuper(spark, out)
      assert(mapped == orphans, s"round $round: $mapped vs $orphans")
      assert(IvfMaintenance.superOrphans(spark, out).contains(0L),
        s"round $round: orphans must be 0 after upkeep")
      assert(IvfMaintenance.superSeg(spark, out) == seg0,
        "incremental upkeep must not republish the layer")
    }
    assert(sawSplit, "fixture must have split at least once")
    assert(IvfMaintenance.superMappedCells(spark, out) > 0L)
    // replay: nothing uncovered → nothing written (no duplicate rows)
    val nDelta = IvfMaintenance.superMappedCells(spark, out)
    assert(IvfMaintenance.mapNewCellsToSuper(spark, out) == 0L)
    assert(IvfMaintenance.superMappedCells(spark, out) == nDelta)
    // serve exactness THROUGH the extended map: full-sprobe hier probe
    // equals the flat probe over the grown index
    for (np <- Seq(1, 3)) {
      val flat = served(IvfMaintenance.knnQuery(spark, out, queries,
        k = 4, nprobe = np))
      val hier = served(IvfMaintenance.knnQuery(spark, out, queries,
        k = 4, nprobe = np, sprobe = Some(4)))
      assert(hier == flat, s"nprobe=$np diverged through the extended map")
    }
    // a full rebuild is drift correction: it folds the deltas away and
    // covers everything in the fresh base map
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(4))
    assert(IvfMaintenance.superMappedCells(spark, out) == 0L,
      "rebuild must clear the incremental deltas")
    assert(IvfMaintenance.superOrphans(spark, out).contains(0L))
  }

  test("buildSuper sweeps markerless crash debris (data dirs written, marker never landed)") {
    val out = tmp("debris")
    IvfMaintenance.build(spark, clustered, out, nlist = Some(12),
      targetOcc = 40L)
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(3))
    // fabricate the crash: a rebuild wrote its cents/map dirs at some
    // seg but died before its marker — the old GC only swept
    // marker-bearing generations, so these leaked forever
    val root = s"$out/ivf/super"
    for (sub <- Seq("cents", "map")) {
      val d = new java.io.File(s"$root/$sub/seg=999"); d.mkdirs()
      java.nio.file.Files.write(d.toPath.resolve("part-crashed.parquet"),
        Array[Byte](1, 2, 3))
    }
    IvfMaintenance.buildSuper(spark, out, nSuper = Some(3))
    for (sub <- Seq("cents", "map"))
      assert(!new java.io.File(s"$root/$sub/seg=999").exists(),
        s"markerless $sub debris must be swept by the next rebuild")
    // the published generation is intact and fully covering
    assert(IvfMaintenance.superOrphans(spark, out).contains(0L))
  }

  test("unlabeled build with no nlist auto-sizes to ~N/targetOcc cells") {
    // `clustered` has NO label column: the build must not demand one —
    // it auto-sizes k = ceil(N/targetOcc) with sampled seeding, so a
    // production corpus cannot freeze at a fixture-shaped cell count
    val out = tmp("auto")
    IvfMaintenance.build(spark, clustered, out, targetOcc = 40L)
    val n = clustered.count().toDouble
    val cells = IvfMaintenance.centroids(spark, out).count().toDouble
    val want = math.ceil(n / 40.0)
    assert(math.abs(cells - want) / want <= 0.2,
      s"auto-sized to $cells cells; want within 20% of $want")
    // the labeled path is untouched: a label column still seeds means
    val out2 = tmp("auto_lbl")
    IvfMaintenance.build(spark,
      clustered.withColumn("label", col("vec_id") % 5), out2,
      targetOcc = 40L)
    assert(IvfMaintenance.centroids(spark, out2).count() == 5,
      "a labeled no-nlist build must keep per-label seeding")
  }
}
