package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` corpus: exact
  * (hash-groupBy), n-gram Jaccard, MinHash banding, and SimHash.
  *
  * Scale design (100 TB):
  *   - exact dedup shuffles only (hash, doc_id) — 48 bytes/row, not the
  *     document bodies;
  *   - MinHash signatures are computed WITHOUT any shuffle: the shingle
  *     array stays row-local and each signature is
  *     array_min(transform(shingles, salted-md5)) — pure map, fused
  *     into the parquet scan by whole-stage codegen. (An explode +
  *     groupBy(doc_id) formulation shuffles every shingle — ~50× the
  *     document bytes — and is exactly what does not survive 100×
  *     scale-up.);
  *   - the pairwise Jaccard join is the *verification* stage only; at
  *     scale candidate generation comes from the MinHash band buckets
  *     (shuffle key = band signature), so the quadratic blowup is
  *     bounded per-bucket, and hot buckets (boilerplate shingles) would
  *     be salted or capped;
  *   - SimHash is one map + one 16-column partial aggregation (fully
  *     map-side combinable), then a 16-bit-prefix bucket join.
  *
  * MinHash here is md5-based: h_i(s) = md5(salt_i || s), signature =
  * lexicographic MIN over the doc's shingles — deterministic and
  * reproducible in any engine (the oracle recomputes it in DuckDB;
  * duplicates in the shingle array don't affect the min, so the
  * map-only form matches the oracle's DISTINCT formulation exactly).
  */
object DedupQueries {
  import Tables.t

  /** Distinct (doc_id, 3-shingle) pairs — only for ops that genuinely
    * need the exploded form (Jaccard set overlap). Uses the native
    * Shingles3 expression (one call per row, loop inside) instead of
    * the interpreted higher-order-function composition.
    *
    * ZERO-shuffle distinct: all shingles of a doc live in one row's
    * array, so (doc_id, s) duplicates can only be within-row —
    * array_distinct before the explode is exactly a global DISTINCT on
    * the pairs, without shuffling every shingle across the cluster. */
  private def shingleDF(s: SparkSession, dir: String): DataFrame =
    shinglesOf(s, t(s, dir, "documents"))

  /** Shared LSH-recall eval body: exact Jaccard ground truth over the
    * (optionally sampled) shingle set vs the UNCHANGED production LSH
    * pipeline. One definition for both forms, so the threshold, pair
    * dedup, and recall arithmetic cannot drift between them — the spec
    * proves the sampled form's ground truth is exactly the
    * both-endpoints-sampled subset of the exhaustive one. */
  private def lshRecallEval(s: SparkSession, dir: String,
      samp: Option[org.apache.spark.sql.Column]): DataFrame = {
    def bound(df: DataFrame) = samp.map(df.where).getOrElse(df)
    val sh = bound(shingleDF(s, dir)).cache()
    sh.count() // populate BEFORE the self-join legs race it
    // per-doc counts from the cached (sampled) shingle frame — same
    // rows as bound(shingleCounts): sh is per-doc distinct and `bound`
    // filters on doc_id, so the groupBy count over the cache replaces
    // a second full scan + re-shingle pass (r17)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val exact = sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count("*").as("shared"))
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
      .where(col("shared").cast("double") /
        (col("ca.n") + col("cb.n") - col("shared")) >= 0.3)
      .select("doc_a", "doc_b")
    val lsh = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
    // ONE pass over the quadratic ground-truth frame: the old shape
    // cross-joined THREE single-row aggregates, and because `exact` is
    // uncached its whole subtree (the sampled self-join + cnt joins)
    // expanded twice — once under n_exact, once under the hits
    // semi-join (r18: the 8261-line / 451-scan plan VERDICT flagged).
    // A left join against the (unique-by-construction) verified pairs
    // marks each exact pair hit/miss, so n_exact = count(*) and
    // n_hit = count(hit) ride one aggregate over ONE expansion; the
    // n_lsh count reads the populated cache. Row-identical: pairs are
    // unique (cand is distinct), so the left join never duplicates,
    // and count(hit) counts exactly the semi-join survivors.
    val flagged = exact.join(lsh.withColumn("hit", lit(1)),
      Seq("doc_a", "doc_b"), "left")
    flagged.agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .crossJoin(lsh.agg(count("*").as("n_lsh")))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** The EXHAUSTIVE LSH-recall eval — all-pairs Jaccard ground truth,
    * quadratic by construction, so it lives SPEC-SIDE as the small-n
    * baseline that calibrates the registry's sampled production form
    * (dedup_lsh_recall_sampled). Output: (n_exact, n_lsh, n_hit,
    * recall). */
  private[graft] def exhaustiveLshRecall(s: SparkSession, dir: String): DataFrame =
    lshRecallEval(s, dir, None)

  /** DataFrame variant of the shingle stage (delta-ingest shares the
    * exact verification currency with the batch pipeline). */
  private[graft] def shinglesOf(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.expr.TextExpressions.register(s)
    docs.select(col("doc_id"), explode(shingleSet(col("text"))).as("s"))
  }

  /** The signature columns of a doc's text — ONE definition behind
    * [[shinglesOf]], [[minhashSigOf]] and DeltaIngest's driver-side
    * probe (which evaluates them over a local relation): the distinct
    * word-3-shingles, and the 4 MinHash band keys ([[MinhashBands]]
    * order; null when the text has no shingle). Callers register the
    * expressions first (`TextExpressions.register`). */
  private def shingles3(text: Column): Column =
    call_function("graft_shingles3", split(text, " "))
  private[graft] def shingleSet(text: Column): Column = array_distinct(shingles3(text))
  private[graft] def minhashKeys(text: Column): Column =
    call_function("graft_minhash4", shingles3(text))

  /** Eval-set decontamination: flag TRAIN docs that share any 3-gram
    * shingle with a VAL/TEST doc (the t_split_assign hash rule —
    * buckets >= 80 are held out), reporting the shared-shingle count
    * and contamination fraction per train doc.
    *
    * Scale shape, SIZE-GATED (100 TB): real eval sets are tiny by
    * construction, so the holdout's distinct shingles BROADCAST and
    * the train side is one scan + map-local explode feeding a
    * broadcast-hash join — no shuffle ever touches train shingles.
    * But an unconditional broadcast turns a bloated holdout (e.g.
    * decontaminating against another corpus slice) into an executor
    * OOM, so the holdout is size-probed first — an exact count over the
    * CACHED distinct-shingle frame, holdout-side only, whose rows the
    * join then reuses — and above `broadcastMaxShingles` the join
    * degrades to a sort-merge shuffle join instead of failing.
    * n_shingles is computed row-locally (size of the distinct array)
    * before the explode, so no corpus-sized count agg or join-back
    * exists in the plan on either path. */
  /** Eval-set n-gram decontamination. `dfCap = Some(k)` switches to
    * RARE-shingle matching: only shingles contained in at most k docs
    * count as contamination evidence — the production form (frequent
    * n-grams are boilerplate/vocabulary, not leakage; GPT-3-style
    * decontamination uses long/rare n-grams for exactly this reason).
    * The registry queries keep the uncapped 3-gram baseline their
    * oracles pin; CurationRun passes a cap, without which a
    * small-vocabulary corpus flags ~every doc at scale (observed:
    * sf0.1 nFinalTrain = 0 uncapped vs a sane report at dfCap=10). */
  def decontaminate(s: SparkSession, dir: String,
      broadcastMaxShingles: Int = 1000000,
      dfCap: Option[Int] = None): DataFrame = {
    graft.functions.expr.TextExpressions.register(s)
    val bucket = (col("doc_id") % 1000003L * 2654435761L % 100).cast("int")
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(
          call_function("graft_shingles3", split(col("text"), " "))).as("shs"))
      .withColumn("bucket", bucket)
    val holdAll = base.where(col("bucket") >= 80)
      .select(explode(col("shs")).as("s")).distinct()
    val hold = dfCap match {
      case None => holdAll
      case Some(k) =>
        // df = docs containing the shingle (shs is per-doc distinct);
        // one combinable count, hash-keyed — never the shingle text
        val rare = base.select(explode(col("shs")).as("s"))
          .groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") <= k).select("s")
        holdAll.join(rare, Seq("s"), "left_semi")
    }
    // CACHED + exact count: the size probe must compute the holdout's
    // full distinct either way (a limit above a blocking aggregate
    // cannot short-circuit the aggregate), so the old limit-probe paid
    // the whole holdout pass and then THREW THE ROWS AWAY — the join
    // side re-scanned and re-shingled the holdout slice from parquet.
    // Caching the frame the probe already computed halves the holdout
    // work (r17; same decision — exact count vs the same threshold —
    // and byte-identical output, the probe was never part of the
    // result). The cache is holdout-shingle-sized (eval sets are tiny
    // by construction, and a bloated holdout above the gate still only
    // caches its distinct keys); the bench/Verify harness clears
    // caches per query, and LRU eviction bounds long sessions — the
    // same convention every cached stage frame in this file rides.
    val holdC = hold.cache()
    val fitsBroadcast = holdC.count() <= broadcastMaxShingles
    val holdSide = if (fitsBroadcast) broadcast(holdC) else holdC.hint("merge")
    base.where(col("bucket") < 80)
      .select(col("doc_id"), size(col("shs")).as("n_shingles"),
        explode(col("shs")).as("s"))
      .join(holdSide, "s")
      .groupBy("doc_id", "n_shingles")
      .agg(count("*").as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles")).as("contam_frac"))
  }

  /** Decontamination for the regime where the holdout outgrows a raw
    * broadcast but its BLOOM FILTER does not — the standard sketch
    * semi-join reduction. A holdout of 10⁹ distinct shingles is tens
    * of GBs as strings (unbroadcastable; `decontaminate` degrades to a
    * full shuffle of every train shingle) but ~1 GB as a 1%-FP Bloom
    * filter, and here a few MBs. The filter is built DISTRIBUTEDLY by
    * Spark's own BloomFilterAggregate (map-side partial filters,
    * OR-merged — only the fixed-size bitmap ever reaches the driver),
    * probed by the codegen'd BloomFilterMightContain fused into the
    * train-side scan, and the surviving ~FP+match fraction is confirmed
    * by the same exact merge join — so the output is row-identical to
    * `decontaminate` while the shuffle carries only might-contain
    * survivors instead of every train shingle.
    *
    * estItems/numBits are FIXED here (fixture-sized, 8 Mbit ≈ 1 MB); a
    * production run sizes them from the holdout's approx count the way
    * it sizes any sketch. */
  /** Long-gram decontamination — the GPT-3-shaped variant: match on
    * word 8-grams instead of 3-shingles. On template-generated or
    * small-vocabulary corpora short grams false-positive catastrophically
    * at scale (sf0.1 measured: 3-gram flags 4000/4000 train docs, even
    * df-capped 3918; 8-gram flags 87 — exactly the near-verbatim
    * overlaps), which is why production decontamination uses long
    * n-grams. Returns (doc_id, n_grams, n_shared) for train-bucket docs
    * with at least one holdout-shared gram; grams travel as xxhash64
    * keys (8 B), never text. */
  /** Distinct word-`gram`-gram xxhash64 keys of `text` — the
    * decontamination currency (shared verbatim by the batch run and
    * delta ingest, so gram sets collide exactly across both paths). */
  private[graft] def gramHashes(gram: Int): org.apache.spark.sql.Column =
    array_distinct(expr(
      s"transform(sequence(0, greatest(size(split(text, ' ')) - $gram, 0)), " +
        s"i -> xxhash64(array_join(slice(split(text, ' '), i + 1, $gram), ' ')))"))

  /** The split-bucket hash (t_split_assign convention, overflow-guarded). */
  private[graft] def splitBucket: org.apache.spark.sql.Column =
    (col("doc_id") % 1000003L * 2654435761L % 100).cast("int")

  def decontaminateGrams(s: SparkSession, dir: String, gram: Int = 8): DataFrame = {
    val bucket = splitBucket
    val g = expr(
      s"transform(sequence(0, greatest(size(split(text, ' ')) - $gram, 0)), " +
        s"i -> xxhash64(array_join(slice(split(text, ' '), i + 1, $gram), ' ')))")
    val base = t(s, dir, "documents")
      .select(col("doc_id"), array_distinct(g).as("gs"))
      .withColumn("bucket", bucket)
    val hold = base.where(col("bucket") >= 80)
      .select(explode(col("gs")).as("gh")).distinct()
    base.where(col("bucket") < 80)
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("gh"))
      .join(hold, "gh")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_shared"))
  }

  def decontaminateBloom(s: SparkSession, dir: String,
      estItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame = {
    graft.functions.expr.TextExpressions.register(s)
    graft.functions.expr.BloomExpressions.register(s)
    val bucket = (col("doc_id") % 1000003L * 2654435761L % 100).cast("int")
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(
          call_function("graft_shingles3", split(col("text"), " "))).as("shs"))
      .withColumn("bucket", bucket)
    val hold = base.where(col("bucket") >= 80)
      .select(explode(col("shs")).as("s")).distinct()
    // one bounded job at plan-construction time (same policy as
    // decontaminate's broadcast-size probe): the aggregate's result is
    // the serialized bitmap, numBits/8 bytes however large the holdout
    val bloomBytes = hold
      .select(call_function("graft_bloom_agg",
        xxhash64(col("s")), lit(estItems), lit(numBits)))
      .head.getAs[Array[Byte]](0)
    // empty holdout → aggregate yields null → nothing can match; keep
    // the plan valid with a constant-false probe (result stays empty,
    // exactly what the exact join would produce)
    val probe =
      if (bloomBytes == null) lit(false)
      else call_function("graft_bloom_contains",
        lit(bloomBytes), xxhash64(col("s")))
    base.where(col("bucket") < 80)
      .select(col("doc_id"), size(col("shs")).as("n_shingles"),
        explode(col("shs")).as("s"))
      .where(probe)
      // exact confirm on the survivors; merge hint = the at-scale path
      // this variant exists for (the broadcast regime is decontaminate's)
      .join(hold.hint("merge"), "s")
      .groupBy("doc_id", "n_shingles")
      .agg(count("*").as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_shingles"),
        (col("n_shared").cast("double") / col("n_shingles")).as("contam_frac"))
  }

  /** Rewrite the listed CTE names in a DuckDB oracle to `AS MATERIALIZED`.
    *
    * DuckDB's optimizer INLINES non-recursive CTEs into every reference
    * site; an oracle that chains N rounds over a shared CTE (the
    * rank-propagation oracle: six rank rounds, each re-referencing
    * `edges`/`deg`, each of which re-references the whole shingle→LSH
    * pipeline) therefore re-expands the pipeline exponentially in N —
    * measured >20 min on a 500-doc corpus, vs 0.49 s with the shared
    * CTEs materialized (identical rows either way; this is purely a
    * DuckDB plan hint and never reaches the Spark side). */
  private def materializeCtes(sql: String, names: String*): String =
    names.foldLeft(sql) { (acc, n) =>
      // word-boundary anchored so a listed name can't match the TAIL of
      // a longer CTE name, and fail-loud when a name doesn't match at
      // all — a silently dropped hint re-admits the exact CTE-inlining
      // blowup (>20 min vs 0.5 s) this helper exists to prevent
      val pat = ("(?<![A-Za-z0-9_])" +
        java.util.regex.Pattern.quote(n) + " AS \\(").r
      val out = pat.replaceAllIn(acc, s"$n AS MATERIALIZED (")
      require(out != acc,
        s"materializeCtes: no CTE named '$n' found — oracle SQL drifted")
      out
    }

  private val ShingleCte =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w))""".stripMargin

  /** 4 bands carved from ONE md5 per shingle (8 hex chars = 32 bits
    * each) — the standard way to get k hash functions for the price of
    * one digest. (name, 1-based hex offset). */
  private[graft] val MinhashBands =
    Seq("mh0" -> 1, "mh1" -> 9, "mh2" -> 17, "mh3" -> 25)

  /** A (band, key) bucket holding more docs than this is boilerplate:
    * its docs pair through other bands or not at all. */
  private[graft] val HotBucketCap = 100

  /** Exact shingle-Jaccard a verified near-duplicate pair reaches. */
  private[graft] val JaccardThreshold = 0.3

  /** Shuffle-free signatures via the native MinHashBands expression:
    * shingle + digest + band minima in one pass per row — pure map,
    * no explode, no shuffle. */
  private[queries] def minhashSig(s: SparkSession, dir: String): DataFrame =
    minhashSigOf(s, t(s, dir, "documents"))

  /** DataFrame variant of [[minhashSig]] (same signature recipe over an
    * arbitrary canonical-schema frame) — the delta-ingest path signs
    * incoming batches with it so base and delta bands collide in the
    * same key space. */
  private[graft] def minhashSigOf(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.expr.TextExpressions.register(s)
    docs
      .select(col("doc_id"), minhashKeys(col("text")).as("mh"))
      .where(col("mh").isNotNull)
      .select(col("doc_id") +: MinhashBands.map(_._1).zipWithIndex.map {
        case (name, idx) => col("mh").getItem(idx).as(name)
      }: _*)
  }

  private def bandMinSql: Seq[String] =
    MinhashBands.map { case (name, off) => s"MIN(substr(md5(s), $off, 8)) AS $name" }

  private[queries] val MinhashSigSql =
    s"""$ShingleCte
       |SELECT doc_id, ${bandMinSql.mkString(", ")}
       |FROM sh GROUP BY doc_id""".stripMargin

  /** The verified near-dup pairs (shared by dedup_lsh_verified and the
    * cluster-resolution query): banded MinHash candidates, hot-bucket
    * cap, exact Jaccard >= 0.3 on candidates' shingles only. */
  /** LSH candidate pairs with their exact overlap counts —
    * (doc_a, doc_b, shared, na, nb) — the stage every verified-dedup
    * metric (Jaccard, containment) derives from. Candidates come from
    * the banded MinHash buckets (hot buckets capped), overlap from the
    * candidates-only shingle join; nothing corpus² in the plan. */
  /** The banded-MinHash candidate PAIRS alone (hot buckets capped,
    * per-pair deduped, cached) — the stage every verification metric
    * (Jaccard, containment, edit distance) hangs off. */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashSig(s, dir)
      .select(col("doc_id"), posexplode(
        array(MinhashBands.map(b => col(b._1)): _*)).as(Seq("band", "bkey")))
      .cache()
    bands.count() // both the hot-bucket agg and the anti-join probe side
    // read this frame in one job — populate before they race
    val hot = bands.groupBy("band", "bkey")
      .agg(count("*").as("n_docs")).where(col("n_docs") > HotBucketCap)
    val ok = bands.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    val cand = ok.as("a").join(ok.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // the same pair collides in several bands, so dedupe before the
      // shingle verification multiplies the pair set
      .distinct().cache()
    // materialize NOW: the overlap stage reads this frame three ways
    // (both candIds branches + the shared join) inside ONE downstream
    // job, and an unmaterialized cache makes those branches RACE to
    // compute the banding stage concurrently — it runs 2-3x for
    // nothing. One count() populates every block first.
    cand.count()
    cand
  }

  private def lshCandidateOverlap(s: SparkSession, dir: String): DataFrame = {
    val cand = lshCandidates(s, dir)
    // NO broadcast() hints below the candidate stage: a pair can appear
    // in multiple bands of a 100 TB corpus, so the candidate set is
    // corpus-fraction-sized, not driver-sized. AQE upgrades these joins
    // to broadcast at runtime when the measured side IS small (it is at
    // test SFs), without baking a driver OOM into the plan.
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .unionAll(cand.select(col("doc_b").as("doc_id")))
    val sh = shingleDF(s, dir)
      .join(candIds, Seq("doc_id"), "left_semi").cache()
    sh.count() // populate BEFORE the sa/sb join legs race it (A/B at
    // sf0.1: neutral on most of the family, 5.6 s vs 7.6 s min-of-3
    // on dedup_triangles — the count pass is work the racing legs did
    // twice)
    // |A|,|B| from the CACHED candidate-bounded shingle frame: sh is
    // per-doc DISTINCT by construction (array_distinct before the
    // explode), so one map-side-combinable count over the cached rows
    // equals size(array_distinct(shingles)) for exactly the candidate
    // docs — the previous shingleCounts() here re-scanned and
    // re-shingled the WHOLE corpus a second time just to recompute
    // numbers already present in sh (r17: one full corpus pass removed
    // from every lshCandidateOverlap consumer; this is also the
    // oracle's own cnt-from-shc formulation)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.s") === col("sb.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count("*").as("shared"))
    shared
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("ca.n").as("na"), col("cb.n").as("nb"))
  }

  private[graft] def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val result = lshCandidateOverlap(s, dir)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") /
          (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .where(col("jaccard") >= JaccardThreshold)
    // cache, not checkpoint: the LSH plan stays inspectable end-to-end
    // (the cached plan prints inside InMemoryRelation), and an executor
    // loss recomputes from lineage instead of failing. Cached blocks
    // are LRU-evictable, and the Verify/Bench harness clears caches
    // between queries, so long sessions stay bounded.
    val cached = result.cache()
    // Materialize NOW, not on first downstream action: every consumer
    // reads this frame at least twice in one job (self-union to the
    // bidirectional edge frame, triple self-join for triangles,
    // semi-join + count for recall), and branches of one job RACE to
    // compute an unmaterialized cache concurrently — the whole LSH
    // pipeline ran 2x per query (measured: dedup_clusters 17.7 s ->
    // 6.6 s at sf0.1 with the cache populated first). The count() is
    // work the first action needed anyway, just sequenced.
    cached.count()
    cached
  }

  /** The oracle for lshVerifiedPairs as a reusable CTE body (everything
    * after ShingleCte, ending in a `pairs` CTE). */
  private val LshPairsCtes =
    s"""sig AS (SELECT doc_id, ${bandMinSql.mkString(", ")} FROM sh GROUP BY doc_id),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (${MinhashBands.map(_._1).map(name =>
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b ON a.$name = b.$name AND a.doc_id < b.doc_id
         |  WHERE a.$name IN (SELECT $name FROM sig GROUP BY $name HAVING COUNT(*) <= 100)""".stripMargin)
      .mkString("\n UNION ALL \n")})),
       |cids AS (SELECT DISTINCT doc_id FROM (
       |  SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b AS doc_id FROM cand)),
       |shc AS (SELECT sh.* FROM sh JOIN cids ON sh.doc_id = cids.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
       |shr AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
       |  FROM cand c JOIN shc sa ON sa.doc_id = c.doc_a
       |  JOIN shc sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS (SELECT doc_a, doc_b, shared,
       |  CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
       |FROM shr JOIN cnt ca ON shr.doc_a = ca.doc_id
       |JOIN cnt cb ON shr.doc_b = cb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.3)""".stripMargin

  /** Pointer-jumping connected components over a bidirectional edge
    * frame (src, dst): labels start as each node's min neighbor and
    * each round folds in neighbors' labels AND the label of the label,
    * so chains collapse in O(log diameter) rounds. Only id-sized
    * frames shuffle; every round is local-checkpointed so plan
    * analysis stays O(1) per round. Returns
    * (doc_id, cluster_id = component min, is_keeper). */
  private[graft] def pointerJumpCC(edges: DataFrame): DataFrame = {
    // labels only ever DECREASE, so fixpoint ⇔ sum(lbl) unchanged —
    // one scalar per round, no join + count. The convergence aggregate
    // rides the SAME action that materializes each round's
    // localCheckpoint (df.observe metrics are delivered by the
    // checkpoint's withAction), so a round costs ONE job, not a
    // checkpoint job plus a separate collect job (r17 — the fixpoint
    // was 2 jobs/round + a head(1) emptiness probe; job dispatch is
    // the dominant cost of the id-sized rounds at any scale where the
    // labels fit the cluster comfortably).
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def ckptWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df.observe(obs, sum(col("lbl").cast(dec)).as("s"),
        count(lit(1)).as("n")).localCheckpoint(true)
      val m = obs.get
      (out,
        Option(m("s").asInstanceOf[java.math.BigDecimal])
          .getOrElse(java.math.BigDecimal.ZERO),
        m("n").asInstanceOf[Long])
    }
    var (labels, prevSum, n0) = ckptWithSum(
      edges.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("doc_id"),
          least(col("mn"), col("src")).as("lbl")))
    var rounds = 0
    // empty graph → empty labels, immediately stable (the observed row
    // count replaces the old head(1) probe job)
    var converged = n0 == 0L
    while (!converged && rounds < 30) {
      val viaEdges = edges.join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("lbl"))
      val viaPointer = labels.as("l1")
        .join(labels.as("l2"), col("l1.lbl") === col("l2.doc_id"))
        .select(col("l1.doc_id").as("doc_id"), col("l2.lbl").as("lbl"))
      val (next, curSum, _) = ckptWithSum(
        labels.unionAll(viaEdges).unionAll(viaPointer)
          .groupBy("doc_id").agg(min("lbl").as("lbl")))
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels = next
      rounds += 1
    }
    labels.select(col("doc_id"), col("lbl").as("cluster_id"),
      (col("doc_id") === col("lbl")).cast("int").as("is_keeper"))
  }

  /** Partition-local union-find contraction: replace each partition's
    * edge set by the star edges of its LOCAL components (node →
    * partition-local min). Connectivity is preserved — a local spanning
    * star connects exactly the nodes the partition's edges connected —
    * while chains that fit inside one partition collapse to depth 1
    * before the global fixpoint ever runs. This is the knob NOTES.md's
    * 100× memo names for chain-structured dup graphs: global rounds
    * become O(log diameter-of-contracted-graph) ≈ O(log #partitions a
    * chain spans) instead of O(log corpus-chain length). Memory is
    * bounded by one partition's edge count (the map is per-partition,
    * never global); path-halving keeps find() amortized near-constant. */
  private[graft] def localUnionFindEdges(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x0: Long): Long = {
          var x = x0
          while (parent.getOrElse(x, x) != x) {
            val p = parent(x)
            parent(x) = parent.getOrElse(p, p) // path halving
            x = parent(x)
          }
          x
        }
        def union(a: Long, b: Long): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            // min-id root, so find() yields the local component min
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        it.foreach { case (s, d) => union(s, d) }
        // materialize keys before the find() sweep: path halving
        // rewrites values mid-iteration
        parent.keys.toArray.iterator.flatMap { n =>
          val r = find(n)
          Iterator((n, r), (r, n)) // bidirectional, as pointerJumpCC expects
        }
      }
      .toDF("src", "dst")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dedup_exact",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(min(col("doc_id")).as("keeper"), count("*").as("n_copies")),
      Some(
        """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
          |COUNT(*) AS n_copies FROM documents GROUP BY md5(text)""".stripMargin),
      "Exact dedup: hash-groupBy, keep lowest doc_id per content hash."),

    QueryDef(
      "dedup_exact_summary",
      (s, dir) =>
        t(s, dir, "documents")
          .agg(
            count("*").as("n_docs"),
            countDistinct(md5(col("text"))).as("n_unique"),
            (count("*") - countDistinct(md5(col("text")))).as("n_dupes")),
      Some(
        """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
          |COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes FROM documents""".stripMargin),
      "Corpus-level duplication rate."),

    QueryDef(
      "dedup_ngram_jaccard",
      (s, dir) => {
        val sh = shingleDF(s, dir).cache() // map-only; reused by both join sides
        sh.count() // populate BEFORE the self-join legs race it
        // |A|,|B| from the cached shingle frame (sh is per-doc distinct,
        // so the count equals the row-local array size) — replaces a
        // second corpus scan + re-shingle pass with one combinable
        // aggregation over cached rows (r17)
        val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val pairs = sh.as("a")
          .join(sh.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count("*").as("shared"))
        // cnt is one row per document — corpus-sized, so no broadcast
        // hint (AQE picks broadcast at runtime when it measures small)
        pairs
          .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
          .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
          .select(col("doc_a"), col("doc_b"), col("shared"),
            (col("shared").cast("double") /
              (col("ca.n") + col("cb.n") - col("shared"))).as("jaccard"))
          .where(col("jaccard") >= 0.3)
      },
      Some(
        s"""$ShingleCte,
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
           |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, shared,
           |  CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jaccard
           |FROM p JOIN cnt ca ON p.doc_a = ca.doc_id
           |JOIN cnt cb ON p.doc_b = cb.doc_id
           |WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.3""".stripMargin),
      "N-gram Jaccard near-dup pairs (shared-shingle join + set overlap)."),

    QueryDef(
      "dedup_minhash_sig",
      (s, dir) => minhashSig(s, dir),
      Some(MinhashSigSql),
      "MinHash signatures: 4 salted-md5 min-hashes, zero-shuffle map."),

    QueryDef(
      "dedup_minhash_buckets",
      (s, dir) =>
        // one scan + ONE aggregation for all 4 bands: explode each
        // signature into (band, sig) rows and count per bucket —
        // replaces 4 per-band groupBy passes over the same data
        minhashSig(s, dir)
          .select(posexplode(
            array(MinhashBands.map(b => col(b._1)): _*)).as(Seq("band", "sig")))
          .groupBy("band", "sig").agg(count("*").as("n_docs"))
          .where(col("n_docs") > 1),
      Some(
        s"""$ShingleCte,
           |sig AS (SELECT doc_id, ${bandMinSql.mkString(", ")} FROM sh GROUP BY doc_id)
           |${MinhashBands.map(_._1).zipWithIndex.map { case (name, band) =>
          s"SELECT $band AS band, $name AS sig, COUNT(*) AS n_docs FROM sig GROUP BY $name HAVING COUNT(*) > 1" }
          .mkString("\n UNION ALL \n")}""".stripMargin),
      "MinHash LSH band buckets with collisions (near-dup candidates)."),

    QueryDef(
      "dedup_lsh_verified",
      // THE scale pattern end-to-end: MinHash band buckets generate
      // candidate pairs with ONE equi-join keyed on (band, bucket) —
      // ids only shuffle — HOT buckets are dropped first (boilerplate
      // shingle sets collapse to one signature and would explode
      // quadratically; the hot list is tiny, so the filter is a
      // broadcast anti-join), and exact Jaccard verification touches
      // shingles of candidate docs ONLY (a semi-join on candidate ids
      // prunes the map-local shingle explode; AQE turns it into a
      // broadcast join at runtime when the candidate set measures
      // small). The corpus² pairwise join never happens.
      (s, dir) => lshVerifiedPairs(s, dir),
      Some(
        s"""$ShingleCte,
           |$LshPairsCtes
           |SELECT doc_a, doc_b, shared, jaccard FROM pairs""".stripMargin),
      "MinHash-LSH candidates (hot buckets capped) + exact Jaccard verification of candidates' shingles only (the scale path)."),

    QueryDef(
      "dedup_containment",
      (s, dir) =>
        // Asymmetric containment over the SAME LSH candidate path:
        // C(A→B) = |A∩B| / |A|. Catches subset duplication — a short
        // doc quoted wholesale inside a long one scores near-zero
        // Jaccard (the union is dominated by the long doc) but
        // containment ≈ 1 from the short side; the standard second
        // verdict next to Jaccard in CC-scale dedup. Identical plan
        // shape to dedup_lsh_verified (banded candidates, hot-bucket
        // cap, candidates-only shingle overlap) — only the final
        // row-local arithmetic differs, so the 100 TB story is already
        // proven by that query's skew probe.
        lshCandidateOverlap(s, dir)
          .select(col("doc_a"), col("doc_b"), col("shared"),
            (col("shared").cast("double") / col("na")).as("cont_a"),
            (col("shared").cast("double") / col("nb")).as("cont_b"))
          .where(greatest(col("cont_a"), col("cont_b")) >= 0.6),
      Some(
        s"""$ShingleCte,
           |$LshPairsCtes
           |SELECT shr.doc_a, shr.doc_b, shared,
           |  CAST(shared AS DOUBLE) / ca.n AS cont_a,
           |  CAST(shared AS DOUBLE) / cb.n AS cont_b
           |FROM shr JOIN cnt ca ON shr.doc_a = ca.doc_id
           |JOIN cnt cb ON shr.doc_b = cb.doc_id
           |WHERE greatest(CAST(shared AS DOUBLE) / ca.n,
           |  CAST(shared AS DOUBLE) / cb.n) >= 0.6""".stripMargin),
      "Asymmetric shingle containment over LSH candidates: subset-duplication verdict Jaccard misses."),

    QueryDef(
      "t_ngram_novelty",
      (s, dir) => {
        // Novelty scoring — the curriculum/sampling signal dedup-aware
        // pipelines order ingestion by: the fraction of a doc's
        // distinct 3-gram shingles whose FIRST corpus appearance
        // (min doc_id) is this doc. Replayed/boilerplate content scores
        // near 0, fresh content near 1. Scale shape: per-gram first-doc
        // is ONE map-side-combinable min keyed on the gram's 128-bit
        // double xxhash64 (16 bytes/gram in both shuffles — the
        // dedup_substring policy — never the ~50-byte string); the
        // join-back is the same hash-keyed semi shape, and the per-doc
        // fold is a (doc_id) sum. No pair set, no quadratic stage.
        val sh = shingleDF(s, dir)
          .select(col("doc_id"),
            xxhash64(col("s")).as("h1"),
            xxhash64(lit(1), col("s")).as("h2"))
        val first = sh.groupBy("h1", "h2").agg(min("doc_id").as("first_doc"))
        sh.join(first, Seq("h1", "h2"))
          .groupBy("doc_id")
          .agg(count("*").cast("int").as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            (col("n_novel").cast("double") / col("n_shingles")).as("novelty"))
      },
      Some(
        s"""$ShingleCte,
           |f AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
           |SELECT sh.doc_id, CAST(COUNT(*) AS INT) AS n_shingles,
           |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           |    / COUNT(*) AS novelty
           |FROM sh JOIN f ON sh.s = f.s
           |GROUP BY sh.doc_id""".stripMargin),
      "N-gram novelty: fraction of a doc's shingles first seen in it (hash-keyed shuffles)."),

    QueryDef(
      "dedup_clusters",
      (s, dir) => {
        // Cluster resolution — the step that turns near-dup PAIRS into
        // dedup DECISIONS: connected components over the verified pair
        // graph, then keeper = smallest doc_id per component. Each
        // round folds in (a) neighbors' labels and (b) the label OF
        // the label (pointer jumping), so chains collapse in
        // O(log diameter) rounds instead of diameter rounds — only
        // id-sized frames ever shuffle, no driver-side graph.
        //
        // The fixpoint is seeded from the CACHED verified pairs
        // (lshVerifiedPairs caches its result — the first action
        // populates it and every later round reads the cache, so the
        // LSH stage effectively runs once, outside the loop), and each
        // round's labels are local-checkpointed: without the
        // truncation every round's plan nests the previous round's —
        // analysis/codegen cost grows with the iteration count even
        // though the data is tiny.
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        // materialize the id-sized edge frame ONCE (same policy as
        // dedup_rank_propagate): without this the fixpoint re-analyzes
        // the whole LSH lineage every round — execution would read the
        // cache, but plan analysis/codegen grows with round count
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        // The default path seeds the fixpoint from the partition-local
        // union-find contraction (see localUnionFindEdges): same
        // components, same keeper, identical oracle — but chains that
        // fit inside one partition collapse to depth 1 BEFORE the
        // global fixpoint, so the round count scales with the number
        // of partitions a chain spans, not its length. Measured 4.6×
        // faster than the raw-edge seed on the r10 corpus (24.4 s →
        // 5.3 s) at identical output; at 100 TB the gap widens with
        // chain length. The raw-edge seed remains exercised by CCSpec
        // as the semantic baseline.
        pointerJumpCC(localUnionFindEdges(edges).localCheckpoint(true))
      },
      Some(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id)
           |SELECT doc_id, MIN(lbl) AS cluster_id,
           |  CAST(CASE WHEN doc_id = MIN(lbl) THEN 1 ELSE 0 END AS INT) AS is_keeper
           |FROM reach GROUP BY doc_id""".stripMargin),
      "Near-dup cluster resolution: connected components over verified pairs, keeper per cluster."),

    QueryDef(
      "dedup_clusters_prepass",
      (s, dir) => {
        // dedup_clusters' chain-diameter scale sibling: the SAME
        // pointer-jumping fixpoint, seeded from partition-locally
        // union-find-contracted edges instead of the raw pair graph.
        // On near-clique dup graphs (replication-style dups) both run
        // the same 3-5 rounds; on chain-structured graphs the
        // contraction collapses every within-partition chain segment to
        // depth 1 first, so the global rounds scale with the number of
        // partitions a chain SPANS, not its length. Same components,
        // same keeper, identical oracle — the plan is the difference.
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        pointerJumpCC(localUnionFindEdges(edges).localCheckpoint(true))
      },
      Some(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id)
           |SELECT doc_id, MIN(lbl) AS cluster_id,
           |  CAST(CASE WHEN doc_id = MIN(lbl) THEN 1 ELSE 0 END AS INT) AS is_keeper
           |FROM reach GROUP BY doc_id""".stripMargin),
      "Cluster resolution with partition-local union-find contraction before pointer jumping (chain-diameter scale path)."),

    QueryDef(
      "dedup_decontaminate",
      (s, dir) => decontaminate(s, dir),
      Some(
        s"""$ShingleCte,
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |hold AS (SELECT DISTINCT s FROM sh
           |  WHERE doc_id % 1000003 * 2654435761 % 100 >= 80),
           |tr AS (SELECT sh.doc_id, COUNT(*) AS n_shared
           |  FROM sh JOIN hold ON sh.s = hold.s
           |  WHERE sh.doc_id % 1000003 * 2654435761 % 100 < 80 GROUP BY 1)
           |SELECT tr.doc_id, n_shared, CAST(n AS INT) AS n_shingles,
           |  CAST(n_shared AS DOUBLE) / n AS contam_frac
           |FROM tr JOIN cnt ON tr.doc_id = cnt.doc_id""".stripMargin),
      "Eval-set decontamination: train docs sharing 3-gram shingles with held-out docs."),

    QueryDef(
      "dedup_decontaminate_bloom",
      (s, dir) => decontaminateBloom(s, dir),
      // IDENTICAL oracle to dedup_decontaminate: the Bloom pre-filter
      // has no false negatives and the exact join removes its false
      // positives, so the sketch changes the plan, never the rows.
      Some(
        s"""$ShingleCte,
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |hold AS (SELECT DISTINCT s FROM sh
           |  WHERE doc_id % 1000003 * 2654435761 % 100 >= 80),
           |tr AS (SELECT sh.doc_id, COUNT(*) AS n_shared
           |  FROM sh JOIN hold ON sh.s = hold.s
           |  WHERE sh.doc_id % 1000003 * 2654435761 % 100 < 80 GROUP BY 1)
           |SELECT tr.doc_id, n_shared, CAST(n AS INT) AS n_shingles,
           |  CAST(n_shared AS DOUBLE) / n AS contam_frac
           |FROM tr JOIN cnt ON tr.doc_id = cnt.doc_id""".stripMargin),
      "Bloom-prefiltered decontamination: sketch semi-join reduction + exact confirm (same rows, scale plan)."),

    QueryDef(
      "dedup_lsh_recall_sampled",
      (s, dir) => {
        // The PRODUCTION form of the recall eval: ground truth on a
        // deterministic 40% id-hash shard (the guarded-hash currency;
        // BOTH endpoints must sample in, so the quadratic all-pairs
        // baseline runs on ~16% of the pair space — the fraction is
        // the knob that keeps it tractable at any corpus size; the
        // exhaustive form is quadratic by construction and lives
        // spec-side as exhaustiveLshRecall). The LSH side is the
        // production pipeline UNCHANGED; recall estimated on the
        // sampled pair population is unbiased because the sample is
        // independent of both the band hashes and the Jaccard values.
        lshRecallEval(s, dir,
          Some(col("doc_id") % 1000003L * 2654435761L % 100 < 40))
      },
      Some(
        s"""$ShingleCte,
           |$LshPairsCtes,
           |ss AS (SELECT * FROM sh
           |  WHERE doc_id % 1000003 * 2654435761 % 100 < 40),
           |xcnt AS (SELECT doc_id, COUNT(*) AS n FROM ss GROUP BY doc_id),
           |xp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
           |  FROM ss a JOIN ss b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |exact AS (SELECT doc_a, doc_b FROM xp
           |  JOIN xcnt ca ON xp.doc_a = ca.doc_id
           |  JOIN xcnt cb ON xp.doc_b = cb.doc_id
           |  WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.3),
           |hits AS (SELECT e.doc_a, e.doc_b FROM exact e
           |  JOIN pairs p ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b)
           |SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           |  (SELECT COUNT(*) FROM pairs) AS n_lsh,
           |  (SELECT COUNT(*) FROM hits) AS n_hit,
           |  CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
           |    ELSE CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
           |      / (SELECT COUNT(*) FROM exact) END AS recall""".stripMargin),
      "LSH recall eval, production form: sampled-shard Jaccard ground truth vs the unchanged LSH pipeline."),

    QueryDef(
      "dedup_simhash",
      (s, dir) => {
        // ZERO-shuffle SimHash: the per-doc bit votes fold inside the
        // native SimHash16 expression (one md5 loop per row), so the
        // signature is a pure map fused into the scan — the exploded
        // words of a 100 TB corpus never shuffle. The oracle keeps the
        // explode + SUM formulation; the math is identical.
        graft.functions.expr.TextExpressions.register(s)
        t(s, dir, "documents")
          // null-text docs are OMITTED, matching the oracle's exploded
          // GROUP BY (no words → no row), not emitted with a null sig
          .where(col("text").isNotNull)
          .select(col("doc_id"),
            call_function("graft_simhash16", tokens(col("text"))).as("simhash16"))
      },
      Some {
        val bits = (1 to 16)
          .map(b =>
            s"CASE WHEN SUM(CASE WHEN substr(md5(w), $b, 1) >= '8' THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END")
          .mkString(" || ")
        s"""SELECT doc_id, $bits AS simhash16 FROM (
           |SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           |GROUP BY doc_id""".stripMargin
      },
      "SimHash-16: per-bit term-frequency votes from word hashes."),

    QueryDef(
      "dedup_rank_propagate",
      (s, dir) => {
        // Quality/trust propagation over the verified near-dup graph:
        // 5 fixed PageRank iterations (damping 0.85), every arithmetic
        // step in quantized integers (rq = rank·1e9; per-edge
        // contribution rq div deg; damped update (acc·85) div 100) so
        // both engines fold the same integers and the result is
        // oracle-EXACT, not approximately close. Scale shape: identical
        // to dedup_clusters — each round shuffles id-sized (dst, contrib)
        // rows keyed by dst, the rank frame never exceeds node count,
        // and the edge×deg frame is computed once and cached. The loop
        // count is fixed (not convergence-driven), so the plan is 5
        // chained joins — no driver-side graph state at all.
        // eager localCheckpoints (same policy as the dedup_clusters
        // fixpoint): the LSH pipeline materializes ONCE into the
        // id-sized edge frame, and each round's rank frame truncates
        // its lineage so round N is a flat join over two tiny frames,
        // not a 2N-deep replan of the whole pipeline
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        // lazy: both consumers (deg, edgeDeg) re-read the populated
        // pairs cache + a union — cheaper than a third checkpoint job
        // (r18 setup reshape, re-measuring the r16 decision with the
        // observe-era job-count lens: 3 setup actions → 2, and the
        // separate nodes DISTINCT exchange is gone because deg's
        // groupBy keys ARE the node set)
        val edges = pairs
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .localCheckpoint(true)
        val edgeDeg = edges.join(deg, "src").localCheckpoint(true)
        val nodes = deg.select(col("src").as("doc_id"))
        var rank = nodes.withColumn("rq", lit(1000000000L))
        for (_ <- 1 to 5) {
          val acc = edgeDeg.join(rank, col("src") === col("doc_id"))
            .select(col("dst"), expr("rq div deg").as("c"))
            .groupBy("dst").agg(sum("c").as("acc"))
          rank = nodes.join(acc, nodes("doc_id") === acc("dst"), "left_outer")
            .select(nodes("doc_id"),
              (lit(150000000L) + expr("coalesce(acc, 0L) * 85 div 100")).as("rq"))
            .localCheckpoint(true)
        }
        rank.select(col("doc_id"), col("rq"),
          (col("rq").cast("double") / 1000000000).as("rank"))
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""r$i AS (SELECT n.doc_id,
             |  CAST(150000000 + COALESCE(s.acc, 0) * 85 // 100 AS BIGINT) AS rq
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst, SUM(r${i - 1}.rq // d.deg) AS acc FROM edges e
             |    JOIN r${i - 1} ON e.src = r${i - 1}.doc_id
             |    JOIN deg d ON d.src = e.src GROUP BY e.dst) s
             |  ON n.doc_id = s.dst)""".stripMargin
        }.mkString(",\n")
        // Every shared CTE materialized: each of the six rank rounds
        // re-references edges/deg/nodes, and without the hint DuckDB
        // re-inlines the whole shingle→LSH pipeline into every round
        // (exponential expansion — the r10 driver-correctness killer).
        materializeCtes(
          s"""$ShingleCte,
             |$LshPairsCtes,
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
             |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
             |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
             |r0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS rq FROM nodes),
             |$iters
             |SELECT doc_id, rq, CAST(rq AS DOUBLE) / 1000000000 AS rank FROM r5""".stripMargin,
          "sh", "sig", "cand", "cids", "shc", "cnt", "shr", "pairs",
          "edges", "deg", "nodes")
      },
      "PageRank-style quality propagation over near-dup pairs: 5 quantized iterations, oracle-exact."),

    QueryDef(
      "dedup_substring",
      (s, dir) => {
        // Exact-substring dedup (the suffix-array-style pass of
        // "Deduplicating Training Data Makes Language Models Better",
        // Lee et al. 2021, re-expressed relationally): mark every
        // k-token gram that appears verbatim in >=2 documents, then
        // merge overlapping/adjacent marked positions per document
        // into MAXIMAL duplicated spans — the unit a cleaning pipeline
        // would cut, not the individual gram hits.
        //
        // Scale shape (100 TB): gram generation is row-local (explode
        // of an in-row transform — no shuffle); the duplicate detector
        // is one map-side-combinable count-distinct per gram that
        // keeps NO doc list (a boilerplate hot gram costs its group
        // size in shuffle rows, never a quadratic pair set); the span
        // merge windows over DUP positions only, bounded per doc by
        // document length. Gram keys travel as a 128-bit double
        // xxhash64 (two independent seeds), never the raw ~50-byte
        // token string: both shuffles (the count-distinct and the
        // semi-join) carry 16 bytes per gram (~4× fewer shuffle
        // bytes), at 2^-128-scale collision odds — far below the
        // corruption rate of the hardware running the job.
        val k = 8
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val grams = docs
          .where(size(col("ws")) >= k)
          .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
            explode(transform(
              sequence(lit(1), size(col("ws")) - (k - 1)),
              i => struct(i.cast("long").as("pos"),
                array_join(slice(col("ws"), i, lit(k)), " ").as("gram")))).as("g"))
          // hash immediately and DROP the gram string before anything
          // wide: only (doc_id, n_tokens, pos, h1, h2) ever shuffles
          .select(col("doc_id"), col("n_tokens"),
            col("g.pos").as("pos"),
            xxhash64(col("g.gram")).as("h1"),
            xxhash64(lit(1), col("g.gram")).as("h2"))
        val dupGrams = grams
          .groupBy("h1", "h2")
          .agg(countDistinct("doc_id").as("nd"))
          .where(col("nd") >= 2)
          .select("h1", "h2")
        val dp = grams.join(dupGrams, Seq("h1", "h2"), "left_semi")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val prevEnd = max(col("pos") + (k - 1))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
        val isl = dp
          .withColumn("brk",
            when(prevEnd.isNull || col("pos") > prevEnd + 1, 1).otherwise(0))
          .withColumn("island", sum(col("brk")).over(w))
        val spans = isl
          .groupBy(col("doc_id"), col("island"))
          .agg(min(col("n_tokens")).as("n_tokens"),
            count(lit(1)).as("n_grams"),
            min(col("pos")).as("s"),
            (max(col("pos")) + (k - 1)).as("e"))
        spans
          .groupBy("doc_id")
          .agg(
            sum(col("n_grams")).as("n_dup_grams"),
            count(lit(1)).as("n_spans"),
            sum(col("e") - col("s") + 1).as("dup_tokens"),
            min(col("n_tokens")).as("n_tokens"))
          .select(col("doc_id"), col("n_dup_grams"), col("n_spans"),
            col("dup_tokens"), col("n_tokens"),
            (col("dup_tokens").cast("double") / col("n_tokens")).as("dup_frac"))
      },
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(ws[i:i+7], ' ') AS gram
          |      FROM w JOIN range(1, 100000) r(i) ON i <= len(ws) - 7),
          |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
          |dp AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM dup)),
          |isl AS (SELECT doc_id, pos,
          |  CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
          |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1 THEN 1 ELSE 0 END AS brk
          |  FROM dp),
          |isl2 AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
          |spans AS (SELECT doc_id, island, COUNT(*) AS n_grams, MIN(pos) AS s, MAX(pos) + 7 AS e
          |  FROM isl2 GROUP BY doc_id, island),
          |per AS (SELECT doc_id, CAST(SUM(n_grams) AS BIGINT) AS n_dup_grams,
          |  CAST(COUNT(*) AS BIGINT) AS n_spans,
          |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens FROM spans GROUP BY doc_id)
          |SELECT p.doc_id AS doc_id, p.n_dup_grams, p.n_spans, p.dup_tokens,
          |  CAST(len(w.ws) AS BIGINT) AS n_tokens,
          |  CAST(p.dup_tokens AS DOUBLE) / len(w.ws) AS dup_frac
          |FROM per p JOIN w ON p.doc_id = w.doc_id""".stripMargin),
      "Exact-substring dedup: merge cross-doc duplicated 8-gram hits into maximal spans per doc."),

    QueryDef(
      "dedup_lines",
      (s, dir) => {
        // C4-style duplicate-LINE removal with document reconstruction
        // (Raffel et al. 2020 keep-one-occurrence line dedup; the
        // fixture text has no newlines, so "lines" are the fixed
        // 8-word segmentation — the operator shape is unchanged).
        // Unlike dedup_substring (which only MEASURES duplicated
        // spans), this REWRITES each document: every segment is kept
        // only at its globally first occurrence (min (doc_id, pos))
        // and each doc's surviving segments are re-joined in order.
        //
        // Scale shape (100 TB): segmentation is row-local (no
        // shuffle); the keeper election groups 24-byte (h1, h2,
        // doc_id, pos) tuples — the dedup_substring hash-key policy,
        // never the segment text — with a map-side-combinable
        // min(struct); the verdict join is hash-keyed the same way;
        // and the reconstruction shuffle carries each segment exactly
        // once, keyed by doc_id — the same bytes any rewrite of the
        // corpus must move, so the text shuffle is the algorithm's
        // floor, not overhead.
        val segs = expr(
          "transform(sequence(0, (size(split(text, ' ')) + 7) div 8 - 1), " +
            "i -> array_join(slice(split(text, ' '), i * 8 + 1, 8), ' '))")
        val seg = t(s, dir, "documents")
          .select(col("doc_id"), posexplode(segs).as(Seq("pos", "seg")))
        val keyed = seg.select(col("doc_id"), col("pos"), col("seg"),
          xxhash64(col("seg")).as("h1"), xxhash64(lit(1), col("seg")).as("h2"))
        val firsts = keyed.groupBy("h1", "h2")
          .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        keyed.join(firsts, Seq("h1", "h2"))
          .withColumn("keep",
            (col("k.doc_id") === col("doc_id") && col("k.pos") === col("pos"))
              .cast("int"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_segs"),
            sum("keep").cast("long").as("n_kept"),
            array_join(
              transform(
                array_sort(collect_list(
                  when(col("keep") === 1, struct(col("pos"), col("seg"))))),
                x => x.getField("seg")),
              " ").as("clean_text"))
      },
      Some(
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |seg AS (SELECT doc_id, CAST(i AS INT) AS pos,
          |    array_to_string(ws[CAST(i * 8 + 1 AS BIGINT):CAST(i * 8 + 8 AS BIGINT)], ' ') AS seg
          |  FROM w, LATERAL (SELECT unnest(range(0, (len(ws) + 7) // 8)) AS i) t),
          |k AS (SELECT doc_id, pos, seg, CASE WHEN ROW_NUMBER() OVER
          |    (PARTITION BY seg ORDER BY doc_id, pos) = 1 THEN 1 ELSE 0 END AS keep FROM seg)
          |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_segs,
          |  CAST(SUM(keep) AS BIGINT) AS n_kept,
          |  COALESCE(string_agg(CASE WHEN keep = 1 THEN seg END, ' ' ORDER BY pos), '') AS clean_text
          |FROM k GROUP BY doc_id""".stripMargin),
      "C4-style line dedup: keep each segment at its first global occurrence, rebuild docs."),

    QueryDef(
      "dedup_cross_source",
      (s, dir) => {
        // Cross-source contamination matrix: for every source pair,
        // how many canonical documents (bag-of-words fingerprint, the
        // t_corpus_clean dedup key) appear in BOTH — the standard
        // "which crawls overlap" audit before mixing corpora.
        // Scale shape: the fingerprint frame is pre-distinct'd to one
        // row per (fp, source), so each fp's join group is bounded by
        // |sources| BY CONSTRUCTION (tens, not documents) — the
        // self-join can never go quadratic in the corpus, and the
        // output is |sources|² rows. Only 48-byte fp/source pairs
        // shuffle, never text.
        val fp = t(s, dir, "documents").select(
          md5(concat_ws(" ",
            array_sort(array_distinct(split(lower(col("text")), " "))))).as("fp"),
          col("source")).distinct()
        fp.as("a").join(fp.as("b"),
            col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
      },
      Some(
        """WITH fp AS (SELECT DISTINCT
          |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
          |  source FROM documents)
          |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
          |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
          |GROUP BY 1, 2""".stripMargin),
      "Cross-source overlap matrix over canonical bag-of-words fingerprints."),

    QueryDef(
      "dedup_minhash_est",
      (s, dir) => {
        // MinHash estimator calibration: for every LSH candidate pair,
        // the signature-agreement estimate (fraction of the 4 band
        // minima that match) next to the EXACT shingle Jaccard — the
        // standard audit before trusting banding parameters at corpus
        // scale ("how wrong is r=4 on OUR data"). Plan shape is the
        // proven lshCandidateOverlap path plus two id-keyed joins
        // against the 48-byte/doc signature frame; nothing new
        // shuffles text, nothing is corpus².
        val sig = minhashSig(s, dir)
        val nEq = MinhashBands.map(_._1)
          .map(n => (col(s"sa.$n") === col(s"sb.$n")).cast("int"))
          .reduce(_ + _)
        val est = nEq.cast("double") / 4.0
        val jac = col("shared").cast("double") /
          (col("na") + col("nb") - col("shared"))
        lshCandidateOverlap(s, dir)
          .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
          .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            est.as("est_jaccard"), jac.as("jaccard"),
            abs(est - jac).as("abs_err"))
      },
      Some {
        val estSql = MinhashBands.map(_._1)
          .map(n => s"CAST(sa.$n = sb.$n AS INT)").mkString(" + ")
        val jacSql = "CAST(shared AS DOUBLE) / (ca.n + cb.n - shared)"
        s"""$ShingleCte,
           |$LshPairsCtes
           |SELECT shr.doc_a, shr.doc_b,
           |  CAST($estSql AS DOUBLE) / 4.0 AS est_jaccard,
           |  $jacSql AS jaccard,
           |  abs(CAST($estSql AS DOUBLE) / 4.0 - $jacSql) AS abs_err
           |FROM shr JOIN cnt ca ON shr.doc_a = ca.doc_id
           |JOIN cnt cb ON shr.doc_b = cb.doc_id
           |JOIN sig sa ON shr.doc_a = sa.doc_id
           |JOIN sig sb ON shr.doc_b = sb.doc_id""".stripMargin
      },
      "MinHash signature-agreement estimate vs exact Jaccard per LSH candidate pair."),

    QueryDef(
      "dedup_edit_verified",
      (s, dir) => {
        // Edit-distance verification of the LSH candidates — the
        // ORDER-SENSITIVE near-dup verdict. Shingle Jaccard and
        // bag-of-words fingerprints are blind to token order (a
        // shuffled copy scores like a verbatim one); unit-cost
        // Levenshtein separates byte-near duplicates from rewrites,
        // and is the standard complement verdict for short documents.
        // On this fixture the 0.4 similarity gate keeps exactly the
        // byte-near pairs (28 of 454 candidates at sf0.001).
        // Scale shape: candidates come from the SAME banded path
        // (hot-cap, deduped); text joins back id-keyed (AQE broadcasts
        // the candidate frame when small), and the O(len²) DP runs
        // row-local ONLY on candidate pairs — never corpus². The
        // length-difference gate ahead of the DP is semantically FREE:
        // |len_a − len_b| lower-bounds the distance, so any pair it
        // drops could never reach edit_sim ≥ 0.4 — at scale it prunes
        // the skewed-length candidates before their O(len²) cost.
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        lshCandidates(s, dir)
          .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
          .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
          .select(col("doc_a"), col("doc_b"),
            length(col("da.text")).as("la"), length(col("db.text")).as("lb"),
            col("da.text").as("ta"), col("db.text").as("tb"))
          .where(abs(col("la") - col("lb")).cast("double") <=
            lit(0.6) * greatest(col("la"), col("lb")))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta"), col("tb")).as("edit_dist"),
            greatest(col("la"), col("lb")).as("max_len"))
          .withColumn("edit_sim",
            lit(1.0) - col("edit_dist").cast("double") / col("max_len"))
          .where(col("edit_sim") >= 0.4)
      },
      Some(
        s"""$ShingleCte,
           |$LshPairsCtes
           |SELECT doc_a, doc_b,
           |  CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist,
           |  CAST(greatest(length(da.text), length(db.text)) AS INT) AS max_len,
           |  1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
           |    / greatest(length(da.text), length(db.text)) AS edit_sim
           |FROM cand JOIN documents da ON doc_a = da.doc_id
           |JOIN documents db ON doc_b = db.doc_id
           |WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
           |    / greatest(length(da.text), length(db.text)) >= 0.4""".stripMargin),
      "Levenshtein verification of LSH candidates: the order-sensitive near-dup verdict."),

    QueryDef(
      "dedup_winnow",
      (s, dir) => {
        // Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 —
        // the MOSS local fingerprinting scheme): hash every k-gram,
        // slide a w-gram window, keep each window's minimal hash
        // (leftmost on ties). Guarantees any shared substring of
        // length ≥ w+k-1 contributes a shared fingerprint, at ~2/(w+1)
        // the k-gram density — the position-aware complement to the
        // whole-doc MinHash path (dedup_minhash_*): joining on fp
        // finds WHERE two docs overlap, not just that they do.
        //
        // Scale shape (100 TB): fingerprint selection is entirely
        // row-local — the native WinnowEnc expression does the whole
        // hash + windowed-min (monotonic deque, O(n) vs the nested
        // HOFs' interpreted O(n·w)) + distinct in one JVM call per
        // row, so the stage is a pure map fused into the scan.
        // WinnowSpec pins it element-for-element against the
        // relational transform/slice/array_min formulation.
        // The (h, pos) pair is packed into one BIGINT
        // (h·10⁶ + pos) so window selection is a plain
        // integer min and per-doc dedup is array_distinct — no struct
        // comparisons, no shuffle. The packing requires pos < 10⁶, so
        // BOTH engines filter length(text) < 10⁶ + k - 1 explicitly
        // (a longer doc would silently corrupt fp AND pos on unpack —
        // identically in both engines, i.e. invisible to the oracle);
        // at 100 TB a >1 MB doc goes through a chunked sibling, not
        // this packing. Downstream bucket-joins shuffle
        // (fp)-keyed 16-byte rows. Determinism: md5-derived 32-bit
        // hashes, integer min, leftmost tiebreak — identical in both
        // engines; docs shorter than w+k-1 chars (no full window)
        // are excluded by both.
        val k = 4; val w = 5
        graft.functions.expr.TextExpressions.register(s)
        t(s, dir, "documents")
          .where(length(col("text")) >= k + w - 1 &&
            length(col("text")) < 1000000 + k - 1)
          .select(col("doc_id"),
            explode(call_function("graft_winnow45", col("text"))).as("u"))
          .select(col("doc_id"),
            (col("u") % 1000000).cast("int").as("pos"),
            expr("u div 1000000").as("fp"))
      },
      Some(
        """WITH g AS (SELECT doc_id,
          |    list_transform(generate_series(1, len(text) - 4 + 1), i ->
          |      CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 4)), 1, 8)) AS BIGINT)
          |        * 1000000 + i) AS enc
          |  FROM documents WHERE len(text) >= 8 AND len(text) < 1000003),
          |sel AS (SELECT doc_id,
          |    list_distinct(list_transform(generate_series(1, len(enc) - 5 + 1), j ->
          |      list_aggregate(list_slice(enc, j, j + 4), 'min'))) AS fps
          |  FROM g)
          |SELECT doc_id, CAST(u % 1000000 AS INT) AS pos, u // 1000000 AS fp
          |FROM (SELECT doc_id, unnest(fps) AS u FROM sel)""".stripMargin),
      "Winnowing (MOSS) fingerprints: windowed-min k-gram hashes, position-aware local dedup."),

    QueryDef(
      "dedup_incremental",
      (s, dir) => {
        // Incremental (delta-vs-corpus) dedup — the production shape:
        // a new ingest batch (doc_id%5==0 here) is checked against the
        // EXISTING corpus index without ever re-joining the corpus with
        // itself. Two probes per batch doc: (1) exact — content
        // fingerprint against the base fp index; (2) near — the doc's
        // 4 MinHash band keys against the base's distinct band-bucket
        // set (any collision = LSH candidate, same banding as
        // dedup_lsh_verified). Scale shape: both probes are
        // (key)-shuffle joins where one side is O(delta) — AQE
        // broadcasts the batch side when the delta is small; the
        // corpus-side fp and band indexes are exactly what a 100 TB
        // lake would keep materialized between ingests, so the
        // per-batch cost is O(delta + index lookups), never O(corpus²)
        // and never a corpus rescan per batch.
        val d = t(s, dir, "documents")
        val baseFp = d.where(col("doc_id") % 5 =!= 0)
          .select(md5(col("text").cast("binary")).as("fp"))
          .groupBy("fp").agg(count("*").as("n_fp"))
        // cached: 4 id-sized rows per doc feed BOTH the base index and
        // the batch probe — without it each side recomputes the full
        // minhash signature pass (the expensive stage) separately
        val bands = minhashSig(s, dir)
          .select(col("doc_id"), posexplode(
            array(MinhashBands.map(b => col(b._1)): _*)).as(Seq("band", "bkey")))
          .cache()
        // materialize NOW (the lshCandidates convention): baseBands and
        // the delta probe both read this frame inside ONE downstream
        // job; branches racing an unpopulated cache each recompute the
        // full signature pass (the expensive stage) 2-3x for nothing
        bands.count()
        val baseBands = bands.where(col("doc_id") % 5 =!= 0)
          .select("band", "bkey").distinct()
        val near = bands.where(col("doc_id") % 5 === 0)
          .join(baseBands, Seq("band", "bkey"), "left_semi")
          .select("doc_id").distinct().withColumn("hit", lit(1))
        d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
          .join(baseFp, Seq("fp"), "left")
          .join(near, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("n_fp").isNotNull.cast("int").as("is_exact_dup"),
            coalesce(col("n_fp"), lit(0L)).as("n_exact_matches"),
            coalesce(col("hit"), lit(0)).cast("int").as("is_near_candidate"))
      },
      Some(materializeCtes(
        s"""$ShingleCte,
           |sig AS (SELECT doc_id, ${bandMinSql.mkString(", ")} FROM sh GROUP BY doc_id),
           |bands AS (${MinhashBands.map(_._1).zipWithIndex.map { case (n, b) =>
          s"SELECT doc_id, $b AS band, $n AS bkey FROM sig" }.mkString(" UNION ALL ")}),
           |baseb AS (SELECT DISTINCT band, bkey FROM bands WHERE doc_id % 5 <> 0),
           |near AS (SELECT DISTINCT b.doc_id FROM bands b
           |  JOIN baseb ON b.band = baseb.band AND b.bkey = baseb.bkey
           |  WHERE b.doc_id % 5 = 0),
           |basefp AS (SELECT md5(text) AS fp, COUNT(*) AS n_fp
           |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(CASE WHEN basefp.fp IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_exact_dup,
           |  CAST(COALESCE(basefp.n_fp, 0) AS BIGINT) AS n_exact_matches,
           |  CAST(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
           |    AS is_near_candidate
           |FROM documents d
           |LEFT JOIN basefp ON md5(d.text) = basefp.fp
           |LEFT JOIN near ON d.doc_id = near.doc_id
           |WHERE d.doc_id % 5 = 0""".stripMargin,
        "sh", "sig", "bands")),
      "Incremental dedup: delta batch probed against corpus fp + LSH band indexes."),

    QueryDef(
      "dedup_triangles",
      (s, dir) => {
        // Triangle census over the verified near-dup graph — the
        // cluster-density signal that separates tight duplicate CLIQUES
        // (template farms: every pair matches) from loose CHAINS
        // (drifting revisions: consecutive pairs only), which CC alone
        // cannot distinguish. Canonical enumeration: edges keep
        // doc_a < doc_b, a triangle a<b<c is found exactly once by
        // joining (a,b)+(b,c) wedges with the closing (a,c) edge — two
        // equi-joins on ids, no orientation pass needed. Scale shape:
        // the wedge join's blowup is degree-bounded, and the LSH
        // hot-bucket cap (<=100 docs/bucket) already bounds the dup
        // graph's degree, so wedges <= 100·|E| by construction — the
        // pathological star that makes triangle counting quadratic
        // cannot reach this operator. Only id-pairs shuffle; per-doc
        // counts are map-side-combinable.
        val e = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val deg = e.select(col("doc_a").as("doc_id"))
          .unionAll(e.select(col("doc_b").as("doc_id")))
          .groupBy("doc_id").agg(count("*").as("degree"))
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
          .join(e.as("e3"),
            col("e3.doc_a") === col("e1.doc_a") &&
              col("e3.doc_b") === col("e2.doc_b"))
          .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
            col("e2.doc_b").as("c"))
        val perDoc = tri
          .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
          .groupBy("doc_id").agg(count("*").as("n_tri"))
        deg.join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("degree").cast("int").as("degree"),
            coalesce(col("n_tri"), lit(0L)).cast("int").as("n_tri"))
      },
      Some(materializeCtes(
        s"""$ShingleCte,
           |$LshPairsCtes,
           |e AS (SELECT doc_a, doc_b FROM pairs),
           |deg AS (SELECT doc_id, COUNT(*) AS degree FROM (
           |  SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b AS doc_id FROM e)
           |  GROUP BY doc_id),
           |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
           |  FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
           |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
           |pd AS (SELECT doc_id, COUNT(*) AS n_tri FROM (
           |  SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri
           |  UNION ALL SELECT c FROM tri) GROUP BY doc_id)
           |SELECT deg.doc_id, CAST(degree AS INT) AS degree,
           |  CAST(COALESCE(n_tri, 0) AS INT) AS n_tri
           |FROM deg LEFT JOIN pd ON deg.doc_id = pd.doc_id""".stripMargin,
        "sh", "sig", "cand", "shc", "cnt", "shr", "pairs", "e")),
      "Triangle census of the near-dup graph: clique-vs-chain cluster density."),

    QueryDef(
      "dedup_cluster_sizes",
      (s, dir) => {
        // The dedup REPORT layer: cluster-size histogram over the
        // resolved components — what a curation run actually publishes
        // (how many pairs/triples/large farms, and the dedup savings
        // |docs| - |clusters| it implies). Same CC pipeline as
        // dedup_clusters (contraction seed + pointer jumping), then two
        // id-sized combinable aggregations; the histogram is
        // max-cluster-size rows at ANY corpus scale.
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        pointerJumpCC(localUnionFindEdges(edges).localCheckpoint(true))
          .groupBy("cluster_id").agg(count("*").as("sz"))
          .groupBy("sz").agg(count("*").as("n_clusters"))
          .select(col("sz").cast("int").as("cluster_size"), col("n_clusters"))
      },
      Some(materializeCtes(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
           |cc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id)
           |SELECT CAST(sz AS INT) AS cluster_size, COUNT(*) AS n_clusters
           |FROM (SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY 1)
           |GROUP BY sz""".stripMargin,
        "sh", "sig", "cand", "cids", "shc", "cnt", "shr", "pairs", "edges")),
      "Cluster-size histogram of the resolved dup components (the curation report)."),

    QueryDef(
      "dedup_keep_best",
      (s, dir) => {
        // SURVIVOR SELECTION — the step that turns cluster labels into
        // an actual dedup decision: per dup cluster keep the best doc
        // (longest n_chars, ties to the lowest doc_id) and report what
        // dropping the rest saves. Same CC pipeline as dedup_clusters
        // (contraction seed + pointer jumping); the quality join ships
        // only (doc_id, n_chars) — column-pruned at the scan — and the
        // argmax is ONE max(struct) aggregation (map-side combinable,
        // no window sort): at 100 TB everything after the pair graph
        // shuffles id-sized rows keyed by cluster_id.
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val cc = pointerJumpCC(localUnionFindEdges(edges).localCheckpoint(true))
          .select("doc_id", "cluster_id")
        val docs = t(s, dir, "documents").select("doc_id", "n_chars")
        // max(struct(n_chars, -doc_id)) == (max n_chars, tie min doc_id):
        // struct ordering is lexicographic and doc_id >= 0 so the
        // negation is overflow-free
        cc.join(docs, "doc_id")
          .groupBy("cluster_id")
          .agg(
            max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("best"),
            count("*").as("nm"),
            sum("n_chars").as("chars_total"))
          .select(col("cluster_id"),
            (-col("best.nd")).as("kept_doc"),
            col("nm").cast("int").as("n_members"),
            (col("chars_total") - col("best.n_chars")).as("chars_dropped"))
      },
      // `j` is referenced twice (the membership aggregate and the
      // survivor window) — without materialization DuckDB re-inlines
      // the whole recursive-CC + LSH pipeline into BOTH references
      // (measured: >30 s vs ~6 s; the r10 driver-correctness killer
      // the OracleGuardSpec budget exists to catch, and did).
      Some(materializeCtes(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
           |cc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id),
           |j AS (SELECT cc.cluster_id, d.doc_id, d.n_chars
           |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
           |b AS (SELECT cluster_id, doc_id AS kept_doc, n_chars AS kept_chars,
           |    ROW_NUMBER() OVER (PARTITION BY cluster_id
           |      ORDER BY n_chars DESC, doc_id) AS rk FROM j)
           |SELECT j.cluster_id, b.kept_doc, CAST(COUNT(*) AS INT) AS n_members,
           |  CAST(SUM(j.n_chars) - MAX(b.kept_chars) AS BIGINT) AS chars_dropped
           |FROM j JOIN b ON j.cluster_id = b.cluster_id AND b.rk = 1
           |GROUP BY 1, 2""".stripMargin,
        "sh", "sig", "cand", "cids", "shc", "cnt", "shr", "pairs",
        "edges", "cc", "j")),
      "Per-cluster survivor selection: keep the longest doc, report chars saved."),

    QueryDef(
      "dedup_pipeline_funnel",
      (s, dir) => {
        // THE CURATION PIPELINE, end to end — the stage sequence a
        // pretraining data run actually executes, as ONE query with a
        // per-source attrition report: LSH near-dedup with survivor
        // election (keep the longest doc per cluster) → holdout
        // exclusion (the eval split other queries decontaminate
        // against) → 3-gram decontamination of the remaining train
        // docs (drop contam_frac >= 0.2, stated as the integer
        // cross-ratio 5·n_shared >= n_shingles so no double ever
        // crosses engines) → final doc/char counts. Composes the
        // proven sub-plans (lshVerifiedPairs, contraction-seeded CC,
        // decontaminate); the stage flags are id-sized left joins and
        // the report is one map-side-combinable aggregation to
        // |sources| rows. At 100 TB nothing here shuffles doc bodies:
        // pairs/labels/flags are all id-keyed.
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val cc = pointerJumpCC(localUnionFindEdges(edges).localCheckpoint(true))
          .select("doc_id", "cluster_id")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val kept = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
          .groupBy("cluster_id")
          .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("best"))
          .select(col("cluster_id"), (-col("best.nd")).as("kept_doc"))
        val nearDropped = cc.join(kept, "cluster_id")
          .where(col("doc_id") =!= col("kept_doc"))
          .select(col("doc_id"), lit(1).as("ndrop"))
        val contam = decontaminate(s, dir)
          .where(col("n_shared") * 5 >= col("n_shingles"))
          .select(col("doc_id"), lit(1).as("ct"))
        docs
          .join(nearDropped, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .select(col("source"), col("n_chars"),
            coalesce(col("ndrop"), lit(0)).as("ndrop"),
            ((col("doc_id") % 1000003L * 2654435761L % 100) >= 80)
              .cast("int").as("ho"),
            coalesce(col("ct"), lit(0)).as("ct"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("ndrop").cast("long").as("n_near_dropped"),
            sum(expr("(1-ndrop)*ho")).cast("long").as("n_holdout"),
            sum(expr("(1-ndrop)*(1-ho)*ct")).cast("long").as("n_contaminated"),
            sum(expr("(1-ndrop)*(1-ho)*(1-ct)")).cast("long").as("n_final"),
            sum(expr("(1-ndrop)*(1-ho)*(1-ct)*n_chars")).cast("long")
              .as("chars_final"))
      },
      Some(materializeCtes(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
           |cc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id),
           |jj AS (SELECT cc.cluster_id, d.doc_id, d.n_chars
           |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
           |b AS (SELECT cluster_id, doc_id AS kept_doc,
           |    ROW_NUMBER() OVER (PARTITION BY cluster_id
           |      ORDER BY n_chars DESC, doc_id) AS rk FROM jj),
           |nd AS (SELECT jj.doc_id FROM jj
           |  JOIN b ON jj.cluster_id = b.cluster_id AND b.rk = 1
           |  WHERE jj.doc_id <> b.kept_doc),
           |cntall AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |hold AS (SELECT DISTINCT s FROM sh
           |  WHERE doc_id % 1000003 * 2654435761 % 100 >= 80),
           |trc AS (SELECT tr.doc_id FROM
           |    (SELECT sh.doc_id, COUNT(*) AS n_shared FROM sh
           |      JOIN hold ON sh.s = hold.s
           |      WHERE sh.doc_id % 1000003 * 2654435761 % 100 < 80
           |      GROUP BY 1) tr
           |  JOIN cntall c ON tr.doc_id = c.doc_id
           |  WHERE tr.n_shared * 5 >= c.n),
           |f AS (SELECT d.source, d.n_chars,
           |    CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ndrop,
           |    CASE WHEN d.doc_id % 1000003 * 2654435761 % 100 >= 80
           |      THEN 1 ELSE 0 END AS ho,
           |    CASE WHEN trc.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ct
           |  FROM documents d
           |  LEFT JOIN nd ON d.doc_id = nd.doc_id
           |  LEFT JOIN trc ON d.doc_id = trc.doc_id)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(ndrop) AS BIGINT) AS n_near_dropped,
           |  CAST(SUM((1-ndrop)*ho) AS BIGINT) AS n_holdout,
           |  CAST(SUM((1-ndrop)*(1-ho)*ct) AS BIGINT) AS n_contaminated,
           |  CAST(SUM((1-ndrop)*(1-ho)*(1-ct)) AS BIGINT) AS n_final,
           |  CAST(SUM((1-ndrop)*(1-ho)*(1-ct)*n_chars) AS BIGINT) AS chars_final
           |FROM f GROUP BY 1""".stripMargin,
        "sh", "sig", "cand", "cids", "shc", "cnt", "shr", "pairs",
        "edges", "cc", "jj", "hold")),
      "The composed curation pipeline: near-dedup survivors, holdout split, decontamination — per-source attrition."),

    QueryDef(
      "dedup_disposition",
      (s, dir) => {
        // PER-DOC curation audit — dedup_pipeline_funnel's per-source
        // attrition refined to the row a data auditor actually asks
        // for: every doc's final disposition and, when it lost a dedup
        // election, WHO beat it. Status precedence mirrors the funnel's
        // stage order exactly (near-dup election first, then holdout
        // split, then train decontamination), so grouping this output
        // by (source, status) reproduces the funnel counts. keeper_id
        // is non-null ONLY on near_dup rows — the audit pointer, same
        // max(n_chars, ties min doc_id) election every dedup entry
        // uses. Scale shape: identical to the funnel (one shared pair
        // graph, id-sized CC + election joins, two id-keyed left joins
        // onto a column-pruned doc scan); output is one id-width row
        // per doc — the audit table a 100 TB run materializes next to
        // its manifest. The serve-side twin over the PERSISTED index
        // (no recompute) is operators/DeltaIngest.explainDocs.
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val cc = pointerJumpCC(localUnionFindEdges(edges).localCheckpoint(true))
          .select("doc_id", "cluster_id")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val kept = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
          .groupBy("cluster_id")
          .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("best"))
          .select(col("cluster_id"), (-col("best.nd")).as("kept_doc"))
        val withKeeper = cc.join(kept, "cluster_id")
          .select(col("doc_id"), col("kept_doc"))
        val contam = decontaminate(s, dir)
          .where(col("n_shared") * 5 >= col("n_shingles"))
          .select(col("doc_id"), lit(1).as("ct"))
        docs
          .join(withKeeper, Seq("doc_id"), "left")
          .join(contam, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            when(col("kept_doc").isNotNull && col("kept_doc") =!= col("doc_id"),
              lit("near_dup"))
              .when((col("doc_id") % 1000003L * 2654435761L % 100) >= 80,
                lit("holdout"))
              .when(col("ct").isNotNull, lit("contaminated"))
              .otherwise(lit("train")).as("status"),
            when(col("kept_doc").isNotNull && col("kept_doc") =!= col("doc_id"),
              col("kept_doc")).cast("long").as("keeper_id"))
      },
      Some(materializeCtes(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
           |cc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id),
           |jj AS (SELECT cc.cluster_id, d.doc_id, d.n_chars
           |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
           |b AS (SELECT cluster_id, doc_id AS kept_doc,
           |    ROW_NUMBER() OVER (PARTITION BY cluster_id
           |      ORDER BY n_chars DESC, doc_id) AS rk FROM jj),
           |nd AS (SELECT jj.doc_id, b.kept_doc FROM jj
           |  JOIN b ON jj.cluster_id = b.cluster_id AND b.rk = 1
           |  WHERE jj.doc_id <> b.kept_doc),
           |cntall AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |hold AS (SELECT DISTINCT s FROM sh
           |  WHERE doc_id % 1000003 * 2654435761 % 100 >= 80),
           |trc AS (SELECT tr.doc_id FROM
           |    (SELECT sh.doc_id, COUNT(*) AS n_shared FROM sh
           |      JOIN hold ON sh.s = hold.s
           |      WHERE sh.doc_id % 1000003 * 2654435761 % 100 < 80
           |      GROUP BY 1) tr
           |  JOIN cntall c ON tr.doc_id = c.doc_id
           |  WHERE tr.n_shared * 5 >= c.n)
           |SELECT d.doc_id, d.source,
           |  CASE WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
           |    WHEN d.doc_id % 1000003 * 2654435761 % 100 >= 80 THEN 'holdout'
           |    WHEN trc.doc_id IS NOT NULL THEN 'contaminated'
           |    ELSE 'train' END AS status,
           |  CASE WHEN nd.doc_id IS NOT NULL THEN nd.kept_doc END AS keeper_id
           |FROM documents d
           |LEFT JOIN nd ON d.doc_id = nd.doc_id
           |LEFT JOIN trc ON d.doc_id = trc.doc_id""".stripMargin,
        "sh", "sig", "cand", "cids", "shc", "cnt", "shr", "pairs",
        "edges", "cc", "jj", "hold")),
      "Per-doc curation audit: final disposition (near_dup/holdout/contaminated/train) + the keeper that beat each dropped doc."),

    QueryDef(
      "dedup_delta_election",
      (s, dir) => {
        // The INCREMENTAL-dedup election (operators/DeltaIngest stage
        // 2c) as an oracle-checked query: treat doc_id%5==0 as an
        // arriving delta batch and the rest as the standing corpus,
        // both inside one verified pair graph. Base docs resolve to
        // their cluster KEEPER (longest, ties to smallest id —
        // singletons keep themselves); delta docs cluster among
        // THEMSELVES; each delta cluster then elects against the best
        // keeper its members match. Because a keeper is the max of its
        // cluster and the delta best is the max of its own, the
        // keeper-vs-best comparison IS the max over the merged
        // membership — the exactness argument DeltaIngestSpec proves
        // end-to-end; this entry puts the same arithmetic under the
        // DuckDB hash gate. Scale shape: one shared pair graph (the
        // cached LSH pipeline), two id-sized CC fixpoints, and
        // id-keyed joins — nothing corpus².
        val pairs = lshVerifiedPairs(s, dir).select("doc_a", "doc_b")
        val docs = t(s, dir, "documents").select("doc_id", "n_chars")
        def ccOf(edgesIn: DataFrame): DataFrame = pointerJumpCC(
          localUnionFindEdges(edgesIn).localCheckpoint(true))
          .select("doc_id", "cluster_id")
        def bidir(p: DataFrame): DataFrame =
          p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
            .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val bb = pairs.where(col("doc_a") % 5 =!= 0 && col("doc_b") % 5 =!= 0)
        val dd = pairs.where(col("doc_a") % 5 === 0 && col("doc_b") % 5 === 0)
        // ONE fixpoint for both partitions: bb's nodes are base ids and
        // dd's are delta ids — disjoint node sets with no cross edges —
        // so CC over the union is exactly the two CCs side by side
        // (components never span the sets, labels stay within their
        // side). Halves the round-dominated pointer-jumping cost.
        val cc = ccOf(bidir(bb.unionAll(dd))).localCheckpoint(true)
        val bcc = cc.where(col("doc_id") % 5 =!= 0)
        val bKeeper = bcc.join(docs, "doc_id")
          .groupBy("cluster_id")
          .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("b"))
          .select(col("cluster_id"), (-col("b.nd")).as("keeper_id"),
            col("b.n_chars").as("keeper_len"))
        val baseK = bcc.join(bKeeper, "cluster_id")
          .select(col("doc_id").as("base_id"), col("keeper_id"), col("keeper_len"))
        val dcc = cc.where(col("doc_id") % 5 === 0)
        // materialized once: three consumers (dBest, mk's delta-id
        // probe, the final membership join) each re-ran the doc scan +
        // dcc join otherwise (r18; same id-sized checkpoint policy as
        // the cc frame above)
        val dMem = docs.where(col("doc_id") % 5 === 0)
          .join(dcc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("cluster_id"), col("doc_id")).as("dcid"))
          .localCheckpoint(true)
        val dBest = dMem.groupBy("dcid")
          .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("b"))
          .select(col("dcid"), (-col("b.nd")).as("d_id"), col("b.n_chars").as("d_len"))
        val xp = pairs
          .where((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
          .select(
            when(col("doc_a") % 5 === 0, col("doc_a")).otherwise(col("doc_b"))
              .as("delta_id"),
            when(col("doc_a") % 5 === 0, col("doc_b")).otherwise(col("doc_a"))
              .as("base_id"))
        val mk = xp
          .join(dMem.select(col("doc_id").as("delta_id"), col("dcid")), "delta_id")
          .join(baseK, Seq("base_id"), "left")
          .join(docs.select(col("doc_id").as("base_id"),
            col("n_chars").as("self_len")), "base_id")
          .select(col("dcid"),
            coalesce(col("keeper_id"), col("base_id")).as("k_id"),
            coalesce(col("keeper_len"), col("self_len")).as("k_len"))
        // no .distinct() here (r18): mk feeds ONLY the max-struct
        // aggregate below, and max over a multiset equals max over its
        // set — the old dedup exchange bought nothing. (DeltaIngest's
        // matchedKeepers keeps its distinct: it has row-level
        // consumers.) The oracle's mk CTE keeps DISTINCT; its bb2
        // picks rk=1 by the same (k_len, k_id) order, so the winner —
        // and therefore every output row — is unchanged.
        val bBest = mk.groupBy("dcid")
          .agg(max(struct(col("k_len"), (-col("k_id")).as("nd"))).as("b"))
          .select(col("dcid"), (-col("b.nd")).as("b_id"), col("b.k_len").as("b_len"))
        val elect = dBest.join(bBest, Seq("dcid"), "left")
          .select(col("dcid"), col("d_id"), col("b_id"),
            (col("b_id").isNull ||
              struct(col("d_len"), (-col("d_id")).as("nd")) >
                struct(col("b_len"), (-col("b_id")).as("nd"))).as("dwin"))
        dMem.join(elect, "dcid")
          .select(col("doc_id"), col("dcid").as("cluster_id"),
            when(col("dwin"), col("d_id")).otherwise(col("b_id")).as("winner_id"),
            (col("dwin") && col("doc_id") === col("d_id")).cast("int").as("kept"))
      },
      Some(materializeCtes(
        s"""${ShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$LshPairsCtes,
           |bbe AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |    WHERE doc_a % 5 <> 0 AND doc_b % 5 <> 0
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |    WHERE doc_a % 5 <> 0 AND doc_b % 5 <> 0),
           |breach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM bbe
           |  UNION
           |  SELECT e.dst, r.lbl FROM breach r JOIN bbe e ON e.src = r.doc_id),
           |bcc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM breach GROUP BY doc_id),
           |bkr AS (SELECT b.cluster_id, d.doc_id AS keeper_id, d.n_chars AS keeper_len,
           |    ROW_NUMBER() OVER (PARTITION BY b.cluster_id
           |      ORDER BY d.n_chars DESC, d.doc_id) AS rk
           |  FROM bcc b JOIN documents d ON b.doc_id = d.doc_id),
           |basek AS (SELECT b.doc_id AS base_id, k.keeper_id, k.keeper_len
           |  FROM bcc b JOIN bkr k ON b.cluster_id = k.cluster_id AND k.rk = 1),
           |dde AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |    WHERE doc_a % 5 = 0 AND doc_b % 5 = 0
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |    WHERE doc_a % 5 = 0 AND doc_b % 5 = 0),
           |dreach AS (
           |  SELECT DISTINCT src AS doc_id, src AS lbl FROM dde
           |  UNION
           |  SELECT e.dst, r.lbl FROM dreach r JOIN dde e ON e.src = r.doc_id),
           |dcc AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM dreach GROUP BY doc_id),
           |dmem AS (SELECT d.doc_id, d.n_chars, COALESCE(c.cluster_id, d.doc_id) AS dcid
           |  FROM documents d LEFT JOIN dcc c ON d.doc_id = c.doc_id
           |  WHERE d.doc_id % 5 = 0),
           |dbest AS (SELECT dcid, doc_id AS d_id, n_chars AS d_len,
           |    ROW_NUMBER() OVER (PARTITION BY dcid
           |      ORDER BY n_chars DESC, doc_id) AS rk FROM dmem),
           |xp AS (SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS delta_id,
           |    CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS base_id
           |  FROM pairs WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)),
           |mk AS (SELECT DISTINCT m.dcid,
           |    COALESCE(k.keeper_id, x.base_id) AS k_id,
           |    COALESCE(k.keeper_len, d.n_chars) AS k_len
           |  FROM xp x JOIN dmem m ON x.delta_id = m.doc_id
           |  LEFT JOIN basek k ON x.base_id = k.base_id
           |  JOIN documents d ON x.base_id = d.doc_id),
           |bb2 AS (SELECT dcid, k_id AS b_id, k_len AS b_len,
           |    ROW_NUMBER() OVER (PARTITION BY dcid
           |      ORDER BY k_len DESC, k_id) AS rk FROM mk),
           |el AS (SELECT db.dcid, db.d_id, db.d_len, b2.b_id, b2.b_len,
           |    (b2.b_id IS NULL OR db.d_len > b2.b_len
           |      OR (db.d_len = b2.b_len AND db.d_id < b2.b_id)) AS dwin
           |  FROM dbest db LEFT JOIN bb2 b2 ON db.dcid = b2.dcid AND b2.rk = 1
           |  WHERE db.rk = 1)
           |SELECT m.doc_id, CAST(m.dcid AS BIGINT) AS cluster_id,
           |  CAST(CASE WHEN el.dwin THEN el.d_id ELSE el.b_id END AS BIGINT)
           |    AS winner_id,
           |  CAST(CASE WHEN el.dwin AND m.doc_id = el.d_id THEN 1 ELSE 0 END AS INT)
           |    AS kept
           |FROM dmem m JOIN el ON m.dcid = el.dcid""".stripMargin,
        "sh", "sig", "cand", "cids", "shc", "cnt", "shr", "pairs",
        "bcc", "basek", "dcc", "dmem", "mk")),
      "Incremental-dedup election: delta clusters vs standing-corpus keepers, winner per cluster."),

    QueryDef(
      "dedup_delta_decontam",
      (s, dir) => {
        // RETRO-contamination (the DeltaIngest stage-3 base-side
        // check) under the oracle gate: an arriving delta batch
        // (doc_id%5==0) grows the eval holdout (split buckets >= 80),
        // and base TRAIN docs that now share too many word-8-grams
        // with the GROWN holdout must leave the training set even
        // though they passed at curation time. Per base train doc:
        // gram budget, overlap with the OLD (base-only) holdout,
        // overlap ADDED by the new holdout grams, and both decisions
        // as integer cross-ratios. Grams ride as raw strings here so
        // the key space is oracle-exact in SQL; the production path
        // (DeltaIngest) probes xxhash64 postings of the same windows.
        // Scale shape: the holdout sides are eval-sized; the train
        // explode joins ONE labeled holdout union (no racing branch
        // pair), map-side-combinable counts keyed on doc_id.
        val g = expr(
          "transform(sequence(0, greatest(size(split(text, ' ')) - 8, 0)), " +
            "i -> array_join(slice(split(text, ' '), i + 1, 8), ' '))")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), array_distinct(g).as("gs"))
          .withColumn("bucket", splitBucket)
        val baseHold = docs.where(col("doc_id") % 5 =!= 0 && col("bucket") >= 80)
          .select(explode(col("gs")).as("g")).distinct()
        val newHold = docs.where(col("doc_id") % 5 === 0 && col("bucket") >= 80)
          .select(explode(col("gs")).as("g")).distinct()
          .join(baseHold, Seq("g"), "left_anti")
        // ONE labeled union joined once — no cached frame for two
        // probe branches to race
        val holdAll = baseHold.select(col("g"), lit(0).as("isnew"))
          .unionAll(newHold.select(col("g"), lit(1).as("isnew")))
        val counts = docs.where(col("doc_id") % 5 =!= 0 && col("bucket") < 80)
          .select(col("doc_id"), explode(col("gs")).as("g"))
          .join(holdAll, "g")
          .groupBy("doc_id")
          .agg(sum((lit(1) - col("isnew")).cast("long")).as("n_old"),
            sum(col("isnew").cast("long")).as("n_new"))
        docs.where(col("doc_id") % 5 =!= 0 && col("bucket") < 80)
          .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
          .join(counts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_old"), lit(0L)).as("n_old"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .withColumn("survivor_before",
            (col("n_old") * 5 < col("n_grams")).cast("int"))
          .withColumn("retro_dropped",
            (col("n_old") * 5 < col("n_grams") &&
              (col("n_old") + col("n_new")) * 5 >= col("n_grams")).cast("int"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    list_distinct(list_transform(
          |      range(0, greatest(len(string_split(text, ' ')) - 8, 0) + 1),
          |      i -> array_to_string(
          |        list_slice(string_split(text, ' '), i + 1, i + 8), ' '))) AS gs,
          |    doc_id % 1000003 * 2654435761 % 100 AS bucket
          |  FROM documents),
          |bh AS (SELECT DISTINCT unnest(gs) AS g FROM d
          |  WHERE doc_id % 5 <> 0 AND bucket >= 80),
          |nh AS (SELECT g FROM (SELECT DISTINCT unnest(gs) AS g FROM d
          |    WHERE doc_id % 5 = 0 AND bucket >= 80)
          |  WHERE g NOT IN (SELECT g FROM bh)),
          |ha AS (SELECT g, 0 AS isnew FROM bh UNION ALL SELECT g, 1 FROM nh),
          |tr AS (SELECT doc_id, unnest(gs) AS g FROM d
          |  WHERE doc_id % 5 <> 0 AND bucket < 80),
          |cts AS (SELECT tr.doc_id,
          |    CAST(COUNT(CASE WHEN ha.isnew = 0 THEN 1 END) AS BIGINT) AS n_old,
          |    CAST(COUNT(CASE WHEN ha.isnew = 1 THEN 1 END) AS BIGINT) AS n_new
          |  FROM tr JOIN ha ON tr.g = ha.g GROUP BY tr.doc_id)
          |SELECT d.doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
          |  COALESCE(cts.n_old, 0) AS n_old, COALESCE(cts.n_new, 0) AS n_new,
          |  CAST(CASE WHEN COALESCE(cts.n_old, 0) * 5 < len(gs)
          |    THEN 1 ELSE 0 END AS INT) AS survivor_before,
          |  CAST(CASE WHEN COALESCE(cts.n_old, 0) * 5 < len(gs)
          |      AND (COALESCE(cts.n_old, 0) + COALESCE(cts.n_new, 0)) * 5 >= len(gs)
          |    THEN 1 ELSE 0 END AS INT) AS retro_dropped
          |FROM d LEFT JOIN cts ON d.doc_id = cts.doc_id
          |WHERE d.doc_id % 5 <> 0 AND d.bucket < 80""".stripMargin),
      "Retro-decontamination: base train docs re-checked against a delta-grown eval holdout."))
}
