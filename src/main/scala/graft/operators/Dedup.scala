package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — the training-data-pipeline
  * surface (net-new beyond the reference).
  *
  * Scale design (the point of each shape):
  *  - exact dedup shuffles on a 16-byte content hash, never on raw text;
  *  - MinHash/SimHash candidate generation is the classic
  *    shingle→signature→band→bucket-join: the only shuffle key is a
  *    band hash, so cost is O(n·bands) rows, never O(n²) pairs;
  *  - exact similarity (Jaccard / Hamming) is computed only on
  *    bucket-collision candidates;
  *  - blocked n-gram Jaccard bounds pairwise work by (source, length
  *    bucket) blocks — the fallback when no sketch is acceptable.
  * All plans are pure DataFrame ops (codegen'd); no UDFs, no collect.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  private val NumHashes = 16
  private val Bands = 4 // 4 rows per band: P(candidate) = 1-(1-J^4)^4 —
  // steep around J≈0.7, so random-pair collisions (J≈0.03) are ~1e-6
  // while true near-dups (J≥0.9) are caught with p≈0.99. Band width is
  // the selectivity knob that keeps candidate count near-linear.

  /** Minhash universal-hash family, one expensive hash per shingle.
    *
    * Base hash: the first 15 hex chars of md5(s) parsed as an integer
    * (15 hex chars = 60 bits, so the value always fits a signed int64
    * in both engines — 16 chars could set the sign bit, which Spark
    * wraps and DuckDB rejects), reduced mod P = 2^31-1. All 16 minhash
    * slots are then affine transforms (a_i·h + b_i) mod P with literal
    * constants — the standard universal-hash construction, so the md5
    * cost is paid ONCE per shingle instead of once per (shingle, slot)
    * (the round-3 regression). a_i, h < 2^31 keeps every product below
    * 2^62: no 64-bit overflow, which Spark would silently wrap and
    * DuckDB would reject — identical arithmetic in both engines is what
    * keeps the sketch family oracle-checkable end to end (DuckDB
    * recomputes the same signatures, bands, candidates and verified
    * pairs from the raw table). A production lake would swap the base
    * hash for xxhash64 (one line, ~3× cheaper) — hashing is per-row
    * compute with no shuffle implication, so the plan shape and scale
    * story are unchanged.
    */
  private val P = 2147483647L // 2^31 - 1 (prime)

  /** Deterministic (a_i, b_i) pairs, a_i ∈ [1, P-1], b_i ∈ [0, P-1];
    * shared by the Spark expressions and the generated DuckDB CTEs so
    * the two engines stay in lockstep by construction.
    */
  private val affine: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed5eedL)
    Seq.fill(NumHashes)((1L + rnd.nextInt((P - 1).toInt).toLong,
      rnd.nextInt(P.toInt).toLong))
  }

  /** Spark-side base hash (DuckDB twin: ('0x'||substr(md5(s),1,15))::BIGINT % P). */
  private def baseHashSql(valueExpr: String): String =
    s"cast(conv(substr(md5($valueExpr), 1, 15), 16, 10) as bigint) % $P"

  /** The PRODUCTION base hash the md5 scaladoc promises: one xxhash64
    * per shingle (codegen'd, no hex round-trip), reduced to [0, P).
    * Selected by `spark.graft.fastHash=true` — candidate sets differ
    * from the md5 family (different hash = different bands), but the
    * exact-Jaccard verify is hash-independent, so every planted
    * near-dup pair (J ≥ 0.8) is still caught with p≈0.99 per band
    * family; PipelineOpsSpec asserts the verified strong-pair sets
    * agree. Not oracle-checkable (DuckDB has no xxhash64 twin) — the
    * default stays md5 so the sketch family keeps its hash-match
    * oracles.
    */
  private def fastHashSql(valueExpr: String): String =
    s"pmod(xxhash64($valueExpr), $P)"

  private def baseHash(spark: SparkSession, valueExpr: String): String =
    if (spark.conf.getOption("spark.graft.fastHash").contains("true"))
      fastHashSql(valueExpr)
    else baseHashSql(valueExpr)

  /** Resolved base-hash family tag. Every memoized artifact derived from
    * the minhash pipeline (on-disk base index, cluster model) embeds this
    * in its cache key/path: the band postings of the two families are
    * disjoint, so serving an artifact built under the other family would
    * silently find zero collisions and classify near-dups as unique.
    */
  private[graft] def hashFamily(spark: SparkSession): String =
    if (spark.conf.getOption("spark.graft.fastHash").contains("true")) "xxh" else "md5"

  /** Band bucket j as ONE BIGINT join key: the 4 slot values (< 2^31)
    * pack pairwise into exact 62-bit ints (m·P + m'), xor-combined —
    * an 8-byte shuffle key where round 3 shuffled ~80-char strings.
    * Spurious xor collisions (~2^-62) would only add candidate pairs,
    * identically in both engines, and the exact-Jaccard verify absorbs
    * them.
    */
  private def bucketExpr(j: Int): String = {
    val m = (0 until 4).map(k => s"m${4 * j + k}")
    s"(${m(0)} * $P + ${m(1)}) ^ (${m(2)} * $P + ${m(3)})"
  }

  /** Word 3-gram shingles of the lowercased text.
    *
    * Two measured performance hazards shape this plan (together they
    * were ~7 of the round-3 10 s of x_dedup_minhash at sf0.1):
    *
    *  - A small documents file arrives as ONE scan partition, so
    *    per-row CPU work runs on a single core while 31 idle. The
    *    explicit-count repartition spreads rows first (explicit because
    *    AQE would coalesce a keyed repartition of byte-tiny input back
    *    to one partition). At lake scale the same principle holds:
    *    never let input file count cap parallelism ahead of CPU-heavy
    *    row work.
    *  - The earlier higher-order-function formulation (nested
    *    `transform` lambdas) was CodegenFallback: the shingle Project
    *    dropped out of whole-stage codegen across the whole minhash
    *    family, and CollapseProject re-executed the regex split once
    *    per ELEMENT unless masked by a lambda-bound array. The native
    *    [[graft.functions.TextExpressions.WordNGrams]] expression
    *    computes the identical n-gram array (same windows, same
    *    short-document tail), fuses into codegen, and evaluates its
    *    split child once per row.
    */
  private[operators] def shingled(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("tokens", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("shingles", array_distinct(
        graft.functions.TextExpressions.word_ngrams(col("tokens"), 3)))

  /** Exact dedup summary: raw vs normalized distinct counts. */
  def exactStats(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_distinct_text"),
      countDistinct(md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))).as("n_distinct_norm"))
  }

  /** Exact dedup keeping one representative doc_id per distinct content
    * hash. The group key is md5(text) — a fixed-width shuffle key, which
    * is what survives 100 TB (raw text keys would blow shuffle buffers).
    */
  def exactKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** URL-level dedup — the FIRST dedup stage of every web-corpus
    * pipeline (CCNet/FineWeb dedup by canonical URL before any content
    * hashing, because it is free: no text ever shuffles). The corpus
    * has no URL column, so a deterministic messy URL is derived
    * in-query from (doc_id, source) — four real-world variants (case
    * noise, http vs https, www./m. prefixes, utm/ref tracking params,
    * fragments, trailing slash) that all canonicalize to
    * `<source>.com/articles/<doc_id % 100>`. Canonicalization:
    * lowercase → strip scheme → strip www./m. → strip query+fragment →
    * strip trailing slash, each a codegen'd regexp over a short string.
    *
    * Scale: the canonical URL is a short fixed-shape shuffle key and
    * the census is one groupBy — the same 100 TB shape as
    * [[exactKeep]]'s md5 key; per-source rollup rides the same
    * aggregate. No text column is ever read.
    */
  def urlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("h",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"))
    val raw = docs.withColumn("raw_url",
      expr(s"""CASE h % 4
        | WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.COM/Articles/' || (doc_id % 100) || '/?utm_source=feed&utm_campaign=x'
        | WHEN 1 THEN 'http://' || source || '.com/articles/' || (doc_id % 100)
        | WHEN 2 THEN 'https://' || source || '.com/Articles/' || (doc_id % 100) || '/#section-' || (h % 7)
        | ELSE 'https://m.' || source || '.com/articles/' || (doc_id % 100) || '?ref=tw&id=' || doc_id
        |END""".stripMargin))
    val canon = raw.withColumn("canonical",
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("raw_url")), "^https?://", ""),
            "^(www|m)\\.", ""),
          "[?#].*$", ""),
        "/$", ""))
    canon.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_distinct_raw"),
        countDistinct(col("canonical")).as("n_canonical"))
      .withColumn("dup_ppm",
        expr("(1000000 * (n_docs - n_canonical)) div n_docs"))
      .orderBy("source")
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard.
    *
    * Pipeline: shingle → one md5-derived base hash per shingle → 16
    * affine minhash slots as ONE codegen'd groupBy-min aggregate
    * (map-side combined; the shuffle carries 16 longs per doc, never
    * shingles) → 4 bands packed into single BIGINT buckets
    * ([[bucketExpr]]) → explode bands → self-join on (band, bucket) →
    * distinct candidate pairs → exact Jaccard on shingle sets → top 20.
    */
  /** (doc_id, band, bucket) LSH postings from a [[shingled]] frame:
    * base hash per shingle → 16 affine minhash slots as ONE codegen'd
    * groupBy-min aggregate (map-side combined; the shuffle carries 16
    * longs per doc, never shingles) → 4 bands packed into single
    * BIGINT buckets ([[bucketExpr]]). Shared by the self-join pair
    * generation ([[minhashVerifiedPairs]]) and the batch-vs-base join
    * ([[incrementalDedup]]).
    */
  /** Per-doc MinHash signature (doc_id, m0..m15) — the model frame the
    * banding, and (r13) the estimator-calibration census, both read.
    */
  private[operators] def minhashSignatures(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), expr(baseHash(docs.sparkSession, "s")).as("h"))
    val minAggs = affine.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"($a * h + $b) % $P")).as(s"m$i") }
    hashed.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  private def bandedFromSigs(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"),
      posexplode(array((0 until Bands).map(j => expr(bucketExpr(j))): _*))
        .as(Seq("band", "bucket")))

  private def bandedBuckets(docs: DataFrame): DataFrame =
    bandedFromSigs(minhashSignatures(docs))

  /** (candidate pairs, candidate shingle carry) of the banded LSH
    * self-join — both localCheckpointed (r13-opt, guide §2.4): pairs
    * is consumed three times per consumer (the verify join + twice in
    * candIds' union) and shCand twice (the doc_a/doc_b attach joins —
    * different join keys, so no exchange is reusable between them),
    * and every un-checkpointed copy re-ran the shingle→minhash→band
    * lineage; AQE's stage reuse only dedupes the identical banded
    * exchanges of the self-join itself. The pinned blocks are the
    * banding-bounded edge frame and the candidate-bounded shingle
    * carry — the established model-sized-edge-frame checkpoint class,
    * never full corpus text. Pins go through [[graft.Ckpt]] (r14): the
    * next invocation releases this generation's blocks, and the
    * cluster-model build releases them at artifact-write exit.
    *
    * Exact-verify discipline unchanged: the corpus is semi-joined down
    * to candidate doc_ids before any shingle array moves, so the
    * corpus side is never broadcast and never shuffled in full.
    */
  private def bandedCandidates(docs: DataFrame, banded: DataFrame)
      : (DataFrame, DataFrame) = {
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .transform(graft.Ckpt.pin("Dedup.bandedCandidates.pairs"))
    val sh = docs.select(col("doc_id"), col("shingles"))
    val candIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val shCand = sh.join(candIds, Seq("doc_id"), "left_semi")
      .transform(graft.Ckpt.pin("Dedup.bandedCandidates.shCand"))
    (pairs, shCand)
  }

  /** All verified candidate pairs with exact Jaccard (no limit) — the
    * edge set shared by [[minhashLsh]] (top-20 view) and
    * [[nearDupClusters]] (cluster formation).
    */
  private def minhashVerifiedPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingled(spark, sfDir)
    val (pairs, shCand) = bandedCandidates(docs, bandedBuckets(docs))
    pairs
      .join(shCand.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shCand.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      // the exact-integer twin of the rounded double: Jaccard in ppm
      // via truncating division, for the integer-disciplined censuses
      .withColumn("jacc_ppm", expr(
        "cast(size(array_intersect(sh_a, sh_b)) as bigint) * 1000000" +
          " div size(array_union(sh_a, sh_b))"))
      .select("doc_a", "doc_b", "jaccard", "jacc_ppm")
  }

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashVerifiedPairs(spark, sfDir)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** Jaccard-threshold sensitivity sweep — the tuning report run
    * before committing to a near-dup cutoff: edge count and affected-
    * doc count at 0.7 / 0.8 / 0.9, from ONE banding + verification
    * pass (the candidate pipeline runs once and is localCheckpointed
    * at its model-sized output; thresholds are an in-stage explode).
    * Both engines compare the SAME round(…,6) doubles against the same
    * pct/100.0 literals, so the cut is bit-identical.
    *
    * Scale: the sweep costs exactly one [[minhashVerifiedPairs]] run —
    * the banded shape that never enumerates pairs outside buckets —
    * plus aggregates over the verified-edge frame, which banding
    * selectivity keeps orders of magnitude below the corpus.
    */
  def thresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val j = minhashVerifiedPairs(spark, sfDir)
      .transform(graft.Ckpt.pin("Dedup.thresholdSweep.verified"))
    val e = j.select(
      explode(array(lit(70), lit(80), lit(90))).as("threshold_pct"),
      col("doc_a"), col("doc_b"), col("jaccard"))
      .filter(col("jaccard") >= col("threshold_pct") / lit(100.0))
    val edges = e.groupBy("threshold_pct").agg(count(lit(1)).as("n_edges"))
    val eps = e.select(col("threshold_pct"), col("doc_a").as("d"))
      .union(e.select(col("threshold_pct"), col("doc_b").as("d")))
      .distinct()
      .groupBy("threshold_pct").agg(count(lit(1)).as("n_docs_affected"))
    Seq(70, 80, 90).toDF("threshold_pct")
      .join(edges, Seq("threshold_pct"), "left")
      .join(eps, Seq("threshold_pct"), "left")
      .select(col("threshold_pct"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
      .orderBy("threshold_pct")
  }

  /** Cross-source duplication-leakage matrix — WHO copies from WHOM:
    * the verified near-dup edge set (jaccard ≥ 0.7, the same rounded-
    * double literal cut as [[thresholdSweep]]) attributed to unordered
    * source pairs, with the mean exact-integer Jaccard per cell. The
    * governance census a licensing / provenance review reads before a
    * mixing run: a hot off-diagonal cell means one source's mass is
    * another's content wearing a different label (double-counted in
    * mixing weights, leaked across any source-keyed split).
    *
    * Scale: rides ONE [[minhashVerifiedPairs]] run (banded candidate
    * generation, never all-pairs); the source attach is two doc_id
    * equi-joins against a 2-column projection, and the matrix is at
    * most (#sources choose 2)+#sources rows. Integer discipline: the
    * cell mean is Σ jacc_ppm div n on the exact truncating-division
    * ppm, not the rounded double.
    */
  def sourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    minhashVerifiedPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.7)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("jacc_ppm"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_edges"),
        expr("sum(jacc_ppm) div count(1)").as("mean_jaccard_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** MinHash estimator calibration census — [[graft.operators.Similarity]]'s
    * PQ-distortion discipline applied to the dedup index: for every
    * banded candidate pair, the signature-match estimate
    * (n_match·10⁶ div 16) against the exact shingle Jaccard, grouped
    * by match count. The |bias| per cell is the number that says
    * whether 16 hashes are enough at the operating threshold, BEFORE a
    * production run trusts the bands to prune: a hot bias at the
    * band-trigger counts means the LSH is promoting pairs the verify
    * join will mostly reject (wasted verification) or — worse at the
    * top — estimating high on pairs it never candidates.
    *
    * Scale: candidate pairs only (banded, never all-pairs); signatures
    * ride the localCheckpointed model frame ([[minhashSignatures]],
    * O(docs × 16) — computed once for banding AND scoring), the exact
    * side reuses the verified-pairs semi-join shape, and the census is
    * a ≤17-group aggregate.
    */
  def minhashCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingled(spark, sfDir)
    val sigs = minhashSignatures(docs)
      .transform(graft.Ckpt.pin("Dedup.minhashCalibration.sigs"))
    // exact side: the shared banded-candidate spine (pairs + shingle
    // carry both checkpointed — r13-opt, see [[bandedCandidates]])
    val (pairs, shCand) = bandedCandidates(docs, bandedFromSigs(sigs))
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(i => col(s"m$i").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(i => col(s"m$i").as(s"b$i")): _*)
    val nMatch = (0 until NumHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_match", nMatch)
      .join(shCand.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shCand.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("exact_ppm", expr(
        "cast(size(array_intersect(sh_a, sh_b)) as bigint) * 1000000" +
          " div size(array_union(sh_a, sh_b))"))
      .groupBy("n_match")
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(exact_ppm) div count(1)").as("mean_exact_ppm"))
      .withColumn("est_ppm",
        expr(s"cast(n_match as bigint) * 1000000 div $NumHashes"))
      .withColumn("bias_ppm", abs(col("est_ppm") - col("mean_exact_ppm")))
      .select("n_match", "n_pairs", "est_ppm", "mean_exact_ppm", "bias_ppm")
      .orderBy("n_match")
  }

  /** ASYMMETRIC containment pairs — C(A→B) = |A∩B| / |A|, the metric
    * that catches a document (nearly) CONTAINED in another: quote
    * farms, boilerplate-wrapped copies, and truncated mirrors sit at
    * high one-sided containment but mid Jaccard (the union in
    * Jaccard's denominator dilutes subset relations), so a
    * Jaccard-only dedup pass keeps them. Candidates come from the
    * same minhash band buckets as [[minhashLsh]] (the standard
    * practical compromise — band recall degrades as the size ratio
    * grows, which is why production containment pipelines also run
    * the [[substringDedup]] posting spine; both live in this file),
    * then the exact BOTH-DIRECTION containments are computed on the
    * semi-joined candidate shingle sets only.
    *
    * Output: top-20 candidate pairs by max(cont_a, cont_b) over the
    * ROUNDED values (round-then-rank, the cross-engine tiebreak
    * discipline), with both directions reported — cont_a ≥ jaccard
    * always, spec-asserted against the Jaccard pass.
    *
    * Scale: identical shape to the Jaccard verify — banded equi-join
    * candidates, semi-joined shingle carry, never corpus × corpus.
    */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = shingled(spark, sfDir)
    val (pairs, shCand) = bandedCandidates(docs, bandedBuckets(docs))
    pairs
      .join(shCand.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(shCand.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("cont_a", round(col("inter") / size(col("sh_a")), 6))
      .withColumn("cont_b", round(col("inter") / size(col("sh_b")), 6))
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"))
      .orderBy(greatest(col("cont_a"), col("cont_b")).desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** [[minhashLsh]] under the production hash family
    * ([[fastHashSql]]): the documented lake-scale md5→xxhash64 swap as
    * an executable, benchmarked path rather than a scaladoc promise.
    * Registered rows-only (no cross-engine twin for xxhash64); the
    * strong-pair agreement with the md5 family is spec-asserted.
    */
  def minhashLshFast(spark: SparkSession, sfDir: String): DataFrame = {
    val prev = spark.conf.getOption("spark.graft.fastHash")
    spark.conf.set("spark.graft.fastHash", "true")
    // the hash family is resolved at plan-construction time, so the
    // conf can be restored as soon as the plan exists
    try minhashLsh(spark, sfDir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.graft.fastHash", v)
      case None => spark.conf.unset("spark.graft.fastHash")
    }
  }

  /** Fingerprint-keyed on-disk location of the cluster model — the
    * dedup analog of the ingest base index ([[ensureBaseIndex]]). At
    * lake scale near-dup cluster MEMBERSHIP is a corpus-fraction-sized
    * DATA artifact (web-scale corpora run 30–50% near-dups), not a K×d
    * model, so it is materialized to parquet once per (input
    * fingerprint, hash family) and every apply pass JOINS it — never
    * collected to the driver, never broadcast from a driver array.
    * Two layouts are written: `members/` — (doc_id, keep_id) pairs,
    * the join-shaped table [[dedupApply]] consumes — and `clusters/`,
    * the display schema the build query returns. Regenerated input
    * changes the fingerprint and rebuilds.
    */
  private[graft] def clusterModelDir(spark: SparkSession, sfDir: String): String = {
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/documents.parquet")
    s"${graft.WorkDirs.rootActive}/dedup/clusters_${new java.io.File(sfDir).getName}_${fp}_${hashFamily(spark)}"
  }

  /** Build-if-absent gate for the cluster model: `clusters/` is written
    * last, so its _SUCCESS marks the whole artifact. The BUILD cost
    * stays on the build query (`x_dedup_clusters` always rebuilds);
    * apply-side consumers go through this gate, exactly as a
    * production pipeline materializes clusters once per corpus version
    * and applies them on every downstream pass.
    */
  private[graft] def ensureClusterModel(spark: SparkSession, sfDir: String): String = {
    import org.apache.hadoop.fs.Path
    val dir = clusterModelDir(spark, sfDir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$dir/clusters/_SUCCESS"))) buildClusterModel(spark, sfDir, dir)
    dir
  }

  /** Near-dup CLUSTER formation — the step an actual dedup pipeline
    * needs after pairwise detection: connected components over the
    * verified-pair edge graph (Jaccard ≥ 0.8), then one surviving
    * representative (min doc_id) per component.
    *
    * Components via min-label propagation: every doc starts labeled
    * with its own id; each round joins labels across edges (both
    * directions) and keeps the group-wise min, iterating UNTIL A
    * FIXPOINT (a round that changes no label) — so components of any
    * diameter converge exactly, not just the diameter ≤ 4 cliques this
    * corpus plants. At 100 TB-scale component counts you'd switch to
    * the large-star/small-star alternating algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014); the
    * per-round plan shape (edge join + min-agg) is identical.
    *
    * Memory contract: each round's labels are cached (they are read
    * twice: the convergence check and the next round), and the
    * PREVIOUS round's cache is released as soon as the new round is
    * materialized; the edge set is released before returning. The
    * final result is WRITTEN to the fingerprint-keyed on-disk model
    * ([[clusterModelDir]]) — a distributed sink, because at lake scale
    * the cluster table is corpus-fraction-sized — so NO cache outlives
    * the call. PipelineOpsSpec asserts the storage release.
    *
    * Each round is ONE Spark job: the previous label rides along as
    * `old_label` through the union+min aggregation, so the cache-
    * materializing count doubles as the convergence check — no
    * separate join against the previous round.
    *
    * Output: one row per near-dup cluster — (representative = min
    * member, cluster size, sorted '|'-joined member list).
    */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // The build query is also the artifact writer: it (re)materializes
    // the on-disk cluster model and returns a scan of it, so the frame
    // handed back is ALWAYS file-backed — downstream joins see a
    // parquet relation whether the build ran the driver fast path or
    // the distributed loop.
    val dir = clusterModelDir(spark, sfDir)
    buildClusterModel(spark, sfDir, dir)
    spark.read.parquet(s"$dir/clusters").orderBy("keep_id")
  }

  /** Cluster-size histogram — the dedup SAVINGS report every pipeline
    * publishes (how much of the corpus near-dup removal reclaims, and
    * whether mass sits in a few mega-clusters or many pairs). Consumes
    * the fingerprint-keyed on-disk cluster model like [[dedupApply]]
    * (artifact join, never a rebuild): every doc maps to
    * coalesce(keep_id, doc_id), sizes are one rep-keyed count, and the
    * histogram is a second count over the model-sized sizes frame —
    * singletons appear as the cluster_size=1 row, so the n_docs column
    * sums to the corpus exactly (spec-asserted).
    *
    * Scale: two keyed aggregates, the second over a frame no larger
    * than the cluster count; the corpus-sized join is doc_id-keyed
    * against the members table — the same 100 TB shape the apply path
    * already carries.
    */
  def clusterSizeHist(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureClusterModel(spark, sfDir)
    val members = spark.read.parquet(s"$dir/members")
      .select(col("doc_id"), col("keep_id"))
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val sizes = docs.join(members, Seq("doc_id"), "left")
      .select(coalesce(col("keep_id"), col("doc_id")).as("rep"))
      .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  /** Soft dedup (round-11): REWEIGHT near-duplicates instead of
    * dropping them — each doc gets sampling weight 1/|cluster| in
    * integer ppm, so a cluster contributes exactly one doc's worth of
    * training mass however many copies it holds (the soft alternative
    * to [[dedupApply]]'s hard removal; downweighting common content
    * rather than deleting it preserves tail phrasing diversity). The
    * per-source census reports raw vs effective doc counts — the
    * "how much does my corpus shrink under soft dedup" report, where
    * effective_docs ≈ the hard-dedup survivor count by construction.
    *
    * Float discipline: weights are integer ppm via truncating div;
    * every term is positive, so Spark `div` and DuckDB `//` agree.
    *
    * Scale: consumes the on-disk cluster model like [[clusterSizeHist]]
    * (artifact join, never a rebuild); sizes are one rep-keyed count
    * and the weight attach is the same rep-keyed equi-join the apply
    * path carries — no new shapes at 100 TB.
    */
  def softDedupWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureClusterModel(spark, sfDir)
    val members = spark.read.parquet(s"$dir/members")
      .select(col("doc_id"), col("keep_id"))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source")
    val assign = docs.join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("keep_id"), col("doc_id")).as("rep"))
    val sizes = assign.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
    assign.join(sizes, "rep")
      .withColumn("w_ppm", expr("1000000 div cluster_size"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_in_clusters"),
        sum("w_ppm").as("sum_weight_ppm"),
        expr("sum(w_ppm) div 1000000").as("effective_docs"))
      .orderBy("source")
  }

  private def buildClusterModel(spark: SparkSession, sfDir: String, dir: String): Unit =
    // the build fully materializes into the on-disk artifact, so every
    // checkpoint pinned while assembling it (the banded-candidate
    // spine) is released at exit — nothing outlives the call
    // (PipelineOpsSpec asserts the storage release)
    graft.Ckpt.scoped { buildClusterModelInner(spark, sfDir, dir) }

  private def buildClusterModelInner(spark: SparkSession, sfDir: String, dir: String): Unit = {
    // Cache the ONE-DIRECTIONAL edge set and materialize it before
    // deriving the bidirectional view: a union of two projections of an
    // UNCACHED frame executes the whole shingle→band→verify lineage
    // once per branch (and a cache pins a no-AQE subplan around both),
    // which measured 2-3× the cost of the pipeline itself. Caching
    // upstream of the union runs the expensive pipeline exactly once;
    // bidir is then two cheap cache reads per round.
    val edgePlan = minhashVerifiedPairs(spark, sfDir)
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"))
    // Verified-near-dup edge graphs are orders of magnitude smaller
    // than the corpus (banding selectivity + the Jaccard ≥ 0.8 gate),
    // and component formation over a model-sized graph is pure fixed
    // job overhead as a distributed loop (~1 s/round here for dozens
    // of edges). The `auto` path collects up to ccLocalMaxEdges+1 edges
    // — model extraction, like IVF centroids — in ONE fully-AQE job
    // (a cache here would pin a no-AQE subplan around the verify joins,
    // measured 3× the pipeline's own cost) and runs union-find on the
    // driver. Graphs that exceed the bound fall back to the distributed
    // loops, and `spark.graft.ccAlgorithm` forces them (the identity is
    // spec-asserted across all three).
    val localMax = spark.conf.getOption("spark.graft.ccLocalMaxEdges")
      .map(_.toLong).getOrElse(1L << 20)
    val algo = spark.conf.getOption("spark.graft.ccAlgorithm").getOrElse("auto")
    if (algo == "auto") {
      // Clamp before toInt: a ccLocalMaxEdges at/above Int.MaxValue would
      // wrap negative and make limit() throw instead of falling back to
      // the distributed loop.
      val cap = math.min(localMax, (Int.MaxValue - 1).toLong).toInt
      val collected = edgePlan.limit(cap + 1).collect()
      if (collected.length <= cap) {
        // model-sized graph: union-find on the driver, then persist the
        // same two layouts the distributed path writes so every
        // consumer joins the artifact regardless of which path built it
        val local = localClusters(spark, collected)
        local.select(
            explode(split(col("members"), "\\|").cast("array<bigint>")).as("doc_id"),
            col("keep_id"))
          .write.mode("overwrite").parquet(s"$dir/members")
        local.write.mode("overwrite").parquet(s"$dir/clusters")
        return
      }
    }
    val edges = edgePlan.cache()
    edges.count()
    val bidir = edges.union(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // The propagation loop and cluster aggregation operate on the LABEL
    // set (candidate docs only — orders of magnitude smaller than the
    // corpus), so their shuffles are sized to that set, not to the
    // corpus-scale default: the explicit setting removes the fixed
    // per-round task-launch overhead that AQE's in-job coalescing
    // cannot. Restored in the finally; the same ratio applies at lake
    // scale (label-set shuffles want far fewer partitions than corpus
    // scans).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(4, spark.sparkContext.defaultParallelism / 4).toString)
    // AQE's per-exchange stage materialization + re-plan is pure
    // overhead on label-set-sized shuffles whose partitioning is
    // already right-sized above — each propagation round has ~3
    // exchanges, and the fixed AQE cost per exchange dominates the
    // actual work. (The corpus-scale candidate pipeline above this
    // point keeps AQE: there it earns its keep.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val labels =
        if (algo == "starcontract") starContractLabels(bidir) else fixpointLabels(bidir)
      // Both layouts are WRITTEN, never collected: on the distributed
      // path the cluster table is corpus-fraction-sized at lake scale,
      // so materialization must be a distributed sink (the writes also
      // force the label cache, which is then released).
      labels.select(col("doc_id"), col("label").as("keep_id"))
        .write.mode("overwrite").parquet(s"$dir/members")
      labels
        .groupBy("label")
        .agg(sort_array(collect_list(col("doc_id"))).as("members"))
        .select(
          col("label").as("keep_id"),
          size(col("members")).as("cluster_size"),
          concat_ws("|", col("members").cast("array<string>")).as("members"))
        .orderBy("keep_id")
        .write.mode("overwrite").parquet(s"$dir/clusters")
      labels.unpersist()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      edges.unpersist()
    }
  }

  /** Driver-side union-find over a collected model-sized edge list —
    * the `auto` fast path of [[nearDupClusters]]. Path compression +
    * union by attaching the larger root under the smaller keeps the
    * min-id representative invariant the distributed algorithms share;
    * output rows are built to the identical (keep_id, cluster_size,
    * members) schema and ordering.
    */
  private[graft] def localClusters(spark: SparkSession, edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val rows = unionFindClusters(
      edges.map(e => (e.getLong(0), e.getLong(1))))
      .map { case (root, members) =>
        Row(root, members.length, members.mkString("|")) }
    val schema = StructType(Seq(
      StructField("keep_id", LongType, nullable = false),
      StructField("cluster_size", IntegerType, nullable = false),
      StructField("members", StringType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The pure union-find kernel of [[localClusters]] — (root, sorted
    * members) per component, roots = component minima, ordered by root.
    * Spark-free so the property suite can sweep random graphs without
    * paying a session round trip per graph.
    */
  private[graft] def unionFindClusters(edges: Array[(Long, Long)]): Array[(Long, Array[Long])] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.Set.empty[Long]
    edges.foreach { case (a, b) =>
      nodes += a; nodes += b
      val (ra, rb) = (find(a), find(b))
      // smaller root wins: representatives are component minima
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    nodes.toSeq.groupBy(find).toSeq
      .map { case (root, ms) => (root, ms.sorted.toArray) }
      .sortBy(_._1)
      .toArray
  }

  /** Lineage-truncating leaf over an iterative round's result. Each
    * round of the component loops references the previous round's frame
    * several times (join + union / two star passes), and `.cache()`
    * dedups EXECUTION but not ANALYSIS — the analyzer still walks the
    * full logical tree, which grows k^rounds and hangs the driver on
    * deep components (a 30-node path graph never finishes analysis by
    * round ~25). Re-rooting the round as a `LogicalRDD` leaf keeps every
    * round's plan constant-size while the explicit cache()/unpersist()
    * discipline (spec-asserted: zero leaked persistent RDDs) manages the
    * blocks. The Row round-trip this costs is confined to model-sized
    * label/edge sets; `localCheckpoint` would avoid it but parks blocks
    * until the ContextCleaner runs — unbounded residue over a long
    * session.
    */
  private def truncated(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Min-label propagation to a fixpoint — the default algorithm.
    * Returns a CACHED (doc_id, label) frame; the caller unpersists.
    */
  private[graft] def fixpointLabels(bidir: DataFrame): DataFrame = {
    val members = bidir.select(col("doc_a").as("doc_id")).distinct()
    var labels = truncated(members.withColumn("label", col("doc_id"))).cache()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < MaxPropagationRounds) {
      val viaEdge = bidir
        .join(labels.select(col("doc_id").as("doc_b"), col("label").as("nb_label")), "doc_b")
        .select(col("doc_a").as("doc_id"), col("nb_label").as("label"),
          // typed NULL: only the self-branch carries the previous label
          when(lit(false), col("nb_label")).as("old_label"))
      val next = truncated(
        labels.select(col("doc_id"), col("label"), col("label").as("old_label"))
          .union(viaEdge)
          .groupBy("doc_id").agg(min("label").as("label"), max("old_label").as("old_label")))
        .cache()
      // ONE job: materializes `next` and decides convergence (labels
      // only ever decrease, so changed ⇔ new < old)
      changed = next.where(col("label") < col("old_label")).count()
      labels.unpersist() // superseded round: release executor storage
      labels = next
      rounds += 1
    }
    labels
  }

  /** The alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * selected by `spark.graft.ccAlgorithm=starcontract`. This is the
    * lake-scale swap the fixpoint loop's scaladoc cites: round count is
    * O(log²) in component size (vs O(diameter)), and every round is the
    * same shuffle shape as one propagation round (neighborhood min +
    * edge rewrite), so nothing about the 100 TB story changes except
    * the number of rounds on deep components. PipelineOpsSpec asserts
    * it produces IDENTICAL clusters to the fixpoint loop.
    *
    *  - large-star: every node connects its strictly-larger neighbors
    *    to the minimum of its closed neighborhood;
    *  - small-star: every node (edges oriented larger→smaller)
    *    connects its smaller neighbors and itself to their minimum.
    *
    * Convergence: the (count, order-independent hash-sum) signature of
    * the edge set is stable across a full large+small round. At
    * convergence the edges form stars rooted at component minima, so
    * the label map reads straight off the edge list.
    */
  private[graft] def starContractLabels(bidir: DataFrame): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = nbr.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      nbr.join(m, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = dir.groupBy("u").agg(min("v").as("mn"))
      dir.join(m, "u")
        .select(col("v").as("u"), col("mn").as("v"))
        .union(m.select(col("u"), col("mn").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def signature(e: DataFrame): (Long, Long) = {
      // order-independent, overflow-free set signature (edges are
      // distinct, so xor cancellation cannot mask a change)
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // truncated + cache: one round references `e` ~8 times (two star
    // passes, each union+groupBy+join over it), so without the
    // lineage-truncating leaf the analyzed plan grows ~8^rounds and the
    // driver hangs in the analyzer on multi-round graphs (see
    // [[truncated]]).
    var e = truncated(bidir.filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .cache()
    var sig = signature(e)
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxPropagationRounds) {
      val next = truncated(smallStar(largeStar(e))).cache()
      val nextSig = signature(next)
      e.unpersist()
      e = next
      converged = nextSig == sig
      sig = nextSig
      rounds += 1
    }
    // converged edges are (node, root) stars; roots label themselves
    val nodes = bidir.select(col("doc_a").as("doc_id")).distinct()
    val labels = nodes
      .join(e.select(col("u").as("doc_id"), col("v").as("lbl")), Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min("lbl").as("lbl"))
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("label"))
      .cache()
    labels.count() // materialize so the edge cache can be released
    e.unpersist()
    labels
  }

  /** Safety bound only — the loop exits on fixpoint; a path graph this
    * deep would mean the corpus is one chain of near-identical docs.
    */
  private val MaxPropagationRounds = 50

  /** SimHash near-dup: 64-bit signature (4 × 16-bit bands) from token
    * hashes weighted by multiplicity. Pigeonhole: any pair within
    * Hamming distance 3 shares at least one exact band, so the
    * (band, value) equi-join finds all such pairs; 16-bit bands keep
    * random collisions ~2^-16 per band — the candidate count stays
    * near-linear even on a low-vocabulary corpus.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    // The signature rides THROUGH the banded self-join (one extra
    // 4-long array per row on the band shuffle), so Hamming distance is
    // computed inline on collision rows and no re-join against the
    // signature table is needed. On a low-vocabulary corpus the 16-bit
    // bands collide heavily (~190k candidate pairs from 5k docs at
    // sf0.1), which made the previous semi-join + two verify joins the
    // dominant cost — the 40 B/row of signature payload is far cheaper
    // than three extra shuffles of the candidate set. The Hamming sum
    // is 4 expanded codegen'd bit_counts, not an interpreted
    // higher-order aggregate.
    val banded = simhashSignatures(spark, sfDir).select(
      col("doc_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "bval")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.bands").as("ba"), col("b.bands").as("bb"))
      .withColumn("hamming", expr(
        "bit_count(ba[0] ^ bb[0]) + bit_count(ba[1] ^ bb[1]) + bit_count(ba[2] ^ bb[2]) + bit_count(ba[3] ^ bb[3])").cast("int"))
      .select("doc_a", "doc_b", "hamming")
      // multi-band collisions produce identical rows; distinct before
      // the top-k so a pair can't appear twice
      .distinct()
      .orderBy(col("hamming").asc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** 64-bit SimHash signature per doc as 4 × 16-bit band values.
    *
    * Per-bit majority vote as ONE codegen'd hash aggregate over exploded
    * token hashes (64 conditional sums), not nested higher-order
    * lambdas — interpreted per-element lambdas cost ~64×|tokens| evals
    * per doc; the aggregate form is vectorized and map-side combined, so
    * the only shuffle carries 64 ints per doc. The 64 hash bits come
    * from md5's first 16 hex chars, parsed as four 16-bit chunks — one
    * md5 per token, SQL-recomputable (the DuckDB oracle rebuilds
    * identical signatures; see [[seededHashSql]]).
    */
  private def simhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    // same single-scan-partition hazard as [[shingled]]: fan the docs
    // out across cores before the per-token md5 work
    val tok = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .select(col("doc_id"), md5(col("t")).as("hx"))
      .select(col("doc_id") +: (0 until 4).map(j =>
        expr(s"cast(conv(substr(hx, ${1 + 4 * j}, 4), 16, 10) as int)").as(s"c$j")): _*)
    val bitAggs = (0 until 64).map(i =>
      sum(when(expr(s"(shiftright(c${i / 16}, ${i % 16}) & 1)") === 1, 1).otherwise(-1)).as(s"s$i"))
    val sums = tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    sums.select(
      col("doc_id"),
      array((0 until 4).map { j =>
        (0 until 16).map(k =>
          when(col(s"s${j * 16 + k}") > 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _)
      }: _*).as("bands"))
  }

  /** Distinct banded-collision candidate pairs — exposed so the spec can
    * bound the candidate count (the knob that makes the verify join's
    * cost predictable run to run; 16-bit bands keep random collisions
    * ~2^-16 per band, so candidates ≈ true near-dups + ε·n).
    */
  private[graft] def simhashCandidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val banded = simhashSignatures(spark, sfDir).select(
      col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "bval")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private val JaccardSubBlocks = 4 // per-block grid granularity: a hot
  // (source, len_bucket) block's n² pair space splits over s(s+1)/2
  // independent grid cells of ≤ ⌈n/s⌉² pairs — the per-task bound the
  // plain blocked join lacked. Raise s as the hottest block grows (the
  // knob trades replication factor ≈ (s+1)/2 for per-cell memory).

  /** Blocked exact n-gram Jaccard: candidate pairs only within
    * (source, length-bucket) blocks — the standard no-sketch fallback.
    * Each block's pair space is further grid-decomposed on a
    * deterministic doc-id sub-block salt (the same 1-Bucket-Theta
    * scheme as [[embeddingCosine]], Okcan & Riedewald SIGMOD'11): every
    * unordered pair meets in exactly ONE grid cell, so coverage stays
    * EXACT — identical output to the unsalted join (spec-asserted) —
    * while the hottest block's quadratic term is bounded per task
    * instead of unbounded. This closes the round-5 scale caveat.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPairs(spark, sfDir, JaccardSubBlocks)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** All within-block pairs with exact Jaccard, grid-decomposed over
    * `s` sub-blocks (`s = 1` recovers the plain blocked join; the spec
    * asserts the two are identical).
    */
  private[graft] def ngramJaccardPairs(spark: SparkSession, sfDir: String, s: Int): DataFrame = {
    val docs = shingled(spark, sfDir)
      .select(col("doc_id"), col("source"), col("shingles"),
        (col("n_chars") / 64).cast("long").as("len_bucket"),
        // hash the id before the mod: raw doc_id % s degenerates on
        // strided id populations (one residue swallows a whole block)
        pmod(xxhash64(col("doc_id")), lit(s.toLong)).cast("int").as("blk"))
    val a = docs.select(col("source"), col("len_bucket"),
      col("doc_id").as("doc_id_a"), col("shingles").as("sh_a"), col("blk").as("blk_a"),
      explode(expr(s"transform(sequence(blk, ${s - 1}), j -> named_struct('ci', blk, 'cj', j))")).as("cell"))
    val b = docs.select(col("source").as("source_b"), col("len_bucket").as("len_bucket_b"),
      col("doc_id").as("doc_id_b"), col("shingles").as("sh_b"), col("blk").as("blk_b"),
      explode(expr("transform(sequence(0, blk), i -> named_struct('ci', i, 'cj', blk))")).as("cell_b"))
    a.join(b,
        col("source") === col("source_b") &&
          col("len_bucket") === col("len_bucket_b") &&
          col("cell") === col("cell_b") &&
          // off-diagonal cells pair distinct sub-blocks once by
          // construction; the id guard dedups only the diagonal cells
          (col("blk_a") < col("blk_b") || col("doc_id_a") < col("doc_id_b")))
      .select(least(col("doc_id_a"), col("doc_id_b")).as("doc_a"),
        greatest(col("doc_id_a"), col("doc_id_b")).as("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6).as("jaccard"))
  }

  private val SubstringGram = 8 // words per duplicated-span gram

  /** Cross-document duplicated-span marking — the fixed-gram
    * approximation of exact-substring dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, which uses
    * a suffix array; a distributed corpus marks fixed-length gram hits
    * instead and merges adjacent hits into spans). A word-8-gram that
    * appears in ≥ 2 distinct documents is "duplicated"; every position
    * covered by such a gram counts toward the doc's duplicated fraction
    * (exact ppm), reported per source.
    *
    * Plan shape is the inverted index, not pairs: explode positions →
    * hash grams to 60-bit ints (8-byte shuffle keys, never gram text) →
    * ONE repartition on the gram hash, after which document frequency
    * and the per-doc duplicated-position count are both computed
    * in-partition: the (hash, doc) collapse and the df window are each
    * satisfied by the hash partitioning, so no join-back over the gram
    * set, no second scan of the gram pipeline, no distinct expand. The
    * gram stream is stripped to 16-byte (hash, doc) rows before the
    * shuffle — per-doc attributes (source, gram count) come from a
    * separate narrow scan joined AFTER the per-doc rollup, when the
    * frame is back to one row per document. Work is O(corpus grams);
    * nothing is ever corpus × corpus.
    *
    * The gram hash is the FULL 60-bit md5 prefix — deliberately not
    * [[baseHash]], whose mod-P reduction (right for the affine minhash
    * family) would add collisions the oracle's unreduced hash doesn't
    * have. `spark.graft.fastHash=true` swaps in one codegen'd raw
    * xxhash64 per gram — the production configuration; marked positions
    * then differ only via hash collisions (~2^-60).
    */
  def substringDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= SubstringGram)
    // per-doc attributes ride a separate narrow scan (no gram strings,
    // no explode) and rejoin once the heavy side is doc-sized again
    val stats = docs.select(col("doc_id"), col("source"),
      (size(col("toks")) - (SubstringGram - 1)).cast("bigint").as("n_grams"))
    val positions = docs
      // docs are pre-filtered to size >= SubstringGram, so the native
      // n-gram expression emits exactly the full-width windows the old
      // sequence/slice lambda did (its short-tail window never occurs)
      .select(col("doc_id"), explode(
        graft.functions.TextExpressions.word_ngrams(col("toks"), SubstringGram)).as("g"))
      .select(col("doc_id"), expr(
        if (spark.conf.getOption("spark.graft.fastHash").contains("true")) "xxhash64(g)"
        else "cast(conv(substr(md5(g), 1, 15), 16, 10) as bigint)").as("hg"))
    // one partitioning serves the whole middle of the plan: the
    // (hg, doc) collapse and the df window both cluster on hg
    val perDocGram = positions.repartition(col("hg"))
      .groupBy("hg", "doc_id")
      .agg(count(lit(1)).as("cnt"))
    // rows are distinct per (hg, doc), so a plain count over the hg
    // partition IS the distinct-document frequency — no distinct expand
    val withDf = perDocGram.withColumn("df",
      count(lit(1)).over(Window.partitionBy("hg")))
    withDf.groupBy("doc_id")
      .agg(sum(when(col("df") >= 2, col("cnt")).otherwise(0L)).as("n_dup"))
      .join(stats, Seq("doc_id"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_grams"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_grams").as("grams_total"),
        sum("n_dup").as("grams_dup"),
        sum(when(col("n_dup") > 0, 1L).otherwise(0L)).as("n_docs_dup"),
        max("dup_ppm").as("max_dup_ppm"))
      .orderBy("source")
  }

  // Order-independent per-source content fingerprint: sum of 60-bit
  // md5-prefix integers reduced mod 1e12. 500–5000 docs × <1e12 stays
  // far below int64; a verification artifact only (production apply
  // WRITES the rewritten corpus — the fingerprint exists so the DuckDB
  // oracle can certify every cleaned doc byte-for-byte without the
  // result carrying one row per document).
  private val ContentMod = 1000000000000L

  /** Duplicated-span REMOVAL — the *apply* step of exact-substring
    * dedup ([[substringDedup]] is the marking pass; this one rewrites
    * the corpus). Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022) cut every duplicated span out
    * of the training text; the distributed fixed-gram variant removes
    * every token position covered by a word-8-gram that occurs in ≥ 2
    * distinct documents, then reassembles each document from its
    * surviving tokens in order.
    *
    * Plan shape: the same inverted-index spine as the marking pass
    * (positions → 60-bit gram hash → one hash-keyed shuffle for
    * document frequency), then coverage = explode of the 8 positions
    * under each duplicated occurrence, DISTINCT'd on (doc, pos), and
    * the rewrite is a left-anti join of the posexploded token stream
    * against the covered set — every join/aggregate keys on (doc, pos)
    * or doc_id, so work stays O(corpus tokens) end to end; nothing is
    * ever corpus × corpus. Per-doc reassembly sorts ≤ one document's
    * tokens inside an aggregate buffer (documents are bounded; the
    * buffer is per-doc, not per-partition). Exact duplicate documents
    * lose EVERY position (all grams have df ≥ 2) and come out empty —
    * the remove-all policy; keep-one-copy is [[exactKeep]] composed
    * upstream.
    *
    * Parity: gram text, hash prefix, and the cleaned-text join are
    * recomputed by the DuckDB oracle from the raw table; `content_sum`
    * folds md5(cleaned_text) per doc into an order-independent integer
    * sum, so the gate certifies the REASSEMBLED TEXT of every
    * document, not just counts.
    */
  def spanRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
    val stats = docs.select(col("doc_id"), col("source"),
      size(col("toks")).cast("bigint").as("n_toks"))
    // positions: (doc, 0-based gram start, 60-bit md5-prefix hash) —
    // short docs (< 8 tokens) contain no gram and pass through whole
    val positions = docs.filter(size(col("toks")) >= SubstringGram)
      .select(col("doc_id"), posexplode(
        graft.functions.TextExpressions.word_ngrams(col("toks"), SubstringGram)).as(Seq("i", "g")))
      .select(col("doc_id"), col("i"),
        expr("cast(conv(substr(md5(g), 1, 15), 16, 10) as bigint)").as("hg"))
    // document frequency per gram hash; rows are distinct per (hg, doc)
    // after the first collapse, so plain count = distinct-doc count
    val dupHg = positions.repartition(col("hg"))
      .groupBy("hg", "doc_id").agg(count(lit(1)).as("cnt"))
      .groupBy("hg").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("hg")
    // coverage: the 8 token positions under each duplicated occurrence.
    // The hg equi-join is co-located with the df aggregate's
    // partitioning; no broadcast hint — AQE picks one while dupHg fits.
    val covered = positions.join(dupHg, "hg")
      .select(col("doc_id"), explode(expr(s"sequence(i, i + ${SubstringGram - 1})")).as("p"))
      .distinct()
    val tokens = docs.select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "w")))
    val keptAgg = tokens.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(p, w))), s -> s.w), ' ')").as("cleaned"))
    // left join back onto the full census: fully-covered docs have no
    // kept rows at all and must still appear (as the empty string)
    val perDoc = stats.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("cleaned"), lit(""))).as("doc_hash"))
    perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("n_kept") < col("n_toks"), 1L).otherwise(0L)).as("docs_rewritten"),
      sum("n_toks").as("tokens_total"),
      sum("n_kept").as("tokens_kept"),
      sum(expr(s"cast(conv(substr(doc_hash, 1, 15), 16, 10) as bigint) % $ContentMod"))
        .as("content_sum"))
      .orderBy("source")
  }

  /** Quality-policy dedup apply — keep the HIGHEST-QUALITY member of
    * each near-dup cluster instead of [[nearDupClusters]]' min-id
    * representative: the FineWeb/CCNet-style rule ("among near-dups,
    * keep the longest / cleanest copy") that turns dedup from an
    * arbitrary survivor pick into a curation decision. Quality here is
    * the unique-token ratio in exact ppm (the [[graft.operators.Curation]]
    * token-budget score), and the winner is `max(struct(q, -doc_id))`
    * per cluster — q desc, doc_id asc on ties, a total integer order.
    *
    * Scale: joins the fingerprint-keyed on-disk cluster model
    * ([[ensureClusterModel]]'s members table) like [[dedupApply]];
    * winner election is one rep-keyed aggregate over (doc, q) rows —
    * never text, never a window over the corpus.
    */
  def keepBestApply(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureClusterModel(spark, sfDir)
    val members = spark.read.parquet(s"$dir/members")
      .select(col("doc_id"), col("keep_id"))
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"), col("source"),
        // 1000000L: widen BEFORE the multiply — int*int would overflow
        // Int32 at >=2147 distinct tokens while the DuckDB oracle
        // computes the same expression in BIGINT.
        expr("(1000000L * cast(size(array_distinct(toks)) as bigint)) div size(toks)").as("q"))
    val joined = docs.join(members, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("keep_id"), col("doc_id")))
    val winners = joined.groupBy("rep")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("rep"), (-col("w.nid")).as("win_id"))
    joined.join(winners, Seq("rep"))
      .withColumn("kept", col("doc_id") === col("win_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("kept"), col("doc_id"))), lit(0L)).as("kept_id_sum"),
        sum(when(col("kept"), col("q")).otherwise(0L)).as("kept_q_sum"),
        sum(when(!col("kept"), col("q")).otherwise(0L)).as("dropped_q_sum"))
      .orderBy("source")
  }

  private val GridBlocks = 8 // grid granularity for the exact all-pairs
  // theta join: each of the G(G+1)/2 cells compares (n/G)² vectors, so G
  // is the per-task-memory knob — at lake scale pick G ≈ n·rowBytes/task
  // budget; here 8 cells × 32 threads keeps every core busy at sf0.1.

  /** Embedding-cosine near-dup: top-20 most-similar embedding pairs by
    * exact cosine (fused dot/norm expressions), canonical upper triangle.
    *
    * Exact all-pairs is inherently O(n²) compute, but it must never be a
    * broadcast nested-loop join. This is the grid-partitioned theta-join
    * (the 1-Bucket-Theta scheme of Okcan & Riedewald, "Processing
    * Theta-Joins using MapReduce", SIGMOD 2011): rows hash into G blocks;
    * side A replicates a block-g row to grid cells (g, j≥g), side B to
    * cells (i≤g, g), and the join is an *equi-join on the cell key* —
    * every unordered pair meets in exactly one cell, each cell is an
    * independent shuffle partition, and the plan is a shuffled hash/sort
    * join, never BroadcastNestedLoopJoin. The subquadratic route (LSH
    * candidates + exact re-rank) is [[embeddingCosineLsh]].
    */
  def embeddingCosine(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorExpressions.{dot_product, l2_norm}
    val g = GridBlocks
    // fan the scan across cores: the grid join below is broadcast (no
    // shuffle on this side), so parallelism would otherwise be capped
    // at the input split count — one split for a small file, leaving
    // the O(n²/G²)-per-cell dot-product loop on a single core
    val e = Tables.fanOut(spark, Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2_norm(col("v")))
      .withColumn("blk", pmod(col("vec_id"), lit(g)).cast("int"))
    val a = e.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"),
        col("blk").as("blk_a"),
        explode(expr(s"transform(sequence(blk, ${g - 1}), j -> named_struct('ci', blk, 'cj', j))")).as("cell"))
    val b = e.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"),
        col("blk").as("blk_b"),
        explode(expr("transform(sequence(0, blk), i -> named_struct('ci', i, 'cj', blk))")).as("cell_b"))
    a.join(b, col("cell") === col("cell_b") &&
        // off-diagonal cells pair distinct blocks once by construction;
        // the id guard dedups only the diagonal (same-block) cells
        (col("blk_a") < col("blk_b") || col("ida") < col("idb")))
      .withColumn("cos", round(dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** Subquadratic embedding near-dup: random-hyperplane LSH candidates
    * (banded signature equi-join, the [[Similarity.lshTopK]] machinery
    * turned pairwise) + exact-cosine re-rank of collisions only. Work is
    * O(n·bands + candidates), never all pairs. Approximate by
    * construction → rows-only check; recall vs the exact top-20 is
    * asserted in PipelineOpsSpec. Band width is the recall/cost knob:
    * 3-bit bands suit this corpus's flat similarity profile (top cos
    * ≈0.5); a corpus with true near-dups (cos ≥0.9) wants wider bands
    * for fewer random collisions at the same recall.
    */
  def embeddingCosineLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorExpressions.dot_product
    val banded = Similarity.bandedCorpus(spark, sfDir)
    // pairs ×3 / eCand ×2 consumers below — the [[bandedCandidates]]
    // checkpoint discipline (r13-opt): pin the collision-bounded edge
    // frame and the candidate-bounded vector carry instead of
    // re-running the banded self-join per consumer subtree
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
      .transform(graft.Ckpt.pin("Dedup.embeddingCosineLsh.pairs"))
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorExpressions.l2_norm(col("v")))
    val candIds = pairs.select(col("id_a").as("vec_id"))
      .union(pairs.select(col("id_b").as("vec_id"))).distinct()
    val eCand = e.join(candIds, Seq("vec_id"), "left_semi")
      .transform(graft.Ckpt.pin("Dedup.embeddingCosineLsh.eCand"))
    pairs
      .join(eCand.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(eCand.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", round(dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .select("id_a", "id_b", "cos")
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** END-TO-END dedup application — the step that turns detection into
    * a curated corpus: per source, how many docs survive after (1)
    * exact dedup (keep the min doc_id per content hash) and (2)
    * near-dup pruning (drop non-representative members of the verified
    * Jaccard ≥ 0.8 clusters, applied to the exact-dedup survivors).
    *
    * Scale: the exact pass is the [[exactKeep]] hash-groupBy; the
    * near-dup member list is the materialized on-disk cluster model
    * ([[ensureClusterModel]]) joined back to the corpus as a parquet
    * relation — corpus-fraction-sized at lake scale, so never a
    * driver-array broadcast. The corpus itself is touched by exactly
    * one scan + one md5-keyed shuffle.
    */
  def dedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val ex = docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    val keepers = ex.groupBy("fp").agg(min("doc_id").as("keeper"))
    // Non-representative near-dup members arrive as a JOIN against the
    // materialized on-disk cluster model ([[ensureClusterModel]]) —
    // never a driver array: at lake scale membership is
    // corpus-fraction-sized, and a file-backed relation lets AQE
    // broadcast it exactly when its measured size is small (no hint —
    // the planner sees real file statistics).
    val modelDir = ensureClusterModel(spark, sfDir)
    val nearMembers = spark.read.parquet(s"$modelDir/members")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(true).as("near_member"))
    ex.join(keepers, "fp")
      .join(nearMembers, Seq("doc_id"), "left")
      .select(col("source"),
        (col("doc_id") =!= col("keeper")).as("removed_exact"),
        coalesce(col("near_member"), lit(false)).as("nm"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("removed_exact"), 1L).otherwise(0L)).as("n_removed_exact"),
        sum(when(!col("removed_exact") && col("nm"), 1L).otherwise(0L)).as("n_removed_neardup"),
        sum(when(!col("removed_exact") && !col("nm"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Incremental (batch-vs-base) dedup — the ingestion-time shape: a
    * NEW batch (here doc_id ≡ 4 mod 5, ~20% of the corpus) is checked
    * against the EXISTING base only, classifying each new doc as
    * exact_dup (content hash already in the base), near_dup (banded
    * minhash collision with a base doc, verified Jaccard ≥ 0.8), or
    * unique.
    *
    * Scale: this is the shape that avoids re-deduping the lake on
    * every ingest — the batch's band postings join the base's postings
    * on (band, bucket), so cost is O(batch·bands + collisions), and at
    * 100 TB the base postings are a pre-built, bucket-partitioned
    * index the batch probes (same layout idea as
    * [[Similarity.lshBucketedTopK]]).
    */
  /** On-disk base index for [[incrementalDedup]], keyed by the source
    * fingerprint ([[graft.sources.LayoutCache]] staleness discipline):
    * the base corpus's content fingerprints, band postings, and verify
    * shingles are written ONCE and probed by every ingest batch — the
    * executable form of the "pre-built postings index" the ingest
    * story promises. At lake scale the postings would additionally be
    * bucket-partitioned on (band, bucket) for probe-side pruning.
    */
  private[graft] def baseIndexDir(spark: SparkSession, sfDir: String): String = {
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/documents.parquet")
    s"${graft.WorkDirs.rootActive}/dedup/base_${new java.io.File(sfDir).getName}_${fp}_${hashFamily(spark)}"
  }

  private def ensureBaseIndex(spark: SparkSession, sfDir: String,
      isNew: Column => Column): String = {
    import org.apache.hadoop.fs.Path
    val dir = baseIndexDir(spark, sfDir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // shingles/ is written last, so its _SUCCESS marks the whole index
    if (!fs.exists(new Path(s"$dir/shingles/_SUCCESS"))) {
      val base = shingled(spark, sfDir).filter(!isNew(col("doc_id")))
      base.select(col("doc_id"), md5(col("text")).as("fp"))
        .select("fp").distinct()
        .write.mode("overwrite").parquet(s"$dir/fp")
      bandedBuckets(base)
        .write.mode("overwrite").parquet(s"$dir/postings")
      base.select(col("doc_id"), col("shingles"))
        .write.mode("overwrite").parquet(s"$dir/shingles")
    }
    dir
  }

  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val isNew = (c: Column) => pmod(c, lit(5)) === 4
    val idx = ensureBaseIndex(spark, sfDir, isNew)
    // only the NEW batch (~20%) is shingled/banded per ingest; the base
    // side arrives from the materialized index
    val newDocs = shingled(spark, sfDir).filter(isNew(col("doc_id")))
    val baseFp = spark.read.parquet(s"$idx/fp")
    val exactIds = newDocs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(baseFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(true).as("is_exact"))
    val cand = bandedBuckets(newDocs).as("n")
      .join(spark.read.parquet(s"$idx/postings").as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("base_id"))
      .distinct()
    val nearIds = cand
      .join(newDocs.select(col("doc_id").as("new_id"), col("shingles").as("sh_n")), "new_id")
      .join(spark.read.parquet(s"$idx/shingles")
        .select(col("doc_id").as("base_id"), col("shingles").as("sh_o")), "base_id")
      .filter(round(
        size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_o"))), 6) >= 0.8)
      .select(col("new_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("is_near"))
    newDocs.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("is_exact"), lit(false)), "exact_dup")
          .when(coalesce(col("is_near"), lit(false)), "near_dup")
          .otherwise("unique").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("status")
  }

  /** Cross-source content-overlap matrix — the corpus-mixing
    * diagnostic: for every pair of sources sharing at least one
    * word-8-gram span, how many distinct span fingerprints they share
    * and what fraction of the smaller side's span vocabulary that is.
    * Run before mixing weights are chosen ([[Curation]]'s mix family),
    * because two "independent" sources that are 30 % the same content
    * silently double that content's effective epoch count. Span
    * granularity (not whole-document) is deliberate: real leakage
    * between corpora is copied PASSAGES inside otherwise-distinct
    * documents — exactly what this testdata plants (whole-doc twins
    * here never cross sources; spans do).
    *
    * Scale: distinct (source, span-hash) first — repeats WITHIN a
    * source collapse before any join — then a self-equi-join keyed on
    * the 8-byte hash. Join fan-out per hash is (#sources holding it)²,
    * bounded by the source count, never by corpus size; output is at
    * most sources². Raw text never shuffles.
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val f = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .filter(size(col("toks")) >= SubstringGram)
      .select(col("source"), explode(
        graft.functions.TextExpressions.word_ngrams(col("toks"), SubstringGram)).as("g"))
      .select(col("source"),
        expr("cast(conv(substr(md5(g), 1, 15), 16, 10) as bigint)").as("hg"))
      .distinct()
    val counts = f.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = f.join(f.select(col("source").as("source_b"), col("hg")), "hg")
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared_spans"))
    pairs
      .join(counts.select(col("source").as("source_a"), col("n").as("spans_a")), "source_a")
      .join(counts.select(col("source").as("source_b"), col("n").as("spans_b")), "source_b")
      .select(col("source_a"), col("source_b"),
        col("spans_a"), col("spans_b"), col("shared_spans"),
        expr("(1000000 * shared_spans) div least(spans_a, spans_b)").as("overlap_ppm"))
      .orderBy("source_a", "source_b")
  }

  /** Record linkage / entity resolution across two catalogs — the
    * blocked match-score-threshold pipeline (Fellegi-Sunter shape) that
    * reconciles a vendor feed against the master catalog before any
    * training-data join can trust its keys.
    *
    * The second catalog is the master with deterministic dirt injected
    * (the [[graft.operators.TextOps.typoPairs]] self-validating-fixture
    * discipline): an md5(partkey)-selected third of the names lose one
    * character at a hash-derived position, a seventh of the sizes
    * drift by one. Both engines compute the identical injection, so
    * precision/recall are exact assertions, not vibes.
    *
    * Pipeline: block on (brand, type, name's first char) — keys chosen
    * to SURVIVE the known dirt, the cardinal blocking rule — so
    * candidate pairs exist ONLY within a block and the O(n²)
    * cross-catalog join never exists; score
    * candidates with `levenshtein(name) ≤ 1 AND |Δsize| ≤ 1`; classify
    * matches as true (twin partkey) or false (coincidental
    * near-identical catalog entries — counted, not hidden), with the
    * unperturbed price as an out-of-band confirmation column.
    *
    * Scale: the blocking join is a hash equi-join on low-cardinality
    * keys; per-block pair count is (block size)², the standard ER cost
    * model — a skewed block would take the [[ngramJaccard]] grid
    * decomposition, unneeded at catalog cardinalities. Output is a
    * per-type integer summary: deterministic under any partitioning.
    */
  def erMatch(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.part(spark, sfDir)
    val b = a
      .withColumn("h",
        expr("cast(conv(substr(md5(cast(p_partkey as string)), 1, 15), 16, 10) as bigint)"))
      .select(
        (col("p_partkey") + 1000000L).as("b_key"),
        when(col("h") % 3 === 0 && length(col("p_name")) >= 6,
          expr("""concat(substr(p_name, 1, cast(h % (length(p_name) - 2) as int) + 1),
                 |       substr(p_name, cast(h % (length(p_name) - 2) as int) + 3))""".stripMargin))
          .otherwise(col("p_name")).as("b_name"),
        col("p_brand").as("b_brand"), col("p_type").as("b_type"),
        (col("p_size") + when(col("h") % 7 === 0, 1).otherwise(0)).as("b_size"),
        col("p_retailprice").as("b_price"))
    // blocking keys must SURVIVE the known dirt: the deletion keeps
    // the name's first character (prefix length ≥ 1 by construction),
    // so (brand, type, first char) is noise-robust and cuts per-block
    // pair counts ~10× vs (brand, type) alone — 3.5 s → 0.5 s at sf0.1
    val cand = a.join(b,
      col("p_brand") === col("b_brand") && col("p_type") === col("b_type") &&
        substring(col("p_name"), 1, 1) === substring(col("b_name"), 1, 1))
      .withColumn("lev", expr("levenshtein(p_name, b_name)"))
      .withColumn("size_diff", abs(col("p_size") - col("b_size")))
      .withColumn("matched",
        (col("lev") <= 1 && col("size_diff") <= 1).cast("int"))
      .withColumn("is_true", (col("b_key") - 1000000L === col("p_partkey")).cast("int"))
    cand.groupBy(col("p_type").as("p_type"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(col("matched")).as("n_matched"),
        sum(col("matched") * col("is_true")).as("n_true_pos"),
        sum(col("matched") * (lit(1) - col("is_true"))).as("n_false_pos"),
        // the strong key dirt can't fake, as a confirmation column —
        // price is unique per part here, so this equals n_true_pos and
        // certifies no false positive sneaks a price collision
        sum(col("matched") * when(col("p_retailprice") === col("b_price"), 1).otherwise(0))
          .as("n_price_confirmed"),
        sum(col("matched") * (lit(100) - lit(40) * col("lev") - lit(20) * col("size_diff")))
          .as("sum_score"))
      .orderBy("p_type")
  }

  val registry: Map[String, Q] = Map(
    "x_er_match" -> erMatch _,
    "x_source_overlap" -> sourceOverlap _,
    "x_dedup_apply" -> dedupApply _,
    "x_dedup_incremental" -> incrementalDedup _,
    "x_dedup_embedding" -> embeddingCosine _,
    "x_dedup_embedding_lsh" -> embeddingCosineLsh _,
    "x_dedup_exact" -> exactStats _,
    "x_dedup_exact_keep" -> exactKeep _,
    "x_dedup_url" -> urlDedup _,
    "x_dedup_minhash" -> minhashLsh _,
    "x_dedup_threshold_sweep" -> thresholdSweep _,
    "x_dedup_source_matrix" -> sourceMatrix _,
    "x_dedup_minhash_calibration" -> minhashCalibration _,
    "x_dedup_containment" -> containmentPairs _,
    "x_dedup_keep_best" -> keepBestApply _,
    "x_dedup_minhash_fast" -> minhashLshFast _,
    "x_dedup_clusters" -> nearDupClusters _,
    "x_dedup_cluster_hist" -> clusterSizeHist _,
    "x_dedup_soft" -> softDedupWeights _,
    "x_dedup_simhash" -> simhash _,
    "x_dedup_ngram_jaccard" -> ngramJaccard _,
    "x_dedup_substring" -> substringDedup _,
    "x_dedup_span_rewrite" -> spanRewrite _,
  )

  /** Shared DuckDB CTEs recomputing the minhash pipeline from the raw
    * table: shingles → one md5-derived base hash per shingle → the 16
    * affine slots (generated from the SAME [[affine]] constants as the
    * Spark expressions, so the engines cannot drift) → xor-packed band
    * buckets → distinct candidate pairs. Used by the minhash AND
    * cluster oracles, the same way the Spark side shares
    * [[minhashVerifiedPairs]].
    */
  private[graft] val minhashOracleCtes: String = {
    val slots = affine.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $P) AS m$i" }.mkString(",\n  ")
    val buckets = (0 until Bands).map { j =>
      val m = (0 until 4).map(k => s"m${4 * j + k}")
      s"xor(${m(0)} * $P + ${m(1)}, ${m(2)} * $P + ${m(3)})"
    }.mkString(",\n  ")
    s"""t AS (
       | SELECT doc_id,
       |  list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
       | FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)),
       |hv AS (
       | SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % $P AS h
       | FROM (SELECT doc_id, unnest(sh) AS s FROM t)),
       |sig AS (SELECT doc_id,
       |  $slots
       | FROM hv GROUP BY doc_id),
       |banded AS (
       | SELECT doc_id, j AS band, bk[j+1] AS bucket
       | FROM (SELECT doc_id, [
       |  $buckets] AS bk FROM sig), range(0, 4) r(j)),
       |pairs AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB recomputation of [[simhashSignatures]]: same md5 16-bit
    * chunks, same 64 majority votes, same 4 band values.
    */
  private val simhashOracleCtes: String = {
    val sums = (0 until 64).map(i =>
      s"sum(CASE WHEN (c${i / 16} >> ${i % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(",\n  ")
    val bandVals = (0 until 4).map { j =>
      "(" + (0 until 16).map(k =>
        s"(CASE WHEN s${j * 16 + k} > 0 THEN ${1L << k} ELSE 0 END)").mkString(" + ") + ")::BIGINT"
    }.mkString(",\n  ")
    s"""tok AS (
       | SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t FROM documents),
       |ch AS (
       | SELECT doc_id,
       |  ('0x' || substr(md5(t), 1, 4))::INT AS c0, ('0x' || substr(md5(t), 5, 4))::INT AS c1,
       |  ('0x' || substr(md5(t), 9, 4))::INT AS c2, ('0x' || substr(md5(t), 13, 4))::INT AS c3
       | FROM tok),
       |sums AS (SELECT doc_id,
       |  $sums
       | FROM ch GROUP BY doc_id),
       |bands AS (SELECT doc_id, [
       |  $bandVals] AS bands FROM sums),
       |sbanded AS (SELECT doc_id, j AS band, bands[j+1] AS bval FROM bands, range(0, 4) r(j)),
       |spairs AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM sbanded a JOIN sbanded b
       |  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Every sketch op is oracle-checkable: the hashes are md5-substring
    * derived (see [[seededHashSql]]), so DuckDB recomputes identical
    * signatures, bands, candidates, and verified pairs from the raw
    * documents table — the same cross-engine-recompute discipline
    * x_dedup_ngram_jaccard already applies to shingles.
    */
  /** The cluster-label CTE chain shared by the clusters and apply
    * oracles (appended after [[minhashOracleCtes]] under WITH
    * RECURSIVE).
    */
  private[graft] val clusterLabelCtes: String =
    s"""edges AS (
       | SELECT p.doc_a, p.doc_b
       | FROM pairs p JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b
       | WHERE round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.8),
       |bidir AS (SELECT doc_a, doc_b FROM edges UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM edges),
       |walk(doc_id, label) AS (
       | SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM bidir
       | UNION
       | SELECT e.doc_a AS doc_id, w.label FROM bidir e JOIN walk w ON w.doc_id = e.doc_b),
       |labels AS (SELECT doc_id, min(label) AS label FROM walk GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // identical dirt injection (md5-keyed name deletion / size drift),
    // blocking join, match rule and integer scoring
    "x_er_match" ->
      """WITH b AS (
        | SELECT p_partkey + 1000000 AS b_key,
        |  CASE WHEN h % 3 = 0 AND length(p_name) >= 6
        |   THEN substr(p_name, 1, (h % (length(p_name) - 2))::INT + 1)
        |     || substr(p_name, (h % (length(p_name) - 2))::INT + 3)
        |   ELSE p_name END AS b_name,
        |  p_brand AS b_brand, p_type AS b_type,
        |  p_size + CASE WHEN h % 7 = 0 THEN 1 ELSE 0 END AS b_size,
        |  p_retailprice AS b_price
        | FROM (SELECT *, ('0x' || substr(md5(p_partkey::VARCHAR), 1, 15))::BIGINT AS h
        |       FROM part)),
        |c AS (
        | SELECT p.p_type, p.p_partkey, b.b_key,
        |  levenshtein(p.p_name, b.b_name) AS lev,
        |  abs(p.p_size - b.b_size) AS size_diff,
        |  CASE WHEN levenshtein(p.p_name, b.b_name) <= 1
        |        AND abs(p.p_size - b.b_size) <= 1 THEN 1 ELSE 0 END AS matched,
        |  CASE WHEN b.b_key - 1000000 = p.p_partkey THEN 1 ELSE 0 END AS is_true,
        |  CASE WHEN p.p_retailprice = b.b_price THEN 1 ELSE 0 END AS price_eq
        | FROM part p JOIN b ON p.p_brand = b.b_brand AND p.p_type = b.b_type
        |  AND substr(p.p_name, 1, 1) = substr(b.b_name, 1, 1))
        |SELECT p_type,
        | count(*)::BIGINT AS n_candidates,
        | sum(matched)::BIGINT AS n_matched,
        | sum(matched * is_true)::BIGINT AS n_true_pos,
        | sum(matched * (1 - is_true))::BIGINT AS n_false_pos,
        | sum(matched * price_eq)::BIGINT AS n_price_confirmed,
        | sum(matched * (100 - 40 * lev - 20 * size_diff))::BIGINT AS sum_score
        |FROM c GROUP BY p_type ORDER BY p_type""".stripMargin,
    "x_source_overlap" ->
      s"""WITH t AS (SELECT source,
        |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
        |f AS (
        | SELECT DISTINCT source,
        |  ('0x' || substr(md5(array_to_string(toks[i+1:i+$SubstringGram], ' ')), 1, 15))::BIGINT AS hg
        | FROM t, (SELECT unnest(range(0, (SELECT max(len(toks)) FROM t))) AS i) r
        | WHERE i <= len(toks) - $SubstringGram),
        |c AS (SELECT source, count(*) AS n FROM f GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        |      FROM f a JOIN f b ON a.hg = b.hg AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b,
        | ca.n::BIGINT AS spans_a, cb.n::BIGINT AS spans_b,
        | p.shared::BIGINT AS shared_spans,
        | ((1000000 * p.shared) // least(ca.n, cb.n))::BIGINT AS overlap_ppm
        |FROM p
        |JOIN c ca ON ca.source = p.source_a
        |JOIN c cb ON cb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // same candidate pipeline + round(…,6) Jaccard; identical pct/100.0
    // literals both engines, LEFT-joined thresholds so an empty cut
    // still emits its zero row
    "x_dedup_threshold_sweep" ->
      s"""WITH $minhashOracleCtes,
         |j AS (
         | SELECT p.doc_a, p.doc_b,
         |  round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(list_distinct(ta.sh || tb.sh)), 6) AS jac
         | FROM pairs p JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b),
         |th AS (SELECT unnest([70, 80, 90]) AS threshold_pct),
         |e AS (
         | SELECT th.threshold_pct, j.doc_a, j.doc_b
         | FROM th JOIN j ON j.jac >= th.threshold_pct / 100.0),
         |ne AS (SELECT threshold_pct, count(*) AS n_edges FROM e GROUP BY 1),
         |ep AS (SELECT DISTINCT threshold_pct, doc_a AS d FROM e
         |       UNION SELECT DISTINCT threshold_pct, doc_b FROM e),
         |nd AS (SELECT threshold_pct, count(*) AS n_docs_affected FROM ep GROUP BY 1)
         |SELECT th.threshold_pct::INT AS threshold_pct,
         | coalesce(ne.n_edges, 0)::BIGINT AS n_edges,
         | coalesce(nd.n_docs_affected, 0)::BIGINT AS n_docs_affected
         |FROM th LEFT JOIN ne USING (threshold_pct) LEFT JOIN nd USING (threshold_pct)
         |ORDER BY threshold_pct""".stripMargin,
    // same banded pairs + rounded-double 0.7 cut as the sweep; the
    // cell mean folds the exact truncating-division ppm (// == div on
    // nonnegative operands)
    "x_dedup_source_matrix" ->
      s"""WITH $minhashOracleCtes,
         |e AS (
         | SELECT p.doc_a, p.doc_b,
         |  (len(list_intersect(ta.sh, tb.sh)) * 1000000 // len(list_distinct(ta.sh || tb.sh)))::BIGINT AS jacc_ppm
         | FROM pairs p JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b
         | WHERE round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.7),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         | greatest(sa.source, sb.source) AS source_b,
         | count(*)::BIGINT AS n_edges,
         | (sum(jacc_ppm) // count(*))::BIGINT AS mean_jaccard_ppm
         |FROM e JOIN s sa ON sa.doc_id = e.doc_a JOIN s sb ON sb.doc_id = e.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical signatures (the sig CTE's m0..m15), identical banded
    // candidate pairs, exact ppm Jaccard; ≤17 census rows
    "x_dedup_minhash_calibration" ->
      s"""WITH $minhashOracleCtes,
         |m AS (
         | SELECT p.doc_a, p.doc_b,
         |  (${(0 until 16).map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")}) AS n_match,
         |  (len(list_intersect(ta.sh, tb.sh)) * 1000000 // len(list_distinct(ta.sh || tb.sh)))::BIGINT AS exact_ppm
         | FROM pairs p
         | JOIN sig sa ON sa.doc_id = p.doc_a JOIN sig sb ON sb.doc_id = p.doc_b
         | JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b)
         |SELECT n_match::INT AS n_match, count(*)::BIGINT AS n_pairs,
         | (n_match * 1000000 // 16)::BIGINT AS est_ppm,
         | (sum(exact_ppm) // count(*))::BIGINT AS mean_exact_ppm,
         | abs(n_match * 1000000 // 16 - sum(exact_ppm) // count(*))::BIGINT AS bias_ppm
         |FROM m GROUP BY n_match ORDER BY n_match""".stripMargin,
    // recomputes the messy-URL derivation and the canonicalization
    // regexp chain verbatim (all patterns anchored/greedy-to-end, so
    // no 'g' flag divergence is possible)
    "x_dedup_url" ->
      """WITH d AS (SELECT doc_id, source,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h FROM documents),
        |r AS (SELECT source,
        |  CASE h % 4
        |   WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.COM/Articles/' || (doc_id % 100) || '/?utm_source=feed&utm_campaign=x'
        |   WHEN 1 THEN 'http://' || source || '.com/articles/' || (doc_id % 100)
        |   WHEN 2 THEN 'https://' || source || '.com/Articles/' || (doc_id % 100) || '/#section-' || (h % 7)
        |   ELSE 'https://m.' || source || '.com/articles/' || (doc_id % 100) || '?ref=tw&id=' || doc_id
        |  END AS raw_url FROM d),
        |c AS (SELECT source, raw_url,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(raw_url), '^https?://', ''), '^(www|m)\.', ''),
        |    '[?#].*$', ''), '/$', '') AS canonical FROM r)
        |SELECT source, count(*)::BIGINT AS n_docs,
        | count(DISTINCT raw_url)::BIGINT AS n_distinct_raw,
        | count(DISTINCT canonical)::BIGINT AS n_canonical,
        | ((1000000 * (count(*) - count(DISTINCT canonical))) // count(*))::BIGINT AS dup_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // rebuilds the label partition from the raw table (the apply
    // oracle's CTEs); only the PARTITION matters for sizes, so the
    // rep-identity convention cannot diverge
    "x_dedup_cluster_hist" ->
      s"""WITH RECURSIVE $minhashOracleCtes,
         |$clusterLabelCtes,
         |assign AS (
         | SELECT d.doc_id, coalesce(l.label, d.doc_id) AS rep
         | FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         |sz AS (SELECT rep, count(*) AS cluster_size FROM assign GROUP BY rep)
         |SELECT cluster_size::BIGINT AS cluster_size,
         | count(*)::BIGINT AS n_clusters,
         | (cluster_size * count(*))::BIGINT AS n_docs
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // same recursive cluster labels; weights are positive integer ppm
    // so the truncating divisions agree across engines
    "x_dedup_soft" ->
      s"""WITH RECURSIVE $minhashOracleCtes,
         |$clusterLabelCtes,
         |assign AS (
         | SELECT d.doc_id, d.source, coalesce(l.label, d.doc_id) AS rep
         | FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         |sz AS (SELECT rep, count(*) AS cluster_size FROM assign GROUP BY rep),
         |w AS (
         | SELECT a.source, s.cluster_size, 1000000 // s.cluster_size AS w_ppm
         | FROM assign a JOIN sz s USING (rep))
         |SELECT source, count(*)::BIGINT AS n_docs,
         | sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END)::BIGINT AS n_in_clusters,
         | sum(w_ppm)::BIGINT AS sum_weight_ppm,
         | (sum(w_ppm) // 1000000)::BIGINT AS effective_docs
         |FROM w GROUP BY source ORDER BY source""".stripMargin,
    "x_dedup_apply" ->
      s"""WITH RECURSIVE $minhashOracleCtes,
         |$clusterLabelCtes,
         |ex AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
         |keepers AS (SELECT fp, min(doc_id) AS keeper FROM ex GROUP BY fp),
         |flags AS (
         | SELECT e.source, e.doc_id <> k.keeper AS removed_exact,
         |  coalesce(l.doc_id <> l.label, FALSE) AS nm
         | FROM ex e JOIN keepers k ON k.fp = e.fp
         | LEFT JOIN labels l ON l.doc_id = e.doc_id)
         |SELECT source, count(*) AS n_docs,
         | sum(CASE WHEN removed_exact THEN 1 ELSE 0 END)::BIGINT AS n_removed_exact,
         | sum(CASE WHEN NOT removed_exact AND nm THEN 1 ELSE 0 END)::BIGINT AS n_removed_neardup,
         | sum(CASE WHEN NOT removed_exact AND NOT nm THEN 1 ELSE 0 END)::BIGINT AS n_kept
         |FROM flags GROUP BY source ORDER BY source""".stripMargin,
    "x_dedup_incremental" ->
      s"""WITH $minhashOracleCtes,
         |fpx AS (SELECT doc_id, md5(text) AS fp, doc_id % 5 = 4 AS is_new FROM documents),
         |exact_ids AS (
         | SELECT b.doc_id FROM fpx b
         | WHERE b.is_new AND EXISTS (SELECT 1 FROM fpx o WHERE NOT o.is_new AND o.fp = b.fp)),
         |icand AS (
         | SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS base_id
         | FROM banded n JOIN banded o ON n.band = o.band AND n.bucket = o.bucket
         | WHERE n.doc_id % 5 = 4 AND o.doc_id % 5 <> 4),
         |near_ids AS (
         | SELECT DISTINCT c.new_id AS doc_id FROM icand c
         | JOIN t ta ON ta.doc_id = c.new_id JOIN t tb ON tb.doc_id = c.base_id
         | WHERE round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(list_distinct(ta.sh || tb.sh)), 6) >= 0.8),
         |cls AS (
         | SELECT f.doc_id,
         |  CASE WHEN f.doc_id IN (SELECT doc_id FROM exact_ids) THEN 'exact_dup'
         |       WHEN f.doc_id IN (SELECT doc_id FROM near_ids) THEN 'near_dup'
         |       ELSE 'unique' END AS status
         | FROM fpx f WHERE f.is_new)
         |SELECT status, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM cls GROUP BY status ORDER BY status""".stripMargin,
    // recursive cluster recompute + identical quality ppm + per-rep
    // (q desc, doc_id asc) winner election
    "x_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashOracleCtes,
         |$clusterLabelCtes,
         |ql AS (
         | SELECT doc_id, source,
         |  (1000000 * len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))))
         |   // len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS q
         | FROM documents),
         |j AS (
         | SELECT ql.doc_id, ql.source, ql.q,
         |  l.label IS NOT NULL AS clustered,
         |  coalesce(l.label, ql.doc_id) AS rep
         | FROM ql LEFT JOIN labels l ON l.doc_id = ql.doc_id),
         |w AS (
         | SELECT rep, doc_id AS win_id FROM (
         |  SELECT rep, doc_id,
         |   row_number() OVER (PARTITION BY rep ORDER BY q DESC, doc_id ASC) AS rn
         |  FROM j) WHERE rn = 1)
         |SELECT j.source, count(*)::BIGINT AS n_docs,
         | sum(CASE WHEN j.clustered THEN 1 ELSE 0 END)::BIGINT AS n_clustered,
         | sum(CASE WHEN j.doc_id = w.win_id THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         | coalesce(sum(CASE WHEN j.doc_id = w.win_id THEN j.doc_id END), 0)::BIGINT AS kept_id_sum,
         | sum(CASE WHEN j.doc_id = w.win_id THEN j.q ELSE 0 END)::BIGINT AS kept_q_sum,
         | sum(CASE WHEN j.doc_id <> w.win_id THEN j.q ELSE 0 END)::BIGINT AS dropped_q_sum
         |FROM j JOIN w ON w.rep = j.rep
         |GROUP BY j.source ORDER BY j.source""".stripMargin,
    // same banded candidates; exact both-direction containment,
    // round-then-rank on the max direction
    "x_dedup_containment" ->
      s"""WITH $minhashOracleCtes,
         |c AS (
         | SELECT p.doc_a, p.doc_b,
         |  round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(ta.sh), 6) AS cont_a,
         |  round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(tb.sh), 6) AS cont_b
         | FROM pairs p JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM c
         |ORDER BY greatest(cont_a, cont_b) DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "x_dedup_minhash" ->
      s"""WITH $minhashOracleCtes
         |SELECT p.doc_a, p.doc_b,
         | round(len(list_intersect(ta.sh, tb.sh))::DOUBLE / len(list_distinct(ta.sh || tb.sh)), 6) AS jaccard
         |FROM pairs p JOIN t ta ON ta.doc_id = p.doc_a JOIN t tb ON tb.doc_id = p.doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "x_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashOracleCtes,
         |$clusterLabelCtes
         |SELECT label AS keep_id, count(*)::INT AS cluster_size,
         | string_agg(doc_id::VARCHAR, '|' ORDER BY doc_id) AS members
         |FROM labels GROUP BY label ORDER BY keep_id""".stripMargin,
    "x_dedup_simhash" ->
      s"""WITH $simhashOracleCtes
         |SELECT p.doc_a, p.doc_b,
         | (bit_count(xor(a.bands[1], b.bands[1])) + bit_count(xor(a.bands[2], b.bands[2]))
         |  + bit_count(xor(a.bands[3], b.bands[3])) + bit_count(xor(a.bands[4], b.bands[4])))::INT AS hamming
         |FROM spairs p JOIN bands a ON a.doc_id = p.doc_a JOIN bands b ON b.doc_id = p.doc_b
         |ORDER BY hamming ASC, doc_a, doc_b LIMIT 20""".stripMargin,
    // the pairwise LSH near-dup path shares the hyperplane-literal CTEs
    // with the ANN oracles (Similarity.lshOracleCtes): DuckDB recomputes
    // identical bands, candidate pairs, and exact-cosine re-ranks
    "x_dedup_embedding_lsh" ->
      s"""WITH ${Similarity.lshOracleCtes},
         |lpairs AS (
         | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         | round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
         |FROM lpairs JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
         |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin,
    "x_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos FROM p
        |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin,
    "x_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct_text,
        | count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_distinct_norm
        |FROM documents""".stripMargin,
    "x_dedup_exact_keep" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    // blocked n-gram Jaccard is exact & deterministic (no sketch), so
    // DuckDB can recompute the identical word-3-gram shingle sets
    "x_dedup_ngram_jaccard" ->
      """WITH t AS (
        | SELECT doc_id, source, n_chars,
        |  list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
        | FROM (SELECT doc_id, source, n_chars,
        |        regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |FROM t a JOIN t b
        | ON a.source = b.source AND (a.n_chars // 64) = (b.n_chars // 64)
        |  AND a.doc_id < b.doc_id
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "x_dedup_substring" ->
      s"""WITH g AS (
         | SELECT doc_id, source, (len(toks) - ${SubstringGram - 1})::BIGINT AS n_grams,
         |  list_transform(range(1, len(toks) - ${SubstringGram - 1} + 1),
         |    i -> array_to_string(toks[i:i+${SubstringGram - 1}], ' ')) AS grams
         | FROM (SELECT doc_id, source,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)
         | WHERE len(toks) >= $SubstringGram),
         |pos AS (
         | SELECT doc_id, source, n_grams,
         |  ('0x' || substr(md5(gr), 1, 15))::BIGINT AS hg
         | FROM (SELECT doc_id, source, n_grams, unnest(grams) AS gr FROM g)),
         |dup AS (
         | SELECT hg FROM (SELECT hg, count(DISTINCT doc_id) AS df FROM pos GROUP BY hg)
         | WHERE df >= 2),
         |perdoc AS (
         | SELECT doc_id, source, n_grams,
         |  sum(CASE WHEN hg IN (SELECT hg FROM dup) THEN 1 ELSE 0 END)::BIGINT AS n_dup
         | FROM pos GROUP BY doc_id, source, n_grams)
         |SELECT source, count(*) AS n_docs,
         | sum(n_grams)::BIGINT AS grams_total, sum(n_dup)::BIGINT AS grams_dup,
         | sum(CASE WHEN n_dup > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_dup,
         | max((1000000 * n_dup) // n_grams) AS max_dup_ppm
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin,
    // Recomputes the full rewrite from the raw table: same gram text,
    // same 60-bit hash prefix, same coverage union, and string_agg
    // (ORDER BY position) reassembly — content_sum certifies every
    // cleaned document's text. Position indexes come from an
    // unnest(range(...)) cross join whose bound is DERIVED from
    // max(len(toks)) as a scalar subquery — DuckDB's range() rejects
    // lateral (per-row) args but accepts a non-correlated scalar, so
    // the oracle can never silently under-enumerate a long document.
    "x_dedup_span_rewrite" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         |pos AS (
         | SELECT doc_id, i,
         |  ('0x' || substr(md5(array_to_string(toks[i+1:i+$SubstringGram], ' ')), 1, 15))::BIGINT AS hg
         | FROM t, (SELECT unnest(range(0, (SELECT max(len(toks)) FROM t))) AS i) r
         | WHERE i <= len(toks) - $SubstringGram),
         |dup AS (
         | SELECT hg FROM (SELECT hg, count(DISTINCT doc_id) AS df FROM pos GROUP BY hg)
         | WHERE df >= 2),
         |cov AS (
         | SELECT DISTINCT doc_id, i + j AS p
         | FROM pos, (SELECT unnest(range(0, $SubstringGram)) AS j) r2
         | WHERE hg IN (SELECT hg FROM dup)),
         |tok AS (
         | SELECT doc_id, p, toks[p+1] AS w
         | FROM t, (SELECT unnest(range(0, (SELECT max(len(toks)) FROM t))) AS p) r WHERE p < len(toks)),
         |kept AS (
         | SELECT k.doc_id, count(*)::BIGINT AS n_kept,
         |  string_agg(k.w, ' ' ORDER BY k.p) AS cleaned
         | FROM tok k
         | WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = k.doc_id AND c.p = k.p)
         | GROUP BY k.doc_id),
         |perdoc AS (
         | SELECT t.doc_id, t.source, len(t.toks)::BIGINT AS n_toks,
         |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
         |  md5(coalesce(k.cleaned, '')) AS doc_hash
         | FROM t LEFT JOIN kept k USING (doc_id))
         |SELECT source, count(*)::BIGINT AS n_docs,
         | sum(CASE WHEN n_kept < n_toks THEN 1 ELSE 0 END)::BIGINT AS docs_rewritten,
         | sum(n_toks)::BIGINT AS tokens_total,
         | sum(n_kept)::BIGINT AS tokens_kept,
         | sum(('0x' || substr(doc_hash, 1, 15))::BIGINT % $ContentMod)::BIGINT AS content_sum
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin,
  )
}
