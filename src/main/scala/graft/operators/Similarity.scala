package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Two paths, mirroring how ANN works at scale:
  *  - brute-force cosine top-k: the correctness baseline. Queries are a
  *    tiny filtered set, broadcast against the full corpus scan, so the
  *    cost is one pass over the corpus per batch of queries — the right
  *    shape for 100 TB (no shuffle of the corpus at all).
  *  - random-hyperplane LSH buckets: corpus is pre-partitioned by a
  *    signature band; a query only scans colliding buckets. Bucket
  *    assignment is a deterministic projection (hyperplanes derived from
  *    a seeded PRNG, embedded as plan literals), so the bucketed corpus
  *    can be written out partitioned-by-bucket and pruned at read time.
  *
  * Dot products use zip_with + aggregate over array<double> (codegen'd
  * higher-order functions — no UDF).
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  private val Dim = 64
  private val NumPlanes = 12 // 4 bands × 3 bits
  private val Bands = 4
  private val BitsPerBand = 3
  private val Seed = 42L

  /** Fused codegen loops (graft.functions.VectorExpressions) — same
    * index-order summation as the aggregate/zip_with formulation, so
    * results are bit-identical to the DuckDB oracle's DOUBLE[] math,
    * without per-row intermediate arrays.
    */
  private def dot(a: String, b: String): Column =
    graft.functions.VectorExpressions.dot_product(col(a), col(b))

  private def norm(a: String): Column =
    graft.functions.VectorExpressions.l2_norm(col(a))

  /** Corpus with vectors as array<double> plus precomputed L2 norm,
    * fanned out across cores ([[Tables.fanOut]]) — every consumer runs
    * O(corpus·dims) fused-loop work per row, which a single scan split
    * would serialize.
    */
  private def corpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.fanOut(spark, Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm("v"))

  /** Brute-force cosine top-k (k=10) for query vectors vec_id < 5.
    * Ranking uses the rounded similarity with vec_id tiebreak so the
    * result is stable across engines.
    */
  def bruteForceTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus(spark, sfDir)
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Exact cosine top-10 via the BOUNDED MAP-SIDE AGGREGATE
    * ([[graft.functions.TopKPairs]]) instead of [[bruteForceTopK]]'s
    * rank window — same results (the oracle runs the window
    * formulation; the equivalence is the claim), different asymptotics:
    * the window shuffles every (query, corpus-row) scored pair to the
    * query's one reducer before ranking (Q reducers each receiving the
    * whole corpus — the low-cardinality-key scale-killer tolerated in
    * the baseline only as ground truth), while the aggregate keeps at
    * most k pairs per task and ships O(k · tasks) longs per query
    * through the exchange. This is the per-query-top-k shape that
    * survives 100 TB: partial top-k inside the scan stage, one tiny
    * merge per query key.
    *
    * Similarities are quantized once to integer ten-thousandths (the
    * [[mmrRerank]] discipline) so the (sim desc, id asc) order is total
    * and identical on both engines.
    */
  def aggTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim_m",
        round(dot("qv", "v") / (col("qn") * col("nrm")) * 10000).cast("bigint"))
      .groupBy("query_id")
      .agg(graft.functions.TopKPairsNative.topk(col("sim_m"), col("vec_id"), 10).as("nbrs"))
      .select(col("query_id"), explode(col("nbrs")).as("p"))
      .select(col("query_id"), col("p._2").as("neighbor_id"), col("p._1").as("sim_m"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Crossover probe for [[aggTopK]] vs the window formulation — the
    * committed measurement of WHERE the bounded aggregate's asymptotics
    * beat the window's (round-9 verdict task 5). At the sf0.1 corpus
    * (~60k vectors) the window twin wins on constants: the scored frame
    * is small enough that 5 reducers sorting it cost less than the
    * ObjectHashAggregate's per-row update machinery. This probe scores
    * a SYNTHETIC deterministic 4M-vector corpus (hash-derived dim-8
    * vectors, no testdata dependence, materialized once to a
    * fingerprint-keyed parquet)
    * against the same 5 queries: 20M scored rows now have to cross the
    * window's exchange into 5 sort reducers, while the aggregate still
    * ships O(k · tasks · queries) longs. (Round-12 cost cut, probed
    * empirically: at 2M vectors the formulations land within host noise
    * of each other — window/agg swung 0.71–1.32 across back-to-back
    * runs — and at 3M the margin hovered at the 1.3 threshold
    * (1.26–1.43); 4M is the smallest probe with a robust margin
    * (1.65–2.04 across three loaded-host runs, vs 1.52–2.12 at 5M).
    * The rest of the cost comes out of the repeats: the corpus is
    * generated ONCE into a parquet layer ([[graft.Staged]]) and
    * codegen/JIT warm up on a same-shape 50k-row
    * file, so each sweep pays exactly two measured 4M-row executions
    * instead of four 5M ones.) Both formulations run to
    * completion, their (tiny) top-k results are compared for exact
    * equality in-query, and the timings + equality flag are the output
    * row (timing-valued → rows-only; `results_equal` is the
    * deterministic half, and [[aggTopK]] is the fully-oracled twin of
    * the aggregate's semantics).
    *
    * Scale note: the window side IS the scale-killer under measurement
    * here (5 partition keys absorbing a 20M-row exchange — the shape
    * [[bruteForceTopK]] tolerates only as ground truth); it is bounded
    * (20M rows × 24 bytes) and exists to document the crossover, not
    * to serve queries.
    */
  @volatile private var xoverWarmed = false

  def aggTopKCrossover(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val n = 4000000L
    val dim = 8
    // corpus generation runs ONCE per (n, dim): hash-derived vectors are
    // deterministic, so a fingerprint-keyed parquet is the corpus —
    // sweep repeats then measure SCORING, not 40M hash evaluations
    def synth(rows: Long, parts: Int) = spark.range(0L, rows, 1L, parts)
      .select(col("id").as("vec_id"),
        array((0 until dim).map(d =>
          (pmod(hash(col("id"), lit(d)).cast("bigint"), lit(1000)) / lit(500.0)) - lit(1.0)): _*).as("v"))
    def ensure(rows: Long, parts: Int): String =
      graft.Staged.dir(spark, s"xover/corpus_${rows}_$dim", Nil)(
        synth(rows, parts).write.mode("overwrite").parquet(_))
    val corpusPath = ensure(n, 64)
    val warmPath = ensure(50000L, 8)
    def forms(path: String): (DataFrame, DataFrame) = {
      val corpus = spark.read.parquet(path)
        .withColumn("nrm", graft.functions.VectorExpressions.l2_norm(col("v")))
      val q = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("sim_m",
          round(graft.functions.VectorExpressions.dot_product(col("qv"), col("v"))
            / (col("qn") * col("nrm")) * 10000).cast("bigint"))
      val aggForm = scored.groupBy("query_id")
        .agg(graft.functions.TopKPairsNative.topk(col("sim_m"), col("vec_id"), 10).as("nbrs"))
        .select(col("query_id"), explode(col("nbrs")).as("p"))
        .select(col("query_id"), col("p._2").as("neighbor_id"), col("p._1").as("sim_m"))
        .orderBy("query_id", "neighbor_id")
      val w = Window.partitionBy("query_id").orderBy(col("sim_m").desc, col("vec_id").asc)
      val winForm = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim_m"))
        .orderBy("query_id", "neighbor_id")
      (aggForm, winForm)
    }
    def run(df: DataFrame): (Seq[(Long, Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    // codegen + JIT warm on a same-shape 50k file (identical plan
    // structure → identical generated code); the 4M corpus is read
    // exactly twice, once per measured formulation. Warmup is
    // per-JVM (codegen/JIT compile is what it exists for), so bench
    // repeats 2..n skip it and time only the measured pair.
    if (!xoverWarmed) {
      val (warmAgg, warmWin) = forms(warmPath)
      warmAgg.write.format("noop").mode("overwrite").save()
      warmWin.write.format("noop").mode("overwrite").save()
      xoverWarmed = true
    }
    val (aggForm, winForm) = forms(corpusPath)
    val (aggRows, aggSec) = run(aggForm)
    val (winRows, winSec) = run(winForm)
    // Timings go to stderr (plus this run's per-query wall time in the
    // bench record); the OUTPUT is only the deterministic half, so the
    // query is fully oracled against pinned literals (round-11: the
    // rows-only set shrinks to genuinely timing-valued outputs only).
    // Committed crossover medians live in the scaladoc above.
    System.err.println(
      f"[x_sim_topk_agg_xover] agg=$aggSec%.3fs window=$winSec%.3fs " +
        f"window/agg=${winSec / aggSec}%.2f")
    Seq((n, dim, 5, aggRows.size.toLong, aggRows == winRows))
      .toDF("corpus_rows", "dim", "n_queries", "topk_rows", "results_equal")
  }

  private val PreFilterLabel = 3 // the attribute predicate of the
  // filtered-search query; any selective scan predicate works the same

  /** Attribute-filtered vector search (pre-filtering): top-10 cosine
    * neighbors for query vectors vec_id < 5 among candidates with
    * `label = 3` ONLY. This is the filtered-ANN primitive every vector
    * store exposes (metadata WHERE + top-k), and the two strategies
    * differ asymptotically: POST-filtering ranks the whole corpus and
    * then drops non-matching neighbors — it under-fills k whenever the
    * predicate is selective; PRE-filtering applies the predicate
    * before any distance math, so k is always filled from the eligible
    * set and the scan itself shrinks.
    *
    * Scale: the label predicate is a plain scan filter — it reaches
    * the parquet reader as a pushed data filter (spec-asserted), so at
    * lake scale it prunes row groups via chunk statistics (and whole
    * partitions if the corpus is partitioned by the attribute) BEFORE
    * any vector is materialized. Queries broadcast; the eligible
    * corpus never shuffles. Composes with the IVF/LSH bucket paths
    * unchanged (filter first, then probe) because bucket assignment is
    * stateless over the filtered frame.
    */
  def prefilteredTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(spark, sfDir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", norm("qv"))
    val eligible = Tables.fanOut(spark,
        base.filter(col("label") === PreFilterLabel), col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm("v"))
    val scored = eligible.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Deterministic random hyperplanes as plan literals. Because they
    * are plain literals (not fitted state), the SAME values can be
    * inlined into generated DuckDB SQL — which is what turns the LSH
    * paths from rows-only checks into full hash-match oracles: DuckDB
    * recomputes identical sign bits, bands, candidates and re-ranked
    * neighbors from the raw table.
    */
  private val planes: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(Seed)
    Seq.fill(NumPlanes)(Array.fill(Dim)(rnd.nextDouble() * 2 - 1))
  }

  /** LSH-bucketed approximate neighbors: 12 hyperplane bits → 4 bands
    * of 3 bits. Candidate generation is explode(bands) → equi-join on
    * (band index, band value) → distinct — the hash-partitionable shape
    * that scales (an OR-of-bands join predicate would force a
    * nested-loop join). Exact cosine re-ranks candidates, top-5/query.
    *
    * On near-uniform random vectors (this testdata) expected recall@5
    * vs. brute force is ~0.6-0.7 — LSH trades exactly this recall for
    * scanning only colliding buckets.
    */
  /** Any (vec_id, v[, nrm]) frame exploded to one row per (vector,
    * band): vec_id, v, nrm, band, bval — the plane literals are baked
    * into the plan, so a STREAMING frame bands identically to the
    * static corpus (used by [[graft.streaming.EventStreams]]'s online
    * ANN path).
    */
  private[graft] def bandedOf(vecs: DataFrame): DataFrame = {
    val pl = planes
    def bit(p: Int): Column =
      when(dot("v", s"p$p") > 0, 1).otherwise(0)
    var c = if (vecs.columns.contains("nrm")) vecs else vecs.withColumn("nrm", norm("v"))
    for (p <- 0 until NumPlanes) c = c.withColumn(s"p$p", array(pl(p).map(lit): _*))
    for (p <- 0 until NumPlanes) c = c.withColumn(s"b$p", bit(p)).drop(s"p$p")
    val bandCols = (0 until Bands).map { b =>
      val bits = (0 until BitsPerBand).map(i => b * BitsPerBand + i)
      bits.zipWithIndex.map { case (p, i) =>
        col(s"b$p") * (1 << (BitsPerBand - 1 - i)) }.reduce(_ + _)
    }
    c.select(col("vec_id") +: col("v") +: col("nrm") +: Seq(posexplode(array(bandCols: _*)).as(Seq("band", "bval"))): _*)
  }

  /** Corpus exploded to one row per (vector, band): the deterministic
    * bucket assignment shared by the ANN query path ([[lshTopK]]) and
    * the pairwise near-dup path ([[Dedup.embeddingCosineLsh]]).
    */
  private[graft] def bandedCorpus(spark: SparkSession, sfDir: String): DataFrame =
    bandedOf(corpus(spark, sfDir))

  def lshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = bandedCorpus(spark, sfDir)
    val qb = banded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("band").as("qband"), col("bval").as("qbval"))
    val candIds = banded.join(broadcast(qb),
        col("band") === col("qband") && col("bval") === col("qbval") &&
          col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val base = corpus(spark, sfDir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = candIds
      .join(base, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  private val IvfK = 16
  private val IvfNProbe = 4
  private val IvfIters = 3
  /** Quantization scale for Lloyd-step means: component sums are taken
    * over round(x·2^20) INTEGERS, so they are exact and
    * order-independent — the same centroids fall out of any partial-sum
    * order, which is what makes distributed retraining deterministic
    * AND lets DuckDB recompute bit-identical centroids for the oracle
    * (float averaging would differ in ulps run to run).
    */
  private val IvfQ = 1048576L

  /** IVF (inverted-file) approximate neighbors — the other classic ANN
    * scale path beside LSH: a k-means coarse quantizer partitions the
    * corpus into K inverted lists; a query probes only its `nprobe`
    * nearest lists and exact-cosine re-ranks those rows, so the scan
    * fraction is ~nprobe/K of the corpus.
    *
    * The quantizer is trained in-engine: `iters` Lloyd steps, each one
    * a single codegen'd assignment pass (argmin over K fused dot
    * products) plus a (cluster, dim) quantized-integer mean (see
    * [[IvfQ]]). Centroids are collected to the driver between steps —
    * that is MODEL extraction (K×Dim doubles, like MLlib's KMeans),
    * not a data collect; data never leaves executors. At lake scale
    * the trained centroids become plan literals exactly as here, and
    * the assigned corpus would be written out partitioned by list id
    * for read-time pruning.
    *
    * Everything is deterministic and SQL-expressible — md5-ordered
    * seeding, integer-sum means, (distance, list-id) tie-breaks — so
    * the full train+probe pipeline carries a DuckDB hash-match oracle
    * ([[ivfOracle]]) that retrains the same quantizer from the raw
    * table.
    */
  private def centroidCol(cent: Array[Double]): Column = array(cent.map(lit): _*)

  /** Squared-distance argmin assignment: |v|² is constant per row, so
    * rank by |c_j|² - 2·v·c_j; ties break on list id (deterministic).
    */
  private def assignTo(cents: Seq[Array[Double]])(df: DataFrame): DataFrame = {
    val scored = cents.zipWithIndex.map { case (cent, j) =>
      val c2 = cent.map(x => x * x).sum
      struct(
        (lit(c2) - lit(2.0) * graft.functions.VectorExpressions
          .dot_product(col("v"), centroidCol(cent))).as("d"),
        lit(j).as("j"))
    }
    df.withColumn("list_id", array_min(array(scored: _*)).getField("j"))
  }

  /** [[IvfIters]] Lloyd steps over [[corpus]] rows. Deterministic,
    * cross-engine-reproducible seeding: the K corpus vectors first in
    * md5(vec_id) order (vec_id tie-break). The corpus is cached ONLY
    * for the training loop (seeding + `iters` assignment passes re-read
    * it); released before the caller's query plan is returned, so no
    * cache outlives the call. Shared by [[ivfTopK]] and
    * [[semanticDedup]] — same quantizer, same oracle CTEs.
    */
  private def trainQuantizer(base: DataFrame): Seq[Array[Double]] = {
    val baseCached = base.cache()
    try {
      var c: Seq[Array[Double]] = baseCached
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(IvfK)
        .select("v").collect().map(_.getSeq[Double](0).toArray).toSeq
      for (_ <- 1 to IvfIters) {
        val means = assignTo(c)(baseCached)
          .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .select(col("list_id"), col("pos"),
            expr(s"cast(round(x * $IvfQ) as bigint)").as("xi"))
          .groupBy("list_id", "pos").agg(sum("xi").as("s"), count(lit(1)).as("cnt"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (j, rs) =>
            j -> rs.sortBy(_.getInt(1))
              .map(r => r.getLong(2).toDouble / (r.getLong(3) * IvfQ).toDouble).toArray }
        c = c.indices.map(j => means.getOrElse(j, c(j)))
      }
      c
    } finally baseCached.unpersist()
  }

  /** Trained-model registry: centroids are deterministic functions of
    * the input file, so they are memoized per (path, fingerprint) — the
    * in-process analog of publishing a trained quantizer, and the same
    * staleness discipline as [[graft.sources.LayoutCache]] layouts
    * (regenerated data ⇒ new fingerprint ⇒ retrain). Queries then
    * measure list-probe latency, not training, which at lake scale is
    * an offline job whose output ships as plan literals. Unlike the
    * dedup base index/cluster model, training reads only the embedding
    * vectors — no `spark.graft.*` conf reaches it — so (path,
    * fingerprint) is the complete dependency set for this key.
    */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Double]]]()

  private def trainedCentroids(spark: SparkSession, sfDir: String,
      base: DataFrame): Seq[Array[Double]] = {
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/embeddings.parquet")
    quantizerCache.computeIfAbsent(s"$sfDir|$fp", _ => trainQuantizer(base))
  }

  /** (query_id, qv, qn, list_id) probe frame: each of the 5 gated query
    * vectors exploded to its nprobe nearest inverted lists (same argmin
    * machinery as [[assignTo]], keeping the nprobe smallest (d, j)
    * structs). Shared by the in-memory and bucketed-storage IVF paths.
    */
  private def probeFrame(base: DataFrame, cents: Seq[Array[Double]], nprobe: Int): DataFrame = {
    // one fused codegen'd expression selects the nprobe smallest
    // (distance, list-id) — the array_sort(struct)+transform lambda
    // pair it replaces was the last CodegenFallback in the ANN family
    val dists = array(cents.zipWithIndex.map { case (cent, _) =>
      val c2 = cent.map(x => x * x).sum
      lit(c2) - lit(2.0) * graft.functions.VectorExpressions
        .dot_product(col("v"), centroidCol(cent))
    }: _*)
    base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(graft.functions.VectorExpressions.argmin_n(dists, nprobe)).as("list_id"))
  }

  /** Exact-cosine top-5 re-rank of (assigned ⋈ probes) — the shared
    * tail of both IVF paths.
    */
  private def ivfRerank(assigned: DataFrame, q: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = assigned.join(broadcast(q), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    ivfRerank(assignTo(cents)(base), probeFrame(base, cents, IvfNProbe))
  }

  // nprobe ladder; the last step probes every IvfK list, making
  // recall ≡ 10⁶ a THEOREM the spec pins (full probe = brute force
  // under the identical rounded-sim, id-tie-broken rerank)
  private val RecallNProbes = Seq(1, 2, 4, 8, 16)

  /** IVF recall-vs-cost curve — THE tuning census of an IVF index:
    * for each nprobe in [[RecallNProbes]], recall@5 against the exact
    * top-5 AND the probed-vector mass (the cost a serving team
    * actually pays; [[ivfListBalance]] explains its skew). The curve
    * answers "how many lists must I probe for the recall I need"
    * before the index ships — [[simRecall]] reports the one deployed
    * config, this the whole frontier.
    *
    * Two exactness theorems ride the construction (both spec-pinned):
    * `argmin_n` prefixes nest, so candidate sets — and with the
    * identical (rounded sim desc, id asc) tie-break, recall — are
    * MONOTONE in nprobe; and nprobe = [[IvfK]] probes every list,
    * collapsing the rerank to brute force: recall ≡ 10⁶ exactly.
    *
    * ONE distributed plan for the whole ladder (not a plan per step):
    * `argmin_n` emits list ids in ASCENDING distance order, so the
    * nprobe-prefix of the FULL ranked probe frame IS probeFrame(np) —
    * each candidate carries its earliest probe rank (one corpus-side
    * equi-join + one reduce), and the ladder memberships explode as
    * np = 2^k for k ∈ [ceil(log2(rank+1)), 4] via
    * explode(sequence(…)) + shiftleft — plain codegen'd expressions,
    * no lambda, no per-step re-plan, no crossJoin. Per-np top-5 is a
    * (np, query)-partitioned rank over candidate·|ladder| rows.
    *
    * Scale: the assignment frame computes ONCE (localCheckpointed);
    * candidate mass per query is ~the FULL-probe list mass (the
    * np=K step needs it regardless — the ladder adds a ≤5× row fanout
    * on the reduced candidate set, not extra corpus passes); the
    * census output is |ladder| rows.
    */
  def ivfRecallCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    val asg = assignTo(cents)(base)
      .transform(graft.Ckpt.pin("Similarity.ivfRecallCurve.asg"))
    val pops = asg.groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
    val maxNp = RecallNProbes.max // = IvfK: the full probe
    val probes = probeFrameRanked(base, cents, maxNp)
      // queries·K rows; read by cost AND candidates
      .transform(graft.Ckpt.pin("Similarity.ivfRecallCurve.probes"))
    // np = 2^k memberships of a probe rank r: k ≥ ceil(log2(r+1)),
    // i.e. k0 = 0 for r = 0 else length(bin(r)) — integer arithmetic,
    // no lambda (transform/filter would fall out of codegen)
    val npOf = (rankCol: String) => Seq(
      expr(s"explode(sequence(CASE WHEN $rankCol = 0 THEN 0 ELSE length(bin($rankCol)) END, 4))").as("k"))
    val cost = probes.select(col("query_id"), col("list_id"), col("prank"))
      .join(broadcast(pops), Seq("list_id"), "left")
      .na.fill(0L, Seq("n_vecs"))
      .select(col("query_id"), col("n_vecs"), npOf("prank").head)
      .withColumn("nprobe", expr("shiftleft(1L, cast(k as int))"))
      .groupBy("nprobe")
      .agg(countDistinct("query_id").as("n_queries"),
        sum("n_vecs").as("probed_vecs"))
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val candMin = asg.join(
        broadcast(probes.select("query_id", "prank", "list_id")), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id").agg(min("prank").as("mrank"))
    val scored = candMin
      .join(base.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("sim"), npOf("mrank").head)
      .withColumn("nprobe", expr("shiftleft(1L, cast(k as int))"))
    val w5 = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val wx = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val exact5 = bruteForceTopK(spark, sfDir)
      .withColumn("rk", row_number().over(wx)).filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val hits = scored.withColumn("rk", row_number().over(w5))
      .filter(col("rk") <= 5)
      .join(broadcast(exact5), Seq("query_id", "neighbor_id"), "left")
      .na.fill(0L, Seq("hit"))
      .groupBy("nprobe").agg(sum("hit").as("n_hits"))
    cost.join(hits, Seq("nprobe"), "left")
      .na.fill(0L, Seq("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000 div (5 * n_queries)"))
      .select("nprobe", "n_queries", "probed_vecs", "n_hits", "recall_ppm")
      .orderBy("nprobe")
  }

  /** [[probeFrame]] with the probe ORDER kept: (query_id, prank,
    * list_id) where prank is the position in [[ArgminN]]'s ascending-
    * distance output — the nprobe-prefix property [[ivfRecallCurve]]
    * rides.
    */
  private def probeFrameRanked(
      base: DataFrame, cents: Seq[Array[Double]], nprobe: Int): DataFrame = {
    val dists = array(cents.zipWithIndex.map { case (cent, _) =>
      val c2 = cent.map(x => x * x).sum
      lit(c2) - lit(2.0) * graft.functions.VectorExpressions
        .dot_product(col("v"), centroidCol(cent))
    }: _*)
    base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        posexplode(graft.functions.VectorExpressions.argmin_n(dists, nprobe))
          .as(Seq("prank", "list_id")))
  }

  /** IVF inverted-list balance census — the index-health metric an ANN
    * serving team watches BEFORE latency does it for them: with nprobe
    * lists scanned per query, p99 latency is set by the LARGEST probed
    * list, so a skewed quantizer (one list holding 10× the uniform
    * share) silently turns an nprobe/K scan fraction into a hot-list
    * scan. Reports each trained list's population, exact id mass,
    * corpus share in ppm, and load relative to uniform in percent
    * (100 = perfectly balanced). Empty lists don't appear — their
    * absence from the census IS the other imbalance signal.
    *
    * Shares [[trainedCentroids]] (and therefore the retrain oracle)
    * with the IVF query paths: the census audits exactly the index
    * those queries probe. Scale: one assignment projection (fused
    * argmin over K codegen'd dot products) + a K-group aggregate.
    */
  def ivfListBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    // ONE assignment pass materializes the K-row census; the corpus
    // total is an aggregate OF the census (Σ n_vecs ≡ n), not a second
    // corpus count() job (mixKl discipline, swept here r13)
    val census = assignTo(cents)(base)
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("id_sum"))
      .transform(graft.Ckpt.pin("Similarity.ivfListBalance.census"))
    val n = census.agg(coalesce(sum("n_vecs"), lit(0L))).first().getLong(0)
    census
      .withColumn("share_ppm", expr(s"n_vecs * 1000000 div ${n}L"))
      .withColumn("load_pct", expr(s"n_vecs * ${IvfK}L * 100 div ${n}L"))
      .orderBy("list_id")
  }

  /** The storage-layout form of IVF ANN — the promise in [[ivfTopK]]'s
    * scaladoc made real: the assigned corpus is WRITTEN OUT partitioned
    * by list_id (fingerprint-keyed like [[bucketedLayoutPath]]), and a
    * query batch's probe list prunes inverted-list directories at the
    * scan, so each batch reads ~nprobe/K of the corpus from disk. This
    * is the serving shape at 100 TB: quantizer training and list
    * assignment are paid once at write time; results are identical to
    * [[ivfTopK]] (spec-asserted) and share its retrain oracle.
    */
  private[graft] def ivfLayoutPath(spark: SparkSession, sfDir: String): String =
    graft.Staged.path(spark, ivfLayer(sfDir), Seq(s"$sfDir/embeddings.parquet"))

  private def ivfLayer(sfDir: String): String = s"ann/ivf_mf_${new java.io.File(sfDir).getName}"

  def ivfBucketedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    val out = graft.Staged.dir(spark, ivfLayer(sfDir),
        Seq(s"$sfDir/embeddings.parquet")) { out =>
      // LAKE-SHAPED fixture: hash-spread each inverted list across
      // LayoutFiles writer tasks so every list_id directory holds
      // MULTIPLE parquet files — at 100 TB a list is written by many
      // executors over many ingest batches, never one file, and the
      // pruning evidence (PipelineOpsSpec's numFiles metric vs on-disk
      // file count) must hold under that layout, not a 1-file-per-dir
      // toy
      assignTo(cents)(base)
        .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
        .repartition(LayoutFiles, col("vec_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(out)
    }
    ivfRerank(spark.read.parquet(out), probeFrame(base, cents, IvfNProbe))
  }

  /** Incremental IVF index maintenance — the ANN analog of the dedup
    * base-postings index ([[Dedup]]'s `ensureBaseIndex` discipline):
    * the quantizer is trained ONCE on the base corpus and FROZEN; each
    * ingest batch (here the 20 % `vec_id % 5 = 4` slice, the same
    * batch convention as `x_dedup_incremental`) is assigned with the
    * frozen centroids and appended as its own list_id-partitioned
    * layer — the base layer is never rewritten, never re-read at
    * ingest, and never retrained per batch. Queries probe the UNION of
    * layers; both layers prune inverted-list directories at the scan.
    *
    * Retraining cadence at 100 TB is an offline decision (drift
    * monitoring, e.g. `x_dq_drift`), not an ingest-path step: a per
    * batch retrain would reassign the whole corpus — O(corpus) work
    * per ingest — and invalidate every written layer. The frozen-model
    * + layered-layout shape keeps ingest O(batch).
    *
    * Oracle: DuckDB retrains the quantizer on the BASE subset only
    * (bit-identical integer-mean Lloyd steps), assigns the full
    * corpus, probes, re-ranks — so the gate certifies both the frozen
    * -model discipline and the union read.
    */
  private[graft] def ivfIncrPath(spark: SparkSession, sfDir: String): String =
    graft.Staged.path(spark, s"ann/ivf_incr_${new java.io.File(sfDir).getName}",
      Seq(s"$sfDir/embeddings.parquet"))

  /** The 20 % ingest-batch convention shared with `x_dedup_incremental`. */
  private def incrIsNew: Column = pmod(col("vec_id"), lit(5)) === 4

  /** Stages the frozen quantizer + the base index layer (once per
    * corpus fingerprint) and returns (index root, centroids). Shared
    * by the batch ingest ([[ivfIncrementalTopK]]) and the streaming
    * ingest ([[streamIndexIngest]]).
    */
  private def ensureIncrBase(spark: SparkSession, sfDir: String): (String, Seq[Array[Double]]) = {
    val emb = s"$sfDir/embeddings.parquet"
    val fp = graft.sources.LayoutCache.fingerprint(spark.sparkContext.hadoopConfiguration, emb)
    val cents = quantizerCache.computeIfAbsent(s"$sfDir|$fp|incr-base",
      _ => trainQuantizer(corpus(spark, sfDir).filter(!incrIsNew)))
    val out = ivfIncrPath(spark, sfDir)
    graft.Staged.at(spark, s"$out/base", Seq(emb)) { dir =>
      assignTo(cents)(corpus(spark, sfDir).filter(!incrIsNew))
        .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
        .repartition(LayoutFiles, col("vec_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    }
    (out, cents)
  }

  def ivfIncrementalTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpus(spark, sfDir)
    val (out, cents) = ensureIncrBase(spark, sfDir)
    // the ingest step: ONLY the new batch is scanned and assigned
    graft.Staged.at(spark, s"$out/delta", Seq(s"$sfDir/embeddings.parquet")) { dir =>
      assignTo(cents)(base.filter(incrIsNew))
        .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
        .repartition(LayoutFiles, col("vec_id"))
        .write.mode("overwrite").partitionBy("list_id").parquet(dir)
    }
    val index = spark.read.parquet(s"$out/base")
      .unionByName(spark.read.parquet(s"$out/delta"))
    ivfRerank(index, probeFrame(base, cents, IvfNProbe))
  }

  /** STREAMING index ingest — the online form of
    * [[ivfIncrementalTopK]]: the ingest batch arrives as a FILE STREAM
    * (each committed file a micro-batch, the lakehouse change-feed
    * shape of `x_stream_cdc`), and `foreachBatch` assigns each
    * micro-batch with the SAME frozen base-trained quantizer, then
    * lands it in the streamed layer under its own `batch=<id>`
    * directory (overwrite-per-batch ⇒ idempotent under foreachBatch's
    * at-least-once crash-retry; list_id remains a partition level
    * beneath, so inverted-list pruning is unchanged). Serving probes
    * base ∪ streamed layer.
    *
    * The query result must be IDENTICAL to the batch ingest — same
    * frozen model, same rows, different arrival path — so it reuses
    * `x_sim_index_incremental`'s retrain oracle verbatim (the
    * stream==batch pattern of `x_stream_cdc`).
    *
    * Scale: per micro-batch work is assignment of that batch (K fused
    * dot products per row) + an append of batch-sized files; no base
    * re-read, no state store (assignment is stateless), checkpointed
    * file-source progress makes the ingest resumable.
    */
  def streamIndexIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val (out, cents) = ensureIncrBase(spark, sfDir)
    // the arrival directory: the ingest batch lands as MANY committed
    // files (a file stream source reads directories, and one file per
    // micro-batch is the change-feed arrival pattern being modeled)
    val feedDir = graft.Staged.at(spark, s"$out/feed", Seq(s"$sfDir/embeddings.parquet")) {
      corpus(spark, sfDir).filter(incrIsNew)
        .repartition(LayoutFiles, col("vec_id"))
        .write.mode("overwrite").parquet(_)
    }
    graft.Staged.at(spark, s"$out/stream_delta", Seq(feedDir)) { streamDelta =>
      // a fresh checkpoint: a kept one would replay nothing into the
      // rebuilt layer
      val ckpt = new Path(s"$out/stream_ckpt")
      ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ckpt, true)
      val feedSchema = spark.read.parquet(feedDir).schema
      val feed = spark.readStream.schema(feedSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feedDir)
      val q = feed.writeStream
        .option("checkpointLocation", ckpt.toString)
        // exactly-once per batch: foreachBatch is at-least-once on
        // crash-retry, so each batch OVERWRITES its own batch=<id>
        // directory instead of appending to a shared one — a replayed
        // batch lands idempotently (the x_stream_upsert discipline).
        // list_id stays a partition level underneath, so inverted-list
        // pruning works unchanged through the two-level layout.
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          assignTo(cents)(batch.toDF())
            .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
            .write.mode("overwrite").partitionBy("list_id")
            .parquet(s"$streamDelta/batch=$batchId")
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    val index = spark.read.parquet(s"$out/base")
      .unionByName(spark.read.parquet(s"$out/stream_delta")
        .select("list_id", "vec_id", "v", "nrm"))
    ivfRerank(index, probeFrame(corpus(spark, sfDir), cents, IvfNProbe))
  }

  /** Triangle count + global clustering coefficient over the kNN
    * graph — the graph-structure diagnostic after [[knnGraph]] (edges)
    * and [[embPagerank]] (centrality): a high clustering coefficient
    * says the embedding neighborhoods are locally consistent (tight
    * label clusters); near-zero says the kNN edges are LSH noise.
    *
    * Algorithm: degree-ordered triangle counting (the MapReduce form
    * of compact-forward; Suri & Vassilvitskii, "Counting Triangles and
    * the Curse of the Last Reducer", WWW 2011). Every undirected edge
    * is oriented from its lower-(degree, id) endpoint to the higher,
    * wedges are generated only at each triangle's LOWEST-rank apex,
    * and a wedge closes iff its (ranked) third edge exists. The
    * orientation is the scale property: per-vertex out-degree is
    * bounded by O(√E) on any graph (arboricity), so the wedge join
    * never explodes on hubs — the "last reducer" a naive
    * neighbor-intersection hits. All joins are equi-joins on vertex
    * ids; wedge count Σ deg·(deg−1)/2 comes from the degree frame, no
    * wedge materialization beyond the oriented join.
    *
    * Integer parity: counts and the ppm coefficient are exact BIGINT
    * arithmetic; the DuckDB oracle re-derives the identical kNN edges
    * (deterministic hyperplane literals) and the identical orientation.
    */
  def knnTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    // und ×3 consumers (deg, the orientation join, the edge census)
    // and orient ×3 (both wedge sides + the closing probe) — each
    // un-checkpointed copy re-ran the scan→distinct→degree-join chain
    // per subtree; both frames are edge-sized (r13-opt, the
    // bandedCandidates checkpoint discipline)
    val und = knnEdgesOnDisk(spark, sfDir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .transform(graft.Ckpt.pin("Similarity.knnTriangles.und"))
    val deg = und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val orient = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("w"),
      when(aFirst, col("db")).otherwise(col("da")).as("dw"))
      .transform(graft.Ckpt.pin("Similarity.knnTriangles.orient"))
    // wedges at the apex: unordered out-neighbor pairs, ordered by rank
    val e1 = orient.select(col("u"), col("w").as("x"), col("dw").as("dx"))
    val e2 = orient.select(col("u"), col("w").as("y"), col("dw").as("dy"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u").as("apex"), col("x"), col("y"))
    // close: orient is unique per (u, w), so the inner join cannot fan out
    val closing = orient.select(col("u").as("x"), col("w").as("y"))
    val nTri = wedges.join(closing, Seq("x", "y")).agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(count(lit(1)).as("n_vertices"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    // three 1-row aggregates attach as scalar crossJoins (model-sized)
    degStats.crossJoin(nEdges).crossJoin(nTri)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("(3000000 * n_triangles) div n_wedges").as("global_cc_ppm"))
  }

  /** Recall@5 of the two approximate ANN paths (LSH, IVF) against the
    * exact brute-force top-5 — the accuracy/cost dial every ANN
    * deployment tunes (bands/bits for LSH, K/nprobe for IVF). Emitted
    * as a per-(method, query) DataFrame so the number is a GATED
    * artifact, not a spec-only assertion: the DuckDB oracle re-derives
    * both candidate sets from the raw table (deterministic hyperplane
    * literals; bit-identical integer-mean quantizer retrain) and must
    * reproduce the identical recall fractions.
    *
    * Scale: everything here is the same banded/inverted-list candidate
    * generation as the underlying queries — recall evaluation at 100 TB
    * runs the exact ranking only for a small sampled query set (here:
    * the 5 gated query vectors), which is exactly this shape.
    */
  def simRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exact top-5: re-rank the brute-force top-10 output (same
    // (sim desc, neighbor asc) order ⇒ identical prefix)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    val exact5 = bruteForceTopK(spark, sfDir)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val approx =
      lshTopK(spark, sfDir).select(col("query_id"), col("neighbor_id"))
        .withColumn("method", lit("lsh"))
        .unionByName(
          ivfTopK(spark, sfDir).select(col("query_id"), col("neighbor_id"))
            .withColumn("method", lit("ivf")))
    approx.join(broadcast(exact5), Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .groupBy("method", "query_id")
      .agg(sum("hit").as("n_hit"))
      .select(col("method"), col("query_id"), lit(5).cast("int").as("k"),
        col("n_hit"), round(col("n_hit") / lit(5.0), 4).as("recall"))
      .orderBy("method", "query_id")
  }

  /** Within-cluster cosine ⇒ semantic duplicate. Calibrated to the
    * synthetic corpus, whose embedding structure is label clusters
    * (top pairwise cosine ≈ 0.51, random pairs ≈ 0): 0.35 marks the
    * same-label tail. A production text corpus sets this near 0.95.
    */
  private val SemDedupTau = 0.35

  /** Semantic deduplication in the style of SemDeDup (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv 2023): k-means-cluster the embeddings with
    * the SAME deterministic quantizer as [[ivfTopK]], then within each
    * cluster mark the larger-id member of every pair with cosine ≥
    * [[SemDedupTau]] as a duplicate (keep-first rule — deterministic,
    * no transitive closure needed when duplicates sit far above the
    * random-pair cosine mass).
    *
    * Scale: the clustering IS the blocking structure — pairwise cosine
    * runs only within a cluster, so the quadratic is bounded by the
    * largest cluster, and K grows with the corpus (the paper uses ~10⁵
    * clusters for web scale) to hold cluster sizes constant. The join
    * is an equi-join on list_id (never a cross join); vectors ride it
    * once, already normed.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    val assigned = assignTo(cents)(base)
      .select(col("list_id"), col("vec_id"), col("v"), col("nrm"))
    val b = assigned.select(col("list_id"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("nrm").as("bn"))
    val removed = assigned.join(b, Seq("list_id"))
      .filter(col("vec_id") < col("b_id"))
      .filter(round(dot("v", "bv") / (col("nrm") * col("bn")), 4) >= SemDedupTau)
      .select(col("list_id"), col("b_id")).distinct()
    assigned.groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
      .join(removed.groupBy("list_id")
        .agg(count(lit(1)).as("n_removed"), sum("b_id").as("removed_id_sum")),
        Seq("list_id"), "left")
      .select(col("list_id").cast("bigint").as("list_id"), col("n_vecs"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("removed_id_sum"), lit(0L)).as("removed_id_sum"))
      .orderBy("list_id")
  }

  /** The storage-layout form of LSH ANN: the banded corpus is WRITTEN
    * OUT partitioned by (band, bval), and a query batch's bucket list
    * prunes partitions at the scan — Spark's dynamic partition pruning
    * turns the broadcast query side into a partition filter, so the
    * read touches only colliding bucket directories. This is the shape
    * that serves repeated query batches at 100 TB: bucket assignment is
    * paid once at write time, every query batch scans ~collisions/corpus
    * of the data. Results are identical to [[lshTopK]] (spec-asserted);
    * the written layout is reused across calls (deterministic planes).
    */
  /** The banded-corpus layout path, keyed on the SOURCE fingerprint
    * (length+mtime) so regenerated embeddings can never be served from
    * stale buckets ([[graft.sources.LayoutCache]]); exposed for the
    * staleness spec.
    */
  private[graft] def bucketedLayoutPath(spark: SparkSession, sfDir: String): String =
    graft.Staged.path(spark, bucketedLayer(sfDir), Seq(s"$sfDir/embeddings.parquet"))

  private def bucketedLayer(sfDir: String): String =
    s"ann/banded_mf_${new java.io.File(sfDir).getName}"

  /** Writer tasks per bucketed-layout write: each bucket directory ends
    * up with up to this many parquet files (hash-spread on vec_id), the
    * realistic many-files-per-partition lake layout — so the partition-
    * pruning evidence counts FILES skipped, not just directories.
    */
  private[graft] val LayoutFiles = 8

  def lshBucketedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val out = graft.Staged.dir(spark, bucketedLayer(sfDir),
        Seq(s"$sfDir/embeddings.parquet")) { out =>
      // many-files-per-bucket lake fixture — see ivfBucketedTopK's note
      bandedCorpus(spark, sfDir)
        .repartition(LayoutFiles, col("vec_id"))
        .write.mode("overwrite").partitionBy("band", "bval").parquet(out)
    }
    val corpusOnDisk = spark.read.parquet(out)
    val qb = bandedCorpus(spark, sfDir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("band").as("qband"), col("bval").as("qbval"))
    // The probe-bucket set is O(query batch × bands) — corpus-
    // independent (20 pairs here) — so it is computed driver-side and
    // pushed as a STATIC (band, bval) partition predicate. Serving
    // must not lean on DPP's cost heuristics, which (measured, see
    // PipelineOpsSpec) decline to prune this shape and would read
    // every bucket file; with the literal predicate the scan lists
    // only the probed directories. The vec_id inequality stays on the
    // join.
    val probePairs = bandedCorpus(spark, sfDir).filter(col("vec_id") < 5)
      .select("band", "bval").distinct().collect()
    val probePred = probePairs
      .map(r => col("band") === lit(r.get(0)) && col("bval") === lit(r.get(1)))
      .reduce(_ || _)
    val candIds = corpusOnDisk.filter(probePred).join(broadcast(qb),
        col("band") === col("qband") && col("bval") === col("qbval") &&
          col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val base = corpus(spark, sfDir)
    val q = base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = candIds
      .join(base, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Per-label centroid statistics — the class-centroid computation a
    * labeling/clustering pipeline runs over embedding columns:
    * element-wise mean vector per label via posexplode → (label, dim)
    * partial averages (map-side combined; shuffle carries label×dim
    * rows, never vectors), summarized as the centroid's element sum and
    * L2 norm so the DuckDB oracle can verify the full vector content
    * at round-4 without comparing arrays element-wise.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.embeddings(spark, sfDir)
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
    u.groupBy("label", "pos")
      .agg(avg("x").as("mx"), count(lit(1)).as("cnt"))
      .groupBy("label")
      .agg(max("cnt").as("n_vecs"),
        round(sum("mx"), 4).as("sum_mean"),
        round(sqrt(sum(col("mx") * col("mx"))), 4).as("norm_mean"))
      .orderBy("label")
  }

  /** k-NN GRAPH construction (k=3) over the whole corpus — the
    * all-vectors generalization of [[lshTopK]] that embedding-cluster
    * and graph-based curation pipelines consume: every vector's top-3
    * approximate neighbors from its LSH band collisions, exact-cosine
    * ranked.
    *
    * Scale: candidate generation is the banded self-join (O(n·bands)
    * postings, hash-partitioned on (band, bval)) — never all pairs —
    * and the re-rank touches only collision rows. Deterministic
    * hyperplanes make the whole graph oracle-checkable like the other
    * LSH paths.
    */
  /** The rk≤3 LSH-candidate kNN edge set shared by [[knnGraph]] (which
    * publishes it) and [[embPagerank]] (which iterates over it):
    * (src, dst, sim, rk) with rk the per-src exact-cosine rank.
    */
  private def knnScored(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = bandedCorpus(spark, sfDir)
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
      .distinct()
    val e = corpus(spark, sfDir)
    val scored = pairs
      .join(e.select(col("vec_id").as("src"), col("v").as("vs"), col("nrm").as("ns")), "src")
      .join(e.select(col("vec_id").as("dst"), col("v").as("vd"), col("nrm").as("nd")), "dst")
      .withColumn("sim", round(dot("vs", "vd") / (col("ns") * col("nd")), 4))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("src", "dst", "sim", "rk")
  }

  def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    knnScored(spark, sfDir)
      .select(col("src").as("vec_id"), col("dst").as("neighbor_id"), col("sim"), col("rk"))
      .orderBy("vec_id", "rk")

  private val PrScale = 1000000000000L // PageRank mass in 1e-12 units
  private val PrIters = 3

  /** The kNN edge set materialized once to scratch parquet, keyed by
    * the source fingerprint ([[graft.sources.LayoutCache]] discipline —
    * same staleness story as [[bucketedLayoutPath]]). Iterating
    * directly over the lazy [[knnScored]] frame re-derives the LSH
    * self-join in EVERY iteration's lineage (3 iterations → a
    * 1000-node plan recomputing the banded join ~6×); reading the
    * edge list back gives each iteration a bounded plan over an
    * edge-sized scan — exactly how a production graph pipeline stages
    * its edge list before the iterate phase.
    */
  private def knnEdgesOnDisk(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(graft.Staged.dir(spark,
        s"ann/knn_edges_${new java.io.File(sfDir).getName}",
        Seq(s"$sfDir/embeddings.parquet")) {
      knnScored(spark, sfDir).select("src", "dst")
        .repartition(col("src"))
        .write.mode("overwrite").parquet(_)
    })

  /** The iteration core over arbitrary (vec_id) nodes and (src, dst)
    * edges — exposed so the property spec can drive it with random
    * graphs against a plain-Scala integer reference.
    */
  private[graft] def pagerankFrames(
      nodes: DataFrame, edges: DataFrame, n: Long): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
    var pr = nodes.withColumn("pr", lit(PrScale / n))
    for (_ <- 1 to PrIters) {
      val dang = pr.join(outdeg, pr("vec_id") === outdeg("src"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0L)).as("dang"))
      val contribs = pr.join(edges, pr("vec_id") === edges("src"))
        .join(outdeg, "src")
        .select(col("dst"), expr("pr div odeg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("s"))
      val next = nodes.join(contribs, nodes("vec_id") === contribs("dst"), "left")
        .crossJoin(broadcast(dang))
        .select(col("vec_id"),
          (lit(3 * PrScale / (20 * n)) +
            expr(s"(17 * (coalesce(s, 0L) + dang div ${n}L)) div 20")).as("pr"))
      // Every round checkpoints — including the last (r13-opt probed
      // skipping it: the caller's orderBy RANGE-SAMPLES its child, so
      // an un-checkpointed final round executes twice and measured
      // +25%; "consumed once" is false under any sort/range sink).
      // same-site pin: materializing round N+1 releases round N's
      // blocks (the fixpointLabels cache/unpersist discipline) — only
      // the final round is consumed after the loop
      pr = next.transform(graft.Ckpt.pin("Similarity.pagerankFrames.pr"))
    }
    pr.select(col("vec_id"), col("pr"))
  }

  /** PageRank over the kNN graph — the graph-centrality signal
    * curation pipelines use to find "hub" documents in an embedding
    * neighborhood graph (and the canonical iterative-computation shape:
    * join, re-aggregate, repeat). Damping 17/20, [[PrIters]] fixed
    * iterations, dangling mass redistributed uniformly.
    *
    * Determinism discipline: ranks live in BIGINT units of 1e-12
    * ([[PrScale]]) and every step is an integer floor-division —
    * contrib = pr div outdeg, new = (3·S) div (20·N) + (17·(Σcontrib +
    * dang div N)) div 20 — so per-iteration sums are order-independent
    * exact integers and the DuckDB oracle (the same three unrolled
    * iterations as CTEs) reproduces the ranks bit-for-bit; no float
    * ever enters, so there is no rounding boundary to drift across
    * engines or partitionings.
    *
    * Scale: each iteration is one equi-join of the rank frame against
    * the disk-backed edge list ([[knnEdgesOnDisk]] — the shuffle is
    * edge-sized, never vector-sized) plus a dst-keyed partial-agg sum;
    * the dangling total is a 1-row aggregate broadcast back. The rank
    * frame is localCheckpoint'ed each round: every iteration consumes
    * the previous ranks TWICE (dangling + contributions), so an
    * unbroken lineage doubles per round — exponential recompute by
    * iteration 10 — while the checkpoint pins only an n-row two-column
    * block and keeps cost linear in iterations. N and the
    * per-iteration scalars are the only driver-side values.
    */
  def embPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = knnEdgesOnDisk(spark, sfDir)
    val nodes = corpus(spark, sfDir).select("vec_id")
    val n = nodes.count() // scalar, model-sized: the graph's node count
    pagerankFrames(nodes, edges, n).orderBy("vec_id")
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (vec_id < 10) the top-2 most-similar vectors carrying a DIFFERENT
    * label — the "closest impostor" pairs a triplet-loss or contrastive
    * dataloader needs. Candidates come from the same LSH band
    * collisions as [[lshTopK]] (never all pairs); the label filter
    * applies after the equi-join, and exact cosine ranks what remains.
    *
    * Scale: identical shape to the ANN query path — anchors broadcast,
    * corpus side stays partitioned by (band, bval); labels ride along
    * as one extra int per posting, so the negative filter adds no join.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val banded = bandedCorpus(spark, sfDir).join(lab, "vec_id")
    val qb = banded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("band").as("qband"), col("bval").as("qbval"))
    val cand = banded.join(broadcast(qb),
        col("band") === col("qband") && col("bval") === col("qbval") &&
          col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select("query_id", "vec_id").distinct()
    val e = corpus(spark, sfDir)
    val scored = cand
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")), "query_id")
      .join(e, "vec_id")
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("query_id"), col("vec_id").as("negative_id"), col("sim"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** Gram matrix of the embedding corpus via [[graft.functions.GramMatrix]]
    * — one typed-Aggregator pass, map-side combined; the only shuffled
    * payload is one d×d buffer per partition. Emitted as the upper
    * triangle in (i, j, g) coordinate form (1-based to match the
    * oracle's list indexing), rounded so cross-engine summation order
    * cannot leak into the hash.
    */
  def embGram(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GramMatrix
    val g = udaf(GramMatrix)
    val d = GramMatrix.Dim
    corpus(spark, sfDir)
      .agg(g(col("v")).as("gram"))
      .select(posexplode(col("gram")).as(Seq("k", "gv")))
      .select(
        expr(s"cast(k div $d + 1 as int)").as("i"),
        expr(s"cast(k % $d + 1 as int)").as("j"),
        round(col("gv"), 4).as("g"))
      .filter(col("i") <= col("j"))
      .orderBy("i", "j")
  }

  /** Top principal component by integer power iteration over the Gram
    * matrix — the classic embedding-collapse diagnostic: the top
    * eigenvalue's share of the trace says how much of the corpus
    * variance lives in ONE direction (≈1e6 ppm ⇒ the embeddings have
    * collapsed; ≈1/d ⇒ isotropic), and the per-label projection onto
    * that direction shows whether the dominant axis is a label axis.
    *
    * Two-phase split, the [[embGram]]/[[trainQuantizer]] discipline:
    * the DISTRIBUTED pass is one Gram aggregation (a d×d buffer,
    * map-side combined — the only shuffle payload) + one narrow
    * projection pass; the DRIVER works only on the d×d MODEL (3 power
    * iterations + a Rayleigh quotient — O(d²) on 64×64, the same class
    * as k-means centroid updates). Corpus rows never leave executors.
    *
    * Determinism: the Gram model is quantized to integer 1e-4 units at
    * extraction; iterations are integer matvecs with a sign-split
    * truncating rescale (never a bare integer division of a negative —
    * Spark `div` truncates where DuckDB `//` floors); the Rayleigh
    * quotient is exact BigInt (its numerator exceeds int64; DuckDB's
    * HUGEINT sums match). From the quantized model on, both engines
    * run the identical integer recurrence, so the eigen direction —
    * sign included — cannot drift.
    *
    * [[PcIters]] = 24 because this near-isotropic corpus has a tiny
    * spectral gap (λ2/λ1 ≈ 0.93 at sf0.001): the Rayleigh quotient
    * converges like (λ2/λ1)^2k, and 24 rounds land within ~2 % of the
    * converged eigenvalue (spec-asserted at 5 %). The oracle's
    * iteration CTEs are MATERIALIZED — DuckDB re-inlines scalar
    * subqueries in non-materialized chains EXPONENTIALLY (the BPE
    * oracle lesson).
    */
  private val PcIters = 24

  def topPrincipalComponent(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.GramMatrix
    val d = GramMatrix.Dim
    val q = 1000000L
    val gramAgg = udaf(GramMatrix)
    val gramRows = corpus(spark, sfDir)
      .agg(gramAgg(col("v")).as("gram"))
      .select(posexplode(col("gram")).as(Seq("k", "gv")))
      .select(col("k"), expr("cast(round(gv * 10000) as bigint)").as("gq"))
      .collect()
    val gM = Array.ofDim[Long](d, d)
    gramRows.foreach(r => gM(r.getInt(0) / d)(r.getInt(0) % d) = r.getLong(1))
    def matvec(w: Array[Long]): Array[Long] =
      Array.tabulate(d)(i => (0 until d).map(j => gM(i)(j) * w(j)).sum)
    var w = Array.fill(d)(q)
    for (_ <- 1 to PcIters) {
      val y = matvec(w)
      val scale = math.max(1L, y.map(math.abs).max / q)
      w = y.map(v => if (v < 0) -((-v) / scale) else v / scale)
    }
    val y4 = matvec(w)
    val num = (0 until d).map(i => BigInt(w(i)) * y4(i)).sum // exceeds int64
    val den = (0 until d).map(i => BigInt(w(i)) * w(i)).sum
    val lambdaQ = (num / den).toLong // PSD ⇒ num ≥ 0: floor == truncate
    val traceQ = (0 until d).map(i => gM(i)(i)).sum
    val varShare = 1000000L * lambdaQ / traceQ
    val wLit = array(w.map(v => lit(v.toDouble)): _*)
    Tables.fanOut(spark, Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .select(col("label"), round(
        graft.functions.VectorExpressions.dot_product(col("v"), wLit), 0)
        .cast("long").as("pq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum("pq").as("proj_sum_q"),
        min("pq").as("proj_min_q"), max("pq").as("proj_max_q"))
      .withColumn("top_eig_q", lit(lambdaQ))
      .withColumn("var_share_ppm", lit(varShare))
      .orderBy("label")
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss
    * shape): each vector projected onto the first 8 seeded hyperplanes
    * — REAL coordinates this time, not the sign bits the LSH path
    * keeps. A pure narrow projection (8 fused dot products per row, no
    * shuffle, no state); the plane literals bake into the plan exactly
    * like [[bandedOf]], and the fused index-order summation keeps the
    * coordinates bit-identical to the DuckDB twin, so rounding is
    * deterministic.
    */
  def randomProjection(spark: SparkSession, sfDir: String): DataFrame = {
    val pl = planes
    var c = corpus(spark, sfDir)
    for (p <- 0 until ProjDims) {
      c = c.withColumn(s"pl$p", array(pl(p).map(lit): _*))
        .withColumn(s"r$p", round(dot("v", s"pl$p"), 6))
        .drop(s"pl$p")
    }
    c.select(col("vec_id") +: (0 until ProjDims).map(p => col(s"r$p")): _*)
      .orderBy("vec_id")
  }

  private val ProjDims = 8

  /** Per-dimension feature statistics — the standardization model
    * (mean/std/min/max per coordinate) a whitening or normalization
    * step extracts before training. One posexplode + a 64-group
    * aggregate: the shuffle carries per-(partition, dim) partials, so
    * the wire cost is partitions × d regardless of corpus size — the
    * same model-extraction posture as [[embGram]].
    */
  def dimStats(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.fanOut(spark, Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy((col("pos") + 1).as("dim"))
      .agg(
        count(lit(1)).as("n"),
        // + 0.0 collapses IEEE negative zero (round can yield -0.0,
        // which DuckDB renders "-0" and Spark "0")
        (round(avg("x"), 4) + lit(0.0)).as("mean"),
        (round(stddev_samp(col("x")), 4) + lit(0.0)).as("std"),
        (round(min("x"), 4) + lit(0.0)).as("min_x"),
        (round(max("x"), 4) + lit(0.0)).as("max_x"))
      .orderBy("dim")
  }

  // ---------------------------------------------------------------- //
  // Product quantization (PQ codebooks + ADC scoring)
  // ---------------------------------------------------------------- //

  private val PqM = 8       // subspaces
  private val PqSubDim = 8  // dims per subspace (8 × 8 = 64)
  private val PqK = 16      // codes per subspace → 4 bits/code
  private val PqIters = 2

  /** Single-pass PQ encode (r13-opt): ONE projection computes every
    * subspace's argmin code — plus its distance and subvector, for the
    * training/distortion consumers — and ONE posexplode unrolls the
    * [[PqM]] entries into (s, code, mind, sv) rows.
    *
    * This replaces the previous shape of [[PqM]] union branches, each
    * of which re-scanned the input and re-ran the subspace explode
    * before filtering to its own `s` (guide §2.4 "remove shuffles/
    * passes outright" applied to scans: 8 parquet scans + 8 Generates
    * and a ~0.5 MB formatted plan PER CONSUMER collapse to 1 scan +
    * 1 Generate; the codebook literals appear once instead of once
    * per branch, so Catalyst analysis/optimization cost drops ~8×).
    * Floats and tie-breaks are untouched — `slice` over the same
    * 1-based bounds, the same c² − 2·sv·c struct argmin with the code
    * index tie-break — so codes, distances and subvectors are
    * bit-identical to the union form and every PQ oracle stays green.
    *
    * Carries every column of `frame` except `v` alongside. `fields`
    * picks which of code/mind/sv each consumer pays for — the serving
    * paths need only `code`, the distortion census only `mind`+`sv`,
    * training `code`+`sv` — so no consumer evaluates the 16-centroid
    * argmin (or materializes subvectors) it will immediately project
    * away.
    */
  private[graft] def encodedSubspaces(
      books: Map[Int, Seq[Array[Double]]],
      fields: Seq[String] = Seq("code"))(frame: DataFrame): DataFrame = {
    val entries = (0 until PqM).map { s =>
      val sv = expr(s"slice(v, ${s * PqSubDim} + 1, $PqSubDim)")
      lazy val m = {
        val scored = books(s).zipWithIndex.map { case (c, j) =>
          val c2 = c.map(x => x * x).sum
          struct(
            (lit(c2) - lit(2.0) * graft.functions.VectorExpressions
              .dot_product(sv, centroidCol(c))).as("d"),
            lit(j).as("j"))
        }
        array_min(array(scored: _*))
      }
      struct(fields.map {
        case "code" => m.getField("j").as("code")
        case "mind" => m.getField("d").as("mind")
        case "sv"   => sv.as("sv")
      }: _*)
    }
    val others = frame.columns.filterNot(_ == "v").map(col).toSeq
    frame
      .select(others :+ posexplode(array(entries: _*)).as(Seq("s", "x")): _*)
      .select(others ++ (col("s") +: fields.map(f => col(s"x.$f").as(f))): _*)
  }

  /** Per-subspace Lloyd training with the [[IvfQ]] exact-integer mean
    * discipline; seeds are the subvectors of the same md5-ordered
    * [[PqK]] corpus vectors in every subspace, so the whole codebook
    * set is a deterministic function of the input file (memoized like
    * the IVF quantizer). One aggregated pass per iteration computes
    * the means for ALL (subspace, code) cells together.
    */
  private[graft] def trainPq(base: DataFrame): Map[Int, Seq[Array[Double]]] = {
    val cached = base.cache()
    try {
      val seedVecs = cached
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(PqK).select("v").collect().map(_.getSeq[Double](0).toArray)
      var books: Map[Int, Seq[Array[Double]]] = (0 until PqM).map { s =>
        s -> seedVecs.map(v => v.slice(s * PqSubDim, (s + 1) * PqSubDim)).toSeq
      }.toMap
      for (_ <- 1 to PqIters) {
        val rows = encodedSubspaces(books, Seq("code", "sv"))(cached)
          .select(col("s"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
          .select(col("s"), col("code"), col("pos"),
            expr(s"cast(round(x * $IvfQ) as bigint)").as("xi"))
          .groupBy("s", "code", "pos")
          .agg(sum("xi").as("sm"), count(lit(1)).as("cnt"))
          .collect()
        val means = rows.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (k, rs) =>
          k -> rs.sortBy(_.getInt(2))
            .map(r => r.getLong(3).toDouble / (r.getLong(4) * IvfQ).toDouble).toArray
        }
        books = books.map { case (s, cs) =>
          s -> cs.indices.map(j => means.getOrElse((s, j), cs(j)))
        }
      }
      books
    } finally cached.unpersist()
  }

  /** PQ quantization-distortion census — the OTHER index-health gate
    * next to [[ivfListBalance]]: reconstruction error ‖sv − c(sv)‖² per
    * subspace is THE PQ quality number (it bounds the ADC score error),
    * and a subspace whose distortion is an outlier is the one that
    * needs more bits or an OPQ rotation. Per subvector the error is
    * `sv·sv + min_j(c_j·c_j − 2·sv·c_j)` — the argmin the encoder
    * already computes plus one self-dot — quantized ONCE to micro
    * units (clamped at 0: float association can graze −ε on an exact
    * zero). Shares [[trainedBooks]] and the retrain oracle with the
    * ADC query path, so the census audits exactly the shipped codes.
    *
    * Scale: ONE fused projection (the single-pass [[encodedSubspaces]]
    * encode + a self-dot per subspace entry) + an M-group aggregate —
    * publish-time cost, no shuffle beyond the 8-row rollup.
    */
  def pqDistortion(spark: SparkSession, sfDir: String): DataFrame = {
    val base = corpus(spark, sfDir).select("vec_id", "v")
    val books = trainedBooks(spark, sfDir, base)
    // r14-opt: the fused encode emits ||sv − c(sv)||² = sv·sv + mind
    // per subspace directly (same index-order self-dot as the old
    // dot_product(sv, sv), same single IEEE add) — no wide literal
    // projection, no per-row subvector materialization
    base
      .select(col("vec_id"), graft.functions.VectorExpressions.ivf_pq_encode(
        col("v"), Nil, (0 until PqM).map(books), PqSubDim,
        residual = false, withDist = true).as("e"))
      .select(posexplode(col("e.dists")).as(Seq("s", "d")))
      .withColumn("dist_micro", expr(
        "greatest(cast(round(d * 1000000) as bigint), cast(0 as bigint))"))
      .groupBy("s")
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(dist_micro) div count(1)").as("mean_dist_micro"),
        max("dist_micro").as("max_dist_micro"))
      .orderBy("s")
  }

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Seq[Array[Double]]]]()

  private[graft] def trainedBooks(spark: SparkSession, sfDir: String,
      base: DataFrame): Map[Int, Seq[Array[Double]]] = {
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/embeddings.parquet")
    pqCache.computeIfAbsent(s"$sfDir|$fp", _ => trainPq(base))
  }

  /** Index-order sequential dot — the driver-side twin of
    * [[graft.functions.VectorExpressions.DotProduct]]'s loop (and of
    * DuckDB's list_dot_product), so LUT entries computed here agree
    * bit-for-bit with both engines' in-query folds.
    */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length && i < b.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** PQ-ANN with ASYMMETRIC DISTANCE COMPUTATION — the memory-bound
    * serving shape of a billion-vector store: the corpus is stored as
    * [[PqM]] 4-bit codes per vector (here 8 codes = 4 bytes vs 512
    * bytes of raw doubles, a 128× cut), and a query never touches raw
    * corpus vectors — it precomputes a LOOKUP TABLE of
    * query-subvector × codebook-centroid partial dots (5 queries ×
    * 8 subspaces × 16 codes = 640 entries, model-sized), broadcasts
    * it, and scores every corpus vector by summing 8 table lookups.
    *
    * Scale shape: the LUT join is a broadcast equi-join on
    * (subspace, code) — the 100 TB corpus side streams its code rows
    * through the scan stage, shuffles only (query, vec) partial rows
    * into the final sum, and raw vectors appear nowhere after encode
    * time. Real ANN engines fuse the 8 lookups into SIMD registers;
    * the relational form keeps the same asymptotics.
    *
    * Determinism: LUT partial dots are quantized to integer micros at
    * the per-entry grain (driver-side index-order fold ≡ the engines'
    * folds), so ADC scores are exact integer sums — order-independent
    * — and the top-5 carries a full DuckDB oracle that RETRAINS the
    * codebooks from the raw table ([[pqOracle]], same discipline as
    * the IVF retrain oracle).
    *
    * Recall honesty: the gate corpus is near-uniform random, PQ's
    * worst case (pairwise inner products concentrate, so 4-bit codes
    * separate little) — recall@5 vs the exact inner-product ranking
    * is low HERE by data, not by construction; real embedding
    * manifolds cluster, which is what codebooks exploit. The dials
    * are bits/subspace and an OPQ-style rotation; the relational
    * machinery (train, encode, LUT, ADC) is metric-exact either way,
    * which is what the retrain oracle proves.
    */
  def pqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = corpus(spark, sfDir).select("vec_id", "v")
    val books = trainedBooks(spark, sfDir, base)
    // r14-opt: one fused codegen'd expression computes all PqM codes
    // (guide §1.2 step 2 / §2.4) — the codebooks ride as reference
    // objects instead of M×PqK×subDim literal nodes, same codes
    val encoded = base
      .select(col("vec_id"), graft.functions.VectorExpressions.ivf_pq_encode(
        col("v"), Nil, (0 until PqM).map(books), PqSubDim, residual = false).as("e"))
      .select(col("vec_id"), posexplode(col("e.codes")).as(Seq("s", "code")))
    // model-sized query extraction: the 5 gated query vectors
    val qVecs = base.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => r.getAs[Number]("vec_id").longValue() -> r.getSeq[Double](1).toArray)
    import spark.implicits._
    val lut = qVecs.toSeq.flatMap { case (qid, qv) =>
      (0 until PqM).flatMap { s =>
        val qs = qv.slice(s * PqSubDim, (s + 1) * PqSubDim)
        books(s).zipWithIndex.map { case (c, j) =>
          (qid, s, j, math.round(dotSeq(qs, c) * 1e6))
        }
      }
    }.toDF("query_id", "s", "code", "pd")
    val scored = encoded.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd").as("adc_micro"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_micro").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"))
      .orderBy("query_id", "neighbor_id")
  }

  /** IVF-PQ — the canonical billion-scale ANN architecture (FAISS's
    * default): the IVF coarse quantizer PRUNES (a query reads only its
    * nprobe inverted lists, ~nprobe/K of the corpus) and PQ codes
    * SCORE the surviving candidates via the broadcast ADC lookup
    * table — so a query touches neither the full corpus nor any raw
    * vector. Composition of the two trained models already in the
    * registry (same memoized quantizer + codebooks, same oracles'
    * retrain discipline); the refinement real deployments add — PQ
    * over RESIDUALS (v − coarse centroid) for tighter codes — is
    * [[ivfPqResidualTopK]].
    *
    * Plan: candidates = encoded code rows ⋈ broadcast probe pairs on
    * list_id (the prune), then ⋈ broadcast LUT on (query, s, code),
    * summed per (query, vec) in exact integer micros — top-5 among
    * the pruned candidates only, which is the accuracy/cost contract
    * of IVF-PQ.
    */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    val books = trainedBooks(spark, sfDir, base.select("vec_id", "v"))
    // r14-opt: coarse argmin + all PqM codes in ONE fused expression
    // (see [[graft.functions.VectorExpressions.IvfPqEncode]]) — the
    // assignTo and encode projections collapse, and centroids/codebooks
    // become reference objects instead of ~2k literal nodes
    val encoded = base
      .select(col("vec_id"), graft.functions.VectorExpressions.ivf_pq_encode(
        col("v"), cents, (0 until PqM).map(books), PqSubDim, residual = false).as("e"))
      .select(col("vec_id"), col("e.list_id").as("list_id"),
        posexplode(col("e.codes")).as(Seq("s", "code")))
    val probes = probeFrame(base, cents, IvfNProbe)
      .select("query_id", "list_id").distinct()
    val qVecs = base.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => r.getAs[Number]("vec_id").longValue() -> r.getSeq[Double](1).toArray)
    import spark.implicits._
    val lut = qVecs.toSeq.flatMap { case (qid, qv) =>
      (0 until PqM).flatMap { s =>
        val qs = qv.slice(s * PqSubDim, (s + 1) * PqSubDim)
        books(s).zipWithIndex.map { case (c, j) =>
          (qid, s, j, math.round(dotSeq(qs, c) * 1e6))
        }
      }
    }.toDF("query_id", "s", "code", "pd")
    val scored = encoded.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd").as("adc_micro"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_micro").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Residual PQ codebooks: trained over (v − coarse centroid) rather
    * than raw vectors — memoized beside the raw-vector books under a
    * `:resid`-suffixed key (the residual frame is a deterministic
    * function of the same input file: same fingerprint staleness).
    */
  private[graft] def trainedResidBooks(spark: SparkSession, sfDir: String,
      residBase: => DataFrame): Map[Int, Seq[Array[Double]]] = {
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/embeddings.parquet")
    // by-name residBase (r14): on the memoized warm path the residual
    // frame is never even constructed — its plan carries the K×d
    // centroid literal table, which costs analyzer time per invocation
    pqCache.computeIfAbsent(s"$sfDir|$fp:resid", _ => trainPq(residBase))
  }

  /** RESIDUAL IVF-PQ — the actual billion-scale FAISS-style
    * architecture ([[ivfPqTopK]]'s refinement): PQ codebooks are
    * trained over RESIDUALS `r = v − c(list)` instead of raw vectors.
    * Residuals concentrate around the origin once the coarse quantizer
    * has soaked up the between-list variance, so the same 4-bit budget
    * spends its codes on much smaller displacements — tighter
    * reconstructions, better recall at identical storage.
    *
    * Inner-product decomposition keeps the serving LUT model-sized:
    * `q·v = q·c(list) + q·r`, so a query needs only the SAME 640-entry
    * `q_s · rbook_s[j]` table as plain PQ plus a 5×[[IvfK]] per-list
    * offset table `round(q·c·1e6)` — both broadcast; the per-list term
    * never multiplies the LUT (an L2 metric would need nprobe×
    * per-list tables, the classical IVF-PQ memory trade).
    *
    * Determinism: the residual subtraction is exact IEEE arithmetic on
    * centroids both engines derive from exact integer sums, and every
    * score is `off_micro + Σ pd_micro` — integer adds in any order —
    * so the DuckDB oracle retrains coarse quantizer AND residual
    * codebooks from the raw table and hash-matches the top-5.
    *
    * Scale shape: identical to [[ivfPqTopK]] — probe-prune on list_id,
    * broadcast LUT/offsets, raw vectors appear nowhere after encode;
    * the only addition is one broadcast 80-row offset join.
    */
  def ivfPqResidualTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    // training input (cold path only — by-name, memoized): the residual
    // frame built the classic way, so the trained codebooks are a pure
    // function of the same lineage as before
    def resid = {
      val centTable = array(cents.map(centroidCol): _*)
      assignTo(cents)(base)
        .withColumn("rv", graft.functions.VectorExpressions.vec_sub(
          col("v"), element_at(centTable, col("list_id") + 1)))
        .select(col("vec_id"), col("rv").as("v"))
    }
    val rbooks = trainedResidBooks(spark, sfDir, resid)
    // r14-opt: coarse argmin + residual subtraction + all PqM subspace
    // codes in ONE fused codegen'd expression — the three stacked
    // projections (assignTo, vec_sub over an element_at(centTable)
    // re-literalization, encodedSubspaces) collapse into a single
    // narrow one with the models as reference objects; bit-identical
    // float sequence (see [[graft.functions.VectorExpressions.ivfPqEncode]])
    val encoded = base
      .select(col("vec_id"), graft.functions.VectorExpressions.ivf_pq_encode(
        col("v"), cents, (0 until PqM).map(rbooks), PqSubDim, residual = true).as("e"))
      .select(col("vec_id"), col("e.list_id").as("list_id"),
        posexplode(col("e.codes")).as(Seq("s", "code")))
    val probes = probeFrame(base, cents, IvfNProbe)
      .select("query_id", "list_id").distinct()
    val qVecs = base.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => r.getAs[Number]("vec_id").longValue() -> r.getSeq[Double](1).toArray)
    import spark.implicits._
    val lut = qVecs.toSeq.flatMap { case (qid, qv) =>
      (0 until PqM).flatMap { s =>
        val qs = qv.slice(s * PqSubDim, (s + 1) * PqSubDim)
        rbooks(s).zipWithIndex.map { case (c, j) =>
          (qid, s, j, math.round(dotSeq(qs, c) * 1e6))
        }
      }
    }.toDF("query_id", "s", "code", "pd")
    val offsets = qVecs.toSeq.flatMap { case (qid, qv) =>
      cents.zipWithIndex.map { case (c, j) =>
        (qid, j, math.round(dotSeq(qv, c) * 1e6))
      }
    }.toDF("query_id", "list_id", "off")
    val scored = encoded.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .groupBy("query_id", "vec_id", "list_id")
      .agg(sum("pd").as("r_micro"))
      .join(broadcast(offsets), Seq("query_id", "list_id"))
      .withColumn("adc_micro", col("off") + col("r_micro"))
    val w = Window.partitionBy("query_id").orderBy(col("adc_micro").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"))
      .orderBy("query_id", "neighbor_id")
  }

  private val ClusterQuota = 8

  /** Cluster-balanced (diversity) sampling: exactly [[ClusterQuota]]
    * documents per k-means cluster of the embedding space, chosen in
    * md5(vec_id) order — the prototypical-diversity draw curation
    * pipelines use so a dominant mode can't crowd the sample (uniform
    * hash sampling keeps the corpus's mode imbalance; cluster quotas
    * flatten it). The cluster assignment is the SAME memoized
    * deterministic quantizer as [[ivfTopK]]/[[semanticDedup]], so the
    * strata are learned structure, not metadata — the embedding-space
    * sibling of `x_sample_priority`'s per-stratum draw.
    *
    * Scale: assignment is the codegen'd argmin projection; the
    * per-cluster top-K is the rank-limited window shape
    * (WindowGroupLimit pushes `rk ≤ K` when the picked set is
    * materialized alone — here the rollup also counts members, so the
    * window keeps the full frame of (id, cluster) SCALARS, never
    * vectors). md5 order makes the draw retry-stable and
    * engine-reproducible.
    */
  def clusterBalancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = corpus(spark, sfDir)
    val cents = trainedCentroids(spark, sfDir, base)
    val assigned = assignTo(cents)(base).select("vec_id", "list_id")
    val w = Window.partitionBy("list_id")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assigned.withColumn("rk", row_number().over(w))
      .withColumn("picked", col("rk") <= ClusterQuota)
      .groupBy("list_id")
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("picked"), 1L).otherwise(0L)).as("n_picked"),
        sum(when(col("picked"), col("vec_id"))).as("picked_id_sum"))
      .orderBy("list_id")
  }

  private val OutlierBucketWidth = 100000L // micro-unit d² buckets for the rank cut

  /** Embedding-space outlier mining: flag the vectors whose squared
    * distance to their NEAREST trained centroid sits above the exact
    * corpus p95 — the quantizer-residual signal that surfaces OOD /
    * mislabeled / garbage embeddings before they poison contrastive
    * training or ANN serving, reported per label so suspect classes
    * stand out.
    *
    * Reuses two existing models end-to-end: the memoized IVF quantizer
    * ([[trainedCentroids]] — centroids ride the plan as literals, the
    * DuckDB oracle retrains them bit-identically via ivfTrainCtes) and
    * [[Ranks.valueAtRank]] for the cut (value at rank ceil(0.95·n) of
    * the integer micro-quantized d², ties kept below — the
    * [[TextOps.perplexityFilter]] threshold discipline; the oracle
    * runs the global-window formulation).
    *
    * Parity: d² = v·v + (c·c − 2·v·c) with the parenthesization
    * matching the fused-expression evaluation order; min over
    * centroids commutes with the common v·v addition (float addition
    * is monotone), and the single round(·10⁶) lands after the min on
    * both sides.
    *
    * Scale: one narrow projection computes K fused dot products per
    * row (no joins — centroids are K×d literals), the cut comes from
    * the bucketed rank kernel, and the census is a label-keyed
    * aggregate. The score frame is localCheckpoint'ed for its three
    * consumers (count, kernel, census).
    */
  def embOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.fanOut(spark, Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cents = trainedCentroids(spark, sfDir, corpus(spark, sfDir))
    val perCent = cents.zipWithIndex.map { case (cent, j) =>
      val c2 = cent.map(x => x * x).sum
      (lit(c2) - lit(2.0) * graft.functions.VectorExpressions
        .dot_product(col("v"), centroidCol(cent))).as(s"d$j")
    }
    val scored = base
      .withColumn("best_d", array_min(array(perCent: _*)))
      .select(col("vec_id"), col("label"),
        round((graft.functions.VectorExpressions.dot_product(col("v"), col("v"))
          + col("best_d")) * 1000000).cast("bigint").as("score_m"))
      .transform(graft.Ckpt.pin("Similarity.embOutliers.scored"))
    val cutRank = scored.agg(count(lit(1)).as("n"))
      .select(expr("(19 * n + 19) div 20").as("cut_rk"))
    val thr = Ranks.valueAtRank(scored, "score_m", cutRank, OutlierBucketWidth)
    scored.crossJoin(broadcast(thr))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("score_m") > col("thr"), 1L).otherwise(0L)).as("n_outliers"),
        coalesce(sum(when(col("score_m") > col("thr"), col("vec_id"))), lit(0L))
          .as("outlier_id_sum"))
      .orderBy("label")
  }

  /** Sign bit per dimension packed into one BIGINT — 64 codegen'd CASE
    * terms (distinct powers of two, so the sum IS the bit pattern; the
    * bit-63 term is Long.MinValue, which adds without overflow because
    * no two terms share a bit). The same literal values interpolate
    * into the DuckDB oracle.
    */
  private def binCode(v: Column): Column =
    (0 until Dim).map { i =>
      when(element_at(v, i + 1) > lit(0.0), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Binary (1-bit) quantization recall — the 32× compression serving
    * path modern vector stores ship (sign-binarize to a 64-bit code,
    * retrieve by Hamming distance, optionally re-rank survivors in
    * full precision): top-10 by `bit_count(code_q XOR code_c)` scored
    * as recall@5 against the exact cosine top-5, per query. On this
    * corpus the measurement quantifies how much of the label-cluster
    * structure one bit per dimension preserves — the go/no-go number
    * before swapping a 256-byte vector for an 8-byte code at the
    * retrieval tier.
    *
    * Hamming ties are dense (64 possible distances), so ranking is
    * (ham asc, vec_id asc) — a total order, identical cross-engine.
    *
    * Scale: codes are a stateless narrow projection (64 fused CASE
    * terms, whole-stage codegen); the scored frame is checkpointed
    * once for its two rankings. The retrieval here is the brute-force
    * baseline shape; the scale path is multi-index Hamming (Norouzi &
    * Fleet: split the code into 4×16-bit words, pigeonhole equi-join
    * on exact word matches — the [[lshBucketedTopK]] layout with
    * code words as bands).
    */
  def binaryHammingRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coded = corpus(spark, sfDir).withColumn("code", binCode(col("v")))
    val q = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("code").as("qcode"))
    val scored = coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot("qv", "v") / (col("qn") * col("nrm")), 4).as("sim"),
        expr("cast(bit_count(code ^ qcode) as int)").as("ham"))
      .transform(graft.Ckpt.pin("Similarity.binaryHammingRecall.scored"))
    val we = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    val exact5 = scored.withColumn("rk", row_number().over(we)).filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    val wh = Window.partitionBy("query_id").orderBy(col("ham").asc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(wh)).filter(col("rk") <= 10)
      .join(exact5, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        min("ham").as("ham_min"),
        max("ham").as("ham_max"))
      .select(col("query_id"), lit(5).cast("int").as("k"), col("n_hit"),
        round(col("n_hit") / lit(5.0), 4).as("recall"),
        col("ham_min"), col("ham_max"))
      .orderBy("query_id")
  }

  private val MihWords = 8 // 8 pigeonhole words × 8 bits each

  /** One 8-bit sign word of the binary code, built directly from the
    * vector (8 codegen'd CASE terms) — deriving words from v rather
    * than shifting the packed BIGINT keeps both engines in unsigned
    * territory (DuckDB has no unsigned right shift).
    */
  private def mihWord(v: Column, w: Int): Column =
    (0 until 8).map { i =>
      when(element_at(v, w * 8 + i + 1) > lit(0.0), lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Multi-index Hamming retrieval (Norouzi, Punjani & Fleet, "Fast
    * Search in Hamming Space with Multi-Index Hashing", CVPR 2012) —
    * the EXECUTED scale path [[binaryHammingRecall]]'s scaladoc
    * promises: split each 64-bit sign code into [[MihWords]] 8-bit
    * words; by pigeonhole, any code within Hamming distance r of the
    * query shares at least one EXACT word once r < words, so candidate
    * generation is a (word-index, word-value) equi-join — the
    * bucketed-LSH shape, partition-prunable when the corpus is laid
    * out by word buckets — and only candidates pay the full-code
    * bit_count re-rank. Reported per query: candidate count (the
    * selectivity the join buys) and recall@10 of candidate-restricted
    * Hamming top-10 vs the exact brute-force Hamming top-10.
    *
    * The pigeonhole guarantee only covers radius < words (Hamming 7
    * here); this corpus's true neighbors sit at Hamming ≈ 16-20 of 64
    * (non-binarization-trained embeddings), so candidates are the
    * ones whose agreement happens to CONCENTRATE in a word — measured
    * at sf0.001: ~2-4% of the corpus as candidates recovering 10-40%
    * of the exact top-10. That partial recall at high selectivity IS
    * the trade-off this query measures (production binary indexes
    * probe neighboring buckets within each word to buy the rest;
    * 16-bit words would pigeonhole almost nothing here).
    *
    * Scale: candidates via equi-join on (w, wv), distinct'd; the
    * re-rank window runs over candidate sets only (banding-bounded,
    * the [[lshTopK]] discipline); the exact baseline runs inside a
    * localCheckpoint exactly like [[binaryHammingRecall]].
    */
  def multiIndexHamming(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coded = corpus(spark, sfDir).withColumn("code", binCode(col("v")))
      .select(col("vec_id"), col("v"), col("code"))
    val words = coded.select(col("vec_id"),
      explode(array((0 until MihWords).map { w =>
        struct(lit(w).as("w"), mihWord(col("v"), w).as("wv"))
      }: _*)).as("p"))
      .select(col("vec_id"), col("p.w").as("w"), col("p.wv").as("wv"))
    val qWords = words.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("w"), col("wv"))
    val cands = words.join(qWords, Seq("w", "wv"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val qCodes = coded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"))
    val scoredCand = cands
      .join(coded.select(col("vec_id"), col("code")), "vec_id")
      .join(broadcast(qCodes), "query_id")
      .withColumn("ham", expr("cast(bit_count(code ^ qcode) as int)"))
    val wc = Window.partitionBy("query_id").orderBy(col("ham").asc, col("vec_id").asc)
    val top10c = scoredCand.withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= 10).select(col("query_id"), col("vec_id"))
    // exact Hamming top-10 baseline (checkpointed brute force)
    val scoredAll = coded.join(broadcast(qCodes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        expr("cast(bit_count(code ^ qcode) as int)").as("ham"))
      .transform(graft.Ckpt.pin("Similarity.mih.scoredAll"))
    val exact10 = scoredAll.withColumn("rk", row_number().over(wc))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    val nCand = cands.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
    top10c.join(broadcast(exact10), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit10"))
      .join(nCand, "query_id")
      .select(col("query_id"), col("n_cand"), col("n_hit10"),
        round(col("n_hit10") / lit(10.0), 4).as("recall10"))
      .orderBy("query_id")
  }

  private val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** Matryoshka truncation diagnostic (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): top-5 cosine retrieval using only the
    * FIRST m dimensions of each vector, for m in [[MatryoshkaDims]],
    * scored as recall against the full-dimension exact top-5. This is
    * the measurement that decides how far an embedding column can be
    * truncated for cheap first-stage retrieval (m=16 at 4× less I/O and
    * FLOPs) before a full-dim re-rank — the two-stage serving shape —
    * and on NON-MRL-trained embeddings (this corpus) it quantifies the
    * recall cliff that makes naive truncation unsafe.
    *
    * Parity: one `round(sim, 4)` with (sim desc, vec_id asc) tiebreak,
    * the [[bruteForceTopK]] discipline; prefix slices are index-order
    * fused loops on both engines. m=64 is the identity anchor — its
    * recall must be exactly 1.0 (spec-asserted).
    *
    * Scale: the deliberate brute-force baseline shape (5 broadcast
    * query vectors × one corpus scan — allowlisted like
    * [[bruteForceTopK]]); the 4× dims explode multiplies only the
    * in-stage pipeline, never a shuffle (the window input is 20
    * query-sized groups). The production path composes truncation with
    * the bucketed probes: slice first, then the same LSH/IVF layout
    * over m-dim vectors.
    */
  def matryoshkaRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val VE = graft.functions.VectorExpressions
    val c = corpus(spark, sfDir)
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val perDim = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("m", explode(array(MatryoshkaDims.map(lit(_)): _*)))
      .withColumn("qs", slice(col("qv"), lit(1), col("m")))
      .withColumn("vs", slice(col("v"), lit(1), col("m")))
      .withColumn("sim", round(
        VE.dot_product(col("qs"), col("vs"))
          / (VE.l2_norm(col("qs")) * VE.l2_norm(col("vs"))), 4))
    val w = Window.partitionBy("m", "query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val top5 = perDim.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("m"), col("query_id"), col("vec_id").as("neighbor_id"))
      .transform(graft.Ckpt.pin("Similarity.matryoshka.top5"))
    val exact5 = top5.filter(col("m") === Dim)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    top5.join(broadcast(exact5), Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .groupBy("m", "query_id")
      .agg(sum("hit").as("n_hit"))
      .select(col("m").as("dims"), col("query_id"),
        lit(5).cast("int").as("k"), col("n_hit"),
        round(col("n_hit") / lit(5.0), 4).as("recall"))
      .orderBy("dims", "query_id")
  }

  /** Cluster-assignment MARGIN census — per vector, the gap between
    * its nearest and second-nearest trained centroid (in d², micro
    * units): the pseudo-labeling confidence signal. Low-margin vectors
    * sit on cluster boundaries, where quantizer assignments flip under
    * retraining and cluster-blocked operators (semantic dedup, IVF
    * probes, cluster-balanced sampling) are least reliable — this
    * census says, per true label, how much of the class is ambiguous
    * (margin below the corpus mean — self-calibrating, the
    * [[TextOps.charEntropy]] integer cross-multiplication, no magic
    * threshold).
    *
    * The common v·v term cancels in the difference, so per-centroid
    * scores are e_j = c_j·c_j − 2·v·c_j only; the margin sorts the
    * K-element score array and subtracts the two smallest VALUES —
    * ties between equal doubles cannot perturb it, so no index
    * tiebreak is needed and both engines agree bit-exactly after the
    * one round(·10⁶).
    *
    * Scale: one narrow projection (K fused dot products + a K-element
    * in-row sort, centroids as literals), checkpointed once for the
    * mean attach and the census — nothing corpus-sized shuffles.
    */
  def assignmentMargin(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.fanOut(spark, Tables.embeddings(spark, sfDir), col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cents = trainedCentroids(spark, sfDir, corpus(spark, sfDir))
    val ejs = cents.map { cent =>
      val c2 = cent.map(x => x * x).sum
      lit(c2) - lit(2.0) * graft.functions.VectorExpressions
        .dot_product(col("v"), centroidCol(cent))
    }
    val scored = base
      .withColumn("es", array_sort(array(ejs: _*)))
      .select(col("vec_id"), col("label"),
        round((element_at(col("es"), 2) - element_at(col("es"), 1)) * 1000000)
          .cast("bigint").as("margin_m"))
      .transform(graft.Ckpt.pin("Similarity.assignmentMargin.scored"))
    val global = scored.agg(
      count(lit(1)).as("n_all"), sum("margin_m").as("sum_all"))
    scored.crossJoin(broadcast(global))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum("margin_m").as("sum_margin_m"),
        min("margin_m").as("min_margin_m"),
        max("margin_m").as("max_margin_m"),
        sum(when(col("margin_m") * col("n_all") < col("sum_all"), 1L).otherwise(0L))
          .as("n_ambiguous"))
      .orderBy("label")
  }

  private val LpaIters = 4

  /** Synchronous label propagation (Raghavan et al. 2007) over the
    * UNDIRECTED kNN graph — community detection at the granularity
    * between pairwise near-dup and whole-corpus clustering: the
    * communities a curation run samples across (quota per community)
    * or collapses (one exemplar per community). Every node starts as
    * its own label; each round every node adopts the most frequent
    * label among its neighbors, ties to the smallest label, nodes
    * without neighbors keeping their own. [[LpaIters]] fixed
    * synchronous rounds (the bounded-iteration discipline of
    * [[embPagerank]] — deterministic by construction, no oscillation
    * dependence).
    *
    * Determinism discipline: the adopt rule is (count desc, label asc)
    * over exact integer counts — no scores, no floats — so the DuckDB
    * oracle (the same rounds unrolled as MATERIALIZED CTEs) replays
    * the identical label trajectory.
    *
    * Scale: one equi-join of the node-sized label frame against the
    * disk-staged edge list per round ([[knnEdgesOnDisk]] — shuffles
    * are edge-sized), a (v, label)-keyed count, a per-v argmax struct
    * aggregate. Labels localCheckpoint each round (consumed twice:
    * adopt + carry-forward) and the adjacency once — the
    * [[pagerankFrames]] lineage discipline.
    */
  def labelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    val und = knnEdgesOnDisk(spark, sfDir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("v"), col("b").as("nb"))
      .union(und.select(col("b").as("v"), col("a").as("nb")))
      .transform(graft.Ckpt.pin("Similarity.labelPropagation.adj"))
    var lbl = corpus(spark, sfDir).select(col("vec_id"))
      .withColumn("lbl", col("vec_id"))
      .transform(graft.Ckpt.pin("Similarity.labelPropagation.lbl"))
    for (_ <- 1 to LpaIters) {
      val counts = adj
        .join(lbl.select(col("vec_id").as("nb"), col("lbl")), "nb")
        .groupBy("v", "lbl").agg(count(lit(1)).as("cnt"))
      val pick = counts.groupBy("v")
        .agg(max(struct(col("cnt").as("c"), (-col("lbl")).as("neg"),
          col("lbl").as("l"))).as("m"))
        .select(col("v").as("vec_id"), col("m.l").as("new_lbl"))
      // every round checkpoints — the final rollup ends in an orderBy
      // whose range sampling re-executes an un-checkpointed last round
      // (the pagerankFrames r13-opt lesson)
      // same-site pin: materializing round N+1 releases round N (the
      // pagerankFrames discipline) — only the final round outlives
      // the loop
      lbl = lbl.join(pick, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .transform(graft.Ckpt.pin("Similarity.labelPropagation.lbl"))
    }
    lbl.groupBy(col("lbl").as("community"))
      .agg(
        count(lit(1)).as("n_members"),
        sum("vec_id").as("member_id_sum"),
        min("vec_id").as("min_member"))
      .orderBy("community")
  }

  // k = out-degree + 1: every vertex of the kNN-3 graph has undirected
  // degree ≥ 3 by construction, so k ≤ 3 never peels anything; k = 4
  // peels exactly the vertices that earn no EXTRA in-edges — the real
  // density question on this graph. (On the test corpora the 4-core is
  // EMPTY — itself the honest finding: a kNN-3 graph has no dense
  // backbone unless near-dup cliques push degrees past k; the census's
  // value is the peeling PROFILE, how fast density collapses.)
  private val KCoreK = 4
  private val KCoreRounds = 6

  /** k-core decomposition by synchronous peeling (Seidman 1983;
    * Batagelj–Zaveršnik's iterative form) over the UNDIRECTED kNN
    * graph: each round removes every vertex whose degree AMONG
    * SURVIVORS is < k, until fixpoint — what remains is the k-core,
    * the graph's densely-embedded backbone. Next to
    * [[labelPropagation]]'s communities this is the density censor: a
    * near-dup cluster survives peeling, a chain of incidental
    * neighbors does not — the census a curation run reads to size
    * "how much of my similarity graph is structurally dense" before
    * trusting cluster-level dedup.
    *
    * Determinism: peeling is a monotone set operation (the survivor
    * set after each round is a pure function of the edge set — no
    * tie-breaks, no ordering sensitivity), so a FIXED [[KCoreRounds]]
    * rounds produce identical censuses on any engine or partitioning;
    * rounds after the fixpoint emit n_removed = 0 rows (the committed
    * convergence witness — the spec asserts the last round is one).
    *
    * Scale: the edge list stages once to scratch parquet
    * ([[knnEdgesOnDisk]], the LPA discipline) so each round's plan is
    * a bounded edge-sized scan, not a re-derived LSH self-join; each
    * round is two fixed-width semi-joins (edges × survivor set) + one
    * degree aggregate, all equi-joins on vec_id; the survivor frame
    * localCheckpoints per round (constant plan depth). The census is
    * a UNION of per-round 1-row aggregates — a distributed plan end
    * to end, never a driver-assembled frame.
    */
  def kCore(spark: SparkSession, sfDir: String): DataFrame = {
    val und = knnEdgesOnDisk(spark, sfDir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val adj = und.select(col("a").as("v"), col("b").as("nb"))
      .union(und.select(col("b").as("v"), col("a").as("nb")))
      .transform(graft.Ckpt.pin("Similarity.kCore.adj"))
    var active = corpus(spark, sfDir).select(col("vec_id").as("v"))
      .transform(graft.Ckpt.pin("Similarity.kCore.active0"))
    var census: DataFrame = null
    for (r <- 1 to KCoreRounds) {
      val deg = adj
        .join(active, "v")
        .join(active.select(col("v").as("nb")), "nb")
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // every round checkpoints — the census ends in an orderBy whose
      // range sampling re-executes an un-checkpointed last round (the
      // pagerankFrames r13-opt lesson: measured +20% when skipped)
      // ROUND-DISTINCT pin sites: the census union's FINAL plan reads
      // every round's survivor frame, so no round may be released
      // while the query is still assembling — each round instead
      // releases its own predecessor from the PREVIOUS invocation
      val next = deg.filter(col("deg") >= KCoreK).select("v")
        .transform(graft.Ckpt.pin(s"Similarity.kCore.next.r$r"))
      val row = active.agg(count(lit(1)).as("n_before"))
        .crossJoin(next.agg(count(lit(1)).as("n_after"),
          coalesce(sum("v"), lit(0L)).as("survivor_id_sum")))
        .select(lit(r.toLong).as("round"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_removed"),
          col("n_after"), col("survivor_id_sum"))
      census = if (census == null) row else census.unionByName(row)
      active = next
    }
    census.orderBy("round")
  }

  private val MmrPool = 20 // candidate pool per query (the re-rank input)
  private val MmrK = 8     // selections per query; λ = 0.7 as 7/3 tenths

  /** MMR diversity re-rank (Carbonell & Goldstein 1998): greedily pick
    * [[MmrK]] of each query's [[MmrPool]] nearest candidates maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)` — relevance traded
    * against redundancy with what is already selected. This is the
    * de-duplicating re-rank step between ANN retrieval and downstream
    * use (RAG contexts, hard-negative pools, diverse exemplar sets);
    * without it the top-k of a near-dup-heavy corpus is one document
    * repeated k times.
    *
    * Parity discipline: similarities are quantized to integer
    * ten-thousandths once (`round(·10⁴)`), and the MMR objective is
    * the exact integer `7·sim_m − 3·pen_m` (λ=0.7 in tenths); every
    * argmax is (score desc, cand_id asc) over integers, so both
    * engines replay the identical greedy trajectory (the DuckDB oracle
    * unrolls all [[MmrK]] steps as materialized CTEs).
    *
    * Scale: one brute-force-baseline corpus pass builds the pool (the
    * allowlisted 5-broadcast-query shape; the bucketed probes compose
    * here unchanged), after which the ENTIRE greedy trajectory runs
    * inside ONE `groupBy(query_id)` aggregation:
    * [[graft.functions.MmrGreedyAgg]] folds each query's ≤[[MmrPool]]
    * (id, sim, vector, norm) rows and replays the exact integer greedy
    * (identical sim_m/psim_m quantization, identical
    * (score desc, id asc) argmax) per group. The former shape — K−1
    * sequential join+argmax stages, each localCheckpointed to keep the
    * plan flat — was K global BARRIERS over the whole query set; this
    * is one shuffle that co-locates each query's pool, embarrassingly
    * parallel at 10⁶ queries, with O(pool·dims) state per partial.
    * No collect anywhere.
    */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus(spark, sfDir)
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(dot("qv", "v") / (col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    val pool = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrPool)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("sim"),
        col("v"), col("nrm"))
    pool.groupBy("query_id")
      .agg(graft.functions.MmrGreedy.greedy(
        col("cand_id"), col("sim"), col("v"), col("nrm"), MmrK).as("sel"))
      .select(col("query_id"), explode(col("sel")).as("s"))
      .select(col("query_id"), col("s.step").as("step"),
        col("s.neighbor_id").as("neighbor_id"), col("s.sim").as("sim"),
        col("s.score_m").as("score_m"))
      .orderBy("query_id", "step")
  }

  val registry: Map[String, Q] = Map(
    "x_mmr_rerank" -> mmrRerank _,
    "x_emb_dim_stats" -> dimStats _,
    "x_emb_ivfpq_residual" -> ivfPqResidualTopK _,
    "x_sample_cluster_balanced" -> clusterBalancedSample _,
    "x_emb_pq" -> pqTopK _,
    "x_emb_ivfpq" -> ivfPqTopK _,
    "x_emb_project" -> randomProjection _,
    "x_emb_gram" -> embGram _,
    "x_emb_top_pc" -> topPrincipalComponent _,
    "x_emb_knn_graph" -> knnGraph _,
    "x_graph_triangles" -> knnTriangles _,
    "x_graph_lpa" -> labelPropagation _,
    "x_graph_kcore" -> kCore _,
    "x_emb_outliers" -> embOutliers _,
    "x_emb_margin" -> assignmentMargin _,
    "x_emb_pagerank" -> embPagerank _,
    "x_sim_hard_negatives" -> hardNegatives _,
    "x_emb_centroids" -> labelCentroids _,
    "x_sim_topk_bruteforce" -> bruteForceTopK _,
    "x_sim_topk_agg" -> aggTopK _,
    "x_sim_topk_agg_xover" -> aggTopKCrossover _,
    "x_sim_topk_prefiltered" -> prefilteredTopK _,
    "x_sim_topk_lsh" -> lshTopK _,
    "x_sim_topk_lsh_bucketed" -> lshBucketedTopK _,
    "x_sim_topk_ivf" -> ivfTopK _,
    "x_emb_ivf_balance" -> ivfListBalance _,
    "x_emb_pq_distortion" -> pqDistortion _,
    "x_sim_topk_ivf_bucketed" -> ivfBucketedTopK _,
    "x_sim_index_incremental" -> ivfIncrementalTopK _,
    "x_stream_index_ingest" -> streamIndexIngest _,
    "x_sim_recall" -> simRecall _,
    "x_emb_ivf_recall_curve" -> ivfRecallCurve _,
    "x_emb_matryoshka" -> matryoshkaRecall _,
    "x_emb_binary_hamming" -> binaryHammingRecall _,
    "x_emb_mih" -> multiIndexHamming _,
    "x_dedup_semantic" -> semanticDedup _,
  )

  /** DuckDB CTEs recomputing [[bandedCorpus]] from the raw table: the
    * 12 hyperplane dot products (literals inlined from [[planes]], so
    * the engines cannot drift), sign bits packed MSB-first into 4 ×
    * 3-bit band values, exploded to (vec_id, band, bval). Scala's
    * Double.toString round-trips through DuckDB's literal parser, and
    * list_dot_product sums in index order like the fused
    * VectorExpressions loop, so the sign bits are bit-identical.
    */
  /** The band CTEs WITHOUT the shared `e` base-table CTE, so they can
    * compose with [[ivfTrainCtes]] (which also defines `e`, identically)
    * in a single statement — used by the recall oracle that needs both
    * LSH and IVF candidate generation.
    */
  private val bandCtes: String = {
    val bandVals = (0 until Bands).map { b =>
      (0 until BitsPerBand).map { i =>
        val p = planes(b * BitsPerBand + i).mkString("[", ", ", "]")
        val w = 1 << (BitsPerBand - 1 - i)
        s"(CASE WHEN list_dot_product(v, $p) > 0 THEN $w ELSE 0 END)"
      }.mkString("\n   + ")
    }.mkString(",\n  ")
    s"""bd AS (SELECT vec_id, [
       |  $bandVals] AS bands FROM e),
       |banded AS (SELECT vec_id, j AS band, bands[j+1] AS bval FROM bd, range(0, 4) r(j))""".stripMargin
  }

  private[operators] val lshOracleCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$bandCtes""".stripMargin

  /** The query-side top-5 ANN oracle shared by the in-memory and the
    * bucketed-layout LSH paths (their results are identical by
    * construction — the layout changes WHERE bucket rows are read, not
    * what they contain; the spec asserts the identity).
    */
  private val lshTopKOracle: String =
    s"""WITH $lshOracleCtes,
       |qb AS (SELECT vec_id AS query_id, band, bval FROM banded WHERE vec_id < 5),
       |cand AS (
       | SELECT DISTINCT q.query_id, c.vec_id
       | FROM banded c JOIN qb q ON c.band = q.band AND c.bval = q.bval
       |  AND c.vec_id <> q.query_id),
       |scored AS (
       | SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
       | FROM cand JOIN e eq ON eq.vec_id = cand.query_id
       |  JOIN e en ON en.vec_id = cand.vec_id)
       |SELECT query_id, neighbor_id, sim FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY sim DESC, neighbor_id ASC) AS rk FROM scored)
       |WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin

  /** DuckDB retraining of the full IVF pipeline: md5-ordered seeds →
    * [[IvfIters]] unrolled Lloyd steps (assignment by (distance,
    * list-id) row_number; means as exact integer sums over round(x·Q)
    * — identical to the Spark side by construction) → final assignment
    * → nprobe probes per query → exact-cosine re-rank. Every arithmetic
    * step is either integer (order-independent) or an index-order dot
    * product, so the two engines cannot drift.
    */
  /** DuckDB retraining of the [[trainQuantizer]] k-means (everything
    * through the final assignment `asgF`), shared by the IVF and
    * semantic-dedup oracles exactly as the Spark side shares the
    * trained quantizer.
    */
  private val ivfTrainCtes: String = {
    def assign(cents: String): String =
      s"""SELECT vec_id, list_id FROM (
         |  SELECT e.vec_id, c.j AS list_id,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(e.v, c.cvec), c.j) AS rn
         |  FROM e CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    val iterCtes = (1 to IvfIters).map { n =>
      s"""asg$n AS (${assign(s"cents${n - 1}")}),
         |m$n AS (
         | SELECT a.list_id, u.pos, sum(u.xi) AS s, count(*) AS cnt
         | FROM asg$n a JOIN uq u ON u.vec_id = a.vec_id GROUP BY 1, 2),
         |cl$n AS (SELECT list_id, list(s / (cnt * $IvfQ.0) ORDER BY pos) AS cvec
         | FROM m$n GROUP BY list_id),
         |cents$n AS (
         | SELECT c.j, coalesce(cl.cvec, c.cvec) AS cvec
         | FROM cents${n - 1} c LEFT JOIN cl$n cl ON cl.list_id = c.j)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cents0 AS (
       | SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j, v AS cvec
       | FROM e QUALIFY j < $IvfK),
       |u AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM e),
       |uq AS (SELECT vec_id, pos, round(x * $IvfQ)::BIGINT AS xi FROM u),
       |$iterCtes,
       |asgF AS (${assign(s"cents$IvfIters")})""".stripMargin
  }

  /** [[ivfTrainCtes]] with training restricted to the BASE subset
    * (`vec_id % 5 <> 4`) while final assignment covers the full
    * corpus — the frozen-quantizer incremental-index discipline of
    * [[ivfIncrementalTopK]], retrained bit-identically by DuckDB.
    */
  private val ivfIncrOracle: String = {
    def assign(cents: String, src: String): String =
      s"""SELECT vec_id, list_id FROM (
         |  SELECT $src.vec_id, c.j AS list_id,
         |   row_number() OVER (PARTITION BY $src.vec_id
         |     ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product($src.v, c.cvec), c.j) AS rn
         |  FROM $src CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    val iterCtes = (1 to IvfIters).map { n =>
      s"""asg$n AS (${assign(s"cents${n - 1}", "tr")}),
         |m$n AS (
         | SELECT a.list_id, u.pos, sum(u.xi) AS s, count(*) AS cnt
         | FROM asg$n a JOIN uq u ON u.vec_id = a.vec_id GROUP BY 1, 2),
         |cl$n AS (SELECT list_id, list(s / (cnt * $IvfQ.0) ORDER BY pos) AS cvec
         | FROM m$n GROUP BY list_id),
         |cents$n AS (
         | SELECT c.j, coalesce(cl.cvec, c.cvec) AS cvec
         | FROM cents${n - 1} c LEFT JOIN cl$n cl ON cl.list_id = c.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |tr AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 4),
       |cents0 AS (
       | SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j, v AS cvec
       | FROM tr QUALIFY j < $IvfK),
       |u AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS pos FROM tr),
       |uq AS (SELECT vec_id, pos, round(x * $IvfQ)::BIGINT AS xi FROM u),
       |$iterCtes,
       |asgF AS (${assign(s"cents$IvfIters", "e")}),
       |probes AS (
       | SELECT q.vec_id AS query_id, c.j AS list_id
       | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5
       | QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.v, c.cvec), c.j) <= $IvfNProbe),
       |candi AS (
       | SELECT p.query_id, a.vec_id
       | FROM probes p JOIN asgF a ON a.list_id = p.list_id
       | WHERE a.vec_id <> p.query_id),
       |scored AS (
       | SELECT c.query_id, c.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
       | FROM candi c JOIN e eq ON eq.vec_id = c.query_id JOIN e en ON en.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, sim FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY sim DESC, neighbor_id ASC) AS rk FROM scored)
       |WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin
  }

  private val ivfOracle: String =
    s"""WITH $ivfTrainCtes,
       |probes AS (
       | SELECT q.vec_id AS query_id, c.j AS list_id
       | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5
       | QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.v, c.cvec), c.j) <= $IvfNProbe),
       |candi AS (
       | SELECT p.query_id, a.vec_id
       | FROM probes p JOIN asgF a ON a.list_id = p.list_id
       | WHERE a.vec_id <> p.query_id),
       |scored AS (
       | SELECT c.query_id, c.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
       | FROM candi c JOIN e eq ON eq.vec_id = c.query_id JOIN e en ON en.vec_id = c.vec_id)
       |SELECT query_id, neighbor_id, sim FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY sim DESC, neighbor_id ASC) AS rk FROM scored)
       |WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin

  /** Deterministic ANN paths carry full hash-match oracles: the LSH
    * hyperplanes are plan literals ([[lshOracleCtes]]) and the IVF
    * quantizer retrains bit-identically cross-engine ([[ivfOracle]]).
    */
  /** DuckDB retraining of the full PQ pipeline: md5-ordered seed
    * subvectors → [[PqIters]] unrolled per-subspace Lloyd steps
    * (integer-quantized means, (distance, code) tiebreaks — identical
    * to [[trainPq]] by construction) → final encode → LUT of
    * micro-quantized partial dots → ADC top-5. Same cannot-drift
    * argument as [[ivfTrainCtes]], extended subspace-wise.
    */
  /** PQ retrain CTE prefix (raw scan → seeds → subvectors → unrolled
    * Lloyd steps → final assignment `asgF`), shared by the ADC and
    * distortion oracles exactly as the Spark side shares trainedBooks.
    */
  private val pqTrainCtes: String = {
    def assign(cents: String): String =
      s"""SELECT vec_id, s, list_id FROM (
         |  SELECT b.vec_id, b.s, c.j AS list_id,
         |   row_number() OVER (PARTITION BY b.vec_id, b.s
         |     ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(b.sv, c.cvec), c.j) AS rn
         |  FROM sub b JOIN $cents c ON c.s = b.s) WHERE rn = 1""".stripMargin
    val iters = (1 to PqIters).map { n =>
      s"""asg$n AS (${assign(s"cents${n - 1}")}),
         |m$n AS (
         | SELECT a.s, a.list_id, u.pos, sum(u.xi) AS sm, count(*) AS cnt
         | FROM asg$n a JOIN subq u ON u.vec_id = a.vec_id AND u.s = a.s GROUP BY 1, 2, 3),
         |cl$n AS (SELECT s, list_id, list(sm / (cnt * $IvfQ.0) ORDER BY pos) AS cvec
         | FROM m$n GROUP BY s, list_id),
         |cents$n AS (
         | SELECT c.s, c.j, coalesce(cl.cvec, c.cvec) AS cvec
         | FROM cents${n - 1} c LEFT JOIN cl$n cl ON cl.s = c.s AND cl.list_id = c.j)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       | SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j, v
       | FROM e QUALIFY j < $PqK),
       |sub AS (
       | SELECT vec_id, s, v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS sv
       | FROM e, range(0, $PqM) r(s)),
       |subq AS (
       | SELECT vec_id, s, pos, round(sv[pos] * $IvfQ)::BIGINT AS xi
       | FROM sub, range(1, ${PqSubDim + 1}) rp(pos)),
       |cents0 AS (
       | SELECT s, j, v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS cvec
       | FROM seeds, range(0, $PqM) r(s)),
       |$iters,
       |asgF AS (${assign(s"cents$PqIters")})""".stripMargin
  }

  private val pqOracle: String = {
    s"""WITH $pqTrainCtes,
       |lut AS (
       | SELECT q.vec_id AS query_id, c.s, c.j,
       |  round(list_dot_product(q.sv, c.cvec) * 1000000)::BIGINT AS pd
       | FROM sub q JOIN cents$PqIters c ON c.s = q.s WHERE q.vec_id < 5),
       |scored AS (
       | SELECT l.query_id, a.vec_id AS neighbor_id, sum(l.pd)::BIGINT AS adc_micro
       | FROM asgF a JOIN lut l ON l.s = a.s AND l.j = a.list_id
       | WHERE a.vec_id <> l.query_id GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_micro FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc_micro DESC, neighbor_id) AS rk FROM scored)
       |WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Combined IVF-PQ oracle: the IVF retrain CTEs (coarse centroids +
    * final list assignment) plus a p-prefixed copy of the PQ retrain
    * CTEs (the two pipelines share only the raw `e` scan), then probe
    * → prune → LUT → ADC exactly as the Spark side.
    */
  private val ivfPqOracle: String = {
    def passign(cents: String): String =
      s"""SELECT vec_id, s, list_id FROM (
         |  SELECT b.vec_id, b.s, c.j AS list_id,
         |   row_number() OVER (PARTITION BY b.vec_id, b.s
         |     ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(b.sv, c.cvec), c.j) AS rn
         |  FROM psub b JOIN $cents c ON c.s = b.s) WHERE rn = 1""".stripMargin
    val piters = (1 to PqIters).map { n =>
      s"""pasg$n AS (${passign(s"pcents${n - 1}")}),
         |pm$n AS (
         | SELECT a.s, a.list_id, u.pos, sum(u.xi) AS sm, count(*) AS cnt
         | FROM pasg$n a JOIN psubq u ON u.vec_id = a.vec_id AND u.s = a.s GROUP BY 1, 2, 3),
         |pcl$n AS (SELECT s, list_id, list(sm / (cnt * $IvfQ.0) ORDER BY pos) AS cvec
         | FROM pm$n GROUP BY s, list_id),
         |pcents$n AS (
         | SELECT c.s, c.j, coalesce(cl.cvec, c.cvec) AS cvec
         | FROM pcents${n - 1} c LEFT JOIN pcl$n cl ON cl.s = c.s AND cl.list_id = c.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ivfTrainCtes,
       |pseeds AS (
       | SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j, v
       | FROM e QUALIFY j < $PqK),
       |psub AS (
       | SELECT vec_id, s, v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS sv
       | FROM e, range(0, $PqM) r(s)),
       |psubq AS (
       | SELECT vec_id, s, pos, round(sv[pos] * $IvfQ)::BIGINT AS xi
       | FROM psub, range(1, ${PqSubDim + 1}) rp(pos)),
       |pcents0 AS (
       | SELECT s, j, v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS cvec
       | FROM pseeds, range(0, $PqM) r(s)),
       |$piters,
       |pasgF AS (${passign(s"pcents$PqIters")}),
       |probes AS (
       | SELECT q.vec_id AS query_id, c.j AS list_id
       | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5
       | QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.v, c.cvec), c.j) <= $IvfNProbe),
       |lut AS (
       | SELECT q.vec_id AS query_id, c.s, c.j,
       |  round(list_dot_product(q.sv, c.cvec) * 1000000)::BIGINT AS pd
       | FROM psub q JOIN pcents$PqIters c ON c.s = q.s WHERE q.vec_id < 5),
       |cand AS (
       | SELECT p.query_id, a.vec_id
       | FROM probes p JOIN asgF a ON a.list_id = p.list_id
       | WHERE a.vec_id <> p.query_id),
       |scored AS (
       | SELECT c.query_id, c.vec_id AS neighbor_id, sum(l.pd)::BIGINT AS adc_micro
       | FROM cand c JOIN pasgF pa ON pa.vec_id = c.vec_id
       |  JOIN lut l ON l.query_id = c.query_id AND l.s = pa.s AND l.j = pa.list_id
       | GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, adc_micro FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc_micro DESC, neighbor_id) AS rk FROM scored)
       |WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** Residual IVF-PQ oracle: the IVF retrain CTEs, then an r-prefixed
    * PQ retrain over the RESIDUAL frame `rv = v − cvec(list)` (exact
    * IEEE subtraction of centroids both engines derive from exact
    * integer sums), then probe → prune → raw-query LUT + per-list
    * `q·c` offsets → integer ADC — mirroring [[ivfPqResidualTopK]]
    * term for term.
    */
  private val ivfPqResidualOracle: String = {
    def rassign(cents: String): String =
      s"""SELECT vec_id, s, list_id FROM (
         |  SELECT b.vec_id, b.s, c.j AS list_id,
         |   row_number() OVER (PARTITION BY b.vec_id, b.s
         |     ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(b.sv, c.cvec), c.j) AS rn
         |  FROM rsub b JOIN $cents c ON c.s = b.s) WHERE rn = 1""".stripMargin
    val riters = (1 to PqIters).map { n =>
      s"""rasg$n AS (${rassign(s"rcents${n - 1}")}),
         |rm$n AS (
         | SELECT a.s, a.list_id, u.pos, sum(u.xi) AS sm, count(*) AS cnt
         | FROM rasg$n a JOIN rsubq u ON u.vec_id = a.vec_id AND u.s = a.s GROUP BY 1, 2, 3),
         |rcl$n AS (SELECT s, list_id, list(sm / (cnt * $IvfQ.0) ORDER BY pos) AS cvec
         | FROM rm$n GROUP BY s, list_id),
         |rcents$n AS (
         | SELECT c.s, c.j, coalesce(cl.cvec, c.cvec) AS cvec
         | FROM rcents${n - 1} c LEFT JOIN rcl$n cl ON cl.s = c.s AND cl.list_id = c.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ivfTrainCtes,
       |resid AS (
       | SELECT a.vec_id, a.list_id,
       |  list_transform(range(1, len(e.v) + 1), i -> e.v[i] - c.cvec[i]) AS rv
       | FROM asgF a JOIN e ON e.vec_id = a.vec_id
       |  JOIN cents$IvfIters c ON c.j = a.list_id),
       |rseeds AS (
       | SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS j, rv AS v
       | FROM resid QUALIFY j < $PqK),
       |rsub AS (
       | SELECT vec_id, s, rv[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS sv
       | FROM resid, range(0, $PqM) r(s)),
       |rsubq AS (
       | SELECT vec_id, s, pos, round(sv[pos] * $IvfQ)::BIGINT AS xi
       | FROM rsub, range(1, ${PqSubDim + 1}) rp(pos)),
       |rcents0 AS (
       | SELECT s, j, v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS cvec
       | FROM rseeds, range(0, $PqM) r(s)),
       |$riters,
       |rasgF AS (${rassign(s"rcents$PqIters")}),
       |probes AS (
       | SELECT q.vec_id AS query_id, c.j AS list_id
       | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5
       | QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |   ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.v, c.cvec), c.j) <= $IvfNProbe),
       |qsub AS (
       | SELECT vec_id, s, v[s * $PqSubDim + 1 : s * $PqSubDim + $PqSubDim] AS sv
       | FROM e, range(0, $PqM) r(s) WHERE vec_id < 5),
       |lut AS (
       | SELECT q.vec_id AS query_id, c.s, c.j,
       |  round(list_dot_product(q.sv, c.cvec) * 1000000)::BIGINT AS pd
       | FROM qsub q JOIN rcents$PqIters c ON c.s = q.s),
       |offs AS (
       | SELECT q.vec_id AS query_id, c.j AS list_id,
       |  round(list_dot_product(q.v, c.cvec) * 1000000)::BIGINT AS off
       | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5),
       |cand AS (
       | SELECT p.query_id, a.vec_id, a.list_id
       | FROM probes p JOIN asgF a ON a.list_id = p.list_id
       | WHERE a.vec_id <> p.query_id),
       |scored AS (
       | SELECT c.query_id, c.vec_id AS neighbor_id,
       |  (o.off + sum(l.pd))::BIGINT AS adc_micro
       | FROM cand c JOIN rasgF ra ON ra.vec_id = c.vec_id
       |  JOIN lut l ON l.query_id = c.query_id AND l.s = ra.s AND l.j = ra.list_id
       |  JOIN offs o ON o.query_id = c.query_id AND o.list_id = c.list_id
       | GROUP BY c.query_id, c.vec_id, o.off)
       |SELECT query_id, neighbor_id, adc_micro FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY adc_micro DESC, neighbor_id) AS rk FROM scored)
       |WHERE rk <= 5 ORDER BY query_id, neighbor_id""".stripMargin
  }

  /** The DuckDB replay of [[mmrRerank]]'s greedy trajectory: candidate
    * pool + pairwise integer sims once, then one MATERIALIZED
    * selection CTE per step (non-materialized chains re-inline the
    * anti-join subqueries exponentially — the BPE/top-PC lesson). Each
    * step's argmax is the identical integer (score desc, cand asc)
    * order.
    */
  private def mmrOracle: String = {
    val steps = (2 to MmrK).map { j =>
      val prev = s"sel${j - 1}"
      s"""pen$j AS (
         | SELECT c.query_id, c.cand_id, c.sim, c.sim_m, max(p.psim_m) AS pen_m
         | FROM cands c
         | JOIN pairs p ON p.query_id = c.query_id AND p.a_id = c.cand_id
         | JOIN $prev s ON s.query_id = p.query_id AND s.neighbor_id = p.b_id
         | WHERE NOT EXISTS (SELECT 1 FROM $prev s2
         |   WHERE s2.query_id = c.query_id AND s2.neighbor_id = c.cand_id)
         | GROUP BY c.query_id, c.cand_id, c.sim, c.sim_m),
         |sel$j AS MATERIALIZED (
         | SELECT * FROM sel${j - 1} UNION ALL
         | SELECT query_id, CAST($j AS BIGINT) AS step, cand_id AS neighbor_id,
         |  sim, (7 * sim_m - 3 * pen_m)::BIGINT AS score_m
         | FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY 7 * sim_m - 3 * pen_m DESC, cand_id ASC) AS rk FROM pen$j)
         | WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cands AS MATERIALIZED (
       | SELECT query_id, cand_id, sim, round(sim * 10000)::BIGINT AS sim_m
       | FROM (SELECT q.vec_id AS query_id, n.vec_id AS cand_id,
       |   round(list_cosine_similarity(q.v, n.v), 4) AS sim,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY round(list_cosine_similarity(q.v, n.v), 4) DESC, n.vec_id ASC) AS rk
       |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5)
       | WHERE rk <= $MmrPool),
       |pairs AS MATERIALIZED (
       | SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
       |  round(list_cosine_similarity(ea.v, eb.v) * 10000)::BIGINT AS psim_m
       | FROM cands a
       | JOIN cands b ON b.query_id = a.query_id AND b.cand_id <> a.cand_id
       | JOIN e ea ON ea.vec_id = a.cand_id
       | JOIN e eb ON eb.vec_id = b.cand_id),
       |sel1 AS MATERIALIZED (
       | SELECT query_id, CAST(1 AS BIGINT) AS step, cand_id AS neighbor_id,
       |  sim, (7 * sim_m)::BIGINT AS score_m
       | FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim_m DESC, cand_id ASC) AS rk FROM cands)
       | WHERE rk = 1),
       |$steps
       |SELECT query_id, step, neighbor_id, sim, score_m
       |FROM sel$MmrK ORDER BY query_id, step""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // round-11: the crossover probe's OUTPUT is its deterministic half
    // (both formulations' top-k equality + the fixed probe shape);
    // timings go to stderr + the bench record. results_equal is
    // COMPUTED in-query — pinning it TRUE is the accuracy contract,
    // exactly a7_approx_bounds' pinned-flag discipline.
    "x_sim_topk_agg_xover" ->
      """SELECT 4000000::BIGINT AS corpus_rows, 8::INT AS dim,
        | 5::INT AS n_queries, 50::BIGINT AS topk_rows,
        | TRUE AS results_equal""".stripMargin,
    // the WINDOW formulation of the same integer-quantized top-10 —
    // the aggregate-vs-window equivalence is exactly the claim
    "x_sim_topk_agg" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (
        | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(q.v, n.v) * 10000)::BIGINT AS sim_m
        | FROM e q JOIN e n ON n.vec_id <> q.vec_id
        | WHERE q.vec_id < 5)
        |SELECT query_id, neighbor_id, sim_m FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim_m DESC, neighbor_id ASC) AS rk FROM sc)
        |WHERE rk <= 10 ORDER BY query_id, neighbor_id""".stripMargin,
    // identical words from v signs, pigeonhole candidate join, exact
    // and candidate-restricted Hamming top-10 both re-derived
    "x_emb_mih" -> {
      val codeTerms = (0 until Dim).map { i =>
        s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      val wordArr = (0 until MihWords).map { w =>
        "(" + (0 until 8).map { i =>
          s"(CASE WHEN v[${w * 8 + i + 1}] > 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString(" + ") + ")"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |codes AS (SELECT vec_id, ($codeTerms)::BIGINT AS code FROM e),
         |wa AS (SELECT vec_id, [$wordArr] AS arr FROM e),
         |words AS (SELECT vec_id, w, arr[w + 1] AS wv FROM wa, range(0, $MihWords) r(w)),
         |qw AS (SELECT vec_id AS query_id, w, wv FROM words WHERE vec_id < 5),
         |cands AS (
         | SELECT DISTINCT q.query_id, c.vec_id
         | FROM words c JOIN qw q ON c.w = q.w AND c.wv = q.wv
         |  AND c.vec_id <> q.query_id),
         |xp AS (
         | SELECT q.vec_id AS query_id, n.vec_id,
         |  bit_count(xor(q.code, n.code))::INT AS ham
         | FROM codes q JOIN codes n ON n.vec_id <> q.vec_id WHERE q.vec_id < 5),
         |exact10 AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ham ASC, vec_id ASC) AS rk FROM xp) WHERE rk <= 10),
         |ch AS (
         | SELECT c.query_id, c.vec_id, x.ham FROM cands c
         | JOIN xp x ON x.query_id = c.query_id AND x.vec_id = c.vec_id),
         |top10c AS (
         | SELECT query_id, vec_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ham ASC, vec_id ASC) AS rk FROM ch) WHERE rk <= 10),
         |nc AS (SELECT query_id, count(*) AS n_cand FROM cands GROUP BY query_id)
         |SELECT t.query_id, nc.n_cand::BIGINT AS n_cand,
         | sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit10,
         | round(sum(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 4) AS recall10
         |FROM top10c t LEFT JOIN exact10 x
         | ON x.query_id = t.query_id AND x.vec_id = t.vec_id
         |JOIN nc ON nc.query_id = t.query_id
         |GROUP BY t.query_id, nc.n_cand ORDER BY t.query_id""".stripMargin
    },
    // identical sign packing (literal power-of-two terms, bit 63 =
    // Long.MinValue), Hamming rank, exact-cosine ground truth
    "x_emb_binary_hamming" -> {
      val codeTerms = (0 until Dim).map { i =>
        s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |codes AS (SELECT vec_id, v, ($codeTerms)::BIGINT AS code FROM e),
         |xp AS (
         | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.v, n.v), 4) AS sim,
         |  bit_count(xor(q.code, n.code))::INT AS ham
         | FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
         | WHERE q.vec_id < 5),
         |exact5 AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM xp)
         | WHERE rk <= 5),
         |h10 AS (
         | SELECT query_id, neighbor_id, ham FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY ham ASC, neighbor_id ASC) AS rk FROM xp)
         | WHERE rk <= 10)
         |SELECT h.query_id, 5::INTEGER AS k,
         | sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         | round(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4) AS recall,
         | min(h.ham)::INT AS ham_min, max(h.ham)::INT AS ham_max
         |FROM h10 h LEFT JOIN exact5 x
         | ON x.query_id = h.query_id AND x.neighbor_id = h.neighbor_id
         |GROUP BY h.query_id ORDER BY h.query_id""".stripMargin
    },
    // prefix-slice retrieval per m, identical round/tiebreak; the
    // m=64 block doubles as the exact ground truth (recall ≡ 1)
    "x_emb_matryoshka" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ms AS (SELECT unnest([${MatryoshkaDims.mkString(", ")}]) AS m),
         |sc AS (
         | SELECT ms.m, q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.v[1:ms.m], n.v[1:ms.m]), 4) AS sim
         | FROM e q JOIN e n ON n.vec_id <> q.vec_id, ms
         | WHERE q.vec_id < 5),
         |top5 AS (
         | SELECT m, query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY m, query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM sc)
         | WHERE rk <= 5),
         |exact5 AS (SELECT query_id, neighbor_id FROM top5 WHERE m = $Dim)
         |SELECT t.m AS dims, t.query_id, 5::INTEGER AS k,
         | sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         | round(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4) AS recall
         |FROM top5 t LEFT JOIN exact5 x
         | ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id
         |GROUP BY t.m, t.query_id ORDER BY dims, t.query_id""".stripMargin,
    "x_mmr_rerank" -> mmrOracle,
    "x_emb_pq" -> pqOracle,
    "x_emb_ivfpq" -> ivfPqOracle,
    "x_emb_ivfpq_residual" -> ivfPqResidualOracle,
    // same quantizer retrain; per-cluster md5-order row_number quota
    "x_sample_cluster_balanced" ->
      s"""WITH $ivfTrainCtes,
         |ranked AS (
         | SELECT a.list_id, a.vec_id,
         |  row_number() OVER (PARTITION BY a.list_id
         |    ORDER BY md5(a.vec_id::VARCHAR), a.vec_id) AS rk
         | FROM asgF a)
         |SELECT list_id, count(*) AS n_members,
         | sum(CASE WHEN rk <= 8 THEN 1 ELSE 0 END)::BIGINT AS n_picked,
         | sum(CASE WHEN rk <= 8 THEN vec_id END)::BIGINT AS picked_id_sum
         |FROM ranked GROUP BY list_id ORDER BY list_id""".stripMargin,
    "x_emb_dim_stats" ->
      """SELECT i::BIGINT AS dim, count(*) AS n,
        | round(avg(embedding[i]::DOUBLE), 4) + 0.0 AS mean,
        | round(stddev_samp(embedding[i]::DOUBLE), 4) + 0.0 AS std,
        | round(min(embedding[i]::DOUBLE), 4) + 0.0 AS min_x,
        | round(max(embedding[i]::DOUBLE), 4) + 0.0 AS max_x
        |FROM embeddings, range(1, 65) r(i)
        |GROUP BY dim ORDER BY dim""".stripMargin,
    "x_emb_project" -> {
      val coords = (0 until ProjDims).map { p =>
        val lit = planes(p).mkString("[", ", ", "]")
        s"round(list_dot_product(v, $lit), 6) AS r$p"
      }.mkString(",\n ")
      s"""SELECT vec_id,
         | $coords
         |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |ORDER BY vec_id""".stripMargin
    },
    "x_emb_gram" ->
      """SELECT i::INT AS i, j::INT AS j,
        | round(sum(embedding[i]::DOUBLE * embedding[j]::DOUBLE), 4) AS g
        |FROM embeddings, range(1, 65) r1(i), range(1, 65) r2(j)
        |WHERE i <= j GROUP BY i, j ORDER BY i, j""".stripMargin,
    // the identical integer recurrence from the quantized Gram model:
    // sign-split truncating rescales, HUGEINT Rayleigh quotient
    "x_emb_top_pc" -> {
      val iters = (1 to PcIters).map { k =>
        s"""y$k AS MATERIALIZED (SELECT g.i AS pos, sum(g.gq * w.w)::BIGINT AS y
           | FROM gq g JOIN w${k - 1} w ON w.pos = g.j GROUP BY 1),
           |s$k AS MATERIALIZED (SELECT greatest(1, max(abs(y)) // 1000000)::BIGINT AS s FROM y$k),
           |w$k AS MATERIALIZED (SELECT pos,
           |  (CASE WHEN y < 0 THEN -((-y) // (SELECT s FROM s$k))
           |   ELSE y // (SELECT s FROM s$k) END)::BIGINT AS w FROM y$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |u AS (SELECT vec_id, unnest(v) AS x, unnest(range(1, 65)) AS pos FROM e),
         |gq AS MATERIALIZED (
         | SELECT a.pos AS i, b.pos AS j, round(sum(a.x * b.x) * 10000)::BIGINT AS gq
         | FROM u a JOIN u b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |w0 AS (SELECT unnest(range(1, 65)) AS pos, 1000000::BIGINT AS w),
         |$iters,
         |yF AS MATERIALIZED (SELECT g.i AS pos, sum(g.gq * w.w)::BIGINT AS y
         | FROM gq g JOIN w$PcIters w ON w.pos = g.j GROUP BY 1),
         |ray AS (SELECT (sum(w.w::HUGEINT * y.y) // sum(w.w::HUGEINT * w.w))::BIGINT AS lam
         | FROM w$PcIters w JOIN yF y USING (pos)),
         |tr AS (SELECT sum(gq)::BIGINT AS t FROM gq WHERE i = j),
         |wl AS (SELECT list(w::DOUBLE ORDER BY pos) AS wv FROM w$PcIters),
         |proj AS (SELECT label,
         |  round(list_dot_product(v, (SELECT wv FROM wl)))::BIGINT AS pq FROM e)
         |SELECT label, count(*)::BIGINT AS n_vecs, sum(pq)::BIGINT AS proj_sum_q,
         | min(pq)::BIGINT AS proj_min_q, max(pq)::BIGINT AS proj_max_q,
         | (SELECT lam FROM ray) AS top_eig_q,
         | ((1000000 * (SELECT lam FROM ray)) // (SELECT t FROM tr))::BIGINT AS var_share_ppm
         |FROM proj GROUP BY label ORDER BY label""".stripMargin
    },
    "x_emb_knn_graph" ->
      s"""WITH $lshOracleCtes,
         |gpairs AS (
         | SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         | FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
         |scored AS (
         | SELECT p.src, p.dst,
         |  round(list_cosine_similarity(es.v, ed.v), 4) AS sim
         | FROM gpairs p JOIN e es ON es.vec_id = p.src JOIN e ed ON ed.vec_id = p.dst)
         |SELECT src AS vec_id, dst AS neighbor_id, sim, rk::INT AS rk FROM (
         | SELECT *, row_number() OVER (PARTITION BY src
         |   ORDER BY sim DESC, dst ASC) AS rk FROM scored)
         |WHERE rk <= 3 ORDER BY vec_id, rk""".stripMargin,
    // the same knn edge derivation, undirected + degree-ordered: every
    // count is exact BIGINT arithmetic, so the orientation, wedge set
    // and closures match the Spark frames exactly
    "x_graph_triangles" ->
      s"""WITH $lshOracleCtes,
         |gpairs AS (
         | SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         | FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
         |kscored AS (
         | SELECT p.src, p.dst,
         |  round(list_cosine_similarity(es.v, ed.v), 4) AS sim
         | FROM gpairs p JOIN e es ON es.vec_id = p.src JOIN e ed ON ed.vec_id = p.dst),
         |knn AS (
         | SELECT src, dst FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst ASC) AS rk FROM kscored)
         | WHERE rk <= 3),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn),
         |deg AS (SELECT v, count(*) AS deg FROM (
         |  SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
         |orient AS (
         | SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |   THEN u.a ELSE u.b END AS u,
         |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |   THEN u.b ELSE u.a END AS w,
         |  CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |   THEN db.deg ELSE da.deg END AS dw
         | FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
         |wedge AS (
         | SELECT e1.w AS x, e2.w AS y FROM orient e1 JOIN orient e2
         |  ON e1.u = e2.u AND (e1.dw < e2.dw OR (e1.dw = e2.dw AND e1.w < e2.w))),
         |tri AS (
         | SELECT count(*) AS t FROM wedge j JOIN orient o ON o.u = j.x AND o.w = j.y)
         |SELECT (SELECT count(*) FROM deg)::BIGINT AS n_vertices,
         | (SELECT count(*) FROM und)::BIGINT AS n_edges,
         | (SELECT sum(deg * (deg - 1) // 2) FROM deg)::BIGINT AS n_wedges,
         | (SELECT t FROM tri)::BIGINT AS n_triangles,
         | ((3000000 * (SELECT t FROM tri)) //
         |  (SELECT sum(deg * (deg - 1) // 2) FROM deg))::BIGINT AS global_cc_ppm""".stripMargin,
    // quantizer retrain + rank-2 window formulation of the same
    // two-smallest margin; mean attach via scalar subquery
    "x_emb_margin" ->
      s"""WITH $ivfTrainCtes,
         |ej AS (
         | SELECT e.vec_id,
         |  (list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(e.v, c.cvec)) AS s
         | FROM e CROSS JOIN cents$IvfIters c),
         |ord AS (
         | SELECT vec_id, s, row_number() OVER (PARTITION BY vec_id ORDER BY s) AS rn
         | FROM ej),
         |m AS (
         | SELECT vec_id,
         |  round((max(CASE WHEN rn = 2 THEN s END)
         |       - max(CASE WHEN rn = 1 THEN s END)) * 1000000)::BIGINT AS margin_m
         | FROM ord WHERE rn <= 2 GROUP BY vec_id),
         |g AS (SELECT count(*) AS n_all, sum(margin_m) AS sum_all FROM m)
         |SELECT l.label, count(*)::BIGINT AS n_vecs,
         | sum(m.margin_m)::BIGINT AS sum_margin_m,
         | min(m.margin_m)::BIGINT AS min_margin_m,
         | max(m.margin_m)::BIGINT AS max_margin_m,
         | sum(CASE WHEN m.margin_m * (SELECT n_all FROM g) < (SELECT sum_all FROM g)
         |     THEN 1 ELSE 0 END)::BIGINT AS n_ambiguous
         |FROM m JOIN embeddings l ON l.vec_id = m.vec_id
         |GROUP BY l.label ORDER BY l.label""".stripMargin,
    // retrains the identical quantizer, then the global-window
    // formulation of the p95 cut over the same micro-quantized d²;
    // min over centroids commutes with the common v·v term (monotone
    // float addition), one round(·1e6) after the min on both sides
    "x_emb_outliers" ->
      s"""WITH $ivfTrainCtes,
         |d2 AS (
         | SELECT e.vec_id,
         |  round(min(list_dot_product(e.v, e.v)
         |    + (list_dot_product(c.cvec, c.cvec)
         |       - 2 * list_dot_product(e.v, c.cvec))) * 1000000)::BIGINT AS score_m
         | FROM e CROSS JOIN cents$IvfIters c GROUP BY e.vec_id),
         |ranked AS (
         | SELECT *, row_number() OVER (ORDER BY score_m, vec_id) AS rn,
         |  count(*) OVER () AS n
         | FROM d2),
         |thr AS (
         | SELECT max(CASE WHEN rn = (19 * n + 19) // 20 THEN score_m END) AS thr
         | FROM ranked)
         |SELECT l.label, count(*) AS n_vecs,
         | sum(CASE WHEN score_m > thr THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
         | coalesce(sum(CASE WHEN score_m > thr THEN d.vec_id END), 0)::BIGINT
         |   AS outlier_id_sum
         |FROM d2 d JOIN embeddings l ON l.vec_id = d.vec_id, thr
         |GROUP BY l.label ORDER BY l.label""".stripMargin,
    // the same knn edge derivation undirected, then LpaIters unrolled
    // synchronous adopt rounds — the (count desc, label asc) argmax is
    // pure integer order, so the label trajectory matches exactly
    "x_graph_lpa" -> {
      val rounds = (1 to LpaIters).map { i =>
        s"""cnt$i AS (
           | SELECT adj.v, l.lbl, count(*) AS cnt
           | FROM adj JOIN l${i - 1} l ON l.vec_id = adj.nb GROUP BY adj.v, l.lbl),
           |pick$i AS (
           | SELECT v, lbl FROM (SELECT *, row_number() OVER (PARTITION BY v
           |    ORDER BY cnt DESC, lbl ASC) AS rk FROM cnt$i) WHERE rk = 1),
           |l$i AS MATERIALIZED (
           | SELECT l.vec_id, coalesce(p.lbl, l.lbl) AS lbl
           | FROM l${i - 1} l LEFT JOIN pick$i p ON p.v = l.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $lshOracleCtes,
         |gpairs AS (
         | SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         | FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
         |kscored AS (
         | SELECT p.src, p.dst,
         |  round(list_cosine_similarity(es.v, ed.v), 4) AS sim
         | FROM gpairs p JOIN e es ON es.vec_id = p.src JOIN e ed ON ed.vec_id = p.dst),
         |knn AS (
         | SELECT src, dst FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst ASC) AS rk FROM kscored)
         | WHERE rk <= 3),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn),
         |adj AS MATERIALIZED (
         | SELECT a AS v, b AS nb FROM und UNION ALL SELECT b AS v, a AS nb FROM und),
         |l0 AS (SELECT vec_id, vec_id AS lbl FROM e),
         |$rounds
         |SELECT lbl AS community, count(*) AS n_members,
         | sum(vec_id)::BIGINT AS member_id_sum, min(vec_id)::BIGINT AS min_member
         |FROM l$LpaIters GROUP BY lbl ORDER BY community""".stripMargin
    },
    // the same undirected knn adjacency as x_graph_lpa, then
    // KCoreRounds unrolled peeling rounds — pure set operations, no
    // tie-breaks, so the census matches the Spark loop exactly
    "x_graph_kcore" -> {
      val rounds = (1 to KCoreRounds).map { i =>
        s"""deg$i AS (
           | SELECT adj.v, count(*) AS deg
           | FROM adj
           |  JOIN a${i - 1} av ON av.v = adj.v
           |  JOIN a${i - 1} an ON an.v = adj.nb
           | GROUP BY adj.v),
           |a$i AS MATERIALIZED (
           | SELECT v FROM deg$i WHERE deg >= $KCoreK)""".stripMargin
      }.mkString(",\n")
      val censusRows = (1 to KCoreRounds).map { i =>
        s"""SELECT ${i}::BIGINT AS round,
           | (SELECT count(*) FROM a${i - 1})::BIGINT AS n_before,
           | ((SELECT count(*) FROM a${i - 1}) - (SELECT count(*) FROM a$i))::BIGINT AS n_removed,
           | (SELECT count(*) FROM a$i)::BIGINT AS n_after,
           | (SELECT coalesce(sum(v), 0) FROM a$i)::BIGINT AS survivor_id_sum"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $lshOracleCtes,
         |gpairs AS (
         | SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         | FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
         |kscored AS (
         | SELECT p.src, p.dst,
         |  round(list_cosine_similarity(es.v, ed.v), 4) AS sim
         | FROM gpairs p JOIN e es ON es.vec_id = p.src JOIN e ed ON ed.vec_id = p.dst),
         |knn AS (
         | SELECT src, dst FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst ASC) AS rk FROM kscored)
         | WHERE rk <= 3),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn),
         |adj AS MATERIALIZED (
         | SELECT a AS v, b AS nb FROM und UNION ALL SELECT b AS v, a AS nb FROM und),
         |a0 AS (SELECT vec_id AS v FROM e),
         |$rounds
         |$censusRows
         |ORDER BY round""".stripMargin
    },
    // the same knn edge derivation, then PrIters unrolled integer
    // PageRank iterations — every step BIGINT floor-division, so the
    // ranks match the Spark loop bit-for-bit with no float boundary
    "x_emb_pagerank" -> {
      val iters = (0 until PrIters).map { i =>
        s"""dang$i AS (
           | SELECT coalesce(sum(p.pr), 0)::BIGINT AS dang
           | FROM pr$i p LEFT JOIN odeg o ON p.vec_id = o.src WHERE o.src IS NULL),
           |c$i AS (
           | SELECT k.dst, sum(p.pr // o.odeg)::BIGINT AS s
           | FROM pr$i p JOIN knn k ON p.vec_id = k.src
           |  JOIN odeg o ON o.src = k.src GROUP BY k.dst),
           |pr${i + 1} AS (
           | SELECT p.vec_id,
           |  ((${3 * PrScale} // (20 * (SELECT n FROM nn))) +
           |   (17 * (coalesce(c.s, 0) + (SELECT dang FROM dang$i) // (SELECT n FROM nn))) // 20)::BIGINT AS pr
           | FROM pr$i p LEFT JOIN c$i c ON p.vec_id = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $lshOracleCtes,
         |gpairs AS (
         | SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
         | FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bval = b.bval AND a.vec_id <> b.vec_id),
         |kscored AS (
         | SELECT p.src, p.dst,
         |  round(list_cosine_similarity(es.v, ed.v), 4) AS sim
         | FROM gpairs p JOIN e es ON es.vec_id = p.src JOIN e ed ON ed.vec_id = p.dst),
         |knn AS (
         | SELECT src, dst FROM (
         |  SELECT *, row_number() OVER (PARTITION BY src
         |    ORDER BY sim DESC, dst ASC) AS rk FROM kscored)
         | WHERE rk <= 3),
         |nn AS (SELECT count(*) AS n FROM e),
         |odeg AS (SELECT src, count(*) AS odeg FROM knn GROUP BY src),
         |pr0 AS (SELECT e.vec_id, ($PrScale // (SELECT n FROM nn))::BIGINT AS pr FROM e),
         |$iters
         |SELECT vec_id, pr FROM pr$PrIters ORDER BY vec_id""".stripMargin
    },
    "x_sim_hard_negatives" ->
      s"""WITH $lshOracleCtes,
         |lb AS (SELECT vec_id, label FROM embeddings),
         |qb AS (
         | SELECT b.vec_id AS query_id, l.label AS qlabel, band, bval
         | FROM banded b JOIN lb l ON l.vec_id = b.vec_id WHERE b.vec_id < 10),
         |cand AS (
         | SELECT DISTINCT q.query_id, c.vec_id
         | FROM banded c JOIN lb cl ON cl.vec_id = c.vec_id
         |  JOIN qb q ON c.band = q.band AND c.bval = q.bval
         |   AND c.vec_id <> q.query_id AND cl.label <> q.qlabel),
         |scored AS (
         | SELECT cand.query_id, cand.vec_id AS negative_id,
         |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
         | FROM cand JOIN e eq ON eq.vec_id = cand.query_id
         |  JOIN e en ON en.vec_id = cand.vec_id)
         |SELECT query_id, negative_id, sim, rk::INT AS rk FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, negative_id ASC) AS rk FROM scored)
         |WHERE rk <= 2 ORDER BY query_id, rk""".stripMargin,
    "x_sim_topk_lsh" -> lshTopKOracle,
    "x_sim_topk_lsh_bucketed" -> lshTopKOracle,
    "x_sim_topk_ivf" -> ivfOracle,
    // PQ retrain CTEs; distortion from the assigned centroid with the
    // identical association order (sv·sv + (c·c − 2·sv·c)), clamped
    // at 0 before aggregation
    "x_emb_pq_distortion" ->
      s"""WITH $pqTrainCtes,
         |d AS (
         | SELECT a.s,
         |  greatest(round((list_dot_product(b.sv, b.sv)
         |    + (list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(b.sv, c.cvec)))
         |    * 1000000)::BIGINT, 0) AS dist_micro
         | FROM asgF a JOIN sub b ON b.vec_id = a.vec_id AND b.s = a.s
         |  JOIN cents$PqIters c ON c.s = a.s AND c.j = a.list_id)
         |SELECT s, count(*)::BIGINT AS n_vecs,
         | (sum(dist_micro) // count(*))::BIGINT AS mean_dist_micro,
         | max(dist_micro)::BIGINT AS max_dist_micro
         |FROM d GROUP BY s ORDER BY s""".stripMargin,
    // same retrain CTEs; the census reads the final assignment directly
    "x_emb_ivf_balance" ->
      s"""WITH $ivfTrainCtes,
         |nn AS (SELECT count(*)::BIGINT AS n FROM e)
         |SELECT list_id, count(*)::BIGINT AS n_vecs, sum(vec_id)::BIGINT AS id_sum,
         | (count(*) * 1000000 // (SELECT n FROM nn))::BIGINT AS share_ppm,
         | (count(*) * $IvfK * 100 // (SELECT n FROM nn))::BIGINT AS load_pct
         |FROM asgF GROUP BY list_id ORDER BY list_id""".stripMargin,
    // the bucketed layout changes WHERE list rows are read, not what
    // they contain — identical results, same retrain oracle
    "x_sim_topk_ivf_bucketed" -> ivfOracle,
    "x_sim_index_incremental" -> ivfIncrOracle,
    // stream==batch: the streaming ingest must land the identical index
    "x_stream_index_ingest" -> ivfIncrOracle,
    // Recall@5 oracle: one statement re-deriving BOTH candidate paths
    // (bandCtes for LSH, the full quantizer retrain for IVF — they
    // share the single `e` CTE from ivfTrainCtes) plus the exact
    // brute-force top-5, then the same left-join/count as the Spark
    // side. CTE names are disjoint from the per-path oracles because
    // they live in one WITH block here.
    "x_sim_recall" ->
      s"""WITH $ivfTrainCtes,
         |$bandCtes,
         |xp AS (
         | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.v, n.v), 4) AS sim
         | FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 5),
         |exact5 AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM xp)
         | WHERE rk <= 5),
         |qb AS (SELECT vec_id AS query_id, band, bval FROM banded WHERE vec_id < 5),
         |lcand AS (
         | SELECT DISTINCT q.query_id, c.vec_id
         | FROM banded c JOIN qb q ON c.band = q.band AND c.bval = q.bval
         |  AND c.vec_id <> q.query_id),
         |lsc AS (
         | SELECT lcand.query_id, lcand.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
         | FROM lcand JOIN e eq ON eq.vec_id = lcand.query_id
         |  JOIN e en ON en.vec_id = lcand.vec_id),
         |lsh5 AS (
         | SELECT 'lsh' AS method, query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM lsc)
         | WHERE rk <= 5),
         |iprobes AS (
         | SELECT q.vec_id AS query_id, c.j AS list_id
         | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5
         | QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |   ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.v, c.cvec), c.j) <= $IvfNProbe),
         |icand AS (
         | SELECT p.query_id, a.vec_id
         | FROM iprobes p JOIN asgF a ON a.list_id = p.list_id
         | WHERE a.vec_id <> p.query_id),
         |isc AS (
         | SELECT c.query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
         | FROM icand c JOIN e eq ON eq.vec_id = c.query_id JOIN e en ON en.vec_id = c.vec_id),
         |ivf5 AS (
         | SELECT 'ivf' AS method, query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM isc)
         | WHERE rk <= 5),
         |appx AS (SELECT * FROM lsh5 UNION ALL SELECT * FROM ivf5)
         |SELECT a.method, a.query_id, 5::INT AS k,
         | sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         | round(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4) AS recall
         |FROM appx a LEFT JOIN exact5 x
         | ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
         |GROUP BY a.method, a.query_id ORDER BY a.method, a.query_id""".stripMargin,
    // same trained index + probe ordering as x_sim_recall, one ladder
    // step per nprobe; recall and probed mass are exact integers
    "x_emb_ivf_recall_curve" -> {
      val steps = RecallNProbes.map { np =>
        s"""ip$np AS (
           | SELECT q.vec_id AS query_id, c.j AS list_id
           | FROM e q CROSS JOIN cents$IvfIters c WHERE q.vec_id < 5
           | QUALIFY row_number() OVER (PARTITION BY q.vec_id
           |   ORDER BY list_dot_product(c.cvec, c.cvec) - 2 * list_dot_product(q.v, c.cvec), c.j) <= $np),
           |cost$np AS (
           | SELECT count(DISTINCT p.query_id)::BIGINT AS n_queries,
           |  coalesce(sum(nv.n_vecs), 0)::BIGINT AS probed_vecs
           | FROM ip$np p LEFT JOIN nv ON nv.list_id = p.list_id),
           |isc$np AS (
           | SELECT p.query_id, a.vec_id AS neighbor_id,
           |  round(list_cosine_similarity(eq.v, en.v), 4) AS sim
           | FROM ip$np p JOIN asgF a ON a.list_id = p.list_id
           |  AND a.vec_id <> p.query_id
           |  JOIN e eq ON eq.vec_id = p.query_id JOIN e en ON en.vec_id = a.vec_id),
           |top$np AS (
           | SELECT query_id, neighbor_id FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM isc$np)
           | WHERE rk <= 5),
           |hits$np AS (
           | SELECT coalesce(sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT AS n_hits
           | FROM top$np t LEFT JOIN exact5 x
           |  ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id)"""
          .stripMargin
      }.mkString(",\n")
      val rows = RecallNProbes.map { np =>
        s"""SELECT ${np}::BIGINT AS nprobe,
           | (SELECT n_queries FROM cost$np) AS n_queries,
           | (SELECT probed_vecs FROM cost$np) AS probed_vecs,
           | (SELECT n_hits FROM hits$np) AS n_hits,
           | ((SELECT n_hits FROM hits$np) * 1000000
           |   // (5 * (SELECT n_queries FROM cost$np)))::BIGINT AS recall_ppm"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $ivfTrainCtes,
         |nv AS (SELECT list_id, count(*)::BIGINT AS n_vecs FROM asgF GROUP BY list_id),
         |xp AS (
         | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.v, n.v), 4) AS sim
         | FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 5),
         |exact5 AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, neighbor_id ASC) AS rk FROM xp)
         | WHERE rk <= 5),
         |$steps
         |$rows
         |ORDER BY nprobe""".stripMargin
    },
    "x_dedup_semantic" ->
      s"""WITH $ivfTrainCtes,
         |pairs AS (
         | SELECT a.list_id, b.vec_id AS b_id
         | FROM asgF a JOIN asgF b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         | JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         | WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= $SemDedupTau),
         |removed AS (SELECT DISTINCT list_id, b_id FROM pairs),
         |nv AS (SELECT list_id, count(*) AS n_vecs FROM asgF GROUP BY list_id),
         |nr AS (SELECT list_id, count(*) AS n_removed, sum(b_id) AS removed_id_sum
         |       FROM removed GROUP BY list_id)
         |SELECT nv.list_id, nv.n_vecs,
         | coalesce(nr.n_removed, 0)::BIGINT AS n_removed,
         | coalesce(nr.removed_id_sum, 0)::BIGINT AS removed_id_sum
         |FROM nv LEFT JOIN nr USING (list_id) ORDER BY nv.list_id""".stripMargin,
    "x_emb_centroids" ->
      """WITH u AS (
        | SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |  unnest(range(1, len(embedding::DOUBLE[]) + 1)) AS pos
        | FROM embeddings),
        |m AS (SELECT label, pos, avg(x) AS mx, count(*) AS cnt FROM u GROUP BY label, pos)
        |SELECT label, max(cnt)::BIGINT AS n_vecs,
        | round(sum(mx), 4) AS sum_mean,
        | round(sqrt(sum(mx * mx)), 4) AS norm_mean
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "x_sim_topk_prefiltered" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pairs AS (
        | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.label,
        |  round(list_cosine_similarity(q.v, n.v), 4) AS sim
        | FROM e q JOIN e n ON n.vec_id <> q.vec_id AND n.label = $PreFilterLabel
        | WHERE q.vec_id < 5)
        |SELECT query_id, neighbor_id, label, sim FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk FROM pairs)
        |WHERE rk <= 10 ORDER BY query_id, neighbor_id""".stripMargin,
    "x_sim_topk_bruteforce" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pairs AS (
        | SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(q.v, n.v), 4) AS sim
        | FROM e q JOIN e n ON n.vec_id <> q.vec_id
        | WHERE q.vec_id < 5)
        |SELECT query_id, neighbor_id, sim FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY sim DESC, neighbor_id ASC) AS rk FROM pairs)
        |WHERE rk <= 10 ORDER BY query_id, neighbor_id""".stripMargin,
  )
}
