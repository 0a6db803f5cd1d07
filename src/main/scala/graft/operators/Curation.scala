package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the selection half of a training-data
  * pipeline (net-new surface beyond the reference, which stops at
  * benchmark analytics): stratified sampling, mixture (quota) selection,
  * context-window sequence packing, and CDC-style upsert merge.
  *
  * Determinism discipline: every sampling/ordering decision derives from
  * a 60-bit md5-based hash of the row key (the same construction as
  * [[Dedup]]'s minhash base hash — `conv(substr(md5(k),1,15),16,10)`,
  * mirrored in DuckDB as `('0x'||substr(md5(k),1,15))::BIGINT`), never
  * from `rand()` or partition order. That buys three things at once:
  *  - exact reproducibility across retries, executors and engine
  *    versions (a re-run of a failed 100 TB stage selects the same rows);
  *  - full DuckDB hash-match oracles for operators that are usually
  *    "approximately right by eyeball" in production pipelines;
  *  - selection can be pushed into a scan filter (it is a pure
  *    projection predicate), so sampling never shuffles the corpus.
  *
  * Scale notes per operator are on each method.
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  /** 60-bit md5-derived hash of an expression (Spark side). */
  private def h60(e: String): Column =
    expr(s"cast(conv(substr(md5($e), 1, 15), 16, 10) as bigint)")

  /** DuckDB twin of [[h60]]. */
  private def h60Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  // ---------------------------------------------------------------- //
  // Stratified sampling
  // ---------------------------------------------------------------- //

  /** Per-stratum deterministic sampling: source `srcN` keeps a doc iff
    * `h(doc_id) mod 1e6 < (N+1)·50000` — i.e. src0 samples 5%, src9
    * 50%, src19 everything. The rate ladder stands in for the
    * per-source quality priors a real corpus mix assigns (sample
    * common crawl thin, books thick).
    *
    * Scale: the sample decision is a pure per-row predicate — it pushes
    * to the scan, selects the same rows on any cluster size or retry,
    * and the only shuffle is the 10-row summary aggregate (map-side
    * combined). This is how a 100 TB corpus is subsampled in one pass
    * with no coordination; contrast `TABLESAMPLE`/`rand()`, which are
    * neither reproducible nor pushdown-friendly.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val sampled = h60("cast(doc_id as string)") % 1000000L <
      (expr("cast(substr(source, 4) as int)") + 1) * 50000L
    Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"),
        sum(when(sampled, col("doc_id"))).as("sampled_id_sum"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- //
  // Weighted (probability-proportional-to-size) sampling
  // ---------------------------------------------------------------- //

  // p_i = WeightedC · w_i / 2^60 ≈ w_i / 3000: an avg-length doc
  // (~300 chars) samples at ~10%. WeightedC = 2^60 div 3000.
  private val WeightedC = 384307168202282L
  private val TwoPow60 = 1152921504606846976L

  /** Weighted Poisson (PPS) sampling with a Horvitz–Thompson estimate:
    * doc i is kept iff `h(doc_id) div w_i < C`, i.e. with probability
    * p_i = C·w_i/2^60 ∝ n_chars — longer docs sample heavier, the
    * "sample proportional to token count" step of corpus budgeting.
    * The HT columns (Σ floor(1/p_i) over the sample) estimate the
    * full-corpus doc and char totals from the sample alone — the
    * unbiased-subset-sum machinery of priority/PPS sampling
    * (Duffield–Lund–Thorup), here in exact integer form.
    *
    * Determinism discipline: inclusion is a BIGINT compare (`h div w <
    * C` ⟺ `h < C·w`, no floats anywhere), and the HT terms are exact
    * integer divisions — every engine, retry, and partitioning computes
    * the identical sample and the identical estimates, which is what
    * makes a weighted sample auditable (the DuckDB oracle re-derives it
    * bit-for-bit). `rand()`-based PPS gives none of this.
    *
    * Scale: like [[stratifiedSample]] the decision is a pure scan
    * predicate — no shuffle touches the corpus; the only exchange is
    * the 20-row per-source rollup. Docs with C·w ≥ 2^60 have p = 1 and
    * are always kept (the compare is automatically true); their HT term
    * clamps to 1.
    */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val keep = expr(
      s"cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)" +
        s" div greatest(n_chars, 1) < ${WeightedC}L")
    val htTerm = greatest(lit(1L), expr(s"${TwoPow60}L div (${WeightedC}L * greatest(n_chars, 1))"))
    Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(
        sum(when(keep, 1L).otherwise(0L)).as("n_sampled"),
        sum(when(keep, col("doc_id"))).as("id_sum"),
        sum(when(keep, col("n_chars"))).as("chars_sampled"),
        sum(when(keep, htTerm)).as("ht_docs"),
        sum(when(keep, htTerm * col("n_chars"))).as("ht_chars"))
      .orderBy("source")
  }

  private val PrioritySampleK = 100
  private val TwoPow48 = 281474976710656L

  /** Fixed-size weighted sampling WITHOUT replacement via priority
    * sampling (Duffield–Lund–Thorup): each doc draws a deterministic
    * uniform u_i = (h_i+1)/2^48 from a 48-bit md5 hash of its id and
    * gets priority q_i = w_i/u_i (w = n_chars); the global top-k by
    * priority IS the sample. Complements [[weightedSample]] — Poisson
    * PPS hits an *expected* budget, priority sampling an *exact* one
    * (the "select exactly k docs, long docs preferred" primitive of
    * corpus assembly; the k+1-th priority is the estimator threshold
    * τ, published with every row so HT subset-sum estimates can be
    * formed downstream).
    *
    * Determinism discipline: the priority is computed entirely in
    * BIGINT — q_i = (w_i·2^48) div (h_i+1) (max w≈600 ⇒ ≤2^58, no
    * overflow) — so ranking never touches a float and every engine,
    * retry and partitioning derives the identical sample; ties break
    * by doc_id.
    *
    * Scale: one scan computing a per-row hash, then a k-row
    * TakeOrderedAndProject (per-partition top-k, k·partitions rows to
    * the driver-side take — never a global sort of the corpus). At
    * 100 TB this is the same plan with more partitions.
    */
  def prioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    val prio = expr(
      s"(n_chars * ${TwoPow48}L) div " +
        s"(cast(conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint) + 1)")
    Tables.documents(spark, sfDir)
      .withColumn("priority", prio)
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(PrioritySampleK)
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
      .orderBy("doc_id")
  }

  private val DriftPpm = 100000L // flag days whose mean strays >10% from corpus

  /** Daily profile-drift monitor — the data-quality-over-time shape an
    * ingest pipeline alarms on: per-day event volume, distinct users,
    * and integer-micro mean value, each day's mean compared against
    * the whole-corpus mean with the deviation in ppm and a drift flag
    * at [[DriftPpm]]. (The static twin of what a streaming monitor
    * would emit per watermark-closed day.)
    *
    * Determinism discipline: values quantize to BIGINT micros before
    * any mean (same construction as a14's quantiles), means are
    * integer floor-divisions, and the flag is an integer ppm compare —
    * no float path for an alarm threshold to waver across engines.
    *
    * Scale: one day-keyed aggregate (shuffle carries per-day partials)
    * plus a 1-row global aggregate broadcast back; distinct users per
    * day is the only expensive leg and swaps to a sketch under the
    * scaleMode extension's policy when exactness is waived.
    */
  def dqDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"),
      expr("cast(round(value * 1000000) as bigint)").as("vm"))
    val daily = ev.groupBy("day").agg(
      count(lit(1)).as("n_events"),
      countDistinct("user_id").as("n_users"),
      expr("sum(vm) div count(1)").as("mean_micros"))
    val global = ev.agg(expr("sum(vm) div count(1)").as("global_micros"))
    daily.crossJoin(broadcast(global))
      .withColumn("dev_ppm",
        expr("abs(mean_micros - global_micros) * 1000000 div greatest(abs(global_micros), 1)"))
      .select(col("day"), col("n_events"), col("n_users"), col("mean_micros"),
        col("dev_ppm"), (col("dev_ppm") > DriftPpm).as("drifted"))
      .orderBy("day")
  }

  /** Population Stability Index per source vs the global corpus — THE
    * standard drift score model-monitoring gates on (PSI < 0.1 stable,
    * 0.1–0.2 minor, > 0.2 major), complementing [[dqDrift]]'s
    * mean-deviation test with a whole-DISTRIBUTION comparison: a
    * source whose length mix shifted but whose mean held still lights
    * up here and nowhere else.
    *
    * Distribution grain: power-of-two token-length buckets (the
    * [[graft.operators.TextOps.lengthHist]] integer bucketing — no
    * float-log edge cases). Laplace add-one smoothing keeps every
    * (source, bucket) term finite — p' = (c_s+1)/(n_s+B),
    * q' = (c_g+1)/(n+B) over the B global buckets — the standard PSI
    * epsilon, made exact.
    *
    * Float discipline ([[graft.operators.TextOps.mixKl]]): the single
    * composite ln(p'/q') = ln(c_s+1) − ln(n_s+B) − ln(c_g+1) + ln(n+B)
    * is quantized ONCE to integer micro-nats; (p'−q') rides as the
    * exact integer cross-difference, so psi_micro_nats =
    * Σ[((c_s+1)(n+B) − (c_g+1)(n_s+B)) · ln_micro] div ((n_s+B)(n+B))
    * is a pure integer fold. Every term is ≥ 0 (sign(p'−q') =
    * sign(ln(p'/q')); rounding can only zero a term, never flip it),
    * so the truncating div agrees across engines. Overflow bound
    * (r13): the cross-difference and the term product ride in
    * DECIMAL(38,0) — exact 128-bit integer arithmetic on both engines
    * (Spark Decimal, DuckDB HUGEINT). The term magnitude is bounded by
    * (n+B)² · ln_micro ≤ n² · 2·10⁷, which stays inside 10³⁸ up to
    * n ≈ 2·10¹⁵ events — six orders past the old silent-Long-wrap
    * ceiling at n ≈ 10⁵–10⁶, and past any single-table corpus this
    * engine will meet (10¹² docs × 10³ sources · buckets terms still
    * sums to < 10³⁰). [[PsiFoldSpec]] drives the fold with synthetic
    * ≥10⁹-event counts against an exact BigInt re-computation.
    *
    * Scale: ONE corpus projection + keyed aggregate materializes the
    * (source × bucket) count grid (model-sized, localCheckpointed);
    * the global histogram, per-source totals, and the corpus total are
    * aggregates OF the grid — the corpus is never re-scanned (mixKl
    * discipline, swept r13: this was 3 corpus passes). The term frame
    * is the CONSTANT (#sources × #buckets) grid (a crossJoin of two
    * model-sized aggregates — allowlisted), never corpus-sized.
    */
  def psiDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val srcB = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("wc"))
      .withColumn("b", (length(bin(col("wc"))) - 1).cast("int"))
      .groupBy("source", "b").agg(count(lit(1)).as("cnt_s"))
    psiFold(srcB)
  }

  /** The PSI fold over a (source, b, cnt_s) count grid — factored from
    * [[psiDrift]] so [[PsiFoldSpec]] can drive it with synthetic
    * ≥10⁹-event counts (proving the DECIMAL(38) arithmetic where the
    * old BIGINT fold silently wrapped). The grid must be model-sized;
    * it is localCheckpointed here so its consumers never replay the
    * upstream corpus scan.
    */
  private[graft] def psiFold(srcBRaw: DataFrame): DataFrame = {
    val srcB = srcBRaw.transform(graft.Ckpt.pin("Curation.psiFold.srcB"))
    val glob = srcB.groupBy("b").agg(sum("cnt_s").as("cnt_g"))
    val nSrc = srcB.groupBy("source").agg(sum("cnt_s").as("n_s"))
    // two exact integer scalars off the model frame — plan literals
    // the oracle recomputes
    val n = srcB.agg(coalesce(sum("cnt_s"), lit(0L))).first().getLong(0)
    val nBuckets = glob.count()
    val terms = nSrc.crossJoin(broadcast(glob))
      .join(srcB, Seq("source", "b"), "left")
      .na.fill(0L, Seq("cnt_s"))
      .withColumn("ln_micro", expr(
        s"""cast(round((ln(cast(cnt_s + 1 as double)) - ln(cast(n_s + $nBuckets as double))
           | - ln(cast(cnt_g + 1 as double)) + ln(cast(${n + nBuckets}L as double))) * 1000000)
           | as bigint)""".stripMargin))
      // DECIMAL(38,0) = exact int128 on both engines (DuckDB HUGEINT):
      // product magnitudes ≤ n²·2e7 ≈ 1e38 at n = 2e15 — no Long wrap
      .withColumn("term", expr(
        s"""(cast(cnt_s + 1 as decimal(20,0)) * ${n + nBuckets}L
           | - cast(cnt_g + 1 as decimal(20,0)) * (n_s + $nBuckets)) * ln_micro"""
          .stripMargin))
    terms.groupBy("source")
      .agg(max("n_s").as("n_docs"), count(lit(1)).as("n_buckets"),
        expr(s"sum(term) div (cast(max(n_s) + $nBuckets as decimal(20,0)) * ${n + nBuckets}L)")
          .as("psi_micro_nats"))
      .withColumn("band",
        when(col("psi_micro_nats") < 100000L, "stable")
          .when(col("psi_micro_nats") < 200000L, "minor")
          .otherwise("major"))
      .orderBy("source")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic per source vs the
    * global corpus — the third leg of the drift battery next to
    * [[dqDrift]] (mean deviation) and [[psiDrift]] (binned PSI): KS
    * reads the UNBINNED ECDFs, so a shape shift too fine for PSI's
    * power-of-two buckets (e.g. a within-bucket median move) still
    * registers, and D ∈ [0,1] carries the classical critical-value
    * interpretation.
    *
    * Integer discipline: each ECDF is quantized INDEPENDENTLY to ppm —
    * d_ppm(x) = |cum_s·10⁶ div n_s − cum_g·10⁶ div n| — so the fold
    * never forms the cum_s·n cross products. Truncating div on
    * nonnegative operands agrees across engines (Spark `div` = DuckDB
    * `//` for ≥0), and each quantization costs < 1 ppm, so the
    * reported statistic is the exact KS D of the ppm-quantized ECDFs.
    * Overflow bound: cum·10⁶ ≤ n·10⁶ stays inside Long to n ≈ 9·10¹²
    * docs — comfortably past any real corpus, unlike a cum_s·n_g
    * cross-product formulation (overflow at n ≈ 3·10⁹).
    *
    * Scale: ONE corpus projection into the (source, wc) model frame;
    * the global histogram and totals derive from the model; the ECDF
    * frame is the (#sources × distinct wc) grid — a crossJoin of two
    * model-sized aggregates (allowlisted), never corpus-sized — and
    * every window is partitioned by source over that grid. The argmax
    * location ks_at_wc (min wc attaining D, a deterministic tie-break)
    * tells the curator WHERE the distributions part.
    */
  def ksDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("wc"))
    // ONE corpus projection: the (source, wc) histogram is the model
    // frame (localCheckpointed); the global histogram, per-source
    // totals, and the corpus total are aggregates OF the model — the
    // jsdSources discipline, no second or third scan
    val srcW = docs.groupBy("source", "wc").agg(count(lit(1)).as("c_s"))
      .transform(graft.Ckpt.pin("Curation.ksDrift.srcW"))
    val globW = srcW.groupBy("wc").agg(sum("c_s").as("c_g"))
    val nSrc = srcW.groupBy("source").agg(sum("c_s").as("n_s"))
    // one exact integer scalar off the model frame, a plan literal the
    // oracle recomputes
    val n = srcW.agg(coalesce(sum("c_s"), lit(0L))).first().getLong(0)
    val grid = nSrc.crossJoin(broadcast(globW))
      .join(srcW, Seq("source", "wc"), "left")
      .na.fill(0L, Seq("c_s"))
    val w = Window.partitionBy("source").orderBy("wc")
    val ecdf = grid
      .withColumn("cum_s", sum("c_s").over(w))
      .withColumn("cum_g", sum("c_g").over(w))
      .withColumn("d_ppm",
        expr(s"abs(cum_s * 1000000 div n_s - cum_g * 1000000 div ${n}L)"))
      .withColumn("mx", max("d_ppm").over(Window.partitionBy("source")))
    ecdf.filter(col("d_ppm") === col("mx"))
      .groupBy("source")
      .agg(max("n_s").as("n_docs"), max("d_ppm").as("ks_ppm"),
        min("wc").as("ks_at_wc"))
      .withColumn("band",
        when(col("ks_ppm") < 50000L, "stable")
          .when(col("ks_ppm") < 150000L, "minor")
          .otherwise("major"))
      .orderBy("source")
  }

  // four fixed Feistel round keys — arbitrary, committed constants;
  // change them and you've defined a DIFFERENT (equally valid) shuffle
  private[graft] val FeistelKeys = Seq(40503L, 34283L, 49842L, 10196L)

  /** Deterministic bijective corpus shuffle — the epoch-shuffle a
    * training-data writer runs so consecutive output rows never share
    * a source/time neighborhood, WITHOUT a random() that breaks rerun
    * reproducibility and without the collision risk of hash-ordering
    * (two docs hashing equal would tie nondeterministically across
    * engines): a 4-round Feistel network over doc_id's 32-bit halves —
    * (l,r) → (r, l ⊕ F(r,k)), F = mix((r ⊕ k)·73244475) — is a
    * PERMUTATION of the full 64-bit id space by construction, so
    * distinct ids stay distinct and every run, engine, and executor
    * computes the identical order. The shuffled key doubles as the
    * shard assigner: the top 4 bits of the final right half spread any
    * id distribution (sequential, sparse, clustered) uniformly across
    * 16 output shards — the balanced-shard-write shape (key space is
    * uniform even when ids are 0..n sequential).
    *
    * Output: the per-shard census (count + exact id sum) — covering
    * the WHOLE permutation, not a sampled head — that the writer's
    * shard manifest records. Pure integer arithmetic end to end: the
    * F-product (r ⊕ k)·73244475 ≤ 2⁵⁹ stays inside Long (both engines
    * exact, no overflow raise in DuckDB), shifts and xors are
    * bit-identical cross-engine.
    *
    * Scale: one projection + one 16-group aggregate (map-side
    * partials); the permutation is embarrassingly parallel per row —
    * no shuffle until the 16-row census. At the real writer, the
    * shard column feeds repartition(shard)/partitionBy — co-located
    * writes with no global sort.
    */
  def feistelShuffle(spark: SparkSession, sfDir: String): DataFrame =
    feistelPermuted(spark, sfDir)
      .withColumn("shard", expr("shiftright(r, 28)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
      .orderBy("shard")

  /** The raw permuted (doc_id, l, r) frame — the spec asserts
    * bijectivity (distinct (l,r) = distinct doc_id) on it directly. */
  private[graft] def feistelPermuted(spark: SparkSession, sfDir: String): DataFrame =
    feistelPermute(
      Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
        .select(col("doc_id")))

  /** The permutation expression chain over ANY (doc_id) frame — split
    * out so the property spec can drive it with arbitrary 64-bit ids
    * (signs, extremes), not just corpus ids. Pure bit ops throughout:
    * the arithmetic shift + mask makes the halving sign-safe. */
  private[graft] def feistelPermute(ids: DataFrame): DataFrame = {
    val M = 4294967295L // 2^32 − 1
    val docs = ids
      .withColumn("l", expr(s"shiftright(doc_id, 32) & $M"))
      .withColumn("r", expr(s"doc_id & $M"))
    FeistelKeys.foldLeft(docs) { case (df, k) =>
      df.withColumn("t", expr(s"(r ^ $k) * 73244475"))
        .withColumn("f", expr(s"(t ^ shiftright(t, 16)) & $M"))
        .select(col("doc_id"), col("r").as("l"), expr("l ^ f").as("r"))
    }
  }

  /** Pareto-frontier (skyline) document selection — the
    * quality-vs-cost tradeoff curve a token-budgeted curation run
    * reads before picking its operating point: a doc is ON the
    * frontier iff no other doc offers ≥ its vocabulary richness
    * (distinct tokens, up-axis) at ≤ its token cost (down-axis) with
    * one strict. Output is the frontier's POINT SET — (q, wc) with
    * occupancy and a representative id — bounded by the score RANGE,
    * never corpus cardinality.
    *
    * Distributed shape: dominance collapses to two bounded steps —
    * (1) per-q min cost, a keyed aggregate (corpus-sized input,
    * range-sized output); (2) a strict-prefix min over the per-q frame
    * in q-desc order: a point survives iff its cost beats every
    * higher-q cost (equal-(q,wc) duplicates tie without strictness and
    * co-survive — exact dups land on the same point). The one
    * unpartitioned window runs over the RANGE-sized frame (the
    * a16_global_quantiles argument: O(distinct q) rows however big the
    * corpus); the join back is a broadcast of the frontier points.
    */
  def paretoSelect(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"),
        size(array_distinct(col("toks"))).cast("long").as("q"),
        size(col("toks")).cast("long").as("wc"))
    val perQ = d.groupBy("q").agg(min("wc").as("mw"))
    val w = Window.orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pts = perQ.withColumn("hm", min("mw").over(w))
      .filter(col("hm").isNull || col("mw") < col("hm"))
      .select(col("q").as("pq"), col("mw"))
    d.join(broadcast(pts), col("q") === col("pq") && col("wc") === col("mw"))
      .groupBy("q", "wc")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .orderBy(col("q").desc)
  }

  /** Cross-source quantile normalization — the batch-effect correction
    * a multi-source corpus needs before per-doc scores are comparable:
    * each document's score is replaced by the GLOBAL score at its
    * source-relative quantile (rank-matching, the same transform
    * bioinformatics and multi-rater pipelines use), so a source whose
    * crawler systematically inflates n_chars stops dominating every
    * threshold gate.
    *
    * Exact integer construction: per-source rank r by (score, doc_id)
    * — a window PARTITIONED BY SOURCE, parallel across sources;
    * matched global rank g = ⌈r·n/n_s⌉ as one BIGINT expression; the
    * calibrated value comes from an equi-join on g against the global
    * (rank → value) frame. That global frame is the ONE global window
    * in the plan, and it executes through
    * [[graft.plans.ScaleModeRewrite.rewriteEager]] — the distributed
    * range-partition rank construction, never a single-partition
    * corpus sort (fails loudly if the rewrite declines).
    *
    * Scale: two corpus-wide keyed shuffles (per-source window, rank
    * equi-join) + the rewritten rank's two parallel exchanges. Output
    * is per-source integer sums — raw vs calibrated mass.
    */
  def quantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val n = docs.count() // exact scalar, plan literal (oracle recomputes)
    val perSrcW = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    val ranked = docs.withColumn("r", row_number().over(perSrcW))
    val nS = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val globalRanked = graft.plans.ScaleModeRewrite.rewriteEager(
      docs.select(col("n_chars").as("gval"), col("doc_id"))
        .withColumn("grank",
          row_number().over(Window.orderBy(col("gval"), col("doc_id"))))
        .select(col("grank").cast("long").as("grank"), col("gval")))
    ranked.join(broadcast(nS), "source")
      .withColumn("g", expr(s"(cast(r as bigint) * ${n}L + n_s - 1) div n_s"))
      .join(globalRanked, col("g") === col("grank"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("raw_sum"),
        sum("gval").as("cal_sum"))
      .orderBy("source")
  }

  private val AnnealEpochs = 5
  private val AnnealBudget = 1000L // docs per epoch

  /** Annealed mixing schedule — the two-phase data curriculum
    * (uniform early, quality/size-proportional late) that staged
    * pre-training runs use: for epoch e of E, each source's target
    * fraction interpolates linearly from the uniform weight to its
    * char-mass share, and the per-epoch doc quota follows. Emitted as
    * the (epoch, source) schedule table a dataloader consumes.
    *
    * Determinism discipline: weights live in integer ppm — w0 =
    * 10^6 div n_sources, w1 = (10^6·chars) div total_chars, frac_e =
    * (w0·(E-1-e) + w1·e) div (E-1), quota = (budget·frac) div 10^6 —
    * every step a BIGINT floor-division, so the schedule is identical
    * on any engine or partitioning (a float-lerp schedule can differ
    * in the last ppm and shift a quota by a document).
    *
    * Scale: one per-source aggregate (20 rows) crossed with E epoch
    * literals; the corpus is scanned once for char masses and never
    * shuffled.
    */
  def annealMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perSrc = Tables.documents(spark, sfDir)
      .groupBy("source").agg(sum("n_chars").as("chars"))
    val totals = perSrc.agg(
      sum("chars").as("total_chars"), count(lit(1)).as("n_sources"))
    val epochs = spark.range(AnnealEpochs).select(col("id").cast("int").as("epoch"))
    perSrc.crossJoin(broadcast(totals))
      .withColumn("w0_ppm", expr("1000000L div n_sources"))
      .withColumn("w1_ppm", expr("(1000000L * chars) div total_chars"))
      .crossJoin(broadcast(epochs))
      .withColumn("frac_ppm", expr(
        s"(w0_ppm * (${AnnealEpochs - 1} - epoch) + w1_ppm * epoch) div ${AnnealEpochs - 1}"))
      .withColumn("quota_docs", expr(s"(${AnnealBudget}L * frac_ppm) div 1000000"))
      .select("epoch", "source", "frac_ppm", "quota_docs")
      .orderBy("epoch", "source")
  }

  private val GroupPriorityK = 10

  /** Per-stratum weighted sampling — [[prioritySample]]'s priorities
    * cut per SOURCE instead of globally: the top-[[GroupPriorityK]]
    * docs by (w·2^48) div (h48+1) within each stratum, i.e. "k docs
    * per domain, long docs preferred" — the weighted refinement of
    * [[mixSources]]' unweighted rank-by-hash quotas. Completes the
    * selection family: rate (stratified), quota (mix), global
    * weighted (priority), per-stratum weighted (this).
    *
    * Scale: rank inside a stratum is a hash-partitioned window
    * (partitionBy source — no global sort, no single partition);
    * Spark's WindowGroupLimit pushes the rk≤k filter below the full
    * rank so each partition keeps k rows early.
    */
  def groupPrioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prio = expr(
      s"(n_chars * ${TwoPow48}L) div " +
        s"(cast(conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint) + 1)")
    val w = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .withColumn("priority", prio)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= GroupPriorityK)
      .select(col("source"), col("doc_id"), col("n_chars"), col("priority"), col("rk"))
      .orderBy("source", "rk")
  }

  /** [[groupPrioritySample]] through the BOUNDED native aggregate
    * (round-11): a `PARTITION BY source` row_number drags each
    * source's ENTIRE corpus slice through one reducer — the
    * low-cardinality-group scale hazard — while
    * [[graft.functions.TopKPairsAgg]] ships O(K) (priority, doc_id)
    * pairs per task × source, combines map-side, and the sorted
    * buffer POSITION is the rank (no window anywhere). Payload
    * columns re-attach by a doc_id equi-join against the selected
    * K·|sources| ids. Shares the window form's oracle VERBATIM
    * (x_scd2_pit's twin discipline) — identical rows out of both
    * formulations is exactly the claim.
    */
  def groupPriorityAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val prio = expr(
      s"(n_chars * ${TwoPow48}L) div " +
        s"(cast(conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint) + 1)")
    val base = Tables.documents(spark, sfDir).withColumn("priority", prio)
    val picked = base.groupBy("source")
      .agg(graft.functions.TopKPairsNative
        .topk(col("priority"), col("doc_id"), GroupPriorityK).as("l"))
      .select(col("source"), posexplode(col("l")).as(Seq("i", "p")))
      .select(col("source"), (col("i") + 1).cast("int").as("rk"),
        col("p._2").as("doc_id"), col("p._1").as("priority"))
    picked.join(base.select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("source"), col("doc_id"), col("n_chars"), col("priority"), col("rk"))
      .orderBy("source", "rk")
  }

  // ---------------------------------------------------------------- //
  // Mixture / quota selection
  // ---------------------------------------------------------------- //

  private val MixBudget = 300L // docs in the mixed corpus
  // weight 20-N for srcN (src0..src19): earlier sources count for more
  // of the mix — Σ(20-N) = 210
  private val MixWeightSum = 210L

  /** Data mixing with per-source quotas: rank every doc inside its
    * source by the doc-id hash (a deterministic shuffle) and keep the
    * first `budget · w_i / Σw` of each — the "sample data mixture to
    * target proportions" step of corpus assembly.
    *
    * Scale: rank-by-hash inside a stratum is a per-stratum sort at toy
    * scale; at 100 TB the identical selection is computed WITHOUT a
    * sort by thresholding the hash at the quota quantile (quota/n_i ·
    * 2^60, or an `approx_percentile` of the hash for exact budgets) —
    * the hash ordering makes rank and threshold interchangeable, which
    * is the point of ranking on a hash instead of on content.
    */
  def mixSources(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, sfDir)
      .withColumn("rk", row_number().over(w))
      .withColumn("quota", expr(s"($MixBudget * (20 - cast(substr(source, 4) as bigint))) div $MixWeightSum"))
      .filter(col("rk") <= col("quota"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_selected"),
        sum("n_chars").as("chars_selected"),
        min("quota").as("quota"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- //
  // Sequence packing
  // ---------------------------------------------------------------- //

  private val PackBudget = 2048L // tokens per context window
  private val Packers = 16 // independent packing streams

  /** Context-window sequence packing: assign every doc to a pack of
    * ≈[[PackBudget]] whitespace tokens. Docs are dealt to [[Packers]]
    * independent packing streams by doc-id hash, ordered within a
    * stream by the same hash, and a doc belongs to the pack where its
    * running token offset starts (`(cumsum - tokens) div budget`).
    *
    * This is the offset-binning approximation of greedy first-fit:
    * truly greedy packing is inherently sequential (each decision
    * depends on the previous pack's fill), while offset binning is one
    * window function — embarrassingly parallel across streams — and
    * overfills a pack only by the tail of the one doc that straddles
    * the boundary. At 100 TB the stream count scales with the cluster
    * (the window sort is per-stream, bounded, and spill-safe), and the
    * output (pack_id, member list) feeds the tokenizer stage directly.
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        h60("cast(doc_id as string)").as("h"),
        size(split(trim(col("text")), "\\s+")).cast("bigint").as("tokens"))
      .withColumn("packer", pmod(col("h"), lit(Packers.toLong)).cast("int"))
    val w = Window.partitionBy("packer").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum("tokens").over(w))
      .withColumn("pack_id", expr(s"(cum - tokens) div $PackBudget"))
      .groupBy("packer", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tokens").as("pack_tokens"))
      .orderBy("packer", "pack_id")
  }

  private val PackLens = Seq(64L, 128L, 512L)

  /** Packing-efficiency sweep — the "choose your context length"
    * accounting a training team runs before fixing L: for each
    * candidate context length, pack the corpus with the SAME greedy
    * hash-ordered packer as [[packSequences]] (tokens capped at L;
    * the overflow column counts what truncation would drop) and
    * report padding waste packed vs one-doc-per-context, in ppm of
    * the padded token budget. Short contexts truncate long docs,
    * long contexts waste padding on short ones — this table is the
    * trade-off, computed exactly.
    *
    * The packer is concat-and-chunk ([[packSequences]]'s semantics:
    * documents concatenate within a packer stream and may SPAN context
    * boundaries), so packed waste exists only at each stream's tail —
    * contexts per packer = ceil(stream tokens / L) — which is why the
    * sweep needs only per-packer token totals, never a window pass.
    *
    * Determinism discipline: token counts, caps, ceil-divisions and
    * both waste ratios are all BIGINT arithmetic — the sweep is
    * bit-identical on any engine or partitioning.
    *
    * Scale: one per-packer aggregate over (doc, tokens) rows — never
    * the text — per candidate L; at lake scale all Ls share one scan
    * of a materialized token-count table.
    */
  def packEfficiency(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        h60("cast(doc_id as string)").as("h"),
        size(split(trim(col("text")), "\\s+")).cast("bigint").as("tokens"))
      .withColumn("packer", pmod(col("h"), lit(Packers.toLong)).cast("int"))
    val perL = PackLens.map { l =>
      base
        .withColumn("cap", least(col("tokens"), lit(l)))
        .groupBy("packer")
        .agg(
          count(lit(1)).as("p_docs"),
          sum("tokens").as("p_tokens"),
          sum("cap").as("p_capped"),
          expr(s"(sum(cap) + ${l - 1}) div $l").as("p_packs"))
        .groupBy()
        .agg(
          sum("p_docs").as("n_docs"),
          sum("p_tokens").as("total_tokens"),
          sum("p_capped").as("capped_tokens"),
          sum(col("p_tokens") - col("p_capped")).as("overflow_tokens"),
          sum("p_packs").as("n_packs"))
        .select(
          lit(l).as("context_len"),
          col("n_docs"), col("total_tokens"), col("capped_tokens"),
          col("overflow_tokens"), col("n_packs"),
          (col("n_packs") * l - col("capped_tokens")).as("waste_tokens"),
          expr(s"((n_packs * $l - capped_tokens) * 1000000) div (n_packs * $l)")
            .as("waste_ppm"),
          expr(s"((n_docs * $l - capped_tokens) * 1000000) div (n_docs * $l)")
            .as("unpacked_waste_ppm"))
    }
    perL.reduce(_ unionByName _).orderBy("context_len")
  }

  /** Shelf packing — the NO-SPANNING packer [[packSequences]] can't
    * express: SFT / contrastive training keeps every example WHOLE
    * inside its context (concat-and-chunk would split a document
    * across two sequences and corrupt both), so documents of capped
    * length ℓ shelve floor(L/ℓ) to a context and each length class
    * packs independently. That makes the whole policy CLOSED-FORM —
    * contexts(ℓ) = ceil(cnt_ℓ / floor(L/ℓ)) — one groupBy(length)
    * aggregate, zero sequential state, bit-identical on any engine or
    * partitioning, where a first-fit-decreasing packer would be an
    * inherently sequential fold no engine can reproduce exactly.
    * (Shelf waste upper-bounds FFD by < one ℓ per length class — the
    * accounting a team needs to DECIDE whether a smarter packer is
    * worth a sequential stage.)
    *
    * Same truncation semantics as [[packEfficiency]] (tokens capped at
    * L); reports shelf waste vs the one-doc-per-context naive waste,
    * both in exact ppm of the allocated token budget.
    */
  def packShelf(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(size(split(trim(col("text")), "\\s+")).cast("bigint").as("tokens"))
    val perL = PackLens.map { l =>
      base
        .withColumn("len", least(col("tokens"), lit(l)))
        .groupBy("len").agg(count(lit(1)).as("cnt"))
        .withColumn("per_ctx", expr(s"$l div len"))
        .withColumn("ctxs", expr("(cnt + per_ctx - 1) div per_ctx"))
        .groupBy()
        .agg(
          sum("cnt").as("n_docs"),
          sum("ctxs").as("n_contexts"),
          sum(expr("cnt * len")).as("capped_tokens"))
        .select(
          lit(l).as("context_len"),
          col("n_docs"), col("n_contexts"), col("capped_tokens"),
          expr(s"((n_contexts * $l - capped_tokens) * 1000000) div (n_contexts * $l)")
            .as("shelf_waste_ppm"),
          expr(s"((n_docs * $l - capped_tokens) * 1000000) div (n_docs * $l)")
            .as("naive_waste_ppm"))
    }
    perL.reduce(_ unionByName _).orderBy("context_len")
  }

  private val PadBucketWidths = Seq(5L, 10L, 20L, 50L)

  /** Padding-waste sweep for LENGTH-BUCKETED batching — the
    * dynamic-batching complement of [[packEfficiency]]: when documents
    * are NOT packed (SFT / contrastive / reranker training keeps one
    * example per sequence), every batch pads to its longest member, so
    * the lever is grouping like-length examples. Bucketing by
    * `len div W` and padding each bucket to its own max bounds
    * per-example padding by W-1 tokens; this table reports the exact
    * waste of each candidate W against the pad-everything-to-corpus-max
    * baseline, which is the measurement that picks W.
    *
    * Every strategy row is pure keyed aggregation over (bucket) —
    * padded mass per bucket is `count · max`, no per-row batch ids, no
    * rank windows (a bucket's real batches pad to at most the bucket
    * max, so bucket-level accounting upper-bounds any within-bucket
    * batching — the documented semantics). Integer arithmetic
    * end-to-end; floor-div ppm.
    *
    * Scale: one scan producing (doc, len), then per-W an O(distinct
    * buckets) aggregate — all Ws could share a materialized
    * token-count table at lake scale like packEfficiency's Ls.
    */
  def batchPadding(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(size(split(trim(col("text")), "\\s+")).cast("bigint").as("len"))
    val global = base.groupBy()
      .agg(count(lit(1)).as("n_docs"), sum("len").as("tokens"), max("len").as("mx"))
      .select(lit("global").as("strategy"), col("n_docs"), col("tokens"),
        (col("n_docs") * col("mx")).as("padded"))
    val perW = PadBucketWidths.map { wd =>
      base.withColumn("bucket", expr(s"len div $wd"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("b_docs"), sum("len").as("b_tokens"), max("len").as("b_mx"))
        .groupBy()
        .agg(
          sum("b_docs").as("n_docs"),
          sum("b_tokens").as("tokens"),
          sum(col("b_docs") * col("b_mx")).as("padded"))
        .select(lit(s"bucket_w$wd").as("strategy"),
          col("n_docs"), col("tokens"), col("padded"))
    }
    (global +: perW).reduce(_ unionByName _)
      .withColumn("waste_tokens", col("padded") - col("tokens"))
      .withColumn("waste_ppm", expr("((padded - tokens) * 1000000) div padded"))
      .orderBy("strategy")
  }

  // ---------------------------------------------------------------- //
  // Temperature-scaled mixture sampling
  // ---------------------------------------------------------------- //

  private val TempBudget = 2000L // docs in the temperature-mixed corpus

  /** Temperature-scaled source mixing at T = 2: target_s ∝ √c_s, the
    * standard dampening that upsamples rare sources relative to their
    * raw share (multilingual/multi-source training mixes). The sample
    * itself is the same hash-gate predicate as [[stratifiedSample]] —
    * keep iff `h(doc_id) mod 1e6 < (1e6·target_s) div c_s` — so
    * selection pushes to the scan and reproduces exactly on retry.
    *
    * Exactness discipline: the weight is `floor(sqrt(c_s))` — sqrt is
    * correctly rounded per IEEE-754 on an exactly-representable integer,
    * so the floor is bit-identical cross-engine — and every rate/quota
    * step after it is integer arithmetic. No float thresholds anywhere
    * near the keep decision.
    *
    * Scale: per-source counts are one map-side-combined aggregate; the
    * 20-row rate table broadcasts; the gate is a pure row predicate.
    * One corpus pass, no corpus shuffle — same shape at 100 TB.
    */
  def mixTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val rates = docs.groupBy("source").agg(count(lit(1)).as("c"))
      .withColumn("isq", expr("cast(floor(sqrt(cast(c as double))) as bigint)"))
      // Σ√c over all 20 sources — a 20-row unpartitioned window, not a
      // second aggregate-and-join pass
      .withColumn("wsum", sum("isq").over(Window.partitionBy(lit(0))))
      .withColumn("target", expr(s"($TempBudget * isq) div wsum"))
      .withColumn("thr", least(lit(1000000L), expr("(1000000 * target) div c")))
    docs.join(broadcast(rates), "source")
      .withColumn("sel", h60("cast(doc_id as string)") % 1000000L < col("thr"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        min("target").as("target"),
        min("thr").as("thr_ppm"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("sel"), col("doc_id"))).as("selected_id_sum"))
      .orderBy("source")
  }

  /** One multiplicative-weights step of DoReMi-style domain
    * reweighting (Xie et al. 2023, "Doremi: Optimizing Data Mixtures
    * Speeds Up Language Model Pretraining"): per-source EXCESS loss —
    * here the token-weighted cross-entropy under the corpus unigram
    * model, minus the easiest source's — drives w'_s ∝ exp(η·excess_s)
    * from uniform, renormalized to exact ppm. The census a mixing run
    * reads to shift budget toward the domains the reference model
    * finds hardest, next to [[mixTemperature]]'s size-based and
    * [[graft.operators.TextOps.mixKl]]'s divergence-based weights.
    *
    * Float discipline: the model surprise ln(N) − ln(cnt_c) is
    * quantized ONCE to integer micro-nats (mixKl's term), the
    * cross-entropy is an exact BIGINT fold (Σ cnt_s·ln_micro div n_s;
    * bound: n·2·10⁷ inside Long to ~4·10¹¹ tokens), and exp — the one
    * new transcendental — is quantized ONCE per source to integer
    * micro-units after the step-size clamp (η = 1, excess capped at
    * 10 nats, DoReMi's clipping analog; exp(10)·10⁶ ≈ 2.2·10¹⁰ keeps
    * the renormalization products inside Long). Truncating divisions
    * on nonnegative operands only.
    *
    * Scale: the mixKl one-pass shape — one tokenize+aggregate into the
    * localCheckpointed per-source model, the corpus model derived from
    * it, one broadcast model join; the update itself runs on the
    * S-row census via unpartitioned windows over a POST-AGGREGATE
    * frame (constant-size, the rank-kernel shape).
    */
  def mixDoremi(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
    val perSrc = toks.groupBy("source", "t").agg(count(lit(1)).as("cnt_s"))
      .transform(graft.Ckpt.pin("Curation.mixDoremi.perSrc"))
    val n = perSrc.agg(coalesce(sum("cnt_s"), lit(0L))).first().getLong(0)
    val corpus = perSrc.groupBy("t").agg(sum("cnt_s").as("cnt_c"))
    val h = perSrc.join(broadcast(corpus), "t")
      .withColumn("ln_micro", expr(
        s"cast(round((ln(cast(${n}L as double)) - ln(cast(cnt_c as double))) * 1000000) as bigint)"))
      .groupBy("source")
      .agg(sum("cnt_s").as("n_tokens"),
        expr("sum(cnt_s * ln_micro) div sum(cnt_s)").as("h_micro_nats"))
    val w = Window.partitionBy(lit(0))
    h.withColumn("excess_micro_nats",
        least(col("h_micro_nats") - min("h_micro_nats").over(w), lit(10000000L)))
      .withColumn("e_weight", expr(
        "cast(round(exp(cast(excess_micro_nats as double) / 1000000) * 1000000) as bigint)"))
      .withColumn("weight_ppm", expr("e_weight * 1000000 div sum(e_weight) over ()"))
      .select("source", "n_tokens", "h_micro_nats", "excess_micro_nats", "weight_ppm")
      .orderBy("source")
  }

  /** Epoch-weighted amplification: repeat each document `epochs(source)`
    * times (here 1–3, derived deterministically from the source id) —
    * the multi-epoch sampling a training mix applies to high-value
    * sources. The amplification is a generator explode
    * (`sequence(1, epochs)`), so rows multiply map-side inside the
    * scan stage and flow straight into a map-side-combined aggregate;
    * nothing is collected, joined or shuffled at corpus grain. The
    * epoch-weighted id sum proves per-epoch rows really materialized
    * (a metadata-only multiply of aggregates could not produce it).
    *
    * Scale: at 100 TB the same plan streams — amplified rows exist
    * only inside the pipeline between explode and the consumer (an
    * aggregate here; a shuffled-write in production), never at rest.
    */
  def mixEpochs(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("epochs", expr("cast(substr(source, 4) as int) % 3 + 1"))
      .select(col("source"), col("epochs"), col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        explode(expr("sequence(1, epochs)")).as("epoch"))
      .groupBy("source")
      .agg(
        max("epochs").as("epochs"),
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("amp_rows"),
        sum(col("n_tokens").cast("long")).as("amp_tokens"),
        sum(col("doc_id") * col("epoch")).as("epoch_weighted_id_sum"))
      .orderBy("source")
  }

  private val UnimaxEpochCap = 2L // ≤ 2 epochs of any source (UniMax N)

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): distribute a token budget B (= one corpus epoch
    * here) as UNIFORMLY as possible across sources, but never take
    * more than [[UnimaxEpochCap]] epochs of any source — the mixing
    * rule that fixes temperature sampling's over-duplication of small
    * sources. The paper's sequential waterfill has the exact closed
    * form this query computes: sort sources by cap ascending, find the
    * first rank r* whose cap exceeds the even share of what remains
    * (`cap_r·(S−r+1) > B − prefix_{r−1}`, an exact integer
    * comparison), give every source below r* its full cap, and every
    * source at or above r* the flat share
    * `(B − prefix_{r*−1}) div (S − r* + 1)` (caps ascending ⟹ the
    * share clears every remaining cap; the ≤ S−1-token div remainder
    * stays unallocated). epochs_ppm splits the scale as
    * `(a div n)·10⁶ + (a mod n)·10⁶ div n`, keeping products inside
    * int64 to ~9·10¹² tokens per source.
    *
    * Scale: ONE corpus tokenize into the S-row per-source model frame
    * (map-side combined, localCheckpointed); the waterfill runs on
    * that frame with unpartitioned windows (S ≤ thousands — the
    * mixTemperature shape); r* and the share are model-frame scalars
    * collected as plan literals. The corpus itself never re-scans.
    */
  def mixUnimax(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tk"))
      .groupBy("source").agg(sum("tk").as("n_tokens"))
      .withColumn("cap_tokens", col("n_tokens") * UnimaxEpochCap)
      // model frame: one row per source
      .transform(graft.Ckpt.pin("Curation.mixUnimax.sizes"))
    val budget = sizes.agg(coalesce(sum("n_tokens"), lit(0L))).first().getLong(0)
    val nSrc = sizes.count()
    val w = Window.orderBy(col("cap_tokens"), col("source"))
    val ranked = sizes
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("prefix", coalesce(sum("cap_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cross = ranked
      .filter(col("cap_tokens") * (lit(nSrc) - col("rk") + 1) >
        lit(budget) - col("prefix"))
      .orderBy("rk").limit(1)
      .select(col("rk"),
        expr(s"(${budget}L - prefix) div (${nSrc}L - rk + 1)").as("share"))
      .collect()
    // cap = 2·size and B = Σsize ⟹ Σcap = 2B > B, so a crossing always
    // exists; the guard covers a budget ≥ Σcap re-parameterization
    val (rStar, share) =
      if (cross.isEmpty) (nSrc + 1, 0L)
      else (cross(0).getLong(0), cross(0).getLong(1))
    ranked
      .withColumn("alloc_tokens",
        when(col("rk") < rStar, col("cap_tokens")).otherwise(lit(share)))
      .withColumn("capped", when(col("rk") < rStar, 1L).otherwise(0L))
      .withColumn("epochs_ppm", expr(
        """(alloc_tokens div n_tokens) * 1000000
          | + ((alloc_tokens % n_tokens) * 1000000) div n_tokens""".stripMargin))
      .select("source", "n_tokens", "cap_tokens", "alloc_tokens", "capped",
        "epochs_ppm")
      .orderBy("source")
  }

  // ---------------------------------------------------------------- //
  // Train / validation / test split
  // ---------------------------------------------------------------- //

  private val TemporalBucketMicros = 3600000000L // 1 h rank-kernel grain

  /** Temporal 80/20 holdout on the event stream — the
    * forecasting-correct split [[splitTrain]]'s hash split cannot give
    * you: everything after the exact p80 event time is test, so the
    * model never trains on the future. The cutoff is a DATA-DERIVED
    * exact order statistic (the [[graft.operators.Ranks.valueAtRank]]
    * kernel at rank ⌈0.8n⌉ over event micros — no global sort, no
    * hard-coded date that rots as the fixture grows).
    *
    * The output carries the diagnostic every temporal split needs next
    * to its counts: PER-ENTITY OVERLAP — users active on both sides of
    * the cut (inevitable in panel data, invisible in row counts) are
    * exactly where entity-level memorization can still leak across a
    * clean time boundary; overlap_ppm is the number to report beside
    * any "no temporal leakage" claim. Computed distinct-buffer-free:
    * one (type, user) aggregate with two boolean maxes, then a keyed
    * rollup.
    */
  def temporalSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), expr("unix_micros(ts)").as("tm"))
    val cutRank = ev.agg(count(lit(1)).as("n"))
      .select(expr("(4 * n + 4) div 5").as("cut_rk"))
    val thr = Ranks.valueAtRank(ev, "tm", cutRank, TemporalBucketMicros)
    val tagged = ev.crossJoin(broadcast(thr))
      .withColumn("is_train", col("tm") <= col("thr"))
    val counts = tagged.groupBy("event_type").agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"))
    val users = tagged.groupBy("event_type", "user_id").agg(
        max(when(col("is_train"), 1).otherwise(0)).as("in_tr"),
        max(when(!col("is_train"), 1).otherwise(0)).as("in_te"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_users"),
        sum(when(col("in_tr") === 1 && col("in_te") === 1, 1L).otherwise(0L))
          .as("n_users_overlap"))
    counts.join(users, "event_type")
      .withColumn("overlap_ppm", expr("n_users_overlap * 1000000 div n_users"))
      .orderBy("event_type")
  }

  private val KFolds = 5

  /** Deterministic k-fold cross-validation assignment (k = 5) by
    * document-id hash: fold = h(doc_id) mod k, and for each held-out
    * fold the training set is everything else. The census emits, per
    * test fold, both sides' doc/token mass and id checksums — the
    * invariants a CV harness audits before trusting fold metrics:
    * n_test + n_train = N and test_id_sum + train_id_sum = Σid for
    * every fold (partition, no overlap, no loss), with the hash making
    * assignment reproducible across engines, retries and re-shards
    * (the [[splitTrain]] property, k-way).
    *
    * Scale: ONE corpus scan into the k-row fold census
    * (localCheckpointed); the k train-side complements are the
    * totals-minus-fold arithmetic on that model frame (a 1-row totals
    * crossJoin attach — allowlisted), never k corpus scans. A real CV
    * run materializes fold predicates as scan filters exactly like
    * [[splitTrain]]'s buckets.
    */
  def splitKfold(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .withColumn("fold", (h60("cast(doc_id as string)") % KFolds).cast("int"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("bigint")).as("tokens"),
        sum("doc_id").as("id_sum"))
      // k-row model frame, read twice below
      .transform(graft.Ckpt.pin("Curation.splitKfold.per"))
    val tot = per.agg(sum("n_docs").as("t_docs"), sum("tokens").as("t_tokens"),
      sum("id_sum").as("t_ids"))
    per.crossJoin(broadcast(tot))
      .select(col("fold").as("test_fold"),
        col("n_docs").as("n_test"),
        (col("t_docs") - col("n_docs")).as("n_train"),
        col("tokens").as("test_tokens"),
        (col("t_tokens") - col("tokens")).as("train_tokens"),
        col("id_sum").as("test_id_sum"),
        (col("t_ids") - col("id_sum")).as("train_id_sum"))
      .orderBy("test_fold")
  }

  /** Deterministic 98/1/1 train/val/test assignment by document-id
    * hash: `h(doc_id) mod 100` → <98 train, 98 val, 99 test. The same
    * doc lands in the same split on every engine, retry and corpus
    * re-shard — the property a held-out set exists to protect (a
    * `rand()` split silently leaks documents across splits between
    * runs). Output: per-split doc/token/char mass plus an id checksum.
    *
    * Scale: a pure projection predicate plus one 3-row aggregate; the
    * assignment pushes to the scan like [[stratifiedSample]]'s gate.
    */
  def splitTrain(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("split",
        when(h60("cast(doc_id as string)") % 100L < 98L, lit("train"))
          .when(h60("cast(doc_id as string)") % 100L === 98L, lit("val"))
          .otherwise(lit("test")))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("bigint")).as("tokens"),
        sum("n_chars").as("chars"),
        sum("doc_id").as("id_sum"))
      .orderBy("split")

  /** 80/10/10 split bucket of a hashed key — deliberately coarser than
    * [[splitTrain]]'s 98/1/1 so held-out mass is non-trivial at every
    * test scale (the leakage contrast needs clusters that CAN straddle
    * a 10% bucket).
    */
  private def splitOf(e: String): Column =
    when(h60(s"cast($e as string)") % 10L < 8L, lit("train"))
      .when(h60(s"cast($e as string)") % 10L === 8L, lit("val"))
      .otherwise(lit("test"))

  private def splitOfSql(e: String): String =
    s"""CASE WHEN ${h60Sql(s"$e::VARCHAR")} % 10 < 8 THEN 'train'
       |  WHEN ${h60Sql(s"$e::VARCHAR")} % 10 = 8 THEN 'val'
       |  ELSE 'test' END""".stripMargin

  /** Leakage-safe train/val/test split: hash-assign each document's
    * near-dup CLUSTER (representative = min member id, unclustered
    * docs represent themselves), so every member of a near-dup cluster
    * lands in the SAME split. A per-document hash split silently
    * distributes near-duplicates of a training document into the
    * held-out sets — the classic evaluation-contamination failure a
    * dedup pipeline's split step exists to prevent (the within-corpus
    * complement of [[contamination]]'s train-vs-benchmark gate).
    *
    * Output: per (method, split) census with `n_leaky_docs` = docs
    * sharing a near-dup cluster with a doc in ANOTHER split under that
    * method — structurally 0 for the cluster-keyed assignment, the
    * non-zero naive column is the measured contrast.
    *
    * Scale: consumes the fingerprint-keyed on-disk cluster model
    * ([[Dedup.ensureClusterModel]]) via one doc_id equi-join — the
    * artifact-join apply shape, never a driver array; censuses are
    * keyed aggregates on (rep, split). Assignment stays a pure
    * projection of the hash, so it is retry-stable and engine-portable
    * like every sampling gate here.
    */
  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Dedup.ensureClusterModel(spark, sfDir)
    val members = spark.read.parquet(s"$dir/members")
      .select(col("doc_id"), col("keep_id"))
    val assigned = Tables.documents(spark, sfDir).select("doc_id")
      .join(members, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("keep_id"), col("doc_id")))
      .withColumn("cl_split", splitOf("rep"))
      .withColumn("nv_split", splitOf("doc_id"))
    def census(splitCol: String, method: String): DataFrame = {
      val perCluster = assigned
        .groupBy(col("rep"), col(splitCol).as("split"))
        .agg(count(lit(1)).as("n"), sum("doc_id").as("ids"))
      val spread = perCluster.groupBy("rep")
        .agg(count(lit(1)).as("nsp"))
      perCluster.join(spread, Seq("rep"))
        .groupBy("split")
        .agg(
          sum("n").as("n_docs"),
          sum("ids").as("id_sum"),
          sum(when(col("nsp") > 1L, col("n")).otherwise(0L)).as("n_leaky_docs"))
        .select(lit(method).as("method"), col("split"),
          col("n_docs"), col("id_sum"), col("n_leaky_docs"))
    }
    census("cl_split", "cluster").unionByName(census("nv_split", "naive"))
      .orderBy("method", "split")
  }

  // ---------------------------------------------------------------- //
  // Token-budget selection (global prefix sum)
  // ---------------------------------------------------------------- //

  private val TokenBudget = 30000L // whitespace tokens in the selected set
  private val QBucketWidth = 20000L // quality-ppm per range bucket

  /** Quality-ordered corpus selection to a global token budget: rank
    * every doc by a quality score (unique-token ratio in exact ppm),
    * take docs in descending order until the cumulative token count
    * reaches [[TokenBudget]] — "keep the best N tokens", the final cut
    * of a curation pipeline.
    *
    * A literal `sum() OVER (ORDER BY q DESC)` is a single-partition
    * window — the classic 100 TB scale-killer. This is the two-phase
    * distributed prefix sum instead: (1) coarsen q into ~50 range
    * buckets (a monotone function of q, so bucket order refines to
    * global order); per-bucket token totals are one tiny aggregate and
    * the exclusive running offset over those ~50 rows is the only
    * unpartitioned window — constant-size regardless of corpus scale.
    * (2) the per-doc running sum is a window PARTITIONED by bucket
    * (parallel, spill-safe), plus the broadcast bucket offset. Same
    * selected set as the global window, no global sort, no single-
    * partition shuffle. DuckDB's oracle runs the single-window
    * formulation — the equivalence IS the correctness claim.
    */
  def tokenBudgetSelect(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(
        col("doc_id"), col("source"),
        size(col("toks")).cast("bigint").as("tokens"),
        expr("(1000000 * cast(size(array_distinct(toks)) as bigint)) div size(toks)").as("q"))
      .withColumn("bucket", expr(s"q div $QBucketWidth"))
    val offsets = docs.groupBy("bucket").agg(sum("tokens").as("btokens"))
      .withColumn("offset",
        coalesce(
          sum("btokens").over(Window.partitionBy(lit(0))
            .orderBy(col("bucket").desc)
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bucket", "offset")
    val w = Window.partitionBy("bucket")
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(offsets), "bucket")
      .withColumn("cum", col("offset") + sum("tokens").over(w))
      .filter(col("cum") <= TokenBudget)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_selected"),
        sum("tokens").as("tokens_selected"),
        min("q").as("min_q"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- //
  // Policy-driven filtering
  // ---------------------------------------------------------------- //

  /** Config-as-data filtering: the curation policy (minimum length,
    * allowed languages, sampling rate) lives in a TABLE joined against
    * the corpus, not in code — the shape that lets a 100 TB pipeline
    * change policy without redeploying, audit what policy produced a
    * snapshot, and A/B two policies as two joins. Four policy classes
    * keyed by source id mod 4; the policy side broadcasts (it is
    * config-sized by definition) and every predicate evaluates
    * row-local after the join — one corpus pass, no corpus shuffle
    * before the final rollup.
    */
  def policyFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val policy = Seq(
      (0, 64, Seq("en", "de", "es", "fr", "zh"), 1000000L),
      (1, 96, Seq("en", "de", "es", "fr"), 800000L),
      (2, 128, Seq("en", "de"), 600000L),
      (3, 160, Seq("en"), 400000L))
      .toDF("pclass", "min_tokens", "langs", "keep_ppm")
    Tables.documents(spark, sfDir)
      .withColumn("pclass", expr("cast(cast(substr(source, 4) as int) % 4 as int)"))
      .withColumn("tokens", size(split(lower(trim(col("text"))), "\\s+")).cast("bigint"))
      .join(broadcast(policy), "pclass")
      .withColumn("kept",
        col("tokens") >= col("min_tokens") &&
          array_contains(col("langs"), col("lang")) &&
          h60("cast(doc_id as string)") % 1000000L < col("keep_ppm"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("tokens"))).as("kept_tokens"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- //
  // Outlier detection (exact integer z-score)
  // ---------------------------------------------------------------- //

  /** Numeric outlier flags (|x − μ| > 3σ per event type) computed in
    * EXACT integer arithmetic: values quantize to micros, and the
    * z-test cross-multiplies to `(n·x − S1)² > 9·(n·S2 − S1²)` over
    * decimal(38) — no float mean, no float variance, no ulp drift, so
    * the flag set is bit-identical cross-engine and retry-stable (the
    * same discipline as [[quantizeEmbeddings]], applied to second
    * moments). This is the data-cleaning gate a feature pipeline runs
    * before training on telemetry-like columns.
    *
    * Scale: one map-side-combined moment aggregate (4 numbers per
    * group), broadcast back; flagging is a row-local predicate. The
    * corpus never shuffles.
    *
    * Magnitude bound: the cross-multiplied test squares `n·v − S1`, so
    * exactness requires `n·|v|max + |S1| < 10^19` (square < decimal(38)).
    * Beyond it Spark (non-ANSI) NULLs the intermediate — which would
    * silently flag nothing — while the DuckDB HUGEINT twin errors. The
    * guard below turns that divergent-and-silent mode into the same
    * loud failure on both engines: it raises as soon as a group's
    * `n·|v|max` (a broadcast-side constant per group) nears the bound.
    */
  def outlierZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        expr("cast(round(value * 1000000) as decimal(20,0))").as("v"))
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).cast("decimal(20,0)").as("n"),
      sum("v").as("s1"),
      sum(expr("v * v")).as("s2"),
      max(abs(col("v"))).as("vmax"))
    // double-precision guard with margin (exact ≤ 2^53 and we compare
    // against 9e18 < 10^19): loud, not a silent NULL→false
    val guarded = stats.withColumn("n", expr(
      """CASE WHEN cast(n as double) * cast(vmax as double)
        |          + abs(cast(s1 as double)) >= 9e18
        |     THEN cast(raise_error(concat('outlierZscore: n*|v| for group ',
        |          event_type, ' exceeds the decimal(38) exact-z-test bound;',
        |          ' rescale the quantization')) as decimal(20,0))
        |     ELSE n END""".stripMargin))
    ev.join(broadcast(guarded), "event_type")
      .withColumn("is_out",
        expr("(n*v - s1)*(n*v - s1) > 9*(n*s2 - s1*s1)"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("is_out"), col("event_id"))).as("outlier_id_sum"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- //
  // k-anonymity audit
  // ---------------------------------------------------------------- //

  private val AnonK = 10L

  /** k-anonymity audit over a generalization ladder (Sweeney's model:
    * a row is at risk when its quasi-identifier combination matches
    * fewer than k rows). Three QI levels over customer — (nation,
    * segment) → generalized (region, segment) → fully generalized
    * (segment) — report group counts, groups below k, and rows at
    * risk per level; generalizing must monotonically shrink risk,
    * which is the release-or-generalize loop of a privacy review.
    *
    * Scale: the corpus is shuffled ONCE, into the finest-level group
    * table (|nations|·|segments| rows — model-sized); coarser-level
    * group sizes are window sums OVER that tiny table (no second
    * corpus pass, no cache), and the region lookup is a broadcast of
    * the 25-row nation dim. At 100 TB the at-risk rows
    * themselves would be suppressed by broadcasting the below-k QI
    * combos back against the scan — the audit here counts them from
    * the group table alone, no second corpus pass.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(spark, sfDir)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("c_nationkey"), col("c_mktsegment"), col("n"))
    // coarser-level group sizes as window sums over the finest group
    // table — the corpus itself shuffles only into `base`
    val aug = base
      .withColumn("gn2", sum("n").over(
        Window.partitionBy("n_regionkey", "c_mktsegment")))
      .withColumn("gn3", sum("n").over(Window.partitionBy("c_mktsegment")))
    val k = lit(AnonK)
    val one = aug.agg(
      count(lit(1)).as("g1"),
      sum(when(col("n") < k, 1L).otherwise(0L)).as("b1"),
      sum(when(col("n") < k, col("n")).otherwise(0L)).as("r1"),
      min("n").as("m1"),
      countDistinct(struct(col("n_regionkey"), col("c_mktsegment"))).as("g2"),
      countDistinct(when(col("gn2") < k,
        struct(col("n_regionkey"), col("c_mktsegment")))).as("b2"),
      sum(when(col("gn2") < k, col("n")).otherwise(0L)).as("r2"),
      min("gn2").as("m2"),
      countDistinct(col("c_mktsegment")).as("g3"),
      countDistinct(when(col("gn3") < k, col("c_mktsegment"))).as("b3"),
      sum(when(col("gn3") < k, col("n")).otherwise(0L)).as("r3"),
      min("gn3").as("m3"))
    one.select(expr(
      """stack(3,
        | 'l1_nation_segment', g1, b1, r1, m1,
        | 'l2_region_segment', g2, b2, r2, m2,
        | 'l3_segment',        g3, b3, r3, m3)
        | AS (level, n_groups, groups_below_k, rows_at_risk, min_group)""".stripMargin))
      .orderBy("level")
  }

  private val DiversityL = 3L

  /** l-diversity audit over [[kAnonymity]]'s generalization ladder
    * (Machanavajjhala et al. 2006, "l-Diversity: Privacy Beyond
    * k-Anonymity"): k-anonymity stops counting group SIZE, but a
    * group of 500 rows that all share one sensitive value still leaks
    * it — distinct l-diversity requires ≥ l distinct sensitive values
    * per quasi-identifier group. Sensitive attribute: the account
    * balance band, derived in exact integer cents — round(bal·100) is
    * quantized ONCE (the stored doubles carry 2-decimal values, so the
    * round lands the same integer on both engines), then
    * (cents + 100000) div 100000, the shift keeping the truncating
    * division on nonnegative operands. Per QI level: group count,
    * groups below l, rows in those groups, and the minimum diversity.
    *
    * Scale: the corpus shuffles ONCE into the finest (nation,
    * segment, band) group table (model-sized: ≤ 25·5·11 rows);
    * every coarser level is an aggregate OVER that tiny frame — no
    * second corpus pass, and the nation dim joins broadcast. The
    * coarsening monotonicity the spec pins (min diversity can only
    * grow as groups merge) is the release-or-generalize loop's
    * termination argument.
    */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.customer(spark, sfDir)
      .withColumn("band",
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000"))
      .groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("c_nationkey"), col("c_mktsegment"),
        col("band"), col("n"))
      // model-sized; read once per ladder level
      .transform(graft.Ckpt.pin("Curation.lDiversity.base"))
    val l = lit(DiversityL)
    def level(name: String, keys: Seq[String]): DataFrame =
      base.groupBy(keys.map(col): _*)
        .agg(countDistinct("band").as("div"), sum("n").as("rows"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("div") < l, 1L).otherwise(0L)).as("groups_below_l"),
          sum(when(col("div") < l, col("rows")).otherwise(0L)).as("rows_at_risk"),
          min("div").as("min_diversity"))
        .withColumn("level", lit(name))
        .select("level", "n_groups", "groups_below_l", "rows_at_risk",
          "min_diversity")
    level("l1_nation_segment", Seq("c_nationkey", "c_mktsegment"))
      .unionByName(level("l2_region_segment", Seq("n_regionkey", "c_mktsegment")))
      .unionByName(level("l3_segment", Seq("c_mktsegment")))
      .orderBy("level")
  }

  private val TClosenessPpm = 200000L // t = 0.2 in exact ppm

  /** t-closeness audit over the [[kAnonymity]] generalization ladder
    * (Li et al. 2007, "t-Closeness: Privacy Beyond k-Anonymity and
    * l-Diversity"): [[lDiversity]] counts DISTINCT sensitive values,
    * but a group whose value distribution is merely skewed toward one
    * band still leaks — t-closeness bounds the Earth Mover's Distance
    * between each QI group's sensitive distribution and the corpus
    * distribution. For an ORDERED attribute (the same balance band as
    * l-diversity) EMD has the closed form
    * `Σ_j |Σ_{b≤j} (p_b − q_b)| / (m − 1)` over the m-band universe.
    *
    * Float discipline: both distributions are quantized ONCE to
    * integer ppm at the band grain — p_ppm = cnt·10⁶ div n_g,
    * q_ppm = gcnt·10⁶ div N — then the cumulative differences, their
    * absolute sum, and the final div (m−1) are exact BIGINT folds with
    * truncating division on nonnegative operands only. The per-term
    * truncation deviates from the real EMD by < m·(m+1) ppm ≈ 10⁻⁴ —
    * bit-identical cross-engine, which is what the hash gate needs.
    * Long bound: cnt·10⁶ ≤ N·10⁶ keeps every product inside int64 to
    * N ≈ 9·10¹² rows, far past any per-table row count at 100 TB.
    *
    * Scale: the corpus shuffles ONCE into the finest (nation, segment,
    * band) model frame (≤ 25·5·12 rows, localCheckpointed); every
    * ladder level is an aggregate OVER that frame, the band universe
    * attaches by broadcast cross join (≤ 12 rows), and the per-group
    * cumulative runs in a window partitioned by the QI keys. N and m
    * are model-frame scalars collected as plan literals (the
    * jsdSources discipline — never a second corpus pass).
    */
  def tCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.customer(spark, sfDir)
      .withColumn("band",
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000"))
      .groupBy("c_nationkey", "c_mktsegment", "band")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"), col("c_nationkey"), col("c_mktsegment"),
        col("band"), col("n"))
      // model-sized; read once per ladder level
      .transform(graft.Ckpt.pin("Curation.tCloseness.base"))
    // the m-band reference distribution: ONE model-frame collect (≤ 12
    // rows) yields the universe, N, and m together — q_ppm quantized
    // with the same Long truncating division the oracle uses
    val uniRows = base.groupBy("band").agg(sum("n").as("gcnt"))
      .orderBy("band").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = uniRows.map(_._2).sum
    val mMinus1 = math.max(uniRows.length - 1L, 1L)
    import spark.implicits._
    val universe = uniRows.toSeq
      .map { case (band, gcnt) => (band, gcnt * 1000000L / total) }
      .toDF("band", "q_ppm")
    def level(name: String, keys: Seq[String]): DataFrame = {
      val g = base.groupBy((keys :+ "band").map(col): _*).agg(sum("n").as("cnt"))
      val tot = g.groupBy(keys.map(col): _*).agg(sum("cnt").as("ng"))
      val emd = tot.crossJoin(broadcast(universe))
        .join(g, keys :+ "band", "left")
        .na.fill(0L, Seq("cnt"))
        .withColumn("d_ppm", expr("cnt * 1000000 div ng") - col("q_ppm"))
        .withColumn("cum", sum("d_ppm").over(
          Window.partitionBy(keys.map(col): _*).orderBy("band")))
        .groupBy(keys.map(col): _*)
        .agg(sum(abs(col("cum"))).as("sabs"))
        .select(expr(s"sabs div ${mMinus1}L").as("emd_ppm"))
      emd.agg(count(lit(1)).as("n_groups"),
          sum(when(col("emd_ppm") > TClosenessPpm, 1L).otherwise(0L))
            .as("groups_above_t"),
          max("emd_ppm").as("max_emd_ppm"),
          expr("sum(emd_ppm) div count(1)").as("mean_emd_ppm"))
        .withColumn("level", lit(name))
        .select("level", "n_groups", "groups_above_t", "max_emd_ppm",
          "mean_emd_ppm")
    }
    level("l1_nation_segment", Seq("c_nationkey", "c_mktsegment"))
      .unionByName(level("l2_region_segment", Seq("n_regionkey", "c_mktsegment")))
      .unionByName(level("l3_segment", Seq("c_mktsegment")))
      .orderBy("level")
  }

  // ---------------------------------------------------------------- //
  // Dynamic partition overwrite (backfill)
  // ---------------------------------------------------------------- //

  /** Stage the day-partitioned events table and dynamically backfill
    * its earliest day with revised values (value doubled). Returns
    * (tableDir, revisedDay). Idempotent via a staging sentinel.
    */
  private[graft] def backfillDirs(spark: SparkSession, sfDir: String): (String, String) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/events.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/backfill_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    val dayFile = new Path(s"$dir/_REVISED_DAY")
    if (!fs.exists(dayFile)) {
      fs.delete(new Path(dir), true)
      val ev = Tables.events(spark, sfDir)
        .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      // one output file per day partition: repartition on the
      // partition column so the write doesn't fan 32 tasks × N days
      ev.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$dir/t")
      val revisedDay = ev.agg(min("day")).head().getString(0)
      backfillDay(spark, sfDir, s"$dir/t", revisedDay)
      val out = fs.create(dayFile)
      out.write(revisedDay.getBytes("UTF-8")); out.close()
    }
    val in = fs.open(dayFile)
    val revised = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    in.close()
    (s"$dir/t", revised)
  }

  /** The backfill job itself: rewrite ONE day's slice (values doubled)
    * under `partitionOverwriteMode=dynamic` — only partitions present
    * in the incoming frame are replaced; every other day's files are
    * untouched (spec-asserted by file listing).
    */
  private[graft] def backfillDay(
      spark: SparkSession, sfDir: String, table: String, day: String): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "dynamic")
      Tables.events(spark, sfDir)
        .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
        .filter(col("day") === day)
        .withColumn("value", col("value") * 2)
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(table)
    } finally spark.conf.set(key, saved)
  }

  /** Backfill under dynamic partition overwrite — the idempotent
    * reprocessing primitive of a partitioned lake: a corrected
    * pipeline run replaces exactly the partitions it recomputed
    * (`INSERT OVERWRITE ... PARTITION` semantics), never the table.
    * The audit aggregate proves the revised day carries the doubled
    * values while every other day still matches the base corpus —
    * that second half is the invariant static overwrite would destroy
    * (mode("overwrite") without dynamic replaces the WHOLE table).
    *
    * Scale: partition overwrite is a metadata swap per partition —
    * cost ∝ data of the recomputed days only; the repartition-on-
    * partition-column write keeps file counts = partition counts
    * instead of tasks × partitions. Re-running the backfill is
    * byte-idempotent (spec-asserted), which is what makes scheduled
    * reprocessing safe.
    */
  def partitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val (table, revisedDay) = backfillDirs(spark, sfDir)
    spark.read.parquet(table)
      .withColumn("day", col("day").cast("string"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .withColumn("revised", col("day") === revisedDay)
      .orderBy("day")
  }

  // ---------------------------------------------------------------- //
  // Data-quality expectations
  // ---------------------------------------------------------------- //

  /** Declarative data-quality expectation suite (the Deequ/dbt-test
    * pattern): ten checks — uniqueness, referential integrity, value
    * domains, null rates, NaN guards, derived-column consistency —
    * evaluated across five tables, emitted one row per check with its
    * violation count and pass flag. This is the admission gate a lake
    * runs before a corpus snapshot is released to training.
    *
    * Scale: every non-FK check is a conditional sum inside ONE
    * map-side-combined aggregate pass per table (five corpus scans
    * total, no shuffle beyond the 1-row partials); the two FK checks
    * are left-anti joins that shuffle only the key columns and degrade
    * gracefully under AQE. The 1-row aggregate frames are assembled
    * with cross joins (each side is a scalar — the decorrelated-scalar
    * pattern used throughout [[Analytics]]) and unpivoted with `stack`.
    */
  def dqExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    def viol(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))
    val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val ordersStats = o.agg(
      count(lit(1)).as("o_total"),
      countDistinct(col("o_orderkey")).as("o_distinct"),
      viol(col("o_totalprice").isNull || col("o_totalprice") <= 0).as("o_price_viol"),
      viol(col("o_orderdate").isNull).as("o_date_viol"))
    val custStats = c.agg(
      count(lit(1)).as("c_total"),
      viol(col("c_acctbal").isNull).as("c_bal_viol"),
      viol(!col("c_mktsegment").isin(segments: _*) || col("c_mktsegment").isNull)
        .as("c_seg_viol"))
    val liStats = l.agg(
      count(lit(1)).as("l_total"),
      viol(col("l_quantity").isNull || col("l_quantity") < 1 || col("l_quantity") > 50)
        .as("l_qty_viol"))
    val docStats = Tables.documents(spark, sfDir).agg(
      count(lit(1)).as("d_total"),
      viol(col("n_chars") =!= length(col("text"))).as("d_len_viol"))
    val evStats = Tables.events(spark, sfDir).agg(
      count(lit(1)).as("e_total"),
      viol(col("value").isNull || isnan(col("value"))).as("e_val_viol"))
    val fkOrders = o.select("o_custkey")
      .join(c.select("c_custkey"), col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("o_fk_viol"))
    val fkLineitem = l.select("l_orderkey")
      .join(o.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("l_fk_viol"))
    ordersStats.crossJoin(custStats).crossJoin(liStats).crossJoin(docStats)
      .crossJoin(evStats).crossJoin(fkOrders).crossJoin(fkLineitem)
      .select(expr(
        """stack(10,
          | 'customer',  'domain_c_mktsegment',   c_total, c_seg_viol,
          | 'customer',  'not_null_c_acctbal',    c_total, c_bal_viol,
          | 'documents', 'consistent_n_chars',    d_total, d_len_viol,
          | 'events',    'finite_value',          e_total, e_val_viol,
          | 'lineitem',  'fk_l_orderkey',         l_total, l_fk_viol,
          | 'lineitem',  'range_l_quantity_1_50', l_total, l_qty_viol,
          | 'orders',    'fk_o_custkey',          o_total, o_fk_viol,
          | 'orders',    'not_null_o_orderdate',  o_total, o_date_viol,
          | 'orders',    'positive_o_totalprice', o_total, o_price_viol,
          | 'orders',    'unique_o_orderkey',     o_total, o_total - o_distinct)
          | AS (tbl, check, n_rows, n_violations)""".stripMargin))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy("tbl", "check")
  }

  // ---------------------------------------------------------------- //
  // Right-to-be-forgotten cascade
  // ---------------------------------------------------------------- //

  /** Deletion-request accounting across every table keyed by the
    * subject id — the audit query a right-to-be-forgotten pipeline
    * runs before and after the rewrite. The forget list here is
    * `id ≡ 0 (mod 101)`; affected rows cascade to DERIVED data
    * (64-token/48-stride chunks per document, counted in closed form
    * — integer ceil, no explode) and to the embedding store.
    *
    * Scale: three narrow scans with one-row aggregates each — the
    * forget list is a broadcast anti-join predicate on the rewrite
    * path, and a pure row predicate here; with an id-range-partitioned
    * layout the rewrite touches only partitions containing forgotten
    * subjects. Payload bytes removed is the reclaim estimate.
    */
  def forgetIds(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("forget", col("doc_id") % 101L === 0L)
      .withColumn("n_tok",
        size(split(lower(trim(col("text"))), "\\s+")).cast("bigint"))
      // chunks(doc) = 1 + ceil(max(n_tok - 64, 0) / 48) in pure
      // integer arithmetic: (a + 47) div 48, clamped
      .withColumn("n_chunks",
        expr("1 + greatest((n_tok - 64 + 47) div 48, 0)"))
    val d = docs.agg(
      count(lit(1)).as("n_before"),
      sum(when(col("forget"), 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("forget"), col("n_chars")).otherwise(0L)).as("payload_removed"))
      .select(lit("documents").as("tbl"), col("n_before"), col("n_removed"),
        (col("n_before") - col("n_removed")).as("n_after"), col("payload_removed"))
    val c = docs.agg(
      sum("n_chunks").as("n_before"),
      sum(when(col("forget"), col("n_chunks")).otherwise(0L)).as("n_removed"),
      sum(when(col("forget"), col("n_tok")).otherwise(0L)).as("payload_removed"))
      .select(lit("doc_chunks").as("tbl"), col("n_before"), col("n_removed"),
        (col("n_before") - col("n_removed")).as("n_after"), col("payload_removed"))
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("forget", col("vec_id") % 101L === 0L)
      .agg(
        count(lit(1)).as("n_before"),
        sum(when(col("forget"), 1L).otherwise(0L)).as("n_removed"),
        // reclaim estimate: 4 bytes per float32 component
        sum(when(col("forget"), size(col("embedding")).cast("bigint") * 4L)
          .otherwise(0L)).as("payload_removed"))
      .select(lit("embeddings").as("tbl"), col("n_before"), col("n_removed"),
        (col("n_before") - col("n_removed")).as("n_after"), col("payload_removed"))
    d.unionByName(c).unionByName(e).orderBy("tbl")
  }

  private val PseudoPepper = "graft-pepper-r7"

  /** Deterministic pseudonymization — the GDPR-grade middle ground
    * between [[kAnonymity]] (measure) and [[forgetIds]] (delete):
    * subject ids are replaced by a 60-bit keyed hash h(pepper ‖ id),
    * so the SAME subject maps to the SAME pseudonym in every table
    * (referential integrity and joins survive) while the raw id never
    * leaves the rewrite. The emitted audit proves the two properties a
    * privacy review asks for: injectivity on this corpus (distinct
    * pseudonyms == distinct ids per key — a 60-bit space makes a
    * collision vanishingly unlikely, and this check would CATCH one)
    * and linkage preservation (per-type event counts keyed by
    * pseudonym equal those keyed by raw id).
    *
    * Scale: a pure narrow projection — the pepper is a plan literal,
    * the hash per-row; only the per-type distinct rollup shuffles.
    * Rotating the pepper re-keys the entire corpus in one pass (the
    * unlinkability-epoch recipe).
    */
  def pseudonymize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("event_type"), col("user_id"),
      expr(s"cast(conv(substr(md5(concat('$PseudoPepper', cast(user_id as string))), 1, 15), 16, 10) as bigint)")
        .as("pseud"))
    ev.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        countDistinct("pseud").as("n_pseudonyms"),
        sum(expr("pseud % 1000000000000")).as("pseud_checksum"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- //
  // CDC merge / upsert
  // ---------------------------------------------------------------- //

  /** MERGE INTO semantics without a table format: a deterministic
    * change batch (every doc_id ≡ 0 mod 7 gets a revision; every
    * doc_id ≡ 0 mod 13 spawns an insert under a shifted key) merged
    * into the base corpus by full-outer join on the key, classifying
    * every output row as insert / update / keep.
    *
    * Scale: the merge is a single shuffle-on-key full-outer sort-merge
    * join — the same plan Delta/Iceberg MERGE executes under copy-on-
    * write. At 100 TB the wins come from layout, not the operator:
    * partition the base by key range so the join prunes to touched
    * partitions, and let the change batch (usually ≪ base) drive
    * AQE's broadcast/skew decisions. Row classification is a
    * projection over the join's null pattern — free.
    */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val updates = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("new_text"))
    val inserts = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(lit("synthetic doc "), col("doc_id").cast("string")).as("new_text"))
    val batch = updates.union(inserts)
    base.join(batch, Seq("doc_id"), "full_outer")
      .select(
        when(col("text").isNull, lit("insert"))
          .when(col("new_text").isNull, lit("keep"))
          .otherwise(lit("update")).as("action"),
        length(coalesce(col("new_text"), col("text"))).cast("bigint").as("chars"))
      .groupBy("action")
      .agg(count(lit(1)).as("n_rows"), sum("chars").as("chars"))
      .orderBy("action")
  }

  // ---------------------------------------------------------------- //
  // Write-audit-publish
  // ---------------------------------------------------------------- //

  /** WRITE-AUDIT-PUBLISH: ingest batches land in a STAGING directory,
    * an audit job recomputes the data-quality expectations over the
    * staged files, and only a batch with ZERO violations is PUBLISHED
    * — an atomic directory rename, so readers of the published root
    * never observe a partially-written or unaudited batch. A failing
    * batch stays quarantined in staging.
    *
    * This is the lakehouse ingestion gate ([[dqExpectations]] supplies
    * the check style; Iceberg/Delta express the same pattern as staged
    * snapshot + audit + commit-swap): at 100 TB the audit costs one
    * aggregate pass over the NEW batch only — never the table — and
    * publish is a metadata operation (rename), so the gate adds no
    * data movement. Two synthetic batches exercise both paths: a
    * clean slice (passes, published) and a slice with injected
    * length-consistency corruption (fails, quarantined). The ledger
    * and the published-table stats are recomputed from the actual
    * directories, so the oracle independently proves only clean rows
    * are reader-visible.
    */
  def wapPublish(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/documents.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/wap_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(new Path(s"$dir/_DONE"))) {
      fs.delete(new Path(dir), true)
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "n_chars")
      docs.filter(col("doc_id") % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/stage/batch_clean")
      docs.filter(col("doc_id") % 3 === 0)
        .withColumn("text",
          when(col("doc_id") % 6 === 0, concat(col("text"), lit("!")))
            .otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/stage/batch_corrupt")
      fs.mkdirs(new Path(s"$dir/published"))
      Seq("batch_clean", "batch_corrupt").foreach { b =>
        val staged = spark.read.parquet(s"$dir/stage/$b")
        val viol = staged.filter(
          col("doc_id").isNull || col("n_chars") =!= length(col("text"))).count()
        if (viol == 0L)
          fs.rename(new Path(s"$dir/stage/$b"), new Path(s"$dir/published/$b"))
      }
      fs.create(new Path(s"$dir/_DONE")).close()
    }
    def stat(df: DataFrame, stage: String, published: Int): DataFrame =
      df.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("doc_id").isNull || col("n_chars") =!= length(col("text")), 1L)
            .otherwise(0L)).as("n_violations"),
          sum(expr("cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint) % 1000000000000"))
            .as("text_checksum"))
        .select(lit(stage).as("stage"), col("n_rows"), col("n_violations"),
          lit(published.toLong).as("published"), col("text_checksum"))
    val clean = stat(spark.read.parquet(s"$dir/published/batch_clean"), "batch_clean", 1)
    val corrupt = stat(spark.read.parquet(s"$dir/stage/batch_corrupt"), "batch_corrupt", 0)
    val table = stat(spark.read.parquet(s"$dir/published/*"), "published_table", 1)
    clean.unionByName(corrupt).unionByName(table).orderBy("stage")
  }

  // ---------------------------------------------------------------- //
  // SCD Type-2 dimension
  // ---------------------------------------------------------------- //

  /** Slowly-changing-dimension TYPE 2: each user's `view` events are
    * treated as attribute revisions and materialized as VALIDITY
    * INTERVALS — (user_id, state, valid_from, valid_to) where
    * `valid_to` is the next revision's timestamp (open-ended for the
    * current row) — then the `click` facts are enriched by an
    * equi+range join: user matches AND valid_from ≤ ts < valid_to.
    *
    * This is the materialized alternative to the as-of WINDOW
    * (w3_asof_join computes the same "state in effect" semantics by
    * co-sorting facts and revisions in one pass). The window wins for
    * a one-shot backfill; SCD2 wins at 100 TB when facts dwarf
    * revisions and keep arriving: the dimension is built ONCE (one
    * keyed shuffle of the revision stream, O(revisions) rows), and
    * every subsequent fact batch joins against it without re-sorting
    * history — bucket both sides on user_id and the join is
    * shuffle-free. The interval build's per-key `lead` window
    * partitions on user_id, so no single-partition window exists.
    *
    * Determinism: interval bounds are (micros, event_id)-ordered and
    * the state value is exact integer micros; at most one interval
    * can match a fact (intervals partition the timeline per user), so
    * the enriched aggregate is exactly reproducible and fully
    * DuckDB-oracled.
    */
  def scd2Dim(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("unix_micros(ts)"))
    val dim = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        expr("cast(round(value * 1000000) as bigint)").as("state"))
      .withColumn("valid_from", col("ts_us"))
      .withColumn("valid_to",
        coalesce(lead("ts_us", 1).over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")), lit(Long.MaxValue)))
      .drop("ts_us", "event_id")
    val facts = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val enriched = facts.join(dim,
      facts("user_id") === dim("user_id") &&
        dim("valid_from") <= facts("ts_us") && facts("ts_us") < dim("valid_to"),
      "left_outer")
    enriched.groupBy(facts("user_id").as("user_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("state")).as("n_matched"),
        sum(coalesce(col("state"), lit(0L))).as("state_sum"))
      .orderBy("user_id")
  }

  /** The SAME point-in-time enrichment as [[scd2Dim]], but through the
    * custom [[graft.plans.AsOfJoinExec]] instead of an interval join:
    * the dimension needs NO valid_to column at all — `asof(facts,
    * versions)` picks the latest `valid_from ≤ ts` version per key
    * directly, with the (valid_from, event_id) tiebreak reproducing the
    * interval derivation's `lead` ordering exactly (a same-timestamp
    * superseded version has an empty interval there and loses the
    * tiebreak here). Shares x_scd2_dim's oracle: the two formulations
    * must agree row-for-row.
    *
    * Scale: the interval join is a range join (O(n·versions-per-user)
    * candidate pairs, plus the lead window to BUILD valid_to); the
    * as-of exec is two hash exchanges + sorts + one merge pass, and
    * skips dimension-table maintenance entirely — the shape a
    * feature-store read wants at 100 TB.
    */
  def scd2PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts_us", expr("unix_micros(ts)"))
    val dim = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("d_user"), col("ts_us").as("valid_from"),
        col("event_id").as("d_id"),
        expr("cast(round(value * 1000000) as bigint)").as("state"))
    val facts = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    graft.plans.AsOfJoin.asof(facts, dim,
      Seq(facts("user_id")), Seq(dim("d_user")),
      facts("ts_us"), dim("valid_from"), Seq(dim("d_id")))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("state")).as("n_matched"),
        sum(coalesce(col("state"), lit(0L))).as("state_sum"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- //
  // Incremental aggregate maintenance
  // ---------------------------------------------------------------- //

  /** Materialized-view maintenance by PARTIAL-AGGREGATE MERGE: the
    * historical days of `events` are reduced once to a tiny partials
    * table — per (day, event_type): row count and exact integer value
    * moment (`round(value·1e6)` micros, the [[outlierZscore]]
    * discipline, so merges are associative integer adds with no float
    * drift) — and the per-type totals are served by merging those
    * stored partials with a freshly-aggregated DELTA slice (the
    * newest day). History is never rescanned.
    *
    * This is the 100 TB shape for every dashboard-style rollup: the
    * partials table is O(days × types) rows regardless of corpus
    * size, the daily maintenance job reads ONE day (with a
    * day-partitioned layout the delta filter becomes partition
    * pruning — [[backfillDirs]] stages exactly that layout, and
    * j4_dpp_join demonstrates the pruning), and any regrouping
    * (week, type-only, all-time) is an algebraic fold of the
    * partials. COUNT/SUM merge by addition; the same partials serve
    * AVG; mergeable sketches (a12/a13/heavy hitters) extend the trick
    * to DISTINCT and top-k, which plain partials cannot express.
    *
    * The merged result must be EXACTLY the direct whole-table
    * group-by — integer moments make that bit-reproducible, so the
    * query carries a full DuckDB oracle recomputing from scratch.
    */
  def incrAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/events.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/incr_agg_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .withColumn("v", expr("cast(round(value * 1000000) as bigint)"))
    // the split point is data-derived (newest day = the delta); the
    // 1-row max is decorrelated as a broadcast scalar, never collected
    val maxDay = ev.agg(max("day").as("max_day"))
    def partials(slice: DataFrame): DataFrame =
      slice.groupBy("day", "event_type")
        .agg(count(lit(1)).as("cnt"), sum("v").as("vsum"))
    if (!fs.exists(new Path(s"$dir/_MATERIALIZED"))) {
      fs.delete(new Path(dir), true)
      partials(ev.crossJoin(broadcast(maxDay)).filter(col("day") < col("max_day")))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/partials")
      fs.create(new Path(s"$dir/_MATERIALIZED")).close()
    }
    val history = spark.read.parquet(s"$dir/partials")
    val delta = partials(
      ev.crossJoin(broadcast(maxDay)).filter(col("day") === col("max_day")))
    history.unionByName(delta)
      .groupBy("event_type")
      .agg(sum("cnt").cast("long").as("n_events"),
        sum("vsum").cast("long").as("v_micros"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- //
  // Test-set contamination
  // ---------------------------------------------------------------- //

  private val EvalMod = 97L // doc_id ≡ 0 (mod 97) plays the held-out eval set
  private val HotDocFreq = 100L // shingles in more docs than this are stopword-level
  private val ContaminationMin = 5L // shared distinct shingles ⇒ contaminated

  /** Benchmark-contamination detection: flag training docs that share
    * ≥ [[ContaminationMin]] distinct word-3-gram shingles with any doc
    * of a held-out eval set — the overlap check every serious training
    * corpus runs against its benchmark suites before training.
    *
    * Plan shape is an inverted-index join: shingles are hashed to
    * 60-bit ints (the join/shuffle key is 8 bytes, never shingle
    * text); ONE aggregation pass classifies every shingle hash —
    * document frequency and eval membership together — and only the
    * eval'd shingles under the [[HotDocFreq]] cap survive as the join's
    * small side. The cap is the skew guard: one viral stopword shingle
    * would otherwise fan a single join key across the corpus. Work is
    * O(corpus shingles + collisions), never corpus × eval.
    */
  /** Snapshot versioning with an as-of read (time travel): the corpus
    * is materialized as immutable snapshot v1, the [[mergeUpsert]]
    * batch is applied and written as immutable snapshot v2, and the
    * query reads BOTH snapshots as plain parquet tables — "as of v1"
    * never sees the upsert because versions are separate directories,
    * not mutated files. Per-version row count, id sum and a text
    * checksum prove both snapshots' full contents, not just counts.
    *
    * Scale: this is the copy-on-write table-format pattern (Iceberg/
    * Delta snapshot isolation) reduced to its Spark-native core — each
    * version is a write-once directory keyed by the source fingerprint;
    * readers pin a version by path and never race the writer. The
    * snapshot build is a one-time cost amortized across reads, exactly
    * like the bucketed/z-ordered layouts.
    */
  def snapshotVersions(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = snapshotDir(spark, sfDir)
    def stats(version: String): DataFrame =
      spark.read.parquet(s"$dir/$version")
        .agg(
          count(lit(1)).as("n_rows"),
          sum("doc_id").as("id_sum"),
          sum(expr("cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint) % 1000000000000"))
            .as("text_checksum"))
        .select(lit(version).as("version"), col("n_rows"), col("id_sum"), col("text_checksum"))
    stats("v1").unionByName(stats("v2")).orderBy("version")
  }

  /** Stages the two immutable snapshot directories (idempotent via the
    * `_SNAPSHOTTED` sentinel); shared by the as-of read and the diff.
    */
  private[graft] def snapshotDir(spark: SparkSession, sfDir: String): String = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/documents.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/snapshots_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(new Path(s"$dir/_SNAPSHOTTED"))) {
      fs.delete(new Path(dir), true)
      val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      base.write.mode("overwrite").parquet(s"$dir/v1")
      val updates = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("new_text"))
      val inserts = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("synthetic doc "), col("doc_id").cast("string")).as("text"))
      base.join(updates, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("new_text"), col("text")).as("text"))
        .unionByName(inserts)
        .write.mode("overwrite").parquet(s"$dir/v2")
      fs.create(new Path(s"$dir/_SNAPSHOTTED")).close()
    }
    dir
  }

  /** Snapshot DIFF — the CDC audit between two immutable table
    * versions: one full-outer join on the key classifies every row as
    * added / removed / changed / unchanged, reduced to per-status
    * counts and key checksums. This is how a lakehouse answers "what
    * did the last ingest actually do" without trusting the writer's
    * own log; at rest both snapshot sides are bucketed by key, making
    * the diff join shuffle-free. Statuses absent from the scenario
    * (here: `removed` — v2 only updates and inserts) are absent rows,
    * not zero rows, on both engines.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = snapshotDir(spark, sfDir)
    val v1 = spark.read.parquet(s"$dir/v1").select(col("doc_id"), col("text").as("t1"))
    val v2 = spark.read.parquet(s"$dir/v2").select(col("doc_id"), col("text").as("t2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("t1").isNull, "added")
          .when(col("t2").isNull, "removed")
          .when(col("t1") =!= col("t2"), "changed")
          .otherwise("unchanged"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
      .orderBy("status")
  }

  /** VACUUM — the lake-maintenance retention pass over the immutable
    * snapshot store (the op Delta/Iceberg run nightly): every file
    * under the store that is NOT part of a committed snapshot is an
    * orphan — failed-write leftovers, abandoned staging dirs — and
    * gets deleted, with the audit a production vacuum logs.
    *
    * Scale shape: orphan DISCOVERY is a distributed metadata scan —
    * the `binaryFile` source selecting only (path, length) lists and
    * filters across executors without decoding a byte of content; at
    * 100 TB a snapshot store holds millions of files and a driver
    * listing loop is the classic vacuum bottleneck. The DELETE fans
    * out over the orphan list with `foreachPartition` (each executor
    * deletes its own slice). Committed data is identified by path
    * prefix (`v1/`, `v2/`) — never by age — so vacuum can never eat a
    * committed file; the audit re-reads both snapshots to PROVE it.
    *
    * Determinism under repeats: the orphans (an abandoned staging dir
    * and two in-progress temp files, fixed contents) are re-staged at
    * every invocation, so each run discovers and deletes exactly the
    * same bytes — Verify's dump and every bench repeat see identical
    * results, and the DuckDB oracle pins the audit constants plus the
    * untouched snapshot contents.
    */
  /** POSITIONAL DELETE (deletion vectors) — the modern lakehouse
    * row-level delete: instead of rewriting data files (the
    * x_forget_ids audit covers the rewrite shape), the delete writes a
    * tiny SIDECAR of (file, row position) pairs and every read applies
    * it as an anti-join. Delta's deletion vectors / Iceberg positional
    * delete files in Spark-native form, built on the parquet reader's
    * hidden `_metadata.file_path` / `_metadata.row_index` columns:
    * position resolution costs one scan, the sidecar is O(deleted
    * rows), and the base table is NEVER rewritten — RTBF latency
    * decoupled from corpus-rewrite cost, which is the entire point at
    * 100 TB. Reads pay one (file, pos) join (AQE broadcasts the DV
    * while it is small); compaction later folds DVs into rewritten
    * files (k8's job).
    *
    * Determinism: positions come from the immutable v1 snapshot
    * (_SNAPSHOTTED-gated layout); the result exposes only row-level
    * aggregates of survivors and deletions, never file paths, so the
    * DuckDB oracle re-derives it from `documents` alone. One scan +
    * one join + one aggregate — no crossJoin, no collect.
    */
  def positionalDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dir = snapshotDir(spark, sfDir)
    val dvDir = s"$dir/dv_v1"
    def baseWithPos = spark.read.parquet(s"$dir/v1")
      .select(col("doc_id"), col("text"),
        col("_metadata.file_path").as("f"), col("_metadata.row_index").as("pos"))
    val fs = new Path(dvDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // gate on the data files, not just _SUCCESS: a sentinel without
    // data (e.g. after an external cleanup deleted the part files)
    // must trigger a rebuild, not an unreadable empty-dir scan
    val dvIntact = fs.exists(new Path(s"$dvDir/_SUCCESS")) &&
      fs.listStatus(new Path(dvDir)).exists(_.getPath.getName.endsWith(".parquet"))
    if (!dvIntact)
      baseWithPos.filter(col("doc_id") % 11 === 0)
        .select(col("f"), col("pos"))
        .write.mode("overwrite").parquet(dvDir)
    val dv = spark.read.parquet(dvDir).withColumn("del", lit(true))
    baseWithPos.join(dv, Seq("f", "pos"), "left")
      .agg(
        sum(when(col("del").isNull, 1).otherwise(0)).as("n_rows"),
        sum(when(col("del").isNull, col("doc_id"))).as("id_sum"),
        sum(when(col("del").isNull,
          expr("cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint) % 1000000000000")))
          .as("text_checksum"),
        sum(when(col("del").isNotNull, 1).otherwise(0)).as("n_deleted"))
  }

  /** MERGE-ON-READ — the read path of a lakehouse upsert that defers
    * ALL rewriting. The copy-on-write v2 snapshot ([[snapshotDir]])
    * materializes updated rows into fresh data files; this query
    * reconstructs the SAME logical table from three immutable layers
    * instead — the untouched v1 base, a deletion-vector sidecar
    * marking the base rows a later update superseded, and an
    * append-only delta holding the updated and inserted rows. No base
    * byte is rewritten, so an upsert costs O(changed rows), not
    * O(table) — the Iceberg-v2 / Delta-DV read shape, and what reads
    * land on BETWEEN compactions, which at 100 TB is almost always
    * (x_compaction is the pass that later folds DV + delta back into
    * data files).
    *
    * The query audits BOTH read paths with the same (n_rows, id_sum,
    * text_checksum) triple: the DuckDB oracle derives both rows from
    * the documents-table v2 formulation, so any drift between the
    * layered reconstruction and the materialized snapshot fails the
    * hash gate; the engine additionally require()s row equality so
    * drift is loud even without the oracle.
    *
    * Scale: the DV join broadcasts while the sidecar is small (AQE)
    * and degrades to a (file, pos)-keyed shuffle join as deletes grow;
    * the delta union is scan-level concatenation — no layer is ever
    * collected.
    */
  def mergeOnRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = snapshotDir(spark, sfDir)
    val mor = mergeOnReadFrame(spark, sfDir)
    def stats(df: DataFrame, name: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        sum("doc_id").as("id_sum"),
        sum(expr("cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint) % 1000000000000"))
          .as("text_checksum"))
        .select(lit(name).as("read_path"),
          col("n_rows"), col("id_sum"), col("text_checksum"))
    val audited = stats(spark.read.parquet(s"$dir/v2"), "cow_v2")
      .unionByName(stats(mor, "mor_v2")).orderBy("read_path").collect()
    require(audited.length == 2 &&
      audited(0).toSeq.tail == audited(1).toSeq.tail,
      s"merge-on-read drifted from the materialized snapshot: ${audited.toSeq}")
    import spark.implicits._
    audited.toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("read_path", "n_rows", "id_sum", "text_checksum")
  }

  /** Stages the DV + delta layers (idempotent, data-file-gated like
    * dv_v1) and returns the layered reconstruction as a (doc_id, text)
    * frame — shared by [[mergeOnRead]] and its row-identity spec.
    */
  private[graft] def mergeOnReadFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dir = snapshotDir(spark, sfDir)
    val dvDir = s"$dir/dv_mor"
    val deltaDir = s"$dir/delta_mor"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def intact(d: String): Boolean =
      fs.exists(new Path(s"$d/_SUCCESS")) &&
        fs.listStatus(new Path(d)).exists(_.getPath.getName.endsWith(".parquet"))
    def baseWithPos = spark.read.parquet(s"$dir/v1")
      .select(col("doc_id"), col("text"),
        col("_metadata.file_path").as("f"), col("_metadata.row_index").as("pos"))
    if (!intact(dvDir))
      baseWithPos.filter(col("doc_id") % 7 === 0)
        .select(col("f"), col("pos"))
        .write.mode("overwrite").parquet(dvDir)
    if (!intact(deltaDir)) {
      val docs = Tables.documents(spark, sfDir)
      val updates = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" [rev2]")).as("text"))
      val inserts = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("synthetic doc "), col("doc_id").cast("string")).as("text"))
      updates.unionByName(inserts).write.mode("overwrite").parquet(deltaDir)
    }
    val dv = spark.read.parquet(dvDir).withColumn("del", lit(true))
    baseWithPos.join(dv, Seq("f", "pos"), "left")
      .filter(col("del").isNull).select(col("doc_id"), col("text"))
      .unionByName(spark.read.parquet(deltaDir))
  }

  /** PARTITION EVOLUTION — the lake migrated its events layout
    * mid-history: days before the cut live in the OLD generation (one
    * flat unpartitioned directory, no day column), days from the cut
    * onward in the NEW one (hive-partitioned by day). Real lakes do
    * exactly this without rewriting history, so every read spans both
    * layouts forever. The query reads a 3-day window straddling the
    * cut as ONE union and must (a) return the same per-day totals the
    * raw table yields and (b) prune: the day predicate is a
    * PartitionFilter on the new generation (2 of ~15 day dirs listed),
    * while the OLD generation — which cannot partition-prune — gets
    * the equivalent ts-range predicate pushed to parquet row-group
    * stats. Per-day generation counts prove both layouts actually
    * served rows across the boundary.
    *
    * Determinism: the cut is the median distinct day, the window its
    * two neighbors — all derived from the data, collected as THREE day
    * strings (literal partition predicates must be static to prune at
    * planning time; this is the k×d-codebook-sized collect the ANN
    * family documents). Layouts are staged once behind a fingerprint
    * sentinel.
    */
  def partitionEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val (gen1Dir, gen2Dir) = partitionEvolutionDirs(spark, sfDir)
    val days = Tables.events(spark, sfDir)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .distinct().orderBy("day").collect().map(_.getString(0))
    require(days.length >= 3, "partition evolution needs >= 3 distinct days")
    val mid = days.length / 2
    val (lo, cut, hi) = (days(mid - 1), days(mid), days(mid + 1))
    val g1 = spark.read.parquet(gen1Dir)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .withColumn("gen", lit(1))
    val g2 = spark.read.parquet(gen2Dir).withColumn("gen", lit(2))
      .select(g1.columns.map(col).toIndexedSeq: _*)
    g1.unionByName(g2)
      // day bound prunes gen2 partitions; the equivalent ts bound is
      // what the flat gen1 scan can push to row-group statistics
      .filter(col("day").between(lo, hi) &&
        col("ts") >= to_timestamp(lit(lo)) &&
        col("ts") < date_add(to_timestamp(lit(hi)), 1))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"),
        sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_gen1"),
        sum(when(col("gen") === 2, 1L).otherwise(0L)).as("n_gen2"))
      .orderBy("day")
  }

  /** Stages the two event-layout generations (idempotent via the
    * `_PARTEVO` sentinel): days below the median distinct day as one
    * flat directory WITHOUT the day column, the rest hive-partitioned
    * by day.
    */
  private[graft] def partitionEvolutionDirs(
      spark: SparkSession, sfDir: String): (String, String) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/events.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/partevo_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(new Path(s"$dir/_PARTEVO"))) {
      fs.delete(new Path(dir), true)
      val ev = Tables.events(spark, sfDir)
        .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      val ds = ev.select("day").distinct().orderBy("day")
        .collect().map(_.getString(0))
      val cut = ds(ds.length / 2)
      ev.filter(col("day") < cut).drop("day")
        .write.mode("overwrite").parquet(s"$dir/gen1")
      ev.filter(col("day") >= cut)
        .repartition(4, col("day"), col("user_id"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$dir/gen2")
      fs.create(new Path(s"$dir/_PARTEVO")).close()
    }
    (s"$dir/gen1", s"$dir/gen2")
  }

  /** The deterministic orphan fixture lakeVacuum re-stages every
    * invocation: an abandoned WAP-style staging dir + two bare
    * in-progress files (names NOT underscore-prefixed — hidden files
    * are invisible to file indexes and need no vacuuming). Contents are
    * constants so the oracle pins the byte audit.
    */
  private val VacuumOrphans = Seq(
    "staging_tmp/part-00000-orphan.parquet" -> "orphaned staged bytes",
    "ingest_tmp_1.parquet.inprogress" -> "half-written ingest file",
    "ingest_tmp_2.parquet.inprogress" -> "another failed writer")
  private val VacuumOrphanBytes: Long =
    VacuumOrphans.map(_._2.getBytes("UTF-8").length.toLong).sum

  def lakeVacuum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dir = snapshotDir(spark, sfDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    VacuumOrphans.foreach { case (rel, content) =>
      val out = fs.create(new Path(s"$dir/$rel"), true)
      out.write(content.getBytes("UTF-8")); out.close()
    }
    val expectedBytes = VacuumOrphanBytes
    // distributed discovery: list (path, length) only — no content read
    val listed = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), col("length"))
    // Committed state = snapshot data files, deletion-vector sidecars
    // AND append-only merge-on-read deltas: DVs and deltas are table
    // state a lakehouse log references (x_positional_delete's dv_v1/,
    // x_merge_on_read's dv_mor/ + delta_mor/), not write debris — the
    // full-suite run caught vacuum eating the DV when both ops share
    // the store.
    val orphanFiles = listed
      .filter(!col("path").contains("/v1/") && !col("path").contains("/v2/") &&
        !col("path").contains("/dv_") && !col("path").contains("/delta_"))
    val audit = orphanFiles
      .agg(count(lit(1)).as("orphans_deleted"),
        coalesce(sum("length"), lit(0L)).as("orphan_bytes")).first()
    // Audit gates the delete: if the discovered orphan set differs from
    // the staged fixture (an unknown file slipped past the denylist),
    // fail loudly BEFORE destroying anything — vacuum once ate the DV
    // sidecar when the require ran post-delete.
    require(audit.getLong(1) == expectedBytes,
      s"vacuum audit bytes ${audit.getLong(1)} != staged $expectedBytes — " +
        "unknown files in orphan set; refusing to delete")
    require(audit.getLong(0) == VacuumOrphans.size,
      s"vacuum audit count ${audit.getLong(0)} != staged ${VacuumOrphans.size} — " +
        "unknown files in orphan set; refusing to delete")
    // distributed delete: each partition removes its own slice, through
    // the session conf shipped to the executors — a fresh Configuration()
    // there loses s3a/hdfs credentials set on the session, and the delete
    // would fail on a non-default filesystem.
    val shipped = graft.sources.FooterMeta.sessionConf(spark)
    orphanFiles.select("path").foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        val pfs = new Path(dir).getFileSystem(shipped.value)
        rows.foreach(r => pfs.delete(
          new Path(java.net.URI.create(r.getString(0))), false))
    }
    // prove committed data survived — re-read both snapshots
    val v1 = spark.read.parquet(s"$dir/v1")
      .agg(count(lit(1)).as("v1_rows"), sum("doc_id").as("v1_id_sum")).first()
    val v2 = spark.read.parquet(s"$dir/v2")
      .agg(count(lit(1)).as("v2_rows"), sum("doc_id").as("v2_id_sum")).first()
    import spark.implicits._
    Seq((audit.getLong(0), audit.getLong(1),
      v1.getLong(0), v1.getLong(1), v2.getLong(0), v2.getLong(1)))
      .toDF("orphans_deleted", "orphan_bytes",
        "v1_rows", "v1_id_sum", "v2_rows", "v2_id_sum")
  }

  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = Dedup.shingled(spark, sfDir)
      .select(col("doc_id"), col("source"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("source"), h60("s").as("hs"))
    // ONE aggregation pass over the exploded shingles classifies every
    // shingle hash (document frequency + eval membership); the eval'd,
    // non-hot survivors are the only shingles the corpus side joins
    // against. Shingles are distinct per doc (array_distinct upstream),
    // so plain counts are distinct-doc counts — no distinct buffers.
    val evalShingles = ex.groupBy("hs")
      .agg(
        count(lit(1)).as("df"),
        max(when(col("doc_id") % EvalMod === 0, 1).otherwise(0)).as("ev"))
      .filter(col("df") <= HotDocFreq && col("ev") === 1)
      .select("hs")
    val shared = ex.filter(col("doc_id") % EvalMod =!= 0)
      .join(evalShingles, Seq("hs"), "left_semi")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("shared"))
    shared.groupBy("source")
      .agg(
        count(lit(1)).as("n_overlapping"),
        sum(when(col("shared") >= ContaminationMin, 1L).otherwise(0L)).as("n_contaminated"),
        max("shared").as("max_shared"))
      .orderBy("source")
  }

  /** Bloom-gated decontamination — the same contamination check
    * rebuilt for the 100 TB corpus shape, where [[contamination]]'s
    * inverted-index join is unaffordable because it shuffles EVERY
    * corpus shingle to classify it. Here the corpus side never
    * shuffles at all:
    *
    *  1. the eval/benchmark shingle-hash set is computed from the eval
    *     docs only (1/[[EvalMod]] of the corpus; in production it is a
    *     separate benchmark table thousands of times smaller than the
    *     corpus) and folded into a ~1%-fpp Bloom filter
    *     ([[graft.functions.BloomGate]] — fixed seeds, deterministic
    *     bit array, build cost is one pass over the SMALL side);
    *  2. the corpus shingles pass a codegen'd `mightContain` SCAN
    *     predicate — true hits plus ≤ fpp false positives survive,
    *     everything else (the overwhelming clean mass) dies map-side;
    *  3. the tiny survivor stream does the EXACT semi-join against the
    *     eval set (broadcast here; at benchmark-table scale a normal
    *     shuffle of survivors only), which removes the false
    *     positives — so the output is exactly [[contamination]]'s
    *     answer minus the hot-shingle cap, and carries the same full
    *     DuckDB oracle.
    *
    * The bloom can only prune, never alter: fpp trades survivor-join
    * size against filter memory (1.2 MB per million keys at 1%), and
    * correctness never depends on it. The spec asserts both the
    * equivalence to the no-bloom computation and that the gate
    * actually prunes.
    */
  /** Graded ROUGE-2 recall of each eval/benchmark doc against its
    * best-matching corpus doc — [[contamination]]'s binary verdict
    * upgraded to the SCORE an eval-leakage report actually ranks by
    * (how much of the benchmark is reproducible, and from WHERE):
    * recall(e) = |bigrams(e) ∩ bigrams(best c)| / |bigrams(e)| in ppm,
    * with the best candidate attributed by (overlap desc, cand_id asc).
    * EVERY eval doc gets a row (round-12 contract fix): docs whose kept
    * bigrams match no corpus doc — and docs with zero kept bigrams at
    * all (every bigram hot, or a sub-2-token text) — emit
    * cand_id = −1, inter = 0, rouge2_ppm = 0, so a clean benchmark
    * reads as explicit zeros rather than silently missing rows.
    *
    * Metric discipline: the score is defined ON the stopword-capped
    * bigram sets (distinct word-2-grams with document frequency ≤
    * [[HotDocFreq]], numerator AND denominator) — dropping hot
    * shingles from both sides keeps the ratio a real recall of a
    * well-defined set, exactly reproducible by the oracle, instead of
    * an approximation with an unstated bias.
    *
    * Scale ([[contamination]]'s spine): one aggregation pass
    * classifies every bigram hash (df + eval membership); only eval'd,
    * non-hot survivors join — the candidate join is banded by shared
    * bigram with fan-out ≤ [[HotDocFreq]] docs per shingle, NEVER
    * all-pairs; the best-match window partitions by eval doc over the
    * candidate-bounded pair frame.
    */
  def rougeOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val (universe, den, best) = evalPairSpine(spark, sfDir)
    universe
      .join(den, Seq("eval_id"), "left")
      .join(best, Seq("eval_id"), "left")
      .na.fill(0L, Seq("den", "inter"))
      .na.fill(-1L, Seq("cand_id"))
      .withColumn("rouge2_ppm",
        expr("CASE WHEN den > 0 THEN inter * 1000000 div den ELSE 0L END"))
      .select("eval_id", "cand_id", "inter", "den", "rouge2_ppm")
      .orderBy("eval_id")
  }

  /** The doc ids a selected pair frame touches (both sides, distinct)
    * — the semi-join build that keeps the pair metrics' raw-text
    * explodes PAIR-BOUNDED instead of corpus-wide ([[evalBleu]],
    * [[evalF1]], [[evalChrf]]). ≤ 2·#eval-docs rows, broadcast.
    */
  private def pairDocIds(best: DataFrame): DataFrame =
    best.select(col("cand_id").as("doc_id"))
      .unionByName(best.select(col("eval_id").as("doc_id")))
      .distinct()

  /** Shared pair-attribution spine of [[rougeOverlap]] and [[evalBleu]]:
    * stopword-capped shared-bigram candidate banding (df ≤
    * [[HotDocFreq]], eval-member shingles only — never all-pairs),
    * best candidate per eval doc by (overlap desc, cand_id asc).
    * Returns (eval-doc universe from the documents table itself — so
    * zero-kept-bigram docs still get their output row; kept-bigram
    * denominator per eval doc; best (eval_id, cand_id, inter) frame).
    */
  private def evalPairSpine(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val ex = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("tokens", split(lower(trim(col("text"))), "\\s+"))
      .withColumn("bgs", array_distinct(
        graft.functions.TextExpressions.word_ngrams(col("tokens"), 2)))
      .select(col("doc_id"), explode(col("bgs")).as("s"))
      .select(col("doc_id"), h60("s").as("hs"))
    val keptHs = ex.groupBy("hs")
      .agg(count(lit(1)).as("df"),
        max(when(col("doc_id") % EvalMod === 0, 1).otherwise(0)).as("ev"))
      .filter(col("df") <= HotDocFreq && col("ev") === 1)
      .select("hs")
    // The kept-shingle posting frame for ALL docs, checkpointed
    // (r13-opt, guide §1.2/§2.4): den and best both consume it, and
    // the downstream pair metrics replay the spine once more — without
    // the checkpoint each consumer subtree re-runs the corpus
    // tokenize+bigram explode (3–5 executions per query; exchange
    // reuse recovered only the identical aggregates). Pinning is
    // scale-safe: kept shingles are eval-present AND df ≤
    // [[HotDocFreq]], so the block is ≤ #eval-bigrams × (1 +
    // HotDocFreq) rows of (doc_id, hs) — benchmark-bounded, never
    // corpus-bounded — and the two unavoidable corpus passes (df
    // census + posting semi-join) now run exactly once.
    // The candidate side's kept-filter is semantically free: best's
    // equi-join on hs already restricts candidates to the eval side's
    // kept shingles, so joining exk(eval) with exk(cand) is identical
    // to the old evalSide ⨝ raw-candidate join.
    val exk = ex.join(keptHs, Seq("hs"), "left_semi")
      .transform(graft.Ckpt.pin("Curation.evalPairSpine.exk"))
    val evalSide = exk.filter(col("doc_id") % EvalMod === 0)
    val den = evalSide.groupBy("doc_id").agg(count(lit(1)).as("den"))
      .withColumnRenamed("doc_id", "eval_id")
    val best = evalSide.withColumnRenamed("doc_id", "eval_id")
      .join(exk.filter(col("doc_id") % EvalMod =!= 0)
        .withColumnRenamed("doc_id", "cand_id"), "hs")
      .groupBy("eval_id", "cand_id").agg(count(lit(1)).as("inter"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("eval_id").orderBy(col("inter").desc, col("cand_id").asc)))
      .filter(col("rk") === 1)
      .select("eval_id", "cand_id", "inter")
    // no fanOut: universe only projects+distincts eval doc ids — the
    // repartition was a pure extra shuffle ahead of distinct's own
    val universe = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id")).distinct()
    (universe, den, best)
  }

  /** Graded BLEU-2 of each eval doc's best-matching corpus doc — the
    * PRECISION-direction complement of [[rougeOverlap]]'s recall: how
    * much of the best candidate is benchmark text (candidate =
    * hypothesis, eval doc = reference), with clipped n-gram counts and
    * the brevity penalty, i.e. the leakage severity score for the
    * attributed source rather than the benchmark-coverage score.
    * p_n = Σ_g min(cnt_hyp(g), cnt_ref(g)) / Σ_g cnt_hyp(g) over
    * unigrams and bigrams; bp = min(1, e^(1−r/c));
    * bleu2 = bp · √(p1·p2).
    *
    * Pair attribution reuses [[rougeOverlap]]'s banded spine verbatim
    * (stopword-capped shared-bigram candidates, best by overlap desc /
    * cand_id asc) — never all-pairs; the clipped-count joins then run
    * on the RAW token streams of the selected pairs only (pair-bounded
    * mass). Every eval doc gets a row; unmatched docs emit cand_id=−1
    * and zeros ([[rougeOverlap]]'s round-12 contract).
    *
    * Float discipline: p1/p2/bp are ppm integers (truncating div on
    * nonnegative operands); bp's single exp and bleu2's single sqrt
    * are computed on exact-integer-derived doubles in one fixed
    * operation order and quantized once — no float accumulation
    * anywhere.
    */
  def evalBleu(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
    val (universe, _, spineBest) = evalPairSpine(spark, sfDir)
    val best = spineBest
      .select("eval_id", "cand_id")
      // pair frame (≤ #eval docs rows), read 4× below
      .transform(graft.Ckpt.pin("Curation.evalBleu.best"))
    // raw n-gram count frames, restricted to the selected pair docs —
    // semi-joined BEFORE the explode so the aggregate is pair-bounded,
    // not corpus-wide (r13: this was the claim; now it's the plan)
    val pairDocs = docs.join(broadcast(pairDocIds(best)), Seq("doc_id"), "left_semi")
    val uni = pairDocs
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val bi = pairDocs
      .withColumn("tokens", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.word_ngrams(col("tokens"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    def clipped(counts: DataFrame): DataFrame = {
      val hyp = best.join(counts.withColumnRenamed("doc_id", "cand_id"), "cand_id")
        .select(col("eval_id"), col("cand_id"), col("g"), col("c").as("c_h"))
      val ref = best.join(counts.withColumnRenamed("doc_id", "eval_id"), "eval_id")
        .select(col("eval_id"), col("g"), col("c").as("c_r"))
      val m = hyp.join(ref, Seq("eval_id", "g"), "left")
        .na.fill(0L, Seq("c_r"))
        .groupBy("eval_id", "cand_id")
        .agg(sum(least(col("c_h"), col("c_r"))).as("m"),
          sum("c_h").as("len_h"))
      m
    }
    val u = clipped(uni).withColumnsRenamed(
      Map("m" -> "m1", "len_h" -> "len_hyp"))
    val b2 = clipped(bi).withColumnsRenamed(
      Map("m" -> "m2", "len_h" -> "bg_hyp"))
    val refLen = best.join(
      uni.groupBy("doc_id").agg(sum("c").as("len_ref"))
        .withColumnRenamed("doc_id", "eval_id"), "eval_id")
      .select("eval_id", "len_ref")
    universe
      .join(best, Seq("eval_id"), "left")
      .join(u.drop("cand_id"), Seq("eval_id"), "left")
      .join(b2.drop("cand_id"), Seq("eval_id"), "left")
      .join(refLen, Seq("eval_id"), "left")
      .na.fill(0L, Seq("m1", "len_hyp", "m2", "bg_hyp", "len_ref"))
      .na.fill(-1L, Seq("cand_id"))
      .withColumn("p1_ppm",
        expr("CASE WHEN len_hyp > 0 THEN m1 * 1000000 div len_hyp ELSE 0L END"))
      .withColumn("p2_ppm",
        expr("CASE WHEN bg_hyp > 0 THEN m2 * 1000000 div bg_hyp ELSE 0L END"))
      .withColumn("bp_ppm", expr(
        """CASE WHEN len_hyp = 0 THEN 0L
          | WHEN len_hyp >= len_ref THEN 1000000L
          | ELSE cast(round(exp(1.0d - cast(len_ref as double)
          |   / cast(len_hyp as double)) * 1000000) as bigint) END""".stripMargin))
      .withColumn("bleu2_ppm", expr(
        """(bp_ppm * cast(floor(sqrt(cast(p1_ppm * p2_ppm as double))) as bigint))
          | div 1000000""".stripMargin))
      .select("eval_id", "cand_id", "len_hyp", "len_ref",
        "p1_ppm", "p2_ppm", "bp_ppm", "bleu2_ppm")
      .orderBy("eval_id")
  }

  /** SQuAD-style token-overlap F1 of each eval doc's best-matching
    * corpus doc (Rajpurkar et al. 2016 §6.1) — the symmetric
    * completion of the pair-eval triptych: [[rougeOverlap]] scores
    * recall, [[evalBleu]] precision, this the harmonic mean. Token
    * multiset overlap m = Σ_g min(cnt_cand(g), cnt_eval(g)) over raw
    * unigrams of the selected pair only; P = m/len_cand,
    * R = m/len_eval, and F1 collapses to the EXACT integer form
    * 2·m·10⁶ div (len_cand + len_eval) — no transcendentals at all,
    * every column a truncating division on nonnegative Longs.
    *
    * Pair attribution reuses [[evalPairSpine]] verbatim (banded
    * shared-bigram candidates, never all-pairs); the count joins run
    * on the raw token streams of the selected pairs only
    * (pair-bounded mass, the [[evalBleu]] shape). Every eval doc gets
    * a row; unmatched docs emit cand_id=−1 and zeros.
    */
  def evalF1(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
    val (universe, _, spineBest) = evalPairSpine(spark, sfDir)
    val best = spineBest
      .select("eval_id", "cand_id")
      // pair frame (≤ #eval docs rows), read 3× below
      .transform(graft.Ckpt.pin("Curation.evalF1.best"))
    val uni = docs.join(broadcast(pairDocIds(best)), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val hyp = best.join(uni.withColumnRenamed("doc_id", "cand_id"), "cand_id")
      .select(col("eval_id"), col("g"), col("c").as("c_h"))
    val ref = best.join(uni.withColumnRenamed("doc_id", "eval_id"), "eval_id")
      .select(col("eval_id"), col("g"), col("c").as("c_r"))
    val m = hyp.join(ref, Seq("eval_id", "g"), "left")
      .na.fill(0L, Seq("c_r"))
      .groupBy("eval_id")
      .agg(sum(least(col("c_h"), col("c_r"))).as("m1"),
        sum("c_h").as("len_cand"))
    val refLen = best.join(
      uni.groupBy("doc_id").agg(sum("c").as("len_eval"))
        .withColumnRenamed("doc_id", "eval_id"), "eval_id")
      .select("eval_id", "len_eval")
    universe
      .join(best, Seq("eval_id"), "left")
      .join(m, Seq("eval_id"), "left")
      .join(refLen, Seq("eval_id"), "left")
      .na.fill(0L, Seq("m1", "len_cand", "len_eval"))
      .na.fill(-1L, Seq("cand_id"))
      .withColumn("p_ppm",
        expr("CASE WHEN len_cand > 0 THEN m1 * 1000000 div len_cand ELSE 0L END"))
      .withColumn("r_ppm",
        expr("CASE WHEN len_eval > 0 THEN m1 * 1000000 div len_eval ELSE 0L END"))
      .withColumn("f1_ppm", expr(
        """CASE WHEN len_cand + len_eval > 0
          | THEN 2 * m1 * 1000000 div (len_cand + len_eval) ELSE 0L END""".stripMargin))
      .select("eval_id", "cand_id", "m1", "len_cand", "len_eval",
        "p_ppm", "r_ppm", "f1_ppm")
      .orderBy("eval_id")
  }

  /** chrF (Popović 2015) of each eval doc's best-matching corpus doc —
    * the CHARACTER-level leg of the pair-eval family ([[rougeOverlap]]
    * recall / [[evalBleu]] precision / [[evalF1]] harmonic mean are
    * all word-token metrics; chrF survives tokenization differences
    * and sub-word edits they miss). Pooled character {1,2,3}-gram
    * clipped overlap (grams tagged by n so orders never cross-match;
    * docs shorter than n contribute their whole-text gram, the
    * [[graft.functions.TextExpressions.word_ngrams]] short-doc
    * convention), and the β=2 F-score collapses to the EXACT integer
    * form chrF = (1+β²)m / (β²·len_ref + len_hyp) =
    * 5·m·10⁶ div (4·len_ref + len_hyp) — no transcendentals, every
    * column a truncating division on nonnegative Longs. Text grain is
    * lower(trim(text)) INCLUDING spaces (word-boundary signal; the
    * corpus is ASCII so both engines count the same characters).
    *
    * Pair attribution reuses [[evalPairSpine]] verbatim; the char
    * explode touches ONLY the selected pairs' text (pair-bounded mass,
    * ~3·n_chars rows per matched doc). Every eval doc gets a row;
    * unmatched docs emit cand_id=−1 and zeros.
    */
  def evalChrf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), lower(trim(col("text"))).as("txt"))
    val (universe, _, spineBest) = evalPairSpine(spark, sfDir)
    val best = spineBest
      .select("eval_id", "cand_id")
      // pair frame (≤ #eval docs rows), read 3× below
      .transform(graft.Ckpt.pin("Curation.evalChrf.best"))
    // pair-bounded mass FOR REAL: semi-join the corpus to the selected
    // pair docs BEFORE the character explode — without this the gram
    // aggregate runs corpus-wide and only the join discards it
    val grams = docs.join(broadcast(pairDocIds(best)), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), expr(
      """explode(flatten(transform(array(1, 2, 3), n ->
        | transform(sequence(1, greatest(length(txt) - n + 1, 1)),
        |   i -> named_struct('n', n, 'g', substring(txt, i, n))))))""".stripMargin).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), col("x.g").as("g"))
      .groupBy("doc_id", "n", "g").agg(count(lit(1)).as("c"))
    val hyp = best.join(grams.withColumnRenamed("doc_id", "cand_id"), "cand_id")
      .select(col("eval_id"), col("n"), col("g"), col("c").as("c_h"))
    val ref = best.join(grams.withColumnRenamed("doc_id", "eval_id"), "eval_id")
      .select(col("eval_id"), col("n"), col("g"), col("c").as("c_r"))
    val m = hyp.join(ref, Seq("eval_id", "n", "g"), "left")
      .na.fill(0L, Seq("c_r"))
      .groupBy("eval_id")
      .agg(sum(least(col("c_h"), col("c_r"))).as("m"),
        sum("c_h").as("len_hyp_grams"))
    val refLen = best.join(
      grams.groupBy("doc_id").agg(sum("c").as("len_ref_grams"))
        .withColumnRenamed("doc_id", "eval_id"), "eval_id")
      .select("eval_id", "len_ref_grams")
    universe
      .join(best, Seq("eval_id"), "left")
      .join(m, Seq("eval_id"), "left")
      .join(refLen, Seq("eval_id"), "left")
      .na.fill(0L, Seq("m", "len_hyp_grams", "len_ref_grams"))
      .na.fill(-1L, Seq("cand_id"))
      .withColumn("p_ppm", expr(
        "CASE WHEN len_hyp_grams > 0 THEN m * 1000000 div len_hyp_grams ELSE 0L END"))
      .withColumn("r_ppm", expr(
        "CASE WHEN len_ref_grams > 0 THEN m * 1000000 div len_ref_grams ELSE 0L END"))
      .withColumn("chrf_ppm", expr(
        """CASE WHEN 4 * len_ref_grams + len_hyp_grams > 0
          | THEN 5 * m * 1000000 div (4 * len_ref_grams + len_hyp_grams)
          | ELSE 0L END""".stripMargin))
      .select("eval_id", "cand_id", "m", "len_hyp_grams", "len_ref_grams",
        "p_ppm", "r_ppm", "chrf_ppm")
      .orderBy("eval_id")
  }

  /** Character edit distance (Levenshtein) of each eval doc vs its
    * best-matching corpus doc — the ALIGNMENT-COST leg of the
    * pair-eval family ([[rougeOverlap]] recall, [[evalBleu]]
    * precision, [[evalF1]] harmonic mean, [[evalChrf]] char-gram F are
    * all bag-of-gram metrics; edit distance is the only one that sees
    * ORDER — a candidate with identical gram bags but scrambled text
    * scores 10⁶ on all four and near-worst here). TER-style score:
    * edit_ppm = edits·10⁶ div len_eval (can exceed 10⁶ when the
    * candidate is longer than the reference, as TER does).
    *
    * Parity discipline: both engines implement CLASSIC unit-cost
    * Levenshtein (insert/delete/substitute = 1; Spark
    * `levenshtein(l, r)`, DuckDB `levenshtein(s1, s2)`) over the
    * identical lower(trim(text)) grain — the distance is an exact
    * integer, no quantization anywhere. Unmatched eval docs take
    * cand_id = −1 with the empty-string candidate, so edits =
    * len_eval and edit_ppm = 10⁶ fall out of the SAME formula (the
    * maximal-distance contract, not rouge's zeros — distance to
    * nothing is everything).
    *
    * Scale: pair attribution reuses [[evalPairSpine]] verbatim (banded
    * candidates, never all-pairs); the corpus semi-joins down to the
    * selected pair docs BEFORE any text moves ([[evalChrf]]'s
    * pair-bounded-mass discipline), then ONE codegen'd levenshtein
    * projection per pair row — O(#eval docs × len²) character work
    * total, corpus-independent.
    */
  def evalEdit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lower(trim(col("text"))).as("tx"))
    val (universe, _, spineBest) = evalPairSpine(spark, sfDir)
    val best = spineBest
      .select("eval_id", "cand_id")
      // pair frame (≤ #eval docs rows), read 3× below
      .transform(graft.Ckpt.pin("Curation.evalEdit.best"))
    // eval texts from the eval SPLIT (universe grain — an unmatched
    // eval doc is absent from the pair frame but still needs its text);
    // candidate texts pair-bounded via the selected-doc semi-join
    val evalTx = docs.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("tx").as("t_eval"))
    val candTx = docs.join(broadcast(pairDocIds(best)), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("cand_id"), col("tx").as("t_cand"))
    universe
      .join(best, Seq("eval_id"), "left")
      .na.fill(-1L, Seq("cand_id"))
      .join(broadcast(evalTx), Seq("eval_id"))
      .join(broadcast(candTx), Seq("cand_id"), "left")
      .withColumn("t_cand", coalesce(col("t_cand"), lit("")))
      .withColumn("edits", levenshtein(col("t_eval"), col("t_cand")).cast("long"))
      .withColumn("len_eval", length(col("t_eval")).cast("long"))
      .withColumn("len_cand", length(col("t_cand")).cast("long"))
      .withColumn("edit_ppm", expr("edits * 1000000 div greatest(len_eval, 1L)"))
      .select("eval_id", "cand_id", "edits", "len_eval", "len_cand", "edit_ppm")
      .orderBy("eval_id")
  }

  def contaminationBloom(spark: SparkSession, sfDir: String): DataFrame =
    contaminationScanGated(spark, sfDir, useBloom = true)

  /** The identical computation with the bloom gate removed — the spec
    * asserts result equality (the gate must be invisible) and that the
    * gate actually prunes the corpus stream.
    */
  private[graft] def contaminationNoBloomTwin(spark: SparkSession, sfDir: String): DataFrame =
    contaminationScanGated(spark, sfDir, useBloom = false)

  /** Corpus-side shingle stream (doc_id, source, hs). */
  private def contaminationShingles(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.shingled(spark, sfDir)
      .select(col("doc_id"), col("source"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), col("source"), h60("s").as("hs"))

  /** (corpus shingle rows, bloom-surviving rows) — the prune factor. */
  private[graft] def contaminationBloomPrune(spark: SparkSession, sfDir: String): (Long, Long) = {
    val ex = contaminationShingles(spark, sfDir)
    val corpus = ex.filter(col("doc_id") % EvalMod =!= 0)
    val evalSh = ex.filter(col("doc_id") % EvalMod === 0).select("hs").distinct()
    val bloom = evalSh.stat.bloomFilter("hs", math.max(evalSh.count(), 64L), 0.01)
    (corpus.count(),
      corpus.filter(graft.functions.BloomGate.mightContainLong(bloom, col("hs"))).count())
  }

  private val NoveltyN = 13

  /** N-gram novelty profile — the GPT-3-style decontamination census
    * (Brown et al. 2020, Appendix C measure 13-gram train/eval
    * overlap): for each source's held-out eval docs (the
    * doc_id ≡ 0 mod [[EvalMod]] split the contamination family also
    * uses), what fraction of their DISTINCT 13-grams never occurs
    * anywhere in the train split — the novelty a benchmark score can
    * actually claim. Reported per source as exact integer ppm
    * (novelty_ppm = (test − overlapping)·10⁶ div test).
    *
    * Grain choice: distinct 13-gram HASHES per (source, eval split),
    * not instances — the decontamination question is "is this n-gram
    * available to memorize", not "how often was it retyped"; h60
    * collisions are the same 2⁻⁶⁰ risk the dedup family carries
    * (collision-sensitive: verified at 3 SFs).
    *
    * Scale: gram extraction is the contamination spine's shape (the
    * codegen'd [[graft.functions.TextExpressions.WordNGrams]] kernel at
    * n=13, array_distinct before the explode bounds per-doc fan-out);
    * both splits reduce to DISTINCT hash sets (map-side combined), and
    * the overlap is ONE hash equi-join — shuffled on a fixed-width
    * 64-bit key, the canonical decontamination join at any corpus
    * size. No windows, no non-equi joins, no driver state.
    */
  def noveltyNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.fanOut(spark, Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("tokens", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"), col("source"),
        explode(array_distinct(
          graft.functions.TextExpressions.word_ngrams(col("tokens"), NoveltyN))).as("g"))
      .select(col("doc_id"), col("source"), h60("g").as("hs"))
    val train = grams.filter(col("doc_id") % EvalMod =!= 0)
      .select("hs").distinct()
    val test = grams.filter(col("doc_id") % EvalMod === 0)
      .select("source", "hs").distinct()
    test.join(train.withColumn("seen", lit(1L)), Seq("hs"), "left")
      .na.fill(0L, Seq("seen"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_test_ngrams"), sum("seen").as("n_overlapping"))
      .select(col("source"), col("n_test_ngrams"), col("n_overlapping"),
        expr("(n_test_ngrams - n_overlapping) * 1000000 div n_test_ngrams")
          .as("novelty_ppm"))
      .orderBy("source")
  }

  private def contaminationScanGated(
      spark: SparkSession, sfDir: String, useBloom: Boolean): DataFrame = {
    val ex = contaminationShingles(spark, sfDir)
    // The eval side is the SMALL table (doc_id % EvalMod pushes to the
    // scan); recomputing it for the count, the bloom build and the
    // verify join costs three pruned small scans — cheaper and simpler
    // than a cache lifecycle, and in production it is a materialized
    // benchmark table anyway.
    val evalSh = ex.filter(col("doc_id") % EvalMod === 0).select("hs").distinct()
    val corpus = ex.filter(col("doc_id") % EvalMod =!= 0)
    val survivors =
      if (!useBloom) corpus
      else {
        val bloom = evalSh.stat.bloomFilter("hs", math.max(evalSh.count(), 64L), 0.01)
        corpus.filter(graft.functions.BloomGate.mightContainLong(bloom, col("hs")))
      }
    val shared = survivors
      .join(broadcast(evalSh), Seq("hs"), "left_semi")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("shared"))
    shared.groupBy("source")
      .agg(
        count(lit(1)).as("n_overlapping"),
        sum(when(col("shared") >= ContaminationMin, 1L).otherwise(0L)).as("n_contaminated"),
        max("shared").as("max_shared"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- //
  // Embedding quantization
  // ---------------------------------------------------------------- //

  /** Symmetric int8 quantization of the embedding column — the 4×
    * storage cut an embedding store takes before anything else at
    * 100 TB. Per vector: `scale = max|x| / 127`, `q_i = round(x_i /
    * scale)`. The verification output aggregates per label in exact
    * integer space (component sums of q, L1 mass, nano-quantized scale
    * sums), so it is order-independent and bit-identical cross-engine —
    * float reductions would not be.
    *
    * Scale: one narrow projection pass (the q vectors never shuffle;
    * only the per-label integer partials do). The per-label sum of q is
    * the numerator of a quantized centroid — [[Similarity]]'s
    * label-centroid op in int8 space.
    */
  def quantizeEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorExpressions.{abs_sum_longs, max_abs, quantize_round, sum_longs}
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      // greatest(·, 1e-30) guards the all-zero vector identically in
      // both engines (q collapses to 0 there either way). The fused
      // kernels replace the HOF lambda formulation bit-identically
      // (spec-asserted) so the quantization pass stays inside
      // whole-stage codegen — it runs once per corpus vector.
      .withColumn("scale", greatest(max_abs(col("v")) / lit(127.0d), lit(1e-30d)))
      .withColumn("q", quantize_round(col("v"), col("scale")))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(sum_longs(col("q"))).as("q_sum"),
        sum(abs_sum_longs(col("q"))).as("q_l1"),
        sum(expr("cast(round(scale * 1e9) as bigint)")).as("scale_nanos"))
      .orderBy("label")
  }

  /** Schema evolution under `mergeSchema` — the lake reality that a
    * table's files span schema generations: generation 1 was written
    * before the `lang` column existed, generation 2 carries it. One
    * merged read reconciles both (missing columns surface as nulls),
    * and the per-source aggregate proves no rows were dropped or
    * misaligned: n_rows covers both generations, lang is counted only
    * where gen-2 files supplied it, and the n_chars checksum matches
    * the base table exactly.
    *
    * Files are staged once per source fingerprint (like
    * [[snapshotVersions]]): even doc_ids → gen1 WITHOUT lang, odd →
    * gen2 with it. The oracle recomputes the same aggregate from the
    * base table with the parity split inlined.
    *
    * Scale: mergeSchema reconciles FOOTERS (one per file), not data;
    * the read plan is a plain union of scans with null-fill projection
    * — schema migration without rewriting petabytes.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/documents.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/schema_evo_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(new Path(s"$dir/_STAGED"))) {
      fs.delete(new Path(dir), true)
      val docs = Tables.documents(spark, sfDir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/gen1")
      docs.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$dir/gen2")
      fs.create(new Path(s"$dir/_STAGED")).close()
    }
    spark.read.option("mergeSchema", "true").parquet(s"$dir/gen1", s"$dir/gen2")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("lang")).as("n_with_lang"),
        sum("n_chars").as("n_chars_sum"),
        // parity-keyed (not lang-null-keyed) so a future corpus with
        // genuinely-null lang in gen-2 rows cannot skew the checksum
        sum(when(col("doc_id") % 2 === 0, col("doc_id"))).as("gen1_id_sum"))
      .orderBy("source")
  }

  /** Small-file compaction — the lake's perpetual maintenance job:
    * streaming ingest and per-batch commits leave a table as thousands
    * of KB-sized files whose per-file open/footer cost dominates reads;
    * compaction rewrites them into target-sized files. Staged once per
    * fingerprint: the documents table scattered into 16 hash-keyed
    * shard files (the ingest shape), then compacted with
    * `repartition(2)` + `maxRecordsPerFile` (the two knobs a real
    * compactor tunes). The GATED output is the data-preservation
    * invariant — per-source rows and content checksums read back from
    * the COMPACTED files must equal the base table (oracle recomputes
    * from base); the file-count collapse itself is spec-asserted
    * ([[compactionFileCounts]]).
    *
    * Scale: compaction is one shuffle of the partitions being
    * rewritten (never the whole table — a real table compacts
    * per-partition); reading survivors costs O(files) footers, which
    * is the point.
    */
  private[graft] def compactionDirs(spark: SparkSession, sfDir: String): (String, String) = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/documents.parquet")
    val dir = s"${graft.WorkDirs.rootActive}/compact_$fp"
    val fs = new Path(dir).getFileSystem(conf)
    if (!fs.exists(new Path(s"$dir/_STAGED"))) {
      fs.delete(new Path(dir), true)
      val docs = Tables.documents(spark, sfDir)
      // 16 small shard files — the many-small-commits ingest shape
      docs.repartition(16, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/small")
      spark.read.parquet(s"$dir/small")
        .repartition(2)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 1000000L)
        .parquet(s"$dir/compacted")
      fs.create(new Path(s"$dir/_STAGED")).close()
    }
    (s"$dir/small", s"$dir/compacted")
  }

  def compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, compacted) = compactionDirs(spark, sfDir)
    spark.read.parquet(compacted)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_rows"),
        sum("doc_id").as("id_sum"),
        sum(expr("cast(conv(substr(md5(text), 1, 15), 16, 10) as bigint) % 1000000000000"))
          .as("text_checksum"))
      .orderBy("source")
  }

  val registry: Map[String, Q] = Map(
    "x_compaction" -> compaction _,
    "x_schema_evolution" -> schemaEvolution _,
    "x_sample_stratified" -> stratifiedSample _,
    "x_sample_weighted" -> weightedSample _,
    "x_sample_priority" -> prioritySample _,
    "x_sample_priority_grouped" -> groupPrioritySample _,
    "x_sample_priority_agg" -> groupPriorityAgg _,
    "x_k_anonymity" -> kAnonymity _,
    "x_l_diversity" -> lDiversity _,
    "x_t_closeness" -> tCloseness _,
    "x_dq_expectations" -> dqExpectations _,
    "x_dq_drift" -> dqDrift _,
    "x_psi_drift" -> psiDrift _,
    "x_drift_ks" -> ksDrift _,
    "x_shuffle_feistel" -> feistelShuffle _,
    "x_pareto_select" -> paretoSelect _,
    "x_quantile_norm" -> quantileNorm _,
    "k10_partition_overwrite" -> partitionOverwrite _,
    "x_mix_sources" -> mixSources _,
    "x_mix_temperature" -> mixTemperature _,
    "x_mix_anneal" -> annealMix _,
    "x_mix_epochs" -> mixEpochs _,
    "x_mix_doremi" -> mixDoremi _,
    "x_mix_unimax" -> mixUnimax _,
    "x_split_train" -> splitTrain _,
    "x_split_kfold" -> splitKfold _,
    "x_split_temporal" -> temporalSplit _,
    "x_split_leakage_safe" -> leakageSafeSplit _,
    "x_policy_filter" -> policyFilter _,
    "x_outlier_zscore" -> outlierZscore _,
    "x_forget_ids" -> forgetIds _,
    "x_pseudonymize" -> pseudonymize _,
    "x_select_token_budget" -> tokenBudgetSelect _,
    "x_pack_sequences" -> packSequences _,
    "x_pack_efficiency" -> packEfficiency _,
    "x_pack_shelf" -> packShelf _,
    "x_batch_padding" -> batchPadding _,
    "x_merge_upsert" -> mergeUpsert _,
    "k9_snapshot_read" -> snapshotVersions _,
    "x_contamination" -> contamination _,
    "x_novelty_ngram" -> noveltyNgram _,
    "x_contamination_bloom" -> contaminationBloom _,
    "x_eval_rouge" -> rougeOverlap _,
    "x_eval_bleu" -> evalBleu _,
    "x_eval_f1" -> evalF1 _,
    "x_eval_chrf" -> evalChrf _,
    "x_eval_edit" -> evalEdit _,
    "x_emb_quantize" -> quantizeEmbeddings _,
    "x_incr_agg" -> incrAgg _,
    "x_scd2_dim" -> scd2Dim _,
    "x_scd2_pit" -> scd2PointInTime _,
    "k11_wap_publish" -> wapPublish _,
    "x_snapshot_diff" -> snapshotDiff _,
    "x_lake_vacuum" -> lakeVacuum _,
    "x_positional_delete" -> positionalDelete _,
    "x_merge_on_read" -> mergeOnRead _,
    "x_partition_evolution" -> partitionEvolution _,
  )

  private val Scd2Oracle: String =
    """WITH ev AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |  round(value * 1000000)::BIGINT AS v
        | FROM events),
        |dim AS (
        | SELECT user_id, v AS state, ts_us AS valid_from,
        |  coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
        |           9223372036854775807) AS valid_to
        | FROM ev WHERE event_type = 'view'),
        |f AS (SELECT user_id, ts_us, event_id FROM ev WHERE event_type = 'click'),
        |j AS (
        | SELECT f.user_id, d.state FROM f LEFT JOIN dim d
        | ON f.user_id = d.user_id AND d.valid_from <= f.ts_us AND f.ts_us < d.valid_to)
        |SELECT user_id, count(*)::BIGINT AS n_clicks, count(state)::BIGINT AS n_matched,
        | sum(coalesce(state, 0))::BIGINT AS state_sum
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // compacted read-back == base table: compaction moves bytes
    // between files, never changes rows
    "x_compaction" ->
      """SELECT source, count(*) AS n_rows, sum(doc_id)::BIGINT AS id_sum,
        | sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000000000)::BIGINT AS text_checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // merged-schema read == base table with the generation split
    // inlined: lang exists only for odd doc_ids (gen-2 files)
    "x_schema_evolution" ->
      """SELECT source, count(*) AS n_rows,
        | sum(CASE WHEN doc_id % 2 <> 0 AND lang IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_lang,
        | sum(n_chars)::BIGINT AS n_chars_sum,
        | sum(CASE WHEN doc_id % 2 = 0 THEN doc_id END)::BIGINT AS gen1_id_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x_sample_stratified" ->
      s"""SELECT source, count(*) AS n_total,
         | sum(CASE WHEN ${h60Sql("doc_id::VARCHAR")} % 1000000
         |   < (substr(source, 4)::INT + 1) * 50000 THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
         | sum(CASE WHEN ${h60Sql("doc_id::VARCHAR")} % 1000000
         |   < (substr(source, 4)::INT + 1) * 50000 THEN doc_id END)::BIGINT AS sampled_id_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x_sample_weighted" ->
      s"""WITH g AS (
         | SELECT source, doc_id, n_chars,
         |  ${h60Sql("doc_id::VARCHAR")} // greatest(n_chars, 1) < $WeightedC AS keep,
         |  greatest(1, $TwoPow60 // ($WeightedC * greatest(n_chars, 1))) AS ht
         | FROM documents)
         |SELECT source,
         | sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
         | sum(CASE WHEN keep THEN doc_id END)::BIGINT AS id_sum,
         | sum(CASE WHEN keep THEN n_chars END)::BIGINT AS chars_sampled,
         | sum(CASE WHEN keep THEN ht END)::BIGINT AS ht_docs,
         | sum(CASE WHEN keep THEN ht * n_chars END)::BIGINT AS ht_chars
         |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // integer-exact priority re-derivation: same 48-bit hash, same
    // BIGINT floor-divisions, same (priority DESC, doc_id) top-k
    "x_sample_priority" ->
      s"""SELECT doc_id, source, n_chars, priority FROM (
         | SELECT doc_id, source, n_chars,
         |  ((n_chars * $TwoPow48) //
         |   (('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1))::BIGINT AS priority
         | FROM documents
         | ORDER BY priority DESC, doc_id ASC LIMIT $PrioritySampleK)
         |ORDER BY doc_id""".stripMargin,
    // same integer priorities, ranked within each source
    "x_sample_priority_grouped" ->
      s"""SELECT source, doc_id, n_chars, priority, rk::INT AS rk FROM (
         | SELECT source, doc_id, n_chars,
         |  ((n_chars * $TwoPow48) //
         |   (('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1))::BIGINT AS priority,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ((n_chars * $TwoPow48) //
         |     (('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1)) DESC, doc_id ASC) AS rk
         | FROM documents)
         |WHERE rk <= $GroupPriorityK ORDER BY source, rk""".stripMargin,
    // the bounded-aggregate twin shares the window form's oracle
    // VERBATIM — identical rows from both formulations IS the claim
    "x_sample_priority_agg" ->
      s"""SELECT source, doc_id, n_chars, priority, rk::INT AS rk FROM (
         | SELECT source, doc_id, n_chars,
         |  ((n_chars * $TwoPow48) //
         |   (('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1))::BIGINT AS priority,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ((n_chars * $TwoPow48) //
         |     (('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT + 1)) DESC, doc_id ASC) AS rk
         | FROM documents)
         |WHERE rk <= $GroupPriorityK ORDER BY source, rk""".stripMargin,
    "x_k_anonymity" ->
      s"""WITH base AS (
         | SELECT n_regionkey, c_nationkey, c_mktsegment, count(*) AS n
         | FROM customer JOIN nation ON c_nationkey = n_nationkey
         | GROUP BY 1, 2, 3),
         |l2g AS (SELECT n_regionkey, c_mktsegment, sum(n) AS gn
         |        FROM base GROUP BY 1, 2),
         |l3g AS (SELECT c_mktsegment, sum(n) AS gn FROM base GROUP BY 1)
         |SELECT 'l1_nation_segment' AS level, count(*)::BIGINT AS n_groups,
         | sum(CASE WHEN n < $AnonK THEN 1 ELSE 0 END)::BIGINT AS groups_below_k,
         | sum(CASE WHEN n < $AnonK THEN n ELSE 0 END)::BIGINT AS rows_at_risk,
         | min(n)::BIGINT AS min_group FROM base
         |UNION ALL
         |SELECT 'l2_region_segment', count(*)::BIGINT,
         | sum(CASE WHEN gn < $AnonK THEN 1 ELSE 0 END)::BIGINT,
         | sum(CASE WHEN gn < $AnonK THEN gn ELSE 0 END)::BIGINT,
         | min(gn)::BIGINT FROM l2g
         |UNION ALL
         |SELECT 'l3_segment', count(*)::BIGINT,
         | sum(CASE WHEN gn < $AnonK THEN 1 ELSE 0 END)::BIGINT,
         | sum(CASE WHEN gn < $AnonK THEN gn ELSE 0 END)::BIGINT,
         | min(gn)::BIGINT FROM l3g
         |ORDER BY level""".stripMargin,
    // identical band derivation (shifted nonnegative integer division
    // over exact cents) and the same model-sized rollup base
    "x_l_diversity" ->
      s"""WITH base AS (
         | SELECT n_regionkey, c_nationkey, c_mktsegment,
         |  (round(c_acctbal * 100)::BIGINT + 100000) // 100000 AS band,
         |  count(*)::BIGINT AS n
         | FROM customer JOIN nation ON c_nationkey = n_nationkey
         | GROUP BY 1, 2, 3, 4),
         |l1 AS (SELECT c_nationkey, c_mktsegment,
         |        count(DISTINCT band)::BIGINT AS div, sum(n)::BIGINT AS rows
         |       FROM base GROUP BY 1, 2),
         |l2 AS (SELECT n_regionkey, c_mktsegment,
         |        count(DISTINCT band)::BIGINT AS div, sum(n)::BIGINT AS rows
         |       FROM base GROUP BY 1, 2),
         |l3 AS (SELECT c_mktsegment,
         |        count(DISTINCT band)::BIGINT AS div, sum(n)::BIGINT AS rows
         |       FROM base GROUP BY 1)
         |SELECT 'l1_nation_segment' AS level, count(*)::BIGINT AS n_groups,
         | sum(CASE WHEN div < $DiversityL THEN 1 ELSE 0 END)::BIGINT AS groups_below_l,
         | sum(CASE WHEN div < $DiversityL THEN rows ELSE 0 END)::BIGINT AS rows_at_risk,
         | min(div)::BIGINT AS min_diversity FROM l1
         |UNION ALL
         |SELECT 'l2_region_segment', count(*)::BIGINT,
         | sum(CASE WHEN div < $DiversityL THEN 1 ELSE 0 END)::BIGINT,
         | sum(CASE WHEN div < $DiversityL THEN rows ELSE 0 END)::BIGINT,
         | min(div)::BIGINT FROM l2
         |UNION ALL
         |SELECT 'l3_segment', count(*)::BIGINT,
         | sum(CASE WHEN div < $DiversityL THEN 1 ELSE 0 END)::BIGINT,
         | sum(CASE WHEN div < $DiversityL THEN rows ELSE 0 END)::BIGINT,
         | min(div)::BIGINT FROM l3
         |ORDER BY level""".stripMargin,
    // identical band grain and ppm quantization (both distributions
    // divided ONCE, cumulative/abs/final folds all exact BIGINT with
    // truncating division on nonnegative operands)
    "x_t_closeness" ->
      s"""WITH base AS (
         | SELECT n_regionkey, c_nationkey, c_mktsegment,
         |  (round(c_acctbal * 100)::BIGINT + 100000) // 100000 AS band,
         |  count(*)::BIGINT AS n
         | FROM customer JOIN nation ON c_nationkey = n_nationkey
         | GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT sum(n)::BIGINT AS total FROM base),
         |uni AS (SELECT band,
         |         (sum(n) * 1000000 // (SELECT total FROM tot))::BIGINT AS q_ppm
         |        FROM base GROUP BY band),
         |m1 AS (SELECT greatest(count(*) - 1, 1)::BIGINT AS m FROM uni),
         |l1g AS (SELECT c_nationkey, c_mktsegment, band, sum(n)::BIGINT AS cnt
         |        FROM base GROUP BY 1, 2, 3),
         |l1t AS (SELECT c_nationkey, c_mktsegment, sum(cnt)::BIGINT AS ng
         |        FROM l1g GROUP BY 1, 2),
         |l1c AS (SELECT t.c_nationkey, t.c_mktsegment,
         |         sum((coalesce(g.cnt, 0) * 1000000 // t.ng) - u.q_ppm)
         |          OVER (PARTITION BY t.c_nationkey, t.c_mktsegment
         |                ORDER BY u.band) AS cum
         |        FROM l1t t CROSS JOIN uni u
         |        LEFT JOIN l1g g ON g.c_nationkey = t.c_nationkey
         |         AND g.c_mktsegment = t.c_mktsegment AND g.band = u.band),
         |l1e AS (SELECT (sum(abs(cum)) // (SELECT m FROM m1))::BIGINT AS emd_ppm
         |        FROM l1c GROUP BY c_nationkey, c_mktsegment),
         |l2g AS (SELECT n_regionkey, c_mktsegment, band, sum(n)::BIGINT AS cnt
         |        FROM base GROUP BY 1, 2, 3),
         |l2t AS (SELECT n_regionkey, c_mktsegment, sum(cnt)::BIGINT AS ng
         |        FROM l2g GROUP BY 1, 2),
         |l2c AS (SELECT t.n_regionkey, t.c_mktsegment,
         |         sum((coalesce(g.cnt, 0) * 1000000 // t.ng) - u.q_ppm)
         |          OVER (PARTITION BY t.n_regionkey, t.c_mktsegment
         |                ORDER BY u.band) AS cum
         |        FROM l2t t CROSS JOIN uni u
         |        LEFT JOIN l2g g ON g.n_regionkey = t.n_regionkey
         |         AND g.c_mktsegment = t.c_mktsegment AND g.band = u.band),
         |l2e AS (SELECT (sum(abs(cum)) // (SELECT m FROM m1))::BIGINT AS emd_ppm
         |        FROM l2c GROUP BY n_regionkey, c_mktsegment),
         |l3g AS (SELECT c_mktsegment, band, sum(n)::BIGINT AS cnt
         |        FROM base GROUP BY 1, 2),
         |l3t AS (SELECT c_mktsegment, sum(cnt)::BIGINT AS ng FROM l3g GROUP BY 1),
         |l3c AS (SELECT t.c_mktsegment,
         |         sum((coalesce(g.cnt, 0) * 1000000 // t.ng) - u.q_ppm)
         |          OVER (PARTITION BY t.c_mktsegment ORDER BY u.band) AS cum
         |        FROM l3t t CROSS JOIN uni u
         |        LEFT JOIN l3g g ON g.c_mktsegment = t.c_mktsegment
         |         AND g.band = u.band),
         |l3e AS (SELECT (sum(abs(cum)) // (SELECT m FROM m1))::BIGINT AS emd_ppm
         |        FROM l3c GROUP BY c_mktsegment)
         |SELECT 'l1_nation_segment' AS level, count(*)::BIGINT AS n_groups,
         | sum(CASE WHEN emd_ppm > $TClosenessPpm THEN 1 ELSE 0 END)::BIGINT
         |  AS groups_above_t,
         | max(emd_ppm)::BIGINT AS max_emd_ppm,
         | (sum(emd_ppm) // count(*))::BIGINT AS mean_emd_ppm FROM l1e
         |UNION ALL
         |SELECT 'l2_region_segment', count(*)::BIGINT,
         | sum(CASE WHEN emd_ppm > $TClosenessPpm THEN 1 ELSE 0 END)::BIGINT,
         | max(emd_ppm)::BIGINT, (sum(emd_ppm) // count(*))::BIGINT FROM l2e
         |UNION ALL
         |SELECT 'l3_segment', count(*)::BIGINT,
         | sum(CASE WHEN emd_ppm > $TClosenessPpm THEN 1 ELSE 0 END)::BIGINT,
         | max(emd_ppm)::BIGINT, (sum(emd_ppm) // count(*))::BIGINT FROM l3e
         |ORDER BY level""".stripMargin,
    "x_dq_expectations" ->
      """WITH checks AS (
        | SELECT 'customer' AS tbl, 'domain_c_mktsegment' AS "check",
        |  count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN c_mktsegment NOT IN
        |   ('MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE')
        |   OR c_mktsegment IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_violations
        | FROM customer
        | UNION ALL SELECT 'customer', 'not_null_c_acctbal', count(*)::BIGINT,
        |  sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT FROM customer
        | UNION ALL SELECT 'documents', 'consistent_n_chars', count(*)::BIGINT,
        |  sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT FROM documents
        | UNION ALL SELECT 'events', 'finite_value', count(*)::BIGINT,
        |  sum(CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END)::BIGINT FROM events
        | UNION ALL SELECT 'lineitem', 'fk_l_orderkey', count(*)::BIGINT,
        |  (SELECT count(*) FROM lineitem li WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey))::BIGINT
        |  FROM lineitem
        | UNION ALL SELECT 'lineitem', 'range_l_quantity_1_50', count(*)::BIGINT,
        |  sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
        |   THEN 1 ELSE 0 END)::BIGINT FROM lineitem
        | UNION ALL SELECT 'orders', 'fk_o_custkey', count(*)::BIGINT,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT
        |  FROM orders
        | UNION ALL SELECT 'orders', 'not_null_o_orderdate', count(*)::BIGINT,
        |  sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT FROM orders
        | UNION ALL SELECT 'orders', 'positive_o_totalprice', count(*)::BIGINT,
        |  sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |   THEN 1 ELSE 0 END)::BIGINT FROM orders
        | UNION ALL SELECT 'orders', 'unique_o_orderkey', count(*)::BIGINT,
        |  (count(*) - count(DISTINCT o_orderkey))::BIGINT FROM orders)
        |SELECT tbl, "check", n_rows, n_violations, n_violations = 0 AS pass
        |FROM checks ORDER BY tbl, "check"""".stripMargin,
    "k10_partition_overwrite" ->
      """WITH rd AS (
        | SELECT strftime(min(date_trunc('day', ts)), '%Y-%m-%d') AS d FROM events)
        |SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        | count(*) AS n,
        | round(sum(CASE WHEN strftime(date_trunc('day', ts), '%Y-%m-%d') = (SELECT d FROM rd)
        |   THEN value * 2 ELSE value END), 2) AS sum_value,
        | strftime(date_trunc('day', ts), '%Y-%m-%d') = (SELECT d FROM rd) AS revised
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "x_mix_sources" ->
      s"""WITH ranked AS (
         | SELECT source, n_chars,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk,
         |  ($MixBudget * (20 - substr(source, 4)::BIGINT)) // $MixWeightSum AS quota
         | FROM documents)
         |SELECT source, count(*) AS n_selected,
         | sum(n_chars)::BIGINT AS chars_selected, min(quota) AS quota
         |FROM ranked WHERE rk <= quota GROUP BY source ORDER BY source""".stripMargin,
    "x_mix_epochs" ->
      """WITH amp AS (
        | SELECT source, (substr(source, 4)::INT % 3) + 1 AS epochs, doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  unnest(generate_series(1, (substr(source, 4)::INT % 3) + 1)) AS epoch
        | FROM documents)
        |SELECT source, max(epochs) AS epochs, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS amp_rows, sum(n_tokens)::BIGINT AS amp_tokens,
        | sum(doc_id * epoch)::BIGINT AS epoch_weighted_id_sum
        |FROM amp GROUP BY source ORDER BY source""".stripMargin,
    // same micro-quantization + integer means + ppm compare per day
    "x_dq_drift" ->
      s"""WITH ev AS (
         | SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id,
         |  round(value * 1000000)::BIGINT AS vm
         | FROM events),
         |daily AS (
         | SELECT day, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
         |  sum(vm) // count(*) AS mean_micros
         | FROM ev GROUP BY day),
         |g AS (SELECT sum(vm) // count(*) AS global_micros FROM ev)
         |SELECT day, n_events, n_users, mean_micros::BIGINT AS mean_micros,
         | (abs(mean_micros - global_micros) * 1000000 // greatest(abs(global_micros), 1))::BIGINT AS dev_ppm,
         | (abs(mean_micros - global_micros) * 1000000 // greatest(abs(global_micros), 1)) > $DriftPpm AS drifted
         |FROM daily, g ORDER BY day""".stripMargin,
    // integer-ppm lerp of (uniform -> char-mass) weights across epochs
    "x_mix_anneal" ->
      s"""WITH per_src AS (
         | SELECT source, sum(n_chars)::BIGINT AS chars FROM documents GROUP BY source),
         |tot AS (SELECT sum(chars)::BIGINT AS total_chars, count(*) AS n_sources FROM per_src),
         |w AS (
         | SELECT source,
         |  (1000000 // n_sources)::BIGINT AS w0_ppm,
         |  ((1000000 * chars) // total_chars)::BIGINT AS w1_ppm
         | FROM per_src, tot),
         |e AS (SELECT unnest(generate_series(0, ${AnnealEpochs - 1}))::INT AS epoch)
         |SELECT epoch, source,
         | ((w0_ppm * (${AnnealEpochs - 1} - epoch) + w1_ppm * epoch) // ${AnnealEpochs - 1})::BIGINT AS frac_ppm,
         | (($AnnealBudget * ((w0_ppm * (${AnnealEpochs - 1} - epoch) + w1_ppm * epoch) // ${AnnealEpochs - 1})) // 1000000)::BIGINT AS quota_docs
         |FROM w, e ORDER BY epoch, source""".stripMargin,
    // identical micro-nat model term, exact BIGINT cross-entropy fold,
    // the same 10-nat clamp, and exp quantized once per source; ppm
    // renormalization is truncating division on nonnegative operands
    "x_mix_doremi" ->
      """WITH toks AS (
        | SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        | FROM documents),
        |per_src AS (SELECT source, t, count(*)::BIGINT AS cnt_s FROM toks GROUP BY 1, 2),
        |c AS (SELECT t, sum(cnt_s)::BIGINT AS cnt_c FROM per_src GROUP BY t),
        |nn AS (SELECT sum(cnt_s)::BIGINT AS n FROM per_src),
        |h AS (
        | SELECT source, sum(cnt_s)::BIGINT AS n_tokens,
        |  (sum(cnt_s * round((ln((SELECT n FROM nn)::DOUBLE) - ln(cnt_c::DOUBLE)) * 1000000)::BIGINT)
        |   // sum(cnt_s))::BIGINT AS h_micro_nats
        | FROM per_src JOIN c USING (t) GROUP BY source),
        |ex AS (
        | SELECT source, n_tokens, h_micro_nats,
        |  least(h_micro_nats - min(h_micro_nats) OVER (), 10000000)::BIGINT AS excess_micro_nats
        | FROM h),
        |ew AS (
        | SELECT *, round(exp(excess_micro_nats::DOUBLE / 1000000) * 1000000)::BIGINT AS e_weight
        | FROM ex)
        |SELECT source, n_tokens, h_micro_nats, excess_micro_nats,
        | (e_weight * 1000000 // sum(e_weight) OVER ())::BIGINT AS weight_ppm
        |FROM ew ORDER BY source""".stripMargin,
    // same closed-form waterfill: caps sorted ascending, first rank
    // whose cap exceeds the even share of the remaining budget, flat
    // integer share for everything at or above it; epochs_ppm uses the
    // same two-term int64-safe scale split
    "x_mix_unimax" ->
      s"""WITH sizes AS (
         | SELECT source,
         |  sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens
         | FROM documents GROUP BY source),
         |b AS (SELECT sum(n_tokens)::BIGINT AS b FROM sizes),
         |s AS (SELECT count(*)::BIGINT AS s FROM sizes),
         |ranked AS (
         | SELECT source, n_tokens,
         |  (n_tokens * $UnimaxEpochCap)::BIGINT AS cap_tokens,
         |  row_number() OVER (ORDER BY n_tokens * $UnimaxEpochCap, source)::BIGINT AS rk,
         |  coalesce(sum(n_tokens * $UnimaxEpochCap) OVER (
         |    ORDER BY n_tokens * $UnimaxEpochCap, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prefix
         | FROM sizes),
         |xing AS (
         | SELECT rk,
         |  (((SELECT b FROM b) - prefix)
         |   // ((SELECT s FROM s) - rk + 1))::BIGINT AS share
         | FROM ranked
         | WHERE cap_tokens * ((SELECT s FROM s) - rk + 1)
         |  > (SELECT b FROM b) - prefix
         | ORDER BY rk LIMIT 1),
         |alloc AS (
         | SELECT source, n_tokens, cap_tokens,
         |  (CASE WHEN rk < coalesce((SELECT rk FROM xing), (SELECT s FROM s) + 1)
         |   THEN cap_tokens
         |   ELSE coalesce((SELECT share FROM xing), 0) END)::BIGINT AS alloc_tokens,
         |  (CASE WHEN rk < coalesce((SELECT rk FROM xing), (SELECT s FROM s) + 1)
         |   THEN 1 ELSE 0 END)::BIGINT AS capped
         | FROM ranked)
         |SELECT source, n_tokens, cap_tokens, alloc_tokens, capped,
         | ((alloc_tokens // n_tokens) * 1000000
         |  + ((alloc_tokens % n_tokens) * 1000000) // n_tokens)::BIGINT AS epochs_ppm
         |FROM alloc ORDER BY source""".stripMargin,
    "x_mix_temperature" ->
      s"""WITH rates AS (
         | SELECT source, count(*) AS c,
         |  floor(sqrt(count(*)))::BIGINT AS isq
         | FROM documents GROUP BY source),
         |r2 AS (
         | SELECT source, c, isq,
         |  ($TempBudget * isq) // (SELECT sum(isq) FROM rates) AS target
         | FROM rates),
         |r3 AS (SELECT *, least(1000000, (1000000 * target) // c) AS thr FROM r2)
         |SELECT d.source, count(*) AS n_total,
         | min(r3.target)::BIGINT AS target, min(r3.thr)::BIGINT AS thr_ppm,
         | sum(CASE WHEN ${h60Sql("d.doc_id::VARCHAR")} % 1000000 < r3.thr
         |   THEN 1 ELSE 0 END)::BIGINT AS n_selected,
         | sum(CASE WHEN ${h60Sql("d.doc_id::VARCHAR")} % 1000000 < r3.thr
         |   THEN d.doc_id END)::BIGINT AS selected_id_sum
         |FROM documents d JOIN r3 USING (source)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // per-strategy padded mass from bucket-level count·max aggregates
    "x_batch_padding" -> {
      val perW = PadBucketWidths.map { wd =>
        s"""SELECT 'bucket_w$wd' AS strategy, sum(b_docs) AS n_docs,
           | sum(b_tokens) AS tokens, sum(b_docs * b_mx) AS padded
           |FROM (SELECT len // $wd AS bucket, count(*) AS b_docs,
           |       sum(len) AS b_tokens, max(len) AS b_mx FROM d GROUP BY 1)""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH d AS (
         | SELECT len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS len
         | FROM documents),
         |s AS (
         | SELECT 'global' AS strategy, count(*) AS n_docs, sum(len) AS tokens,
         |  count(*) * max(len) AS padded FROM d
         | UNION ALL
         |$perW)
         |SELECT strategy, n_docs::BIGINT AS n_docs, tokens::BIGINT AS tokens,
         | padded::BIGINT AS padded, (padded - tokens)::BIGINT AS waste_tokens,
         | (((padded - tokens) * 1000000) // padded)::BIGINT AS waste_ppm
         |FROM s ORDER BY strategy""".stripMargin
    },
    // recomputes the near-dup clusters with Dedup's recursive-CTE
    // formulation (the x_dedup_clusters parity), then runs both split
    // assignments and the same (rep, split)-keyed leak census
    "x_split_leakage_safe" ->
      s"""WITH RECURSIVE ${Dedup.minhashOracleCtes},
         |${Dedup.clusterLabelCtes},
         |asg AS (
         | SELECT d.doc_id, coalesce(l.label, d.doc_id) AS rep
         | FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
         |sp AS (
         | SELECT doc_id, rep,
         |  ${splitOfSql("rep")} AS cl_split,
         |  ${splitOfSql("doc_id")} AS nv_split
         | FROM asg),
         |c1 AS (SELECT rep, cl_split AS split, count(*) AS n, sum(doc_id) AS ids
         |       FROM sp GROUP BY 1, 2),
         |s1 AS (SELECT rep, count(*) AS nsp FROM c1 GROUP BY rep),
         |m1 AS (SELECT 'cluster' AS method, split, sum(n)::BIGINT AS n_docs,
         |        sum(ids)::BIGINT AS id_sum,
         |        sum(CASE WHEN nsp > 1 THEN n ELSE 0 END)::BIGINT AS n_leaky_docs
         |       FROM c1 JOIN s1 USING (rep) GROUP BY split),
         |c2 AS (SELECT rep, nv_split AS split, count(*) AS n, sum(doc_id) AS ids
         |       FROM sp GROUP BY 1, 2),
         |s2 AS (SELECT rep, count(*) AS nsp FROM c2 GROUP BY rep),
         |m2 AS (SELECT 'naive' AS method, split, sum(n)::BIGINT AS n_docs,
         |        sum(ids)::BIGINT AS id_sum,
         |        sum(CASE WHEN nsp > 1 THEN n ELSE 0 END)::BIGINT AS n_leaky_docs
         |       FROM c2 JOIN s2 USING (rep) GROUP BY split)
         |SELECT * FROM m1 UNION ALL SELECT * FROM m2 ORDER BY method, split""".stripMargin,
    "x_split_train" ->
      s"""SELECT CASE WHEN ${h60Sql("doc_id::VARCHAR")} % 100 < 98 THEN 'train'
         |  WHEN ${h60Sql("doc_id::VARCHAR")} % 100 = 98 THEN 'val'
         |  ELSE 'test' END AS split,
         | count(*) AS n_docs,
         | sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS tokens,
         | sum(n_chars)::BIGINT AS chars,
         | sum(doc_id)::BIGINT AS id_sum
         |FROM documents GROUP BY split ORDER BY split""".stripMargin,
    // same per-fold census + totals-minus-fold complement arithmetic;
    // the partition/no-loss invariants are the claim, recomputed by
    // DuckDB from the raw table
    "x_split_kfold" ->
      s"""WITH per AS (
         | SELECT (${h60Sql("doc_id::VARCHAR")} % 5)::INT AS test_fold,
         |  count(*)::BIGINT AS n_test,
         |  sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS test_tokens,
         |  sum(doc_id)::BIGINT AS test_id_sum
         | FROM documents GROUP BY 1),
         |tot AS (SELECT sum(n_test)::BIGINT AS t_docs,
         |         sum(test_tokens)::BIGINT AS t_tokens,
         |         sum(test_id_sum)::BIGINT AS t_ids FROM per)
         |SELECT test_fold, n_test, (t_docs - n_test)::BIGINT AS n_train,
         | test_tokens, (t_tokens - test_tokens)::BIGINT AS train_tokens,
         | test_id_sum, (t_ids - test_id_sum)::BIGINT AS train_id_sum
         |FROM per CROSS JOIN tot ORDER BY test_fold""".stripMargin,
    "x_policy_filter" ->
      s"""WITH policy(pclass, min_tokens, langs, keep_ppm) AS (VALUES
         |  (0, 64, ['en','de','es','fr','zh'], 1000000),
         |  (1, 96, ['en','de','es','fr'], 800000),
         |  (2, 128, ['en','de'], 600000),
         |  (3, 160, ['en'], 400000)),
         |d AS (
         | SELECT doc_id, source, lang,
         |  substr(source, 4)::INT % 4 AS pclass,
         |  len(regexp_split_to_array(lower(trim(text)), '\\s+'))::BIGINT AS tokens
         | FROM documents),
         |k AS (
         | SELECT d.source, d.tokens,
         |  (d.tokens >= p.min_tokens AND list_contains(p.langs, d.lang)
         |   AND ${h60Sql("d.doc_id::VARCHAR")} % 1000000 < p.keep_ppm) AS kept
         | FROM d JOIN policy p USING (pclass))
         |SELECT source, count(*) AS n_docs,
         | sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         | sum(CASE WHEN kept THEN tokens END)::BIGINT AS kept_tokens
         |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "x_forget_ids" ->
      """WITH d AS (
        | SELECT doc_id % 101 = 0 AS forget, n_chars,
        |  len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS n_tok
        | FROM documents),
        |dd AS (SELECT *, 1 + greatest((n_tok - 64 + 47) // 48, 0) AS n_chunks FROM d),
        |rows3 AS (
        | SELECT 'documents' AS tbl, count(*)::BIGINT AS n_before,
        |  sum(CASE WHEN forget THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |  sum(CASE WHEN forget THEN n_chars ELSE 0 END)::BIGINT AS payload_removed
        | FROM dd
        | UNION ALL
        | SELECT 'doc_chunks', sum(n_chunks)::BIGINT,
        |  sum(CASE WHEN forget THEN n_chunks ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN forget THEN n_tok ELSE 0 END)::BIGINT
        | FROM dd
        | UNION ALL
        | SELECT 'embeddings', count(*)::BIGINT,
        |  sum(CASE WHEN vec_id % 101 = 0 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN vec_id % 101 = 0 THEN len(embedding) * 4 ELSE 0 END)::BIGINT
        | FROM embeddings)
        |SELECT tbl, n_before, n_removed, (n_before - n_removed)::BIGINT AS n_after,
        | payload_removed
        |FROM rows3 ORDER BY tbl""".stripMargin,
    // identical keyed hash (pepper as a literal), identical rollup —
    // the checksum pins the exact pseudonym VALUES, not just counts
    "x_pseudonymize" ->
      s"""WITH ev AS (
         | SELECT event_type, user_id,
         |  ('0x' || substr(md5('$PseudoPepper' || user_id::VARCHAR), 1, 15))::BIGINT AS pseud
         | FROM events)
         |SELECT event_type, count(*) AS n_events,
         | count(DISTINCT user_id) AS n_users,
         | count(DISTINCT pseud) AS n_pseudonyms,
         | sum(pseud % 1000000000000)::BIGINT AS pseud_checksum
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    // batches re-derived from the base table with the same slice and
    // injected corruption; the published table must equal the clean
    // batch exactly (audit gate proven by checksum identity)
    "k11_wap_publish" ->
      s"""WITH a AS (
         | SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 3 <> 0),
         |b AS (
         | SELECT doc_id,
         |  CASE WHEN doc_id % 6 = 0 THEN text || '!' ELSE text END AS text, n_chars
         | FROM documents WHERE doc_id % 3 = 0),
         |s AS (
         | SELECT 'batch_clean' AS stage, count(*) AS n_rows,
         |  sum(CASE WHEN doc_id IS NULL OR n_chars <> len(text) THEN 1 ELSE 0 END)::BIGINT AS n_violations,
         |  1::BIGINT AS published,
         |  sum(${h60Sql("text")} % 1000000000000)::BIGINT AS text_checksum
         | FROM a
         | UNION ALL
         | SELECT 'batch_corrupt', count(*),
         |  sum(CASE WHEN doc_id IS NULL OR n_chars <> len(text) THEN 1 ELSE 0 END)::BIGINT,
         |  0::BIGINT, sum(${h60Sql("text")} % 1000000000000)::BIGINT
         | FROM b
         | UNION ALL
         | SELECT 'published_table', count(*),
         |  sum(CASE WHEN doc_id IS NULL OR n_chars <> len(text) THEN 1 ELSE 0 END)::BIGINT,
         |  1::BIGINT, sum(${h60Sql("text")} % 1000000000000)::BIGINT
         | FROM a)
         |SELECT stage, n_rows, n_violations, published, text_checksum
         |FROM s ORDER BY stage""".stripMargin,
    // identical rank-matching arithmetic; both row_numbers share the
    // (score, doc_id) total order, so the mapping is deterministic
    "x_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r FROM d),
        |ns AS (SELECT source, count(*)::BIGINT AS n_s FROM d GROUP BY source),
        |g AS (SELECT n_chars AS gval,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS grank FROM d),
        |m AS (SELECT r.source, r.n_chars,
        |  ((r.r * (SELECT count(*) FROM d) + ns.n_s - 1) // ns.n_s) AS gr
        | FROM r JOIN ns USING (source))
        |SELECT m.source, count(*)::BIGINT AS n_docs,
        | sum(m.n_chars)::BIGINT AS raw_sum, sum(g.gval)::BIGINT AS cal_sum
        |FROM m JOIN g ON g.grank = m.gr
        |GROUP BY m.source ORDER BY m.source""".stripMargin,
    // same per-q min + strict-prefix-min sweep; equal-(q,wc) points
    // co-survive on both sides (no strict dominance among ties)
    "x_pareto_select" ->
      """WITH t AS (SELECT doc_id,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |d AS (SELECT doc_id, len(list_distinct(toks))::BIGINT AS q,
        |       len(toks)::BIGINT AS wc FROM t),
        |pq AS (SELECT q, min(wc) AS mw FROM d GROUP BY q),
        |sk AS (SELECT q, mw,
        |  min(mw) OVER (ORDER BY q DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hm
        | FROM pq),
        |pts AS (SELECT q, mw FROM sk WHERE hm IS NULL OR mw < hm)
        |SELECT d.q, d.wc, count(*)::BIGINT AS n_docs, min(d.doc_id)::BIGINT AS min_doc
        |FROM d JOIN pts ON d.q = pts.q AND d.wc = pts.mw
        |GROUP BY d.q, d.wc ORDER BY d.q DESC""".stripMargin,
    // identical bucketing, smoothing, composite-ln quantization and
    // BIGINT fold; every term nonneg so the truncating div agrees
    "x_psi_drift" ->
      """WITH d AS (SELECT source,
        |  length(bin(len(regexp_split_to_array(lower(trim(text)), '\s+')))) - 1 AS b
        | FROM documents),
        |g AS (SELECT b, count(*)::BIGINT AS cnt_g FROM d GROUP BY b),
        |s AS (SELECT source, b, count(*)::BIGINT AS cnt_s FROM d GROUP BY source, b),
        |ns AS (SELECT source, sum(cnt_s)::BIGINT AS n_s FROM s GROUP BY source),
        |t AS (
        | SELECT ns.source, ns.n_s, g.b, g.cnt_g, coalesce(s.cnt_s, 0) AS cnt_s,
        |  (SELECT count(*) FROM g)::BIGINT AS nb, (SELECT count(*) FROM d)::BIGINT AS n
        | FROM ns CROSS JOIN g LEFT JOIN s ON s.source = ns.source AND s.b = g.b),
        |t2 AS (
        | SELECT source, n_s, nb, n, cnt_g, cnt_s,
        |  round((ln((cnt_s + 1)::DOUBLE) - ln((n_s + nb)::DOUBLE)
        |   - ln((cnt_g + 1)::DOUBLE) + ln((n + nb)::DOUBLE)) * 1000000)::BIGINT AS ln_micro
        | FROM t),
        |p AS (
        | SELECT source, max(n_s)::BIGINT AS n_docs, count(*)::BIGINT AS n_buckets,
        |  (sum(((cnt_s + 1)::HUGEINT * (n + nb) - (cnt_g + 1)::HUGEINT * (n_s + nb)) * ln_micro)
        |   // (max(n_s + nb)::HUGEINT * max(n + nb)))::BIGINT AS psi_micro_nats
        | FROM t2 GROUP BY source)
        |SELECT source, n_docs, n_buckets, psi_micro_nats,
        | CASE WHEN psi_micro_nats < 100000 THEN 'stable'
        |      WHEN psi_micro_nats < 200000 THEN 'minor'
        |      ELSE 'major' END AS band
        |FROM p ORDER BY source""".stripMargin,
    // identical per-side ppm quantization of both ECDFs before the
    // difference; div/// both truncate on nonnegative operands, and
    // every sum is cast back to BIGINT so the dtype class matches
    "x_drift_ks" ->
      """WITH d AS (SELECT source,
        |  len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT AS wc
        | FROM documents),
        |s AS (SELECT source, wc, count(*)::BIGINT AS c_s FROM d GROUP BY 1, 2),
        |g AS (SELECT wc, count(*)::BIGINT AS c_g FROM d GROUP BY 1),
        |ns AS (SELECT source, sum(c_s)::BIGINT AS n_s FROM s GROUP BY 1),
        |grid AS (
        | SELECT ns.source, ns.n_s, g.wc, g.c_g, coalesce(s.c_s, 0)::BIGINT AS c_s,
        |  (SELECT count(*) FROM d)::BIGINT AS n
        | FROM ns CROSS JOIN g LEFT JOIN s ON s.source = ns.source AND s.wc = g.wc),
        |e AS (
        | SELECT source, n_s, wc,
        |  abs((sum(c_s) OVER w)::BIGINT * 1000000 // n_s
        |    - (sum(c_g) OVER w)::BIGINT * 1000000 // n)::BIGINT AS d_ppm
        | FROM grid WINDOW w AS (PARTITION BY source ORDER BY wc)),
        |m AS (SELECT source, n_s, wc, d_ppm,
        |  max(d_ppm) OVER (PARTITION BY source) AS mx FROM e)
        |SELECT source, max(n_s)::BIGINT AS n_docs, max(d_ppm)::BIGINT AS ks_ppm,
        | min(wc)::BIGINT AS ks_at_wc,
        | CASE WHEN max(d_ppm) < 50000 THEN 'stable'
        |      WHEN max(d_ppm) < 150000 THEN 'minor'
        |      ELSE 'major' END AS band
        |FROM m WHERE d_ppm = mx GROUP BY source ORDER BY source""".stripMargin,
    // the same 4 Feistel rounds, generated from the same FeistelKeys
    // list the engine folds over — one definition, two engines
    "x_shuffle_feistel" -> {
      val rounds = FeistelKeys.zipWithIndex.map { case (k, i) =>
        s"""r${i + 1} AS (SELECT doc_id, r AS l,
           |  xor(l, xor(t, t >> 16) & 4294967295) AS r
           | FROM (SELECT doc_id, l, r, xor(r, $k) * 73244475 AS t FROM r$i))"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH r0 AS (SELECT doc_id, (doc_id >> 32) & 4294967295 AS l,
         |  doc_id & 4294967295 AS r FROM documents),
         |$rounds
         |SELECT (r >> 28)::BIGINT AS shard, count(*)::BIGINT AS n_docs,
         | sum(doc_id)::BIGINT AS id_sum
         |FROM r${FeistelKeys.size} GROUP BY shard ORDER BY shard""".stripMargin
    },
    // interval re-derivation with the same (micros, event_id) ordering;
    // intervals partition each user's timeline so at most one matches.
    // x_scd2_pit shares it verbatim: the as-of formulation must agree
    // with the interval formulation row-for-row
    "x_scd2_dim" -> Scd2Oracle,
    "x_scd2_pit" -> Scd2Oracle,
    
    // direct whole-table recompute: the merged partials must equal it
    // exactly (integer micros moments are associative adds)
    "x_incr_agg" ->
      """SELECT event_type, count(*)::BIGINT AS n_events,
        | sum(round(value * 1000000)::BIGINT)::BIGINT AS v_micros
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_outlier_zscore" ->
      """WITH e AS (
        | SELECT event_type, event_id, round(value * 1000000)::HUGEINT AS v
        | FROM events),
        |st AS (
        | SELECT event_type, count(*)::HUGEINT AS n, sum(v) AS s1, sum(v*v) AS s2
        | FROM e GROUP BY 1)
        |SELECT e.event_type, count(*) AS n_rows,
        | sum(CASE WHEN (st.n*e.v - st.s1)*(st.n*e.v - st.s1)
        |       > 9*(st.n*st.s2 - st.s1*st.s1) THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        | sum(CASE WHEN (st.n*e.v - st.s1)*(st.n*e.v - st.s1)
        |       > 9*(st.n*st.s2 - st.s1*st.s1) THEN e.event_id END)::BIGINT AS outlier_id_sum
        |FROM e JOIN st USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "x_select_token_budget" ->
      s"""WITH docs AS (
         | SELECT doc_id, source, len(toks)::BIGINT AS tokens,
         |  (1000000 * len(list_distinct(toks))) // len(toks) AS q
         | FROM (SELECT doc_id, source,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |cum AS (
         | SELECT *, sum(tokens) OVER (ORDER BY q DESC, doc_id
         |   ROWS UNBOUNDED PRECEDING) AS cum
         | FROM docs)
         |SELECT source, count(*) AS n_selected,
         | sum(tokens)::BIGINT AS tokens_selected, min(q) AS min_q
         |FROM cum WHERE cum <= $TokenBudget
         |GROUP BY source ORDER BY source""".stripMargin,
    "x_pack_sequences" ->
      s"""WITH docs AS (
         | SELECT doc_id, ${h60Sql("doc_id::VARCHAR")} AS h,
         |  len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS tokens
         | FROM documents),
         |dealt AS (SELECT *, (h % $Packers)::INT AS packer FROM docs),
         |packed AS (
         | SELECT packer, doc_id, tokens,
         |  sum(tokens) OVER (PARTITION BY packer ORDER BY h, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum
         | FROM dealt)
         |SELECT packer, ((cum - tokens) // $PackBudget)::BIGINT AS pack_id,
         | count(*) AS n_docs, sum(tokens)::BIGINT AS pack_tokens
         |FROM packed GROUP BY packer, pack_id ORDER BY packer, pack_id""".stripMargin,
    // same concat-and-chunk accounting per candidate L: per-packer
    // token totals, ceil-division contexts, integer waste ratios
    "x_pack_efficiency" -> {
      val perL = PackLens.map { l =>
        s"""SELECT $l AS context_len, sum(p_docs)::BIGINT AS n_docs,
           | sum(p_tokens)::BIGINT AS total_tokens,
           | sum(p_capped)::BIGINT AS capped_tokens,
           | sum(p_tokens - p_capped)::BIGINT AS overflow_tokens,
           | sum(p_packs)::BIGINT AS n_packs,
           | (sum(p_packs) * $l - sum(p_capped))::BIGINT AS waste_tokens,
           | ((sum(p_packs) * $l - sum(p_capped)) * 1000000
           |   // (sum(p_packs) * $l))::BIGINT AS waste_ppm,
           | ((sum(p_docs) * $l - sum(p_capped)) * 1000000
           |   // (sum(p_docs) * $l))::BIGINT AS unpacked_waste_ppm
           |FROM (
           | SELECT packer, count(*) AS p_docs, sum(tokens) AS p_tokens,
           |  sum(least(tokens, $l)) AS p_capped,
           |  (sum(least(tokens, $l)) + ${l - 1}) // $l AS p_packs
           | FROM dealt GROUP BY packer)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (
         | SELECT doc_id, ${h60Sql("doc_id::VARCHAR")} AS h,
         |  len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS tokens
         | FROM documents),
         |dealt AS (SELECT *, (h % $Packers)::INT AS packer FROM docs)
         |$perL
         |ORDER BY context_len""".stripMargin
    },
    // the closed-form shelf accounting recomputed per length class
    "x_pack_shelf" -> {
      val perL = PackLens.map { l =>
        s"""SELECT $l AS context_len, sum(cnt)::BIGINT AS n_docs,
           | sum(ctxs)::BIGINT AS n_contexts,
           | sum(cnt * len)::BIGINT AS capped_tokens,
           | ((sum(ctxs) * $l - sum(cnt * len)) * 1000000
           |   // (sum(ctxs) * $l))::BIGINT AS shelf_waste_ppm,
           | ((sum(cnt) * $l - sum(cnt * len)) * 1000000
           |   // (sum(cnt) * $l))::BIGINT AS naive_waste_ppm
           |FROM (
           | SELECT len, cnt, (cnt + ($l // len) - 1) // ($l // len) AS ctxs
           | FROM (
           |  SELECT least(tokens, $l) AS len, count(*) AS cnt
           |  FROM docs GROUP BY 1))""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH docs AS (
         | SELECT len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS tokens
         | FROM documents)
         |$perL
         |ORDER BY context_len""".stripMargin
    },
    "x_contamination" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
         | FROM (SELECT doc_id, source,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |ex AS (
         | SELECT doc_id, source, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, source, unnest(sh) AS s FROM t)),
         |hot AS (
         | SELECT hs FROM (SELECT hs, count(DISTINCT doc_id) AS df FROM ex GROUP BY hs)
         | WHERE df > $HotDocFreq),
         |ev AS (SELECT DISTINCT hs FROM ex WHERE doc_id % $EvalMod = 0),
         |shared AS (
         | SELECT e.doc_id, e.source, count(DISTINCT e.hs) AS shared
         | FROM ex e JOIN ev USING (hs)
         | WHERE e.doc_id % $EvalMod <> 0 AND e.hs NOT IN (SELECT hs FROM hot)
         | GROUP BY e.doc_id, e.source)
         |SELECT source, count(*) AS n_overlapping,
         | sum(CASE WHEN shared >= $ContaminationMin THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
         | max(shared) AS max_shared
         |FROM shared GROUP BY source ORDER BY source""".stripMargin,
    // identical 13-gram windows (max(len-13,0)+1, short-doc tail =
    // whole doc), identical h60 hashing, same distinct-set grain on
    // both splits; truncating // == div on the nonnegative ppm
    "x_novelty_ngram" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - ${NoveltyN - 1}, 1) + 1),
         |    i -> array_to_string(toks[i:i+${NoveltyN - 1}], ' '))) AS gs
         | FROM (SELECT doc_id, source,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |ex AS (
         | SELECT doc_id, source, ${h60Sql("g")} AS hs
         | FROM (SELECT doc_id, source, unnest(gs) AS g FROM t)),
         |train AS (SELECT DISTINCT hs FROM ex WHERE doc_id % $EvalMod <> 0),
         |test AS (SELECT DISTINCT source, hs FROM ex WHERE doc_id % $EvalMod = 0),
         |j AS (
         | SELECT test.source, CASE WHEN train.hs IS NULL THEN 0 ELSE 1 END AS seen
         | FROM test LEFT JOIN train USING (hs))
         |SELECT source, count(*)::BIGINT AS n_test_ngrams, sum(seen)::BIGINT AS n_overlapping,
         | ((count(*) - sum(seen)) * 1000000 // count(*))::BIGINT AS novelty_ppm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // single-window re-derivation of the rank-kernel cutoff (smallest
    // tm whose cumulative count reaches rank ceil(0.8n)), identical
    // boolean-max overlap census
    "x_split_temporal" ->
      """WITH ev AS (
        | SELECT event_type, user_id, epoch_us(ts) AS tm FROM events),
        |nn AS (SELECT count(*) AS n FROM ev),
        |thr AS (
        | SELECT tm AS thr FROM (
        |  SELECT tm, row_number() OVER (ORDER BY tm) AS rk FROM ev)
        | WHERE rk = (SELECT (4 * n + 4) // 5 FROM nn)),
        |tagged AS (
        | SELECT event_type, user_id, tm <= (SELECT thr FROM thr) AS is_train
        | FROM ev),
        |c AS (
        | SELECT event_type,
        |  sum(CASE WHEN is_train THEN 1 ELSE 0 END)::BIGINT AS n_train,
        |  sum(CASE WHEN is_train THEN 0 ELSE 1 END)::BIGINT AS n_test
        | FROM tagged GROUP BY event_type),
        |u AS (
        | SELECT event_type, count(*)::BIGINT AS n_users,
        |  sum(CASE WHEN in_tr = 1 AND in_te = 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_users_overlap
        | FROM (
        |  SELECT event_type, user_id,
        |   max(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_tr,
        |   max(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_te
        |  FROM tagged GROUP BY event_type, user_id)
        | GROUP BY event_type)
        |SELECT c.event_type, c.n_train, c.n_test, u.n_users, u.n_users_overlap,
        | (u.n_users_overlap * 1000000 // u.n_users)::BIGINT AS overlap_ppm
        |FROM c JOIN u USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // 2-gram twin of the contamination shingle derivation (same h60,
    // same df-cap + eval classification); best-match pick re-derived
    // with the identical (inter desc, cand_id asc) QUALIFY
    "x_eval_rouge" ->
      s"""WITH t AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS sh
         | FROM (SELECT doc_id,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |ex AS (
         | SELECT doc_id, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, unnest(sh) AS s FROM t)),
         |kept AS (
         | SELECT hs FROM (
         |  SELECT hs, count(*) AS df,
         |   max(CASE WHEN doc_id % $EvalMod = 0 THEN 1 ELSE 0 END) AS ev
         |  FROM ex GROUP BY hs)
         | WHERE df <= $HotDocFreq AND ev = 1),
         |es AS (SELECT doc_id AS eval_id, hs FROM ex
         |       WHERE doc_id % $EvalMod = 0 AND hs IN (SELECT hs FROM kept)),
         |den AS (SELECT eval_id, count(*)::BIGINT AS den FROM es GROUP BY eval_id),
         |inter AS (
         | SELECT es.eval_id, c.doc_id AS cand_id, count(*)::BIGINT AS inter
         | FROM es JOIN ex c USING (hs)
         | WHERE c.doc_id % $EvalMod <> 0
         | GROUP BY es.eval_id, c.doc_id),
         |best AS (
         | SELECT eval_id, cand_id, inter,
         |  row_number() OVER (PARTITION BY eval_id
         |    ORDER BY inter DESC, cand_id ASC) AS rk
         | FROM inter QUALIFY rk = 1),
         |universe AS (
         | SELECT DISTINCT doc_id AS eval_id FROM documents
         | WHERE doc_id % $EvalMod = 0)
         |SELECT u.eval_id,
         | coalesce(b.cand_id, -1)::BIGINT AS cand_id,
         | coalesce(b.inter, 0)::BIGINT AS inter,
         | coalesce(d.den, 0)::BIGINT AS den,
         | (CASE WHEN coalesce(d.den, 0) > 0
         |   THEN coalesce(b.inter, 0) * 1000000 // d.den
         |   ELSE 0 END)::BIGINT AS rouge2_ppm
         |FROM universe u
         |LEFT JOIN den d USING (eval_id)
         |LEFT JOIN best b ON b.eval_id = u.eval_id
         |ORDER BY u.eval_id""".stripMargin,
    // same pair spine as x_eval_rouge, then clipped unigram/bigram
    // precisions + brevity penalty on the raw token streams; the one
    // exp and one sqrt are single fixed-order double ops on
    // exact-integer inputs, quantized once — identical both engines
    "x_eval_bleu" ->
      s"""WITH t AS (
         | SELECT doc_id,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         |shd AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS sh
         | FROM t),
         |ex AS (
         | SELECT doc_id, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, unnest(sh) AS s FROM shd)),
         |kept AS (
         | SELECT hs FROM (
         |  SELECT hs, count(*) AS df,
         |   max(CASE WHEN doc_id % $EvalMod = 0 THEN 1 ELSE 0 END) AS ev
         |  FROM ex GROUP BY hs)
         | WHERE df <= $HotDocFreq AND ev = 1),
         |es AS (SELECT doc_id AS eval_id, hs FROM ex
         |       WHERE doc_id % $EvalMod = 0 AND hs IN (SELECT hs FROM kept)),
         |inter AS (
         | SELECT es.eval_id, c.doc_id AS cand_id, count(*)::BIGINT AS inter
         | FROM es JOIN ex c USING (hs)
         | WHERE c.doc_id % $EvalMod <> 0
         | GROUP BY es.eval_id, c.doc_id),
         |best AS (
         | SELECT eval_id, cand_id FROM (
         |  SELECT eval_id, cand_id,
         |   row_number() OVER (PARTITION BY eval_id
         |     ORDER BY inter DESC, cand_id ASC) AS rk
         |  FROM inter QUALIFY rk = 1)),
         |uc AS (SELECT doc_id, g, count(*)::BIGINT AS c
         |       FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
         |bc AS (SELECT doc_id, g, count(*)::BIGINT AS c
         |       FROM (SELECT doc_id,
         |              unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
         |                i -> array_to_string(toks[i:i+1], ' '))) AS g FROM t)
         |       GROUP BY 1, 2),
         |u AS (
         | SELECT b.eval_id, sum(least(h.c, coalesce(r.c, 0)))::BIGINT AS m1,
         |  sum(h.c)::BIGINT AS len_hyp
         | FROM best b JOIN uc h ON h.doc_id = b.cand_id
         | LEFT JOIN uc r ON r.doc_id = b.eval_id AND r.g = h.g
         | GROUP BY b.eval_id),
         |b2 AS (
         | SELECT b.eval_id, sum(least(h.c, coalesce(r.c, 0)))::BIGINT AS m2,
         |  sum(h.c)::BIGINT AS bg_hyp
         | FROM best b JOIN bc h ON h.doc_id = b.cand_id
         | LEFT JOIN bc r ON r.doc_id = b.eval_id AND r.g = h.g
         | GROUP BY b.eval_id),
         |rl AS (SELECT doc_id AS eval_id, sum(c)::BIGINT AS len_ref
         |       FROM uc GROUP BY 1),
         |universe AS (
         | SELECT DISTINCT doc_id AS eval_id FROM documents
         | WHERE doc_id % $EvalMod = 0),
         |j AS (
         | SELECT un.eval_id,
         |  coalesce(b.cand_id, -1)::BIGINT AS cand_id,
         |  coalesce(u.m1, 0)::BIGINT AS m1,
         |  coalesce(u.len_hyp, 0)::BIGINT AS len_hyp,
         |  coalesce(b2.m2, 0)::BIGINT AS m2,
         |  coalesce(b2.bg_hyp, 0)::BIGINT AS bg_hyp,
         |  CASE WHEN b.cand_id IS NULL THEN 0
         |       ELSE coalesce(rl.len_ref, 0) END::BIGINT AS len_ref
         | FROM universe un
         | LEFT JOIN best b USING (eval_id)
         | LEFT JOIN u ON u.eval_id = un.eval_id
         | LEFT JOIN b2 ON b2.eval_id = un.eval_id
         | LEFT JOIN rl ON rl.eval_id = un.eval_id),
         |p AS (
         | SELECT *,
         |  CASE WHEN len_hyp > 0 THEN m1 * 1000000 // len_hyp ELSE 0 END::BIGINT AS p1_ppm,
         |  CASE WHEN bg_hyp > 0 THEN m2 * 1000000 // bg_hyp ELSE 0 END::BIGINT AS p2_ppm,
         |  (CASE WHEN len_hyp = 0 THEN 0
         |    WHEN len_hyp >= len_ref THEN 1000000
         |    ELSE round(exp(1.0 - len_ref::DOUBLE / len_hyp::DOUBLE) * 1000000)
         |   END)::BIGINT AS bp_ppm
         | FROM j)
         |SELECT eval_id, cand_id, len_hyp, len_ref, p1_ppm, p2_ppm, bp_ppm,
         | ((bp_ppm * floor(sqrt((p1_ppm * p2_ppm)::DOUBLE))::BIGINT)
         |   // 1000000)::BIGINT AS bleu2_ppm
         |FROM p ORDER BY eval_id""".stripMargin,
    // same pair spine as x_eval_rouge/x_eval_bleu, then the SQuAD
    // token-overlap F1 in its exact integer form
    // 2·m·10⁶ // (len_cand + len_eval) — no transcendentals
    "x_eval_f1" ->
      s"""WITH t AS (
         | SELECT doc_id,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         |shd AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS sh
         | FROM t),
         |ex AS (
         | SELECT doc_id, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, unnest(sh) AS s FROM shd)),
         |kept AS (
         | SELECT hs FROM (
         |  SELECT hs, count(*) AS df,
         |   max(CASE WHEN doc_id % $EvalMod = 0 THEN 1 ELSE 0 END) AS ev
         |  FROM ex GROUP BY hs)
         | WHERE df <= $HotDocFreq AND ev = 1),
         |es AS (SELECT doc_id AS eval_id, hs FROM ex
         |       WHERE doc_id % $EvalMod = 0 AND hs IN (SELECT hs FROM kept)),
         |inter AS (
         | SELECT es.eval_id, c.doc_id AS cand_id, count(*)::BIGINT AS inter
         | FROM es JOIN ex c USING (hs)
         | WHERE c.doc_id % $EvalMod <> 0
         | GROUP BY es.eval_id, c.doc_id),
         |best AS (
         | SELECT eval_id, cand_id FROM (
         |  SELECT eval_id, cand_id,
         |   row_number() OVER (PARTITION BY eval_id
         |     ORDER BY inter DESC, cand_id ASC) AS rk
         |  FROM inter QUALIFY rk = 1)),
         |uc AS (SELECT doc_id, g, count(*)::BIGINT AS c
         |       FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
         |m AS (
         | SELECT b.eval_id, sum(least(h.c, coalesce(r.c, 0)))::BIGINT AS m1,
         |  sum(h.c)::BIGINT AS len_cand
         | FROM best b JOIN uc h ON h.doc_id = b.cand_id
         | LEFT JOIN uc r ON r.doc_id = b.eval_id AND r.g = h.g
         | GROUP BY b.eval_id),
         |rl AS (SELECT doc_id AS eval_id, sum(c)::BIGINT AS len_eval
         |       FROM uc GROUP BY 1),
         |universe AS (
         | SELECT DISTINCT doc_id AS eval_id FROM documents
         | WHERE doc_id % $EvalMod = 0),
         |j AS (
         | SELECT un.eval_id,
         |  coalesce(b.cand_id, -1)::BIGINT AS cand_id,
         |  coalesce(m.m1, 0)::BIGINT AS m1,
         |  coalesce(m.len_cand, 0)::BIGINT AS len_cand,
         |  CASE WHEN b.cand_id IS NULL THEN 0
         |       ELSE coalesce(rl.len_eval, 0) END::BIGINT AS len_eval
         | FROM universe un
         | LEFT JOIN best b USING (eval_id)
         | LEFT JOIN m ON m.eval_id = un.eval_id
         | LEFT JOIN rl ON rl.eval_id = un.eval_id)
         |SELECT eval_id, cand_id, m1, len_cand, len_eval,
         | (CASE WHEN len_cand > 0 THEN m1 * 1000000 // len_cand ELSE 0 END)::BIGINT AS p_ppm,
         | (CASE WHEN len_eval > 0 THEN m1 * 1000000 // len_eval ELSE 0 END)::BIGINT AS r_ppm,
         | (CASE WHEN len_cand + len_eval > 0
         |   THEN 2 * m1 * 1000000 // (len_cand + len_eval) ELSE 0 END)::BIGINT AS f1_ppm
         |FROM j ORDER BY eval_id""".stripMargin,
    // same pair spine, then pooled character {1,2,3}-gram clipped
    // overlap (grams tagged by n) and the exact integer β=2 F-score
    // 5·m·10⁶ // (4·len_ref + len_hyp)
    "x_eval_chrf" ->
      s"""WITH t AS (
         | SELECT doc_id,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
         |  lower(trim(text)) AS txt FROM documents),
         |shd AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS sh
         | FROM t),
         |ex AS (
         | SELECT doc_id, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, unnest(sh) AS s FROM shd)),
         |kept AS (
         | SELECT hs FROM (
         |  SELECT hs, count(*) AS df,
         |   max(CASE WHEN doc_id % $EvalMod = 0 THEN 1 ELSE 0 END) AS ev
         |  FROM ex GROUP BY hs)
         | WHERE df <= $HotDocFreq AND ev = 1),
         |es AS (SELECT doc_id AS eval_id, hs FROM ex
         |       WHERE doc_id % $EvalMod = 0 AND hs IN (SELECT hs FROM kept)),
         |inter AS (
         | SELECT es.eval_id, c.doc_id AS cand_id, count(*)::BIGINT AS inter
         | FROM es JOIN ex c USING (hs)
         | WHERE c.doc_id % $EvalMod <> 0
         | GROUP BY es.eval_id, c.doc_id),
         |best AS (
         | SELECT eval_id, cand_id FROM (
         |  SELECT eval_id, cand_id,
         |   row_number() OVER (PARTITION BY eval_id
         |     ORDER BY inter DESC, cand_id ASC) AS rk
         |  FROM inter QUALIFY rk = 1)),
         |gc AS (
         | SELECT doc_id, (x).n AS n, (x).g AS g, count(*)::BIGINT AS c
         | FROM (
         |  SELECT doc_id, unnest(flatten(list_transform([1, 2, 3], n ->
         |    list_transform(range(1, greatest(strlen(txt) - n + 1, 1) + 1),
         |      i -> {'n': n, 'g': substr(txt, i::INT, n)})))) AS x
         |  FROM t)
         | GROUP BY 1, 2, 3),
         |m AS (
         | SELECT b.eval_id, sum(least(h.c, coalesce(r.c, 0)))::BIGINT AS m,
         |  sum(h.c)::BIGINT AS len_hyp_grams
         | FROM best b JOIN gc h ON h.doc_id = b.cand_id
         | LEFT JOIN gc r ON r.doc_id = b.eval_id AND r.n = h.n AND r.g = h.g
         | GROUP BY b.eval_id),
         |rl AS (SELECT doc_id AS eval_id, sum(c)::BIGINT AS len_ref_grams
         |       FROM gc GROUP BY 1),
         |universe AS (
         | SELECT DISTINCT doc_id AS eval_id FROM documents
         | WHERE doc_id % $EvalMod = 0),
         |j AS (
         | SELECT un.eval_id,
         |  coalesce(b.cand_id, -1)::BIGINT AS cand_id,
         |  coalesce(m.m, 0)::BIGINT AS m,
         |  coalesce(m.len_hyp_grams, 0)::BIGINT AS len_hyp_grams,
         |  CASE WHEN b.cand_id IS NULL THEN 0
         |       ELSE coalesce(rl.len_ref_grams, 0) END::BIGINT AS len_ref_grams
         | FROM universe un
         | LEFT JOIN best b USING (eval_id)
         | LEFT JOIN m ON m.eval_id = un.eval_id
         | LEFT JOIN rl ON rl.eval_id = un.eval_id)
         |SELECT eval_id, cand_id, m, len_hyp_grams, len_ref_grams,
         | (CASE WHEN len_hyp_grams > 0 THEN m * 1000000 // len_hyp_grams ELSE 0 END)::BIGINT AS p_ppm,
         | (CASE WHEN len_ref_grams > 0 THEN m * 1000000 // len_ref_grams ELSE 0 END)::BIGINT AS r_ppm,
         | (CASE WHEN 4 * len_ref_grams + len_hyp_grams > 0
         |   THEN 5 * m * 1000000 // (4 * len_ref_grams + len_hyp_grams)
         |   ELSE 0 END)::BIGINT AS chrf_ppm
         |FROM j ORDER BY eval_id""".stripMargin,
    // same pair spine, then classic unit-cost Levenshtein on the
    // identical lower(trim(text)) grain — exact integers end to end;
    // unmatched docs distance the empty string (edit_ppm = 10^6)
    "x_eval_edit" ->
      s"""WITH t AS (
         | SELECT doc_id,
         |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents),
         |shd AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS sh
         | FROM t),
         |ex AS (
         | SELECT doc_id, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, unnest(sh) AS s FROM shd)),
         |kept AS (
         | SELECT hs FROM (
         |  SELECT hs, count(*) AS df,
         |   max(CASE WHEN doc_id % $EvalMod = 0 THEN 1 ELSE 0 END) AS ev
         |  FROM ex GROUP BY hs)
         | WHERE df <= $HotDocFreq AND ev = 1),
         |es AS (SELECT doc_id AS eval_id, hs FROM ex
         |       WHERE doc_id % $EvalMod = 0 AND hs IN (SELECT hs FROM kept)),
         |inter AS (
         | SELECT es.eval_id, c.doc_id AS cand_id, count(*)::BIGINT AS inter
         | FROM es JOIN ex c USING (hs)
         | WHERE c.doc_id % $EvalMod <> 0
         | GROUP BY es.eval_id, c.doc_id),
         |best AS (
         | SELECT eval_id, cand_id FROM (
         |  SELECT eval_id, cand_id,
         |   row_number() OVER (PARTITION BY eval_id
         |     ORDER BY inter DESC, cand_id ASC) AS rk
         |  FROM inter QUALIFY rk = 1)),
         |universe AS (
         | SELECT DISTINCT doc_id AS eval_id FROM documents
         | WHERE doc_id % $EvalMod = 0),
         |txt AS (SELECT doc_id, lower(trim(text)) AS tx FROM documents),
         |j AS (
         | SELECT un.eval_id, coalesce(b.cand_id, -1)::BIGINT AS cand_id,
         |  e.tx AS t_eval, coalesce(c.tx, '') AS t_cand
         | FROM universe un
         | LEFT JOIN best b USING (eval_id)
         | JOIN txt e ON e.doc_id = un.eval_id
         | LEFT JOIN txt c ON c.doc_id = b.cand_id)
         |SELECT eval_id, cand_id,
         | levenshtein(t_eval, t_cand)::BIGINT AS edits,
         | length(t_eval)::BIGINT AS len_eval,
         | length(t_cand)::BIGINT AS len_cand,
         | ((levenshtein(t_eval, t_cand)::BIGINT * 1000000)
         |   // greatest(length(t_eval), 1))::BIGINT AS edit_ppm
         |FROM j ORDER BY eval_id""".stripMargin,
    // Same derivation as x_contamination minus the hot-shingle cap: the
    // bloom is invisible to the result (prune-only; false positives are
    // removed by the exact verify join), so the oracle needs no bloom.
    "x_contamination_bloom" ->
      s"""WITH t AS (
         | SELECT doc_id, source,
         |  list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS sh
         | FROM (SELECT doc_id, source,
         |        regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents)),
         |ex AS (
         | SELECT doc_id, source, ${h60Sql("s")} AS hs
         | FROM (SELECT doc_id, source, unnest(sh) AS s FROM t)),
         |ev AS (SELECT DISTINCT hs FROM ex WHERE doc_id % $EvalMod = 0),
         |shared AS (
         | SELECT e.doc_id, e.source, count(DISTINCT e.hs) AS shared
         | FROM ex e JOIN ev USING (hs)
         | WHERE e.doc_id % $EvalMod <> 0
         | GROUP BY e.doc_id, e.source)
         |SELECT source, count(*) AS n_overlapping,
         | sum(CASE WHEN shared >= $ContaminationMin THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
         | max(shared) AS max_shared
         |FROM shared GROUP BY source ORDER BY source""".stripMargin,
    "x_emb_quantize" ->
      """WITH q AS (
        | SELECT label,
        |  list_transform(v, x -> round(x / scale)::BIGINT) AS qv, scale
        | FROM (
        |  SELECT label, v,
        |   greatest(list_max(list_transform(v, x -> abs(x))) / 127.0, 1e-30) AS scale
        |  FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)))
        |SELECT label, count(*) AS n_vecs,
        | sum(list_sum(qv))::BIGINT AS q_sum,
        | sum(list_sum(list_transform(qv, x -> abs(x))))::BIGINT AS q_l1,
        | sum(round(scale * 1e9)::BIGINT)::BIGINT AS scale_nanos
        |FROM q GROUP BY label ORDER BY label""".stripMargin,
    "x_merge_upsert" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |batch AS (
        | SELECT doc_id, text || ' [rev2]' AS new_text FROM documents WHERE doc_id % 7 = 0
        | UNION ALL
        | SELECT doc_id + 10000000, 'synthetic doc ' || doc_id::VARCHAR FROM documents WHERE doc_id % 13 = 0),
        |merged AS (
        | SELECT CASE WHEN b.text IS NULL THEN 'insert'
        |             WHEN u.new_text IS NULL THEN 'keep'
        |             ELSE 'update' END AS action,
        |  length(coalesce(u.new_text, b.text))::BIGINT AS chars
        | FROM base b FULL OUTER JOIN batch u USING (doc_id))
        |SELECT action, count(*) AS n_rows, sum(chars)::BIGINT AS chars
        |FROM merged GROUP BY action ORDER BY action""".stripMargin,
    // both snapshots recomputed from the raw table: v1 is the corpus,
    // v2 is the applied upsert; the checksum proves full contents
    "k9_snapshot_read" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |upd AS (SELECT doc_id, text || ' [rev2]' AS new_text
        |        FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id,
        |        'synthetic doc ' || doc_id::VARCHAR AS text
        |        FROM documents WHERE doc_id % 13 = 0),
        |v2 AS (
        | SELECT b.doc_id, coalesce(u.new_text, b.text) AS text
        | FROM v1 b LEFT JOIN upd u USING (doc_id)
        | UNION ALL SELECT doc_id, text FROM ins),
        |stats AS (
        | SELECT 'v1' AS version, count(*) AS n_rows, sum(doc_id)::BIGINT AS id_sum,
        |  sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000000000)::BIGINT AS text_checksum
        | FROM v1
        | UNION ALL
        | SELECT 'v2', count(*), sum(doc_id)::BIGINT,
        |  sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000000000)::BIGINT
        | FROM v2)
        |SELECT * FROM stats ORDER BY version""".stripMargin,
    // same v1/v2 re-derivation as k9; full-outer key join classifies
    // per-row status ('removed' is an absent group in this scenario)
    "x_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |upd AS (SELECT doc_id, text || ' [rev2]' AS new_text
        |        FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id,
        |        'synthetic doc ' || doc_id::VARCHAR AS text
        |        FROM documents WHERE doc_id % 13 = 0),
        |v2 AS (
        | SELECT b.doc_id, coalesce(u.new_text, b.text) AS text
        | FROM v1 b LEFT JOIN upd u USING (doc_id)
        | UNION ALL SELECT doc_id, text FROM ins),
        |d AS (
        | SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed'
        |       ELSE 'unchanged' END AS status
        | FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT status, count(*) AS n, sum(doc_id)::BIGINT AS id_sum
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    // the audit constants come from the fixed orphan fixture; v1/v2 are
    // re-derived from documents exactly as the snapshot oracles above —
    // proving vacuum deleted ONLY the orphans and every committed row
    // survived
    "x_lake_vacuum" ->
      s"""WITH ins AS (
        | SELECT doc_id + 10000000 AS doc_id FROM documents WHERE doc_id % 13 = 0)
        |SELECT ${VacuumOrphans.size}::BIGINT AS orphans_deleted,
        | ${VacuumOrphanBytes}::BIGINT AS orphan_bytes,
        | (SELECT count(*) FROM documents)::BIGINT AS v1_rows,
        | (SELECT sum(doc_id) FROM documents)::BIGINT AS v1_id_sum,
        | ((SELECT count(*) FROM documents) + (SELECT count(*) FROM ins))::BIGINT AS v2_rows,
        | ((SELECT sum(doc_id) FROM documents)
        |   + (SELECT coalesce(sum(doc_id), 0) FROM ins))::BIGINT AS v2_id_sum""".stripMargin,
    // v1 IS documents, so the survivor/deletion audit re-derives from
    // the raw table; the % 11 forget rule mirrors the DV builder
    "x_positional_delete" ->
      """SELECT
        | sum(CASE WHEN doc_id % 11 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_rows,
        | sum(CASE WHEN doc_id % 11 <> 0 THEN doc_id END)::BIGINT AS id_sum,
        | sum(CASE WHEN doc_id % 11 <> 0
        |   THEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000000000 END)::BIGINT
        |   AS text_checksum,
        | sum(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_deleted
        |FROM documents""".stripMargin,
    // the layered two-generation read must equal the raw table: per-day
    // totals over the 3-day window around the median distinct day, with
    // generation attribution re-derived from the same cut rule
    "x_partition_evolution" ->
      """WITH ev AS (
        | SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  round(value * 100)::BIGINT AS cents FROM events),
        |dd AS (
        | SELECT day, row_number() OVER (ORDER BY day) - 1 AS r
        | FROM (SELECT DISTINCT day FROM ev)),
        |n AS (SELECT count(*) AS d FROM dd),
        |cut AS (SELECT day FROM dd, n WHERE r = d // 2),
        |sel AS (SELECT day FROM dd, n WHERE r BETWEEN d // 2 - 1 AND d // 2 + 1)
        |SELECT e.day, count(*) AS n_events, sum(e.cents)::BIGINT AS cents,
        | sum(CASE WHEN e.day < (SELECT day FROM cut) THEN 1 ELSE 0 END)::BIGINT AS n_gen1,
        | sum(CASE WHEN e.day >= (SELECT day FROM cut) THEN 1 ELSE 0 END)::BIGINT AS n_gen2
        |FROM ev e JOIN sel s ON s.day = e.day
        |GROUP BY e.day ORDER BY e.day""".stripMargin,
    // both read paths must equal the SAME v2 derivation (the
    // x_snapshot_diff CTEs): cow_v2 is the materialized snapshot,
    // mor_v2 the base+DV+delta reconstruction — one shared content
    // audit, two rows
    "x_merge_on_read" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |upd AS (SELECT doc_id, text || ' [rev2]' AS new_text
        |        FROM documents WHERE doc_id % 7 = 0),
        |ins AS (SELECT doc_id + 10000000 AS doc_id,
        |        'synthetic doc ' || doc_id::VARCHAR AS text
        |        FROM documents WHERE doc_id % 13 = 0),
        |v2 AS (
        | SELECT b.doc_id, coalesce(u.new_text, b.text) AS text
        | FROM v1 b LEFT JOIN upd u USING (doc_id)
        | UNION ALL SELECT doc_id, text FROM ins),
        |paths(read_path) AS (VALUES ('cow_v2'), ('mor_v2'))
        |SELECT p.read_path, count(*) AS n_rows, sum(doc_id)::BIGINT AS id_sum,
        | sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000000000)::BIGINT AS text_checksum
        |FROM paths p CROSS JOIN v2
        |GROUP BY p.read_path ORDER BY p.read_path""".stripMargin,
  )
}
