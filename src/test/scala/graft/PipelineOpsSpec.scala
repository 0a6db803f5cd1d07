package graft

import graft.operators.{BenchOps, Curation, Dedup, Multimodal, Similarity, TextOps}
import graft.streaming.EventStreams
import org.scalatest.funsuite.AnyFunSuite

class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("mixture KL is nonnegative and entropy is bounded by ln(vocab)") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.mixKl(spark, sf).collect()
    assert(rows.length === 20)
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .distinct().count()
    val hMax = math.round(math.log(vocab.toDouble) * 1e6)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0, s"${r.getString(0)}: KL must be nonnegative")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= hMax + 1000,
        s"${r.getString(0)}: entropy outside [0, ln(vocab)]")
    }
  }

  test("PQ codebooks are partition-insensitive; ADC equals the reconstruction dot") {
    import org.apache.spark.sql.functions._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val b1 = Similarity.trainPq(base.repartition(1))
    val b7 = Similarity.trainPq(base.repartition(7))
    assert(b1.keySet === b7.keySet)
    b1.foreach { case (s, cs) =>
      cs.zip(b7(s)).foreach { case (a, b) =>
        assert(a.sameElements(b), s"subspace $s codebooks differ across layouts") }
    }
    // non-circular ADC check: the integer ADC score must equal the dot
    // of the query with the RECONSTRUCTED neighbor, within the m
    // per-subspace rounding half-units
    val rows = Similarity.pqTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    val vecs = base.collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Double](1).toArray).toMap
    def dotd(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    rows.take(5).foreach { r =>
      val (qid, nid, adc) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (q, n) = (vecs(qid), vecs(nid))
      // encode neighbor with the trained books (argmin, code tiebreak)
      val books = b1
      val recon = (0 until 8).flatMap { s =>
        val sv = n.slice(s * 8, (s + 1) * 8)
        val code = books(s).zipWithIndex.minBy { case (c, j) =>
          (c.map(x => x * x).sum - 2 * dotd(sv, c), j) }._2
        books(s)(code)
      }.toArray
      val expect = dotd(q, recon)
      assert(math.abs(adc / 1e6 - expect) <= 8 * 0.5 / 1e6 + 1e-9,
        s"q$qid n$nid: adc ${adc / 1e6} vs reconstruction dot $expect")
    }
  }

  test("IVF-PQ pruning changes candidates, never ADC scores") {
    val ivfpq = Similarity.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pq = Similarity.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ivfpq.size === 25 && pq.size === 25)
    val common = ivfpq.keySet intersect pq.keySet
    assert(common.nonEmpty, "the paths must overlap on some (query, neighbor) pairs")
    common.foreach { k =>
      assert(ivfpq(k) === pq(k),
        s"$k: ADC score must be identical with and without IVF pruning")
    }
  }

  test("exact dedup counts all documents") {
    val r = Dedup.exactStats(spark, sf).collect()(0)
    assert(r.getLong(0) === 500)
    assert(r.getLong(1) <= r.getLong(0))
    assert(r.getLong(2) <= r.getLong(1))
  }

  test("minhash LSH surfaces high-jaccard near-duplicate pairs") {
    val rows = Dedup.minhashLsh(spark, sf).collect()
    assert(rows.nonEmpty)
    // testdata plants near-dups; the top candidate must be strongly similar
    assert(rows.head.getDouble(2) > 0.5)
    // pairs are canonical (a < b)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("near-dup clusters: converged components with canonical representatives") {
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // force the distributed fixpoint loop (the `auto` default serves
    // model-sized graphs with driver union-find) so the loop's cache
    // contract stays exercised
    spark.conf.set("spark.graft.ccAlgorithm", "fixpoint")
    val rows =
      try Dedup.nearDupClusters(spark, sf).collect()
      finally spark.conf.unset("spark.graft.ccAlgorithm")
    // memory contract: every propagation round and the edge set are
    // unpersisted before return; only the tiny materialized result
    // (one row per cluster) may remain cached
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.size <= 1,
      s"nearDupClusters must release superseded rounds; leaked ${leaked.size} cached RDDs")
    assert(rows.nonEmpty, "testdata plants near-dups, so clusters must exist")
    // representative is the min member and clusters have >= 2 members
    rows.foreach { r =>
      val members = r.getString(2).split('|').map(_.toLong)
      assert(r.getInt(1) >= 2 && members.min === r.getLong(0))
    }
    // partition property: no document in two clusters
    val all = rows.flatMap(_.getString(2).split('|'))
    assert(all.distinct.length === all.length, "clusters must be disjoint")
    // convergence property: both endpoints of every strong edge landed
    // in the same component
    val clusterOf = rows.flatMap(r =>
      r.getString(2).split('|').map(m => m.toLong -> r.getLong(0))).toMap
    Dedup.minhashLsh(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.8)
      .foreach(e => assert(clusterOf(e.getLong(0)) === clusterOf(e.getLong(1)),
        s"edge (${e.getLong(0)}, ${e.getLong(1)}) spans two clusters"))
  }

  test("all three component algorithms produce identical clusters") {
    // `auto` (driver union-find on model-sized graphs), the fixpoint
    // loop, and the Kiveris et al. large-star/small-star swap must
    // agree exactly; starcontract additionally must not leak caches
    val auto = Dedup.nearDupClusters(spark, sf).collect().map(_.toString).toSeq
    def forced(algo: String): Seq[String] = {
      spark.conf.set("spark.graft.ccAlgorithm", algo)
      try Dedup.nearDupClusters(spark, sf).collect().map(_.toString).toSeq
      finally spark.conf.unset("spark.graft.ccAlgorithm")
    }
    assert(forced("fixpoint") === auto, "fixpoint must match the union-find fast path")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    assert(forced("starcontract") === auto, "starcontract must produce identical clusters")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"starcontract leaked ${leaked.size} cached RDDs")
  }

  test("dedupApply joins the materialized cluster model, not a driver array") {
    // Force the DISTRIBUTED fixpoint build (the auto fast path would be
    // allowed to union-find on the driver) so the artifact being joined
    // is the distributed loop's parquet write, then assert the APPLY
    // plan consumes it as a file-backed relation: zero LocalRelation
    // nodes anywhere in the optimized plan (a driver array of cluster
    // members would surface as one) and a scan over the model's
    // members/ layout. This is the 100 TB contract — cluster membership
    // is corpus-fraction-sized data, so apply must join, never
    // broadcast a collected array.
    spark.conf.set("spark.graft.ccAlgorithm", "fixpoint")
    try Dedup.nearDupClusters(spark, sf).collect()
    finally spark.conf.unset("spark.graft.ccAlgorithm")
    val df = Dedup.dedupApply(spark, sf)
    val local = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }
    assert(local.isEmpty,
      s"apply plan must not contain a driver-built LocalRelation; found ${local.size}")
    val scanPaths = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    assert(scanPaths.exists(_.contains("/members")),
      s"apply plan must scan the materialized cluster-model members/ layout; scans: $scanPaths")
    assert(df.collect().nonEmpty)
  }

  test("simhash candidates have small hamming distance at the top") {
    val rows = Dedup.simhash(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getInt(2) <= 4)
  }

  test("simhash band collisions stay near-linear in corpus size") {
    // the verify join's cost is proportional to banded-collision
    // candidates; 16-bit bands on this corpus must keep that set a
    // small multiple of the true near-dup count (500 docs → bound 5n).
    // This is the run-to-run-variance guard: a candidate blow-up (e.g.
    // a degenerate band) would show here before it shows as bench noise.
    val n = Tables.documents(spark, sf).count()
    val candidates = Dedup.simhashCandidatePairs(spark, sf).count()
    assert(candidates <= 5 * n,
      s"simhash candidate pairs ($candidates) exceed 5×corpus ($n) — banding degenerated")
  }

  test("brute-force cosine top-k: 10 neighbors per query, sims in [-1,1]") {
    val rows = Similarity.bruteForceTopK(spark, sf).collect()
    assert(rows.length === 50)
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.size === 5 && perQuery.values.forall(_.length === 10))
  }

  test("LSH top-k recalls most of the brute-force top-5") {
    val exact = Similarity.bruteForceTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(-_.getDouble(2)).take(5).map(_.getLong(1)).toSet }
    val approx = Similarity.lshTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    // random-hyperplane LSH with 2 bands of 3 bits: expect >= 40% overall recall@5
    val hits = exact.map { case (q, top) => (top & approx.getOrElse(q, Set.empty)).size }.sum
    assert(hits >= 10, s"LSH recall too low: $hits / 25")
  }

  test("embedding exact near-dup: grid theta join matches naive all-pairs, no BNLJ") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions.{dot_product, l2_norm}
    val df = Dedup.embeddingCosine(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "grid theta join must not plan a BNLJ")
    assert(!plan.contains("CartesianProduct"))
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2_norm(col("v")))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val naive = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .select("id_a", "id_b", "cos")
      .orderBy(col("cos").desc, col("id_a"), col("id_b")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val grid = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(grid === naive)
  }

  test("ngram jaccard sub-block grid is exact and splits the hottest block") {
    import org.apache.spark.sql.functions._
    // identity: the s=4 grid decomposition produces exactly the pair set
    // of the plain (s=1) blocked join — coverage is exact, not sampled
    def pairSet(s: Int) = Dedup.ngramJaccardPairs(spark, sf, s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val grid = pairSet(4)
    assert(grid === pairSet(1))
    assert(grid.forall { case (a, b, _) => a < b }, "pairs must be canonical")
    // the registered query must stay an equi-join on the cell key
    val plan = Dedup.ngramJaccard(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    // bound: the largest grid cell's pair count is strictly below the
    // hottest block's full pair count — the quadratic term really split
    val s = 4
    val subCounts = Tables.documents(spark, sf)
      .select(col("source"), (col("n_chars") / 64).cast("long").as("len_bucket"),
        pmod(xxhash64(col("doc_id")), lit(s.toLong)).cast("int").as("blk"))
      .groupBy("source", "len_bucket", "blk").count().collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getInt(2), r.getLong(3))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toMap }
    val hotPairs = subCounts.values
      .map { m => val n = m.values.sum; n * (n - 1) / 2 }.max
    val maxCellPairs = subCounts.values.flatMap { m =>
      for { i <- 0 until s; j <- i until s } yield
        if (i == j) { val n = m.getOrElse(i, 0L); n * (n - 1) / 2 }
        else m.getOrElse(i, 0L) * m.getOrElse(j, 0L)
    }.max
    assert(maxCellPairs < hotPairs,
      s"grid must split the hottest block: cell=$maxCellPairs block=$hotPairs")
  }

  test("embedding LSH near-dup recalls most of the exact top-20 without all-pairs") {
    val lsh = Dedup.embeddingCosineLsh(spark, sf)
    assert(!lsh.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val exact = Dedup.embeddingCosine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = lsh.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (exact & approx).size
    assert(hits >= 10, s"LSH pair recall too low: $hits / 20")
  }

  test("sketch verify joins carry no broadcast hints and avoid re-scanning the corpus") {
    // r14: the banded-candidate spine is localCheckpointed, which
    // truncates the registered query's own plan to RDD scans — the
    // contract is asserted through Ckpt.lineage, which expands every
    // registered checkpoint back to its pre-checkpoint plan (the
    // semi-join RUNS at checkpoint materialization; this keeps it
    // plan-verifiable). Each frame is fully checked before the next
    // is built: rebuilding a spine releases the previous generation's
    // pins, so lineage must be read while its pins are current.
    val lsh = Dedup.minhashLsh(spark, sf)
    val lshQes = Ckpt.lineage(lsh)
    assert(lshQes.size > 1,
      "minhash lineage must surface the checkpointed spine's pre-checkpoint plans")
    val lshHints = lshQes.flatMap(_.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    })
    assert(lshHints.isEmpty, "verify join must not force-broadcast the corpus")
    // minhash verifies on shingle SETS, so the corpus is semi-joined
    // down to candidate ids before the (heavy-payload) verify join
    assert(lshQes.exists(_.optimizedPlan.toString.contains("LeftSemi")),
      "minhash corpus must be semi-joined down to candidate ids before the verify join")
    val simHints = Ckpt.lineage(Dedup.simhash(spark, sf)).flatMap(_.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    })
    assert(simHints.isEmpty, "verify join must not force-broadcast the corpus")
    // simhash signatures are small enough to ride THROUGH the band join:
    // exactly one join in the whole plan (the banded self-join), no
    // re-join of candidates against the signature table
    val simJoins = Dedup.simhash(spark, sf).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(simJoins.length === 1,
      s"simhash must join once (banded self-join), found ${simJoins.length}")
  }

  test("checkpoint pins are generation-bounded: re-running a query never grows the cached-RDD set") {
    // r14 leak guard, extended to every checkpointing query family (the
    // r13 verdict's ask): each Ckpt.pin site releases its previous
    // generation, so steady-state persisted-RDD count is CONSTANT under
    // repeated invocations — exactly a benchmark's repeat pattern. A bare
    // localCheckpoint would grow the set by one per site per run and
    // fail here.
    val names = Seq(
      "x_dedup_minhash",          // Dedup.bandedCandidates spine
      "x_dedup_threshold_sweep",  // + the verified-pairs pin
      "x_dedup_embedding_lsh",    // Dedup.embeddingCosineLsh spine
      "x_graph_triangles",        // Similarity.knnTriangles und/orient
      "x_graph_kcore",            // round-distinct loop pins
      "x_text_winnowing",         // TextOps.winnowing fps/kept
      "x_eval_bleu",              // Curation.evalPairSpine + pair frame
      "x_perplexity_filter")      // TextOps per-doc model pin
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      fn(spark, sf).collect()
      val after1 = spark.sparkContext.getPersistentRDDs.keySet.size
      fn(spark, sf).collect()
      val after2 = spark.sparkContext.getPersistentRDDs.keySet.size
      assert(after2 <= after1,
        s"$n grew the persistent-RDD set on re-run: $after1 -> $after2 (leaked checkpoint pins)")
    }
  }

  /** Recursive parquet-file census of a bucketed layout: (total files,
    * bucket directories). The many-files-per-partition fixture
    * (Similarity.LayoutFiles writer tasks per bucket) is only a real
    * lake shape if total substantially exceeds the directory count.
    */
  private def layoutCensus(dir: String): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0
    val dirs = scala.collection.mutable.Set[String]()
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        files += 1
        dirs += f.getPath.getParent.toString
      }
    }
    (files, dirs.size)
  }

  /** Files the executed plan's scan over `pathFragment` actually read
    * (the driver-side `numFiles` metric, which under dynamic partition
    * pruning reflects the post-pruning listing).
    */
  private def filesRead(df: org.apache.spark.sql.DataFrame, pathFragment: String): Long =
    Explain.walkPlans(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(pathFragment)) =>
        s.metrics("numFiles").value
    }.sum

  test("bucketed-layout LSH equals in-memory LSH and prunes bucket FILES") {
    val bucketed = Similarity.lshBucketedTopK(spark, sf)
    val viaLayout = bucketed.collect().map(_.toString).toSeq
    val viaMemory = Similarity.lshTopK(spark, sf).collect().map(_.toString).toSeq
    assert(viaLayout === viaMemory, "storage-layout LSH must return identical neighbors")
    val plan = bucketed.queryExecution.executedPlan.toString
    // the probe set is pushed as STATIC partition literals (not DPP,
    // whose benefit heuristic declines this shape)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*band[^\\]]*\\].*"),
      s"the probe predicate must reach PartitionFilters:\n$plan")
    // file-count evidence over the many-files-per-bucket fixture: the
    // layout must really be multi-file, and the scan must have READ
    // strictly fewer files than exist on disk
    val (total, dirs) = layoutCensus(Similarity.bucketedLayoutPath(spark, sf))
    assert(total >= 2 * dirs,
      s"lake fixture must hold many files per bucket dir: $total files over $dirs dirs")
    val read = filesRead(bucketed, "ann/banded_mf_")
    assert(read > 0, "scan metric must be populated")
    assert(read < total,
      s"bucket join must prune files: read $read of $total")
  }

  test("bucketed-layout IVF equals in-memory IVF and prunes list FILES") {
    val bucketed = Similarity.ivfBucketedTopK(spark, sf)
    val viaLayout = bucketed.collect().map(_.toString).toSeq
    val viaMemory = Similarity.ivfTopK(spark, sf).collect().map(_.toString).toSeq
    assert(viaLayout === viaMemory, "storage-layout IVF must return identical neighbors")
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull"),
      "the probe join must prune inverted-list partitions at the scan")
    val (total, dirs) = layoutCensus(Similarity.ivfLayoutPath(spark, sf))
    assert(total >= 2 * dirs,
      s"lake fixture must hold many files per list dir: $total files over $dirs dirs")
    val read = filesRead(bucketed, "ann/ivf_mf_")
    assert(read > 0, "scan metric must be populated")
    assert(read < total,
      s"probe join must prune inverted-list files: read $read of $total")
  }

  test("incremental IVF index layers by batch, never rewrites base, and prunes both layers") {
    import org.apache.hadoop.fs.Path
    val first = Similarity.ivfIncrementalTopK(spark, sf)
    val r1 = first.collect().map(_.toString).toSeq
    val root = Similarity.ivfIncrPath(spark, sf)
    // layer contents respect the ingest-batch split exactly
    val baseIds = spark.read.parquet(s"$root/base").select("vec_id").collect().map(_.getLong(0))
    val deltaIds = spark.read.parquet(s"$root/delta").select("vec_id").collect().map(_.getLong(0))
    assert(baseIds.forall(_ % 5 != 4), "base layer holds only base-batch vectors")
    assert(deltaIds.nonEmpty && deltaIds.forall(_ % 5 == 4), "delta layer holds only the ingest batch")
    val corpusN = Tables.embeddings(spark, sf).count()
    assert(baseIds.length + deltaIds.length === corpusN, "layers partition the corpus")
    // a second run re-reads the layers: no layer file is rewritten
    def mtimes(): Map[String, Long] = {
      val p = new Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val m = scala.collection.mutable.Map[String, Long]()
      while (it.hasNext) { val f = it.next(); m(f.getPath.toString) = f.getModificationTime }
      m.toMap
    }
    val before = mtimes()
    val second = Similarity.ivfIncrementalTopK(spark, sf)
    assert(second.collect().map(_.toString).toSeq === r1, "re-run is deterministic")
    assert(mtimes() === before, "serving never rewrites index layers")
    // probe pruning holds on the layered layout too: strictly fewer
    // files read than exist across both layers
    val (total, dirs) = layoutCensus(root)
    assert(total >= 2 * dirs || total >= 16,
      s"fixture sanity: layered multi-file layout ($total files, $dirs dirs)")
    val read = filesRead(first, "ann/ivf_incr_")
    assert(read > 0, "scan metric must be populated")
    assert(read < total, s"probe join must prune layered files: read $read of $total")
  }

  test("streaming index ingest equals the batch ingest and arrives over many micro-batches") {
    import org.apache.hadoop.fs.Path
    val streamed = Similarity.streamIndexIngest(spark, sf).collect().map(_.toString).toSeq
    val batch = Similarity.ivfIncrementalTopK(spark, sf).collect().map(_.toString).toSeq
    assert(streamed === batch,
      "frozen-model streaming ingest must serve identical neighbors to the batch ingest")
    val root = Similarity.ivfIncrPath(spark, sf)
    val ids = spark.read.parquet(s"$root/stream_delta")
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(_ % 5 == 4), "streamed layer holds only the ingest batch")
    // the feed really arrived file-by-file: one checkpointed offset per
    // micro-batch, and the feed directory carries many files
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val offsets = fs.listStatus(new Path(s"$root/stream_ckpt/offsets"))
      .count(!_.getPath.getName.startsWith("."))
    assert(offsets >= Similarity.LayoutFiles,
      s"maxFilesPerTrigger=1 must yield one micro-batch per feed file, saw $offsets")
  }

  test("top-PC integer power iteration approximates the double-precision eigenvalue") {
    val vecs = Tables.embeddings(spark, sf)
      .selectExpr("cast(embedding as array<double>) as v").collect()
      .map(_.getSeq[Double](0).toArray)
    val d = 64
    val g = Array.ofDim[Double](d, d)
    for (v <- vecs; i <- 0 until d; j <- 0 until d) g(i)(j) += v(i) * v(j)
    var w = Array.fill(d)(1.0)
    for (_ <- 1 to 60) {
      val y = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * w(j)).sum)
      val n = math.sqrt(y.map(x => x * x).sum)
      w = y.map(_ / n)
    }
    val lambdaTrue = (0 until d).map(i => w(i) * (0 until d).map(j => g(i)(j) * w(j)).sum).sum
    val trace = (0 until d).map(i => g(i)(i)).sum
    val rows = Similarity.topPrincipalComponent(spark, sf).collect()
    val lam = rows.head.getLong(5).toDouble / 10000.0
    assert(math.abs(lam - lambdaTrue) / lambdaTrue < 0.05,
      s"3 integer iterations must land within 5% of the converged eigenvalue: $lam vs $lambdaTrue")
    val share = rows.head.getLong(6)
    assert(share > 0 && share < 1000000, "variance share is a proper fraction")
    assert(math.abs(share - 1e6 * lambdaTrue / trace) < 0.05e6,
      "ppm share consistent with the double-precision trace ratio")
    assert(rows.map(_.getLong(1)).sum === vecs.length.toLong, "projection covers the corpus")
  }

  test("triangle count matches a brute-force adjacency-set recomputation") {
    val edges = Similarity.knnGraph(spark, sf).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
    val verts = adj.keys.toSeq
    val nWedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    // each triangle is seen once per edge (its third vertex is the
    // endpoints' common neighbor), so the per-edge sum counts it 3×
    val nTri = edges.map { case (a, b) => (adj(a) & adj(b)).size.toLong }.sum / 3
    val rows = Similarity.knnTriangles(spark, sf).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getLong(0) === verts.size.toLong, "n_vertices")
    assert(r.getLong(1) === edges.length.toLong, "n_edges")
    assert(r.getLong(2) === nWedges, "n_wedges")
    assert(r.getLong(3) === nTri, "n_triangles")
    assert(r.getLong(4) === 3000000L * nTri / nWedges, "global_cc_ppm")
    assert(nTri > 0, "label-clustered embeddings must close some triangles")
  }

  test("IVF top-k probes a corpus fraction yet recalls much of brute-force top-5") {
    val exact = Similarity.bruteForceTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(-_.getDouble(2)).take(5).map(_.getLong(1)).toSet }
    val ivf = Similarity.ivfTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exact.map { case (q, top) => (top & ivf.getOrElse(q, Set.empty)).size }.sum
    assert(hits >= 8, s"IVF recall too low: $hits / 25")
  }

  test("token stats cover all 20 sources with positive counts") {
    val rows = TextOps.tokenStats(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("langid emits a full confusion matrix over the 5 actual langs") {
    val rows = TextOps.langId(spark, sf).collect()
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq === Seq("de", "en", "es", "fr", "zh"))
    assert(rows.map(_.getLong(2)).sum === 500)
  }

  test("repetition ratios are exact integer parts-per-million within bounds") {
    val rows = TextOps.repetition(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (n3, d3, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(d3 <= n3 && ppm >= 0 && ppm <= 1000000)
      assert(ppm === (n3 - d3) * 1000000L / n3)
    }
  }

  test("unigram surprise: word-soup docs centre near the vocabulary entropy") {
    val rows = TextOps.unigramSurprise(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val n = r.getLong(1); val sumAvg = r.getLong(2); val high = r.getLong(3)
      assert(high <= n)
      // avg per-token surprise must sit between ln(1) and ln(total):
      // micro-nat scale sanity for the quantization
      assert(sumAvg > 0 && sumAvg / n < 20000000L)
    }
  }

  test("append-mode windowed stream equals the complete-mode answer for all closed windows") {
    val append = EventStreams.streamWindowAppend(spark, sf).collect().map(_.toString)
    val complete = EventStreams.streamWindow(spark, sf).collect().map(_.toString)
    assert(append.nonEmpty)
    assert(append.toSeq === complete.toSeq,
      "watermark-evicted append output must equal the batch/complete answer")
  }

  test("the whole stateful streaming family under RocksDB matches the default store") {
    // The 100 TB streaming posture: HDFS-backed state holds everything
    // on the JVM heap, while RocksDB spills state to local disk — the
    // store a large deployment actually runs. The provider is fixed at
    // the first batch of each fresh checkpoint, so flipping the conf
    // around one invocation pins the whole query to RocksDB; output
    // must be byte-identical to the default-store answer for EVERY
    // stateful query shape: windowed agg w/ watermark eviction,
    // mapGroupsWithState sessions, transformWithState sessions,
    // timer-driven emission, stream-stream inner and outer joins, and
    // watermarked dedup.
    val family: Seq[(String, () => Array[String])] = Seq(
      "window_append" -> (() => EventStreams.streamWindowAppend(spark, sf).collect().map(_.toString)),
      "sessions" -> (() => EventStreams.statefulSessions(spark, sf).collect().map(_.toString)),
      "sessions_tws" -> (() => EventStreams.statefulSessionsTws(spark, sf).collect().map(_.toString)),
      "session_timers" -> (() => EventStreams.streamSessionTimers(spark, sf).collect().map(_.toString)),
      "stream_stream_join" -> (() => EventStreams.streamStreamJoin(spark, sf).collect().map(_.toString)),
      "stream_stream_outer" -> (() => EventStreams.streamStreamOuter(spark, sf).collect().map(_.toString)),
      "dedup" -> (() => EventStreams.streamDedup(spark, sf).collect().map(_.toString)))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    for ((name, run) <- family) {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val rocks =
        try run()
        finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      val default = run()
      assert(rocks.nonEmpty, s"$name: RocksDB run returned no rows")
      assert(rocks.toSeq === default.toSeq,
        s"$name: state-store backend must not change streaming results")
    }
  }

  test("upsert sink survives a crash between sink write and checkpoint commit") {
    import org.apache.hadoop.fs.Path
    // reference run (also stages the half-files the hook reads)
    val reference = EventStreams.streamUpsert(spark, sf).collect().map(_.toString).toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    val outDir = s"${graft.WorkDirs.rootActive}/stream/events_upsert_crash"
    val fs = new Path(outDir).getFileSystem(conf)
    fs.delete(new Path(outDir), true)
    // crash AFTER the v0 sink write but BEFORE Spark commits batch 0 —
    // the exact window where at-least-once would double-apply a
    // non-idempotent sink
    val thrown = intercept[Throwable] {
      EventStreams.upsertRun(spark, sf, outDir, { id =>
        if (id == 0) throw new RuntimeException("injected crash")
      })
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(thrown).exists(c =>
      Option(c.getMessage).exists(_.contains("injected crash"))),
      s"unexpected failure: $thrown")
    assert(fs.exists(new Path(s"$outDir/v0")),
      "the crash must land after the sink write — v0 exists uncommitted")
    // restart from the same checkpoint: batch 0 REPLAYS (its offsets
    // were logged, never committed), overwrites an identical v0, then
    // batch 1 completes the stream
    EventStreams.upsertRun(spark, sf, outDir, _ => ())
    val last = fs.listStatus(new Path(outDir)).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).max
    assert(last === 1L, s"both staged halves must have applied, got v$last")
    val recovered = spark.read.parquet(s"$outDir/v$last")
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.col("cnt").as("n_events"),
        org.apache.spark.sql.functions.col("m.etype").as("last_type"),
        org.apache.spark.sql.functions.col("m.v").as("last_v"))
      .orderBy("user_id").collect().map(_.toString).toSeq
    assert(recovered === reference,
      "crash + checkpoint restart must produce the identical final snapshot")
  }

  test("streaming dedup collapses a doubled stream back to the batch aggregate") {
    import org.apache.spark.sql.functions._
    val stream = EventStreams.streamDedup(spark, sf).collect().map(_.toString)
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type").collect().map(_.toString)
    assert(stream.toSeq === batch.toSeq)
  }

  test("foreachBatch upsert equals the batch recompute and batch replay is idempotent") {
    import org.apache.spark.sql.functions._
    val result = EventStreams.streamUpsert(spark, sf).collect().map(_.toString)
    val ev = Tables.events(spark, sf)
    val r = ev.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(expr("unix_micros(ts)").desc, col("event_id").desc)))
    val batchAnswer = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .join(r.filter(col("rn") === 1).select(col("user_id"),
        col("event_type").as("last_type"),
        expr("cast(round(value * 1000000) as bigint)").as("last_v")), Seq("user_id"))
      .orderBy("user_id").collect().map(_.toString)
    assert(result.nonEmpty)
    assert(result.toSeq === batchAnswer.toSeq,
      "final upsert snapshot must equal the whole-table batch answer")
    // at-least-once replay: re-applying the final batch must rewrite an
    // IDENTICAL snapshot (v1 = f(v0, batch1) is deterministic)
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sf/events.parquet")
    val outDir = s"${graft.WorkDirs.rootActive}/stream/events_upsert_$fp"
    val before = spark.read.parquet(s"$outDir/v1").collect().map(_.toString).sorted.toSeq
    EventStreams.upsertApplyBatch(spark, outDir,
      ev.filter(col("event_id") % 2 === 1), 1L)
    val after = spark.read.parquet(s"$outDir/v1").collect().map(_.toString).sorted.toSeq
    assert(after === before, "batch replay must be idempotent")
  }

  test("stateful streaming sessions equal the batch window-function answer") {
    val batch = EventStreams.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val stream = EventStreams.statefulSessions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stream.toSeq === batch.toSeq)
  }

  test("transformWithState sessions equal the mapGroupsWithState answer") {
    // the new arbitrary-state API (typed ValueState + RocksDB-backed
    // store) must be a drop-in for the legacy state machine
    val legacy = EventStreams.statefulSessions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tws = EventStreams.statefulSessionsTws(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tws.nonEmpty)
    assert(tws.toSeq === legacy.toSeq)
  }

  test("timer-driven session emission equals the batch session_window answer") {
    // every session must be emitted exactly once by an event-time
    // timer (the sentinel pushes the watermark past all close times)
    val timers = EventStreams.streamSessionTimers(spark, sf).collect().map(_.toString)
    val batch = EventStreams.sessionWindow(spark, sf).collect().map(_.toString)
    assert(timers.nonEmpty)
    assert(timers.toSeq === batch.toSeq,
      "timer-closed sessions must equal the native session_window result")
  }

  test("multimodal feature extraction is deterministic and typed") {
    val a = Multimodal.featureRollup(spark, sf).collect().map(_.toString)
    val b = Multimodal.featureRollup(spark, sf).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
    assert(a.length === 3) // image / audio / video
  }

  test("dedup apply: per-source removal counts reconcile exactly") {
    val rows = Dedup.dedupApply(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"source ${r.getString(0)}: n_docs must equal removed_exact + removed_neardup + kept")
    }
    val total = rows.map(_.getLong(1)).sum
    assert(total === Tables.documents(spark, sf).count())
    // the corpus plants duplicates, so something must be removed
    assert(rows.map(r => r.getLong(2) + r.getLong(3)).sum > 0)
  }

  test("incremental dedup classifies every new-batch doc exactly once") {
    val rows = Dedup.incrementalDedup(spark, sf).collect()
    val statuses = rows.map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("exact_dup", "near_dup", "unique")))
    val batchSize = Tables.documents(spark, sf)
      .filter("doc_id % 5 = 4").count()
    assert(rows.map(_.getLong(1)).sum === batchSize)
  }

  test("knn graph: at most k neighbors per vector, no self edges, ranked") {
    val rows = Similarity.knnGraph(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "no self edges")
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 3))
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.length <= 3)
      // ranks are dense from 1 and similarity is nonincreasing in rank
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to rs.length))
      val sims = sorted.map(_.getDouble(2)).toSeq
      assert(sims === sims.sorted.reverse)
    }
    // candidate generation must stay an equi-join, never a BNLJ
    val plan = Similarity.knnGraph(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "knn graph must not plan a BNLJ")
  }

  test("filter funnel narrows monotonically and keeps at least one doc") {
    val r = TextOps.filterFunnel(spark, sf).collect()(0)
    val counts = (0 to 4).map(r.getLong)
    assert(counts === counts.sorted.reverse, s"funnel must narrow: $counts")
    assert(counts.last > 0)
    assert(counts.head === Tables.documents(spark, sf).count())
  }

  test("fast-hash minhash finds the same verified strong pairs as the md5 family") {
    // different hash family => different candidate bands, but the
    // exact-Jaccard verify is hash-independent: the planted near-dups
    // (J >= 0.8) must be caught by both
    def strong(df: org.apache.spark.sql.DataFrame) =
      df.collect().filter(_.getDouble(2) >= 0.8)
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = strong(Dedup.minhashLsh(spark, sf))
    val fastPairs = strong(Dedup.minhashLshFast(spark, sf))
    assert(md5Pairs.nonEmpty)
    assert(fastPairs === md5Pairs,
      "hash families must agree on verified strong pairs")
    assert(spark.conf.getOption("spark.graft.fastHash").isEmpty,
      "the fast variant must restore session conf")
  }

  test("streaming ANN serves the identical answer to the batch LSH path") {
    val streamed = EventStreams.streamAnn(spark, sf).collect().map(_.toString).toSeq
    val batch = Similarity.lshTopK(spark, sf).collect().map(_.toString).toSeq
    assert(streamed === batch,
      "online retrieval must reproduce the batch LSH top-k exactly")
  }

  test("sliding windows double-count every event exactly width/slide times") {
    val rows = EventStreams.streamWindowSliding(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    val events = Tables.events(spark, sf).count()
    assert(total === 2 * events,
      "20min/10min sliding windows must place every event in exactly 2 windows")
  }

  test("quality classifier separates the corpus at the calibrated threshold") {
    val rows = TextOps.qualityClassifier(spark, sf).collect()
    assert(rows.length === 20)
    val (pass, total) = (rows.map(_.getLong(2)).sum, rows.map(_.getLong(1)).sum)
    assert(pass > 0 && pass < total,
      s"threshold must separate, not rubber-stamp: $pass of $total")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(5), "min <= max")
      assert(r.getLong(5) <= 1000000L * 6, "scores bounded by the micro scale")
    }
  }

  test("vocab coverage curve is monotone and plans top-K as TakeOrdered") {
    val df = TextOps.vocabCoverage(spark, sf)
    val rows = df.collect()
    assert(rows.length === 8)
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(3), "coverage must not decrease with k")
      assert(a.getLong(2) <= b.getLong(2))
    }
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), "n_words bounded by k")
      assert(r.getLong(3) <= 1000000L)
    }
    // the word-soup vocabulary fits in the top-128, so coverage completes
    assert(rows.last.getLong(3) === 1000000L, "full vocab ⇒ full coverage")
    // top-K must be a per-partition heap, never a global sort
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "vocab top-K must plan as TakeOrderedAndProject")
  }

  test("semantic dedup removes planted near-dup embeddings inside clusters") {
    val rows = Similarity.semanticDedup(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16, "at most one row per inverted list")
    val nVecs = rows.map(_.getLong(1)).sum
    assert(nVecs === Tables.embeddings(spark, sf).count(),
      "every vector is assigned to exactly one cluster")
    rows.foreach { r =>
      assert(r.getLong(2) < r.getLong(1), "a cluster always keeps at least one member")
      assert(r.getLong(2) >= 0L)
    }
    // the corpus's same-label embeddings exceed τ in co-clustered
    // pairs, so semantic removals must exist
    assert(rows.map(_.getLong(2)).sum > 0, "same-label near-dups must be removed")
  }

  test("media dedup reconciles with the corpus and keeps one copy per fingerprint") {
    import org.apache.spark.sql.functions._
    val rows = Multimodal.mediaDedup(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    val total = rows.map(_.getLong(2)).sum
    assert(total === Tables.documents(spark, sf).count())
    rows.foreach(r => assert(r.getLong(3) === r.getLong(2) - r.getLong(1),
      "removed = copies - distinct, per format"))
    // twins that share a format tag (doc_id % 3) must be deduped
    val sameFormatTwins = Tables.documents(spark, sf)
      .groupBy("text").agg(countDistinct(expr("doc_id % 3")).as("nf"), count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("nf") < col("n"))
      .count()
    if (sameFormatTwins > 0)
      assert(rows.map(_.getLong(3)).sum > 0, "same-format twins must be removed")
  }

  test("substring dedup marks every position of exact-duplicate docs") {
    val rows = Dedup.substringDedup(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "dup grams bounded by total grams")
      assert(r.getLong(5) <= 1000000L, "ppm bounded")
    }
    // planted near/exact dups share 8-gram spans, so duplication exists
    assert(rows.map(_.getLong(3)).sum > 0, "corpus plants duplicated spans")
    // an exact-duplicate doc shares ALL its grams with its twin, so any
    // source holding one must report a fully-duplicated doc (ppm = 1e6)
    import org.apache.spark.sql.functions._
    val twinSources = Tables.documents(spark, sf)
      .groupBy("text").agg(collect_set("source").as("srcs"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(explode(col("srcs")).as("source"))
      .distinct().collect().map(_.getString(0)).toSet
    rows.filter(r => twinSources(r.getString(0))).foreach { r =>
      assert(r.getLong(5) === 1000000L,
        s"${r.getString(0)} holds an exact twin; its max dup fraction must be 1e6 ppm")
    }
  }

  test("prefiltered ANN pushes the attribute predicate to the scan and always fills k") {
    val df = Similarity.prefilteredTopK(spark, sf)
    val rows = df.collect()
    // the predicate must hold on every neighbor, and k must be filled
    assert(rows.forall(_.getInt(2) === 3), "every neighbor satisfies label = 3")
    rows.groupBy(_.getLong(0)).foreach { case (q, ns) =>
      assert(ns.length === 10, s"query $q: pre-filtering fills k from the eligible set")
    }
    // pre-filtering evidence: label lands on the parquet scan as a
    // pushed data filter, so row groups prune via chunk stats at scale
    val scans = Explain.walkPlans(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("embeddings")) => s
    }
    assert(scans.exists(_.dataFilters.exists(_.toString.contains("label"))),
      s"label predicate must reach an embeddings scan as a data filter")
    // the post-filtering strategy under-fills k on this predicate: the
    // unfiltered top-10 rarely contains 10 label-3 neighbors
    import org.apache.spark.sql.functions.col
    val lab = Tables.embeddings(spark, sf).select(col("vec_id").as("neighbor_id"), col("label"))
    val postCounts = Similarity.bruteForceTopK(spark, sf)
      .join(lab, "neighbor_id").filter(col("label") === 3)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    assert(postCounts.isEmpty || postCounts.exists(_ < 10L),
      "post-filtering the unfiltered top-10 must under-fill k for some query")
  }

  test("source overlap matrix matches a brute-force span-set intersection") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val G = 8
    val spans: Map[String, Set[Long]] = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
      .groupBy(_._1)
      .map { case (src, ds) =>
        src -> ds.flatMap { case (_, ts) =>
          if (ts.length >= G)
            (0 to ts.length - G).map(i => BigInt(md5hex(ts.slice(i, i + G).mkString(" ")).take(15), 16).toLong)
          else Seq.empty
        }.toSet
      }
    val expected = (for {
      a <- spans.keys; b <- spans.keys if a < b
      shared = (spans(a) & spans(b)).size if shared > 0
    } yield (a, b) -> ((spans(a).size.toLong, spans(b).size.toLong, shared.toLong))).toMap
    val rows = Dedup.sourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty, "testdata plants cross-source duplicated spans")
    assert(rows.length === expected.size, "one row per overlapping source pair")
    rows.foreach { r =>
      val (na, nb, shared) = expected((r.getString(0), r.getString(1)))
      assert(r.getLong(2) === na)
      assert(r.getLong(3) === nb)
      assert(r.getLong(4) === shared)
      assert(r.getLong(5) === 1000000L * shared / math.min(na, nb))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Plain-Scala twin of [[Dedup.spanRewrite]]: (doc_id, source, text)
    * rows → per-source (n_docs, docs_rewritten, tokens_total,
    * tokens_kept, content_sum).
    */
  private def spanRewriteExpected(rows: Seq[(Long, String, String)])
      : Map[String, (Long, Long, Long, Long, Long)] = {
    val G = 8
    val docs = rows.map { case (id, src, text) =>
      (id, src, text.trim.toLowerCase.split("\\s+").toSeq) }
    val occ = docs.flatMap { case (id, _, ts) =>
      if (ts.length >= G) (0 to ts.length - G).map(i => (ts.slice(i, i + G).mkString(" "), id, i))
      else Seq.empty }
    val dup = occ.groupBy(_._1).collect {
      case (g, os) if os.map(_._2).distinct.size >= 2 => g }.toSet
    val covered: Map[Long, Set[Int]] = occ.filter(o => dup(o._1))
      .flatMap { case (_, id, i) => (i until i + G).map(p => (id, p)) }
      .groupBy(_._1).map { case (id, ps) => (id, ps.map(_._2).toSet) }
    val perDoc = docs.map { case (id, src, ts) =>
      val cov = covered.getOrElse(id, Set.empty[Int])
      val kept = ts.zipWithIndex.collect { case (w, p) if !cov(p) => w }
      (src, ts.length.toLong, kept.length.toLong, md5hex(kept.mkString(" ")))
    }
    perDoc.groupBy(_._1).map { case (src, ds) =>
      src -> ((ds.length.toLong,
        ds.count(d => d._3 < d._2).toLong,
        ds.map(_._2).sum, ds.map(_._3).sum,
        ds.map(d => BigInt(d._4.take(15), 16).toLong % 1000000000000L).sum))
    }
  }

  private def assertSpanRewriteMatches(
      got: Array[org.apache.spark.sql.Row],
      expected: Map[String, (Long, Long, Long, Long, Long)], ctx: String): Unit = {
    assert(got.length === expected.size, s"$ctx: one row per source")
    got.foreach { r =>
      val (nDocs, rewritten, total, keptT, contentSum) = expected(r.getString(0))
      assert(r.getLong(1) === nDocs, ctx)
      assert(r.getLong(2) === rewritten, ctx)
      assert(r.getLong(3) === total, ctx)
      assert(r.getLong(4) === keptT, ctx)
      assert(r.getLong(5) === contentSum,
        s"$ctx ${r.getString(0)}: reassembled-content fingerprint must match brute force")
    }
  }

  test("span rewrite equals a brute-force single-node recomputation") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val expected = spanRewriteExpected(docs)
    // the remove-all policy must fully erase at least one exact twin
    assert(expected.values.exists(e => e._2 > 0), "corpus plants duplicated spans")
    assertSpanRewriteMatches(Dedup.spanRewrite(spark, sf).collect(), expected, "sf0.001")
  }

  test("span rewrite matches brute force on randomized corpora with planted spans") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    for (round <- 1 to 5) {
      val nDocs = 30 + rnd.nextInt(40)
      val base = Array.tabulate(nDocs) { _ =>
        val len = 5 + rnd.nextInt(36)
        Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
      }
      // plant copied spans: ~1/3 of docs receive an 8-12-token window
      // spliced in from another doc (the cross-doc duplication case),
      // and one exact twin (the full-erasure edge)
      for (_ <- 0 until nDocs / 3) {
        val from = rnd.nextInt(nDocs); val to = rnd.nextInt(nDocs)
        val src = base(from)
        if (from != to && src.length >= 12) {
          val w = 8 + rnd.nextInt(5)
          val st = rnd.nextInt(src.length - w + 1)
          val ins = rnd.nextInt(base(to).length + 1)
          base(to) = base(to).take(ins) ++ src.slice(st, st + w) ++ base(to).drop(ins)
        }
      }
      base(nDocs - 1) = base(0)
      val rows = base.zipWithIndex.map { case (ts, i) =>
        (i.toLong, ts.mkString(" "), "en", s"src_${i % 4}", ts.mkString(" ").length.toLong)
      }.toSeq
      val dir = s"target/graft-work/proptest/span_$round"
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val expected = spanRewriteExpected(rows.map(r => (r._1, r._4, r._2)))
      assertSpanRewriteMatches(Dedup.spanRewrite(spark, dir).collect(), expected, s"round $round")
    }
  }

  test("pii scrub redacts denylisted words and accounts for every character") {
    val rows = TextOps.piiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).sum > 0, "denylist names corpus words; redactions must occur")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "docs_hit cannot exceed n_docs")
      if (r.getLong(3) == 0)
        assert(r.getLong(4) === r.getLong(5), "no redactions => text length unchanged")
    }
  }

  test("bpe pair counts rank adjacent pairs in strict descending order") {
    val rows = TextOps.bpePairs(spark, sf).collect()
    assert(rows.length === 30)
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_.getString(0).split(" ").length === 2),
      "every pair is exactly two whitespace tokens")
  }

  test("streaming CDC ingest classification equals the batch snapshot diff") {
    val streamed = EventStreams.streamCdc(spark, sf).collect().map(_.toSeq).toSeq
    val batch = graft.operators.Curation.snapshotDiff(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "the file-stream classification must agree with the batch diff row-for-row")
    assert(streamed.map(_.head).map(String.valueOf(_)).sorted ===
      Seq("added", "changed", "unchanged"),
      "an upsert feed carries exactly these statuses; removals ride DVs")
  }

  test("bpe training emits a composable merge table with non-increasing counts") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.bpeTrain(spark, sf).collect()
    assert(rows.length === 8, "one row per merge round")
    assert(rows.map(_.getInt(0)).toSeq === (1 to 8), "rounds numbered in order")
    rows.foreach { r =>
      assert(r.getString(3) === r.getString(1) + r.getString(2),
        "merged symbol is the pair concatenation")
      assert(r.getLong(4) > 0, "a chosen merge has positive weighted count")
    }
    // a merge removes pair mass and created pairs are sub-occurrences of
    // pre-merge pairs, so the chosen counts can never increase
    val counts = rows.map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"pair counts must be non-increasing: ${counts.toSeq}")
    // round 1 must pick the true argmax adjacent-character pair of the
    // capped word-frequency table — re-derived independently here
    val vocab = TextOps.padded(spark, sf)
      .select(explode(split(trim(col("padded")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")).between(2, 12))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(256)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
    vocab.foreach { case (w, c) =>
      w.sliding(2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1))
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
      }
    }
    val (bestPair, bestCnt) = pairCounts.toSeq
      .map { case ((l, r), c) => (s"$l $r", c) }
      .minBy { case (p, c) => (-c, p) }
    assert(rows(0).getString(1) + " " + rows(0).getString(2) === bestPair)
    assert(rows(0).getLong(4) === bestCnt)
  }

  test("bpe apply compresses every source and never tokenizes below one token per word") {
    val rows = TextOps.bpeApply(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    rows.foreach { r =>
      val (words, chars, toks, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(toks < chars, s"${r.getString(0)}: 8 merges must compress below char tokens")
      assert(toks >= words, s"${r.getString(0)}: a word cannot shrink below one token")
      assert(ppm === (chars - toks) * 1000000L / chars, "ppm accounting must be exact")
    }
  }

  test("epoch amplification multiplies rows by the per-source epoch factor exactly") {
    val rows = graft.operators.Curation.mixEpochs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (epochs, nDocs, ampRows) = (r.getInt(1), r.getLong(2), r.getLong(3))
      assert(epochs >= 1 && epochs <= 3)
      assert(ampRows === nDocs * epochs, s"${r.getString(0)}: explode must yield docs*epochs rows")
    }
  }

  test("gram matrix: one aggregator pass, positive diagonal, upper triangle only") {
    val df = Similarity.embGram(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "the gram matrix is one aggregate pass, never a self-join")
    val rows = df.collect()
    assert(rows.length === 64 * 65 / 2)
    rows.filter(r => r.getInt(0) == r.getInt(1)).foreach { r =>
      assert(r.getDouble(2) > 0.0, s"diagonal Σv_i² must be positive (i=${r.getInt(0)})")
    }
  }

  test("random projection is a pure narrow map: one row per vector, no join") {
    val df = Similarity.randomProjection(spark, sf)
    assert(!df.queryExecution.executedPlan.toString.contains("Join"))
    val rows = df.collect()
    assert(rows.length === Tables.embeddings(spark, sf).count())
    assert(rows.forall(r => (1 to 8).forall(i => !r.isNullAt(i))),
      "all 8 projected coordinates must be present")
  }

  test("bigram LM scores every multi-token doc with bounded integer surprise") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.bigramSurprise(spark, sf).collect()
    assert(rows.nonEmpty)
    val scored = rows.map(_.getLong(1)).sum
    val eligible = Tables.documents(spark, sf)
      .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 2).count()
    assert(scored === eligible, "every doc with at least one bigram must be scored")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4), "min surprise cannot exceed max")
      assert(r.getLong(3) > 0, "add-one smoothing keeps every surprise strictly positive")
    }
  }

  test("native session_window agrees with the window-function sessionization per user") {
    import org.apache.spark.sql.functions._
    val raw = EventStreams.sessionWindow(spark, sf)
    // the 500-session limit cuts inside the LAST user's sessions; every
    // user strictly below it is complete and comparable
    val lastUser = raw.agg(max("user_id")).head.getLong(0)
    val native = raw.filter(col("user_id") < lastUser)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
    val viaLag = EventStreams.sessionize(spark, sf)
    val joined = native.join(viaLag, "user_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) === r.getLong(3), s"user ${r.getLong(0)}: session counts must agree")
      assert(r.getLong(2) === r.getLong(4), s"user ${r.getLong(0)}: event counts must agree")
    }
  }

  test("snapshot versions are immutable: v1 stats unchanged by the v2 upsert") {
    val rows = graft.operators.Curation.snapshotVersions(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("v1", "v2"))
    val Array(v1, v2) = rows
    assert(v2.getLong(1) > v1.getLong(1), "inserts must grow v2")
    assert(v1.getLong(1) === Tables.documents(spark, sf).count(),
      "the as-of-v1 read must still see exactly the original corpus")
    assert(v1.getLong(3) !== v2.getLong(3), "updates must change the v2 content checksum")
  }

  test("file-sink streaming commits through _spark_metadata and equals the memory-sink answer") {
    val fromFiles = EventStreams.streamFileSink(spark, sf).collect()
    val fromMemory = EventStreams.streamWindowAppend(spark, sf).collect()
    assert(fromFiles.length === fromMemory.length)
    assert(fromFiles.map(_.toString).toSeq === fromMemory.map(_.toString).toSeq,
      "the durable sink must hold exactly the append-mode rows")
    val sinkDirs = new java.io.File(s"${graft.WorkDirs.rootActive}/stream")
      .listFiles.filter(_.getName.startsWith("events_filesink_"))
    assert(sinkDirs.exists(d => new java.io.File(d, "data/_spark_metadata").exists),
      "FileStreamSink must write its transactional commit log")
  }

  test("streaming late data drops closed-window stragglers but keeps open-window ones") {
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.streamLateData(spark, sf)
    val streamedGroups = streamed.count()
    val allGroups = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type")).count().count()
    assert(streamedGroups < allGroups,
      "some windows consist only of late rows; the watermark must have dropped them")
    // every surviving group's count never exceeds the batch answer's
    val batch = Tables.events(spark, sf)
      .groupBy(date_format(window(col("ts"), "10 minutes").getField("start"),
        "yyyy-MM-dd HH:mm:ss").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_all"))
    val joined = streamed.join(batch, Seq("bucket", "event_type"), "left_outer").collect()
    assert(joined.forall(r => !r.isNullAt(4) && r.getLong(2) <= r.getLong(4)),
      "streamed counts must be a per-group subset of the batch answer")
  }

  test("embeddings corpus holds the fixed-width vector invariant GramMatrix/dimStats assume") {
    import org.apache.spark.sql.functions._
    // GramMatrix hardcodes Dim=64 and dimStats' oracle counts rows ×
    // range(1,65): both are correct ONLY if every embedding has exactly
    // 64 elements. Assert it once here so a corpus change fails loudly
    // instead of throwing IndexOutOfBounds / silently diverging counts.
    val r = Tables.embeddings(spark, sf)
      .agg(min(size(col("embedding"))).as("lo"), max(size(col("embedding"))).as("hi"))
      .first()
    assert(r.getInt(0) === 64 && r.getInt(1) === 64,
      s"embedding dims must all be exactly 64, saw [${r.getInt(0)}, ${r.getInt(1)}]")
  }

  test("stream-stream left outer join emits null-padded unconverted clicks and equals batch") {
    import org.apache.spark.sql.functions._
    val out = graft.streaming.EventStreams.streamStreamOuter(spark, sf)
    val totals = out.agg(sum("n_clicks"), sum("n_converted")).head()
    val allClicks = Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(totals.getLong(0) === allClicks,
      "every click must appear exactly once — matched or null-padded")
    assert(totals.getLong(1) < totals.getLong(0),
      "unconverted clicks must exist, or the outer semantics are untested")
    assert(totals.getLong(1) > 0, "some clicks must convert")
  }

  test("integer PageRank over the kNN graph conserves mass and is non-degenerate") {
    import org.apache.spark.sql.functions._
    val pr = Similarity.embPagerank(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    val rows = pr.collect()
    assert(rows.length === n, "one rank per corpus vector")
    assert(rows.forall(_.getLong(1) > 0L), "every rank strictly positive")
    val mass = rows.map(_.getLong(1)).sum
    val scale = 1000000000000L
    // floor divisions only ever LOSE mass; the loss is bounded by a few
    // units per node per iteration, never more than ~0.1% of the total
    assert(mass <= scale, s"mass must not exceed the initial total, got $mass")
    assert(mass > scale - scale / 1000, s"mass leak too large: $mass vs $scale")
    val ranks = rows.map(_.getLong(1))
    assert(ranks.max > ranks.min,
      "uniform ranks — the kNN graph degenerated (no edges reached the loop)")
  }

  test("priority sample: exact-size weighted-without-replacement draw, biased to long docs") {
    import org.apache.spark.sql.functions._
    // overflow invariant the BIGINT priority (w·2^48) relies on: w must
    // stay below 2^15 or the product leaves the long range — assert it
    // here so a corpus regen with huge docs fails loudly, not silently
    val maxW = Tables.documents(spark, sf).agg(max("n_chars")).head().getLong(0)
    assert(maxW < 32768L, s"n_chars $maxW would overflow the 2^48-scaled priority")
    val s1 = graft.operators.Curation.prioritySample(spark, sf).collect()
    assert(s1.length === 100, "priority sampling hits the budget EXACTLY, not in expectation")
    assert(s1.map(_.getLong(0)).distinct.length === 100, "without replacement")
    assert(s1.forall(_.getLong(3) > 0L), "integer priorities strictly positive")
    // weight = n_chars: the fixed-size PPS draw must skew long
    val sampleMean = s1.map(_.getLong(2)).sum.toDouble / s1.length
    val corpusMean = Tables.documents(spark, sf).agg(avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      f"weighted sample must prefer long docs: sample $sampleMean%.1f vs corpus $corpusMean%.1f")
    // determinism: a second evaluation derives the identical sample
    val s2 = graft.operators.Curation.prioritySample(spark, sf).collect()
    assert(s1.map(_.toString).toSeq === s2.map(_.toString).toSeq)
  }

  test("AQE skew-join split and the manual salt recipe agree on a forced-skew join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // forced-skew fixture: one key carries ~97% of 400k fact rows
    val fact = spark.range(0, 400000).select(
      when(col("id") % 100 < 97, lit("hot"))
        .otherwise(concat(lit("k"), (col("id") % 100).cast("string"))).as("k"),
      (col("id") % 1000).as("v"))
    val dim = Seq(("hot", 2L), ("k97", 3L), ("k98", 5L), ("k99", 7L)).toDF("k", "w")
    // integer measure: sums are exact under ANY partial-sum order, so
    // the three physical strategies must agree bit-for-bit
    def rollup(joined: org.apache.spark.sql.DataFrame) = joined
      .groupBy("k").agg(sum(col("v") * col("w")).as("wv"), count(lit(1)).as("n"))
      .orderBy("k")
    val plain = rollup(fact.join(dim, "k")).collect().toSeq

    // manual salt (the j3 recipe): hot keys spread over 8 shuffle keys
    val salts = 8
    val salted = rollup(
      fact.withColumn("salt", pmod(col("v"), lit(salts)).cast("int"))
        .join(dim.withColumn("salt",
          explode(array((0 until salts).map(lit): _*))), Seq("k", "salt")))
      .collect().toSeq
    assert(salted === plain, "salting must only change the shuffle, never the result")

    // AQE skew-join: force the sort-merge path and lake-scale thresholds
    // down to fixture size so the runtime split engages
    // forceOptimizeSkewedJoin: the groupBy(k) above the join reuses the
    // join's hash partitioning, so the planner would veto the split
    // (it inserts an extra exchange before the final aggregate); the
    // low byte thresholds match the fixture's heavily-compressed
    // repeated-key shuffle blocks
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    confs.foreach { case (c, v) => spark.conf.set(c, v) }
    try {
      val aqe = rollup(fact.join(dim, "k"))
      assert(aqe.collect().toSeq === plain,
        "AQE skew split must only change the shuffle, never the result")
      val finalPlan = aqe.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected the runtime skew-split join in:\n$finalPlan")
    } finally prev.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  test("skew profile recommends salt factors the salted join actually covers") {
    val rows = graft.operators.Skew.skewProfile(spark, sf).collect()
    assert(rows.length === 5, "one profile row per join key")
    // 5 near-uniform keys at 32 partitions: every key needs salting
    assert(rows.forall(_.getBoolean(4)), "each ~20% key must flag as skewed")
    rows.foreach { r =>
      assert(r.getLong(3) > 1L && r.getLong(3) <= 8L,
        s"${r.getString(0)} recommends ${r.getLong(3)} salts — Salts=8 must cover it")
    }
    val ppm = rows.map(_.getLong(2)).sum
    assert(ppm <= 1000000L && ppm > 1000000L - 10L, s"shares must sum to ~1e6 ppm, got $ppm")
  }

  test("streaming perplexity gate equals the batch unigram scorer bit for bit") {
    val streamed = EventStreams.streamPerplexity(spark, sf).collect().map(_.toString).toSeq
    val batch = TextOps.unigramSurprise(spark, sf).collect().map(_.toString).toSeq
    assert(streamed === batch,
      "stream-static LM scoring must reproduce the batch scorer exactly")
  }

  test("perplexity filter drops ~10% of docs at the exact p90 surprise cut") {
    import org.apache.spark.sql.functions._
    val out = TextOps.perplexityFilter(spark, sf).collect()
    val nDocs = out.map(_.getLong(1)).sum
    val nKept = out.map(_.getLong(2)).sum
    val corpusN = Tables.documents(spark, sf).count()
    assert(nDocs === corpusN, "every doc is classified")
    // kept = docs at-or-below the value at rank ceil(0.9 n); ties at the
    // threshold are kept, so kept >= ceil(0.9 n) and dropped <= 10%
    val cut = (9 * corpusN + 9) / 10
    assert(nKept >= cut, s"threshold ties must be kept: $nKept < $cut")
    assert(nKept < corpusN, "some high-surprise docs must actually drop")
  }

  test("typo mining recovers injected deletion typos at edit distance exactly 1") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = TextOps.typoPairs(spark, sf).collect()
    assert(rows.nonEmpty, "the injected 10% noise slice must yield minable pairs")
    rows.foreach { r =>
      assert(lev(r.getString(0), r.getString(1)) === 1,
        s"${r.getString(0)} / ${r.getString(1)} not at edit distance 1")
    }
    // at least one recovered pair must be a deletion typo of a more
    // frequent original (the injection shape)
    assert(rows.exists { r =>
      val (t1, t2) = (r.getString(0), r.getString(1))
      val (c1, c2) = (r.getLong(2), r.getLong(3))
      (t1.length != t2.length) && (if (t1.length < t2.length) c1 < c2 else c2 < c1)
    }, "no rare-deletion-of-frequent-original pair recovered")
  }

  test("cluster-balanced sample takes exactly the quota from every big-enough cluster") {
    val rows = Similarity.clusterBalancedSample(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 16, "at most IvfK clusters")
    assert(rows.map(_.getLong(1)).sum ===
      Tables.embeddings(spark, sf).count(), "every vector is assigned")
    rows.foreach { r =>
      val expected = math.min(r.getLong(1), 8L)
      assert(r.getLong(2) === expected,
        s"cluster ${r.getInt(0)}: picked ${r.getLong(2)}, expected $expected")
    }
  }

  test("char entropy scores every doc, stays in (0, ln alphabet), and the mean cut splits") {
    val rows = TextOps.charEntropy(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.documents(spark, sf).count(),
      "every document must be scored")
    // the generator alphabet is a-z + space (~27 symbols): per-doc
    // entropy must sit strictly inside (0, ln 40) micro-nats
    rows.foreach { r =>
      assert(r.getLong(3) > 0L, s"${r.getString(0)}: min entropy must be positive")
      assert(r.getLong(4) < math.round(math.log(40) * 1e6),
        s"${r.getString(0)}: max entropy ${r.getLong(4)} exceeds the alphabet bound")
    }
    val below = rows.map(_.getLong(5)).sum
    val total = rows.map(_.getLong(1)).sum
    assert(below > 0 && below < total,
      s"below-mean cut must split the corpus, got $below of $total")
  }

  test("embedding outliers flag at most 5% of the corpus, nonzero, every vector counted") {
    val rows = Similarity.embOutliers(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "every vector must be scored")
    val outliers = rows.map(_.getLong(2)).sum
    assert(outliers > 0, "the p95 cut must flag a tail")
    assert(outliers <= n / 20 + 1,
      s"strictly-above-p95 flags at most ~5%: got $outliers of $n")
  }

  test("multi-index hamming: high selectivity, candidate top-10 drawn from candidates") {
    val rows = Similarity.multiIndexHamming(spark, sf).collect()
    assert(rows.length === 5)
    val n = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) > 0, "pigeonhole buckets must yield candidates")
      assert(r.getLong(1) < n / 5, s"the word join must prune hard: ${r.getLong(1)} of $n")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 10L)
    }
    assert(rows.map(_.getLong(2)).sum > 0,
      "word-concentrated neighbors must recover part of the exact top-10")
  }

  test("RRF fusion: double-listed docs beat single-list docs, no windows in the plan") {
    val df = TextOps.hybridRrf(spark, sf)
    val rows = df.collect()
    assert(rows.length === 10)
    val scores = rows.map(_.getLong(3))
    assert(scores.sameElements(scores.sorted.reverse))
    rows.foreach { r =>
      val (rb, re) = (r.getInt(1), r.getInt(2))
      assert(rb >= 0 && rb <= 20 && re >= 0 && re <= 20)
      assert(rb > 0 || re > 0, "a fused doc must appear on at least one list")
      val expect = (if (rb > 0) 1000000L / (60 + rb) else 0L) +
        (if (re > 0) 1000000L / (60 + re) else 0L)
      assert(r.getLong(3) === expect, "rrf must be the exact integer formula")
    }
    assert(!df.queryExecution.executedPlan.toString.contains("Window"),
      "rank derivation must come from the TopKPairs aggregate, not a window")
  }

  test("BM25 ranks saturating tf above raw counts and fills all 20 slots") {
    import org.apache.spark.sql.functions.{col, expr, lower, size, split, trim}
    val rows = TextOps.bm25TopDocs(spark, sf).collect()
    assert(rows.length === 20)
    val scores = rows.map(_.getLong(2))
    assert(scores.sameElements(scores.sorted.reverse), "descending by score")
    assert(scores.forall(_ > 0L))
    // the top hit must actually contain query terms — cross-check tf
    val top = rows.head.getLong(0)
    val hasTerms = Tables.documents(spark, sf).filter(col("doc_id") === top)
      .select(size(split(lower(trim(col("text"))), "\\s+")).as("n"),
        expr("size(filter(split(lower(trim(text)), '\\\\s+'), t -> t IN ('spark','window','merge')))").as("hits"))
      .collect()(0)
    assert(hasTerms.getInt(1) > 0, "top-ranked doc must contain query terms")
  }

  test("keep-best elects exactly one winner per cluster and it has the max quality") {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, lower, split, trim}
    val rows = Dedup.keepBestApply(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === total)
    val dropped = rows.map(r => r.getLong(1) - r.getLong(3)).sum
    assert(dropped > 0, "the fixture's near-dup clusters must drop someone")
    // replay winner election in plain Scala over (rep, q, doc_id)
    val dir = graft.operators.Dedup.ensureClusterModel(spark, sf)
    val members = spark.read.parquet(s"$dir/members")
    val byCluster = Tables.documents(spark, sf)
      .withColumn("toks", split(lower(trim(col("text"))), "\\s+"))
      .select(col("doc_id"),
        expr("(1000000 * size(array_distinct(toks))) div size(toks)").as("q"))
      .join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), col("q"), coalesce(col("keep_id"), col("doc_id")).as("rep"))
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getLong(0)))
      .groupBy(_._1)
    val winners = byCluster.values.map(ms => ms.minBy(m => (-m._2, m._3))._3).toSet
    assert(winners.size.toLong === rows.map(_.getLong(3)).sum,
      "per-source kept counts must sum to the cluster count")
    byCluster.values.filter(_.length > 1).take(50).foreach { ms =>
      val w = ms.minBy(m => (-m._2, m._3))
      assert(ms.forall(_._2 <= w._2), "elected winner must carry the cluster-max quality")
    }
  }

  test("assignment margins are nonnegative and the mean cut splits the corpus") {
    val rows = Similarity.assignmentMargin(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "every vector must be scored")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, "margin of sorted d2 scores cannot be negative")
      assert(r.getLong(3) <= r.getLong(4))
      assert(r.getLong(5) <= r.getLong(1))
    }
    val amb = rows.map(_.getLong(5)).sum
    assert(amb > 0 && amb < n, s"below-mean margin cut must split the corpus: $amb of $n")
  }

  test("KN-smoothed surprise sits below the add-one model's on every source") {
    val kn = TextOps.knBigramSurprise(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val addOne = TextOps.bigramSurprise(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(kn.keySet === addOne.keySet)
    kn.values.foreach(s => assert(s > 0L, "surprise must be positive"))
    // corpus-total claim (a single source can tie within noise of the
    // model difference, observed +0.02% on src14 at sf0.001)
    assert(kn.values.sum < addOne.values.sum,
      s"KN's 0.75 discount must beat add-one's +V mass grab corpus-wide: " +
        s"${kn.values.sum} vs ${addOne.values.sum}")
    val below = kn.count { case (src, s) => s < addOne(src) }
    assert(below * 2 > kn.size, s"KN must win on most sources: $below of ${kn.size}")
  }

  test("binary hamming retrieval beats chance and distances stay in the code range") {
    val rows = Similarity.binaryHammingRecall(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 5L)
      assert(r.getInt(4) >= 0 && r.getInt(5) <= 64 && r.getInt(4) <= r.getInt(5))
    }
    val hits = rows.map(_.getLong(2)).sum
    // chance = 10 candidates × 5/(corpus−1) per query ≈ 0.5 hits total
    assert(hits >= 2L, s"sign codes must preserve cluster structure beyond chance: $hits")
  }

  test("containment dominates jaccard on the shared candidate pairs") {
    val cRows = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> math.max(r.getDouble(2), r.getDouble(3))).toMap
    val jRows = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = cRows.keySet intersect jRows.keySet
    assert(shared.nonEmpty, "top containment and top jaccard pairs must overlap on this corpus")
    shared.foreach { k =>
      assert(cRows(k) >= jRows(k) - 1e-6,
        s"max containment must dominate jaccard for $k: ${cRows(k)} vs ${jRows(k)}")
    }
    assert(cRows.values.exists(_ >= 0.99), "true subset relations must surface at ~1.0")
  }

  test("batch padding: waste grows with bucket width and global padding is worst") {
    val rows = Curation.batchPadding(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(rows("bucket_w5") <= rows("bucket_w10"))
    assert(rows("bucket_w10") <= rows("bucket_w20"))
    assert(rows("bucket_w20") <= rows("bucket_w50"))
    assert(rows("bucket_w50") <= rows("global"))
    assert(rows("bucket_w5") < rows("global"),
      "bucketing must measurably beat pad-to-corpus-max on this corpus")
  }

  test("aggregate top-k equals the window formulation and carries no Window node") {
    import org.apache.spark.sql.functions.{col, explode, round, row_number}
    import org.apache.spark.sql.expressions.Window
    val agg = Similarity.aggTopK(spark, sf)
    // window formulation of the identical quantized ranking
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val sc = e.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("sim_m", round(
        graft.functions.VectorExpressions.dot_product(col("qv"), col("v"))
          / (graft.functions.VectorExpressions.l2_norm(col("qv"))
            * graft.functions.VectorExpressions.l2_norm(col("v"))) * 10000).cast("bigint"))
    val w = Window.partitionBy("query_id").orderBy(col("sim_m").desc, col("vec_id").asc)
    val win = sc.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim_m"))
      .orderBy("query_id", "neighbor_id")
    assert(agg.collect().toSeq === win.collect().toSeq)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "the aggregate path must not rank through a window")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      "top-k must run as a (partial-combining) aggregate")
  }

  test("URL dedup: canonicalization collapses variants, census is conserved") {
    val rows = Dedup.urlDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, raw, canon, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(canon <= raw && raw <= n, "distinct counts must be monotone")
      assert(canon < raw, "canonicalization must collapse surface variants")
      assert(ppm === 1000000L * (n - canon) / n, "dup_ppm must be the exact integer formula")
    }
  }

  test("threshold sweep: edge and doc counts are monotone non-increasing in the cutoff") {
    val rows = Dedup.thresholdSweep(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(70, 80, 90))
    val edges = rows.map(_.getLong(1))
    val docs = rows.map(_.getLong(2))
    assert(edges.zip(edges.tail).forall { case (a, b) => a >= b },
      "raising the cutoff can only remove edges")
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b })
    assert(edges.head > 0, "the 0.7 cut must keep the verified near-dup edges")
  }

  test("cluster-size histogram: doc mass is conserved and singletons are the size-1 row") {
    import org.apache.spark.sql.functions.col
    val rows = Dedup.clusterSizeHist(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === total,
      "n_docs across buckets must sum to the corpus exactly")
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1),
        "n_docs must equal cluster_size * n_clusters")
    }
    assert(rows.exists(_.getLong(0) >= 2L), "near-dup clusters must appear")
    assert(rows.head.getLong(0) === 1L, "singleton row must exist")
  }

  test("Gopher ablation: attribution partitions each source's documents") {
    val abl = TextOps.gopherAblation(spark, sf).collect()
    val rules = TextOps.gopherRules(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(7)).toMap
    assert(abl.nonEmpty)
    abl.foreach { r =>
      val n = r.getLong(1)
      val parts = (2 to 7).map(r.getLong) // 5 uniq + multi_fail
      val nPass = r.getLong(8)
      assert(parts.sum + nPass === n,
        "uniq drops + multi_fail + n_pass must partition the source")
      assert(nPass === rules(r.getString(0)),
        "n_pass must agree with the gopherRules census")
    }
  }

  test("length histogram: power-of-two buckets bound their extrema and conserve docs") {
    val rows = TextOps.lengthHist(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === total)
    rows.foreach { r =>
      val (b, mn, mx) = (r.getInt(1), r.getLong(4), r.getLong(5))
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"extrema must sit inside [2^$b, 2^${b + 1})")
    }
  }

  test("native TopKPairsAgg is bit-identical to the typed-Aggregator reference form") {
    import org.apache.spark.sql.functions.{col, explode, pmod, hash, lit, udaf}
    import org.apache.spark.sql.Encoders
    // adversarial fixture: heavy ties (score = id % 7) so the id-asc
    // tiebreak, not luck, decides every slot; plus nulls
    val df = spark.range(0L, 10000L, 1L, 16)
      .select((col("id") % 3).as("g"),
        pmod(hash(col("id")), lit(7)).cast("bigint").as("s"),
        col("id"))
    val ref = udaf(graft.functions.TopKPairs(10),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    def out(c: org.apache.spark.sql.Column) = df.groupBy("g")
      .agg(c.as("l"))
      .select(col("g"), explode(col("l")).as("p"))
      .select(col("g"), col("p._1").as("s"), col("p._2").as("id"))
      .orderBy("g", "s", "id").collect().toSeq
    assert(out(graft.functions.TopKPairsNative.topk(col("s"), col("id"), 10))
      === out(ref(col("s"), col("id"))))
  }

  test("agg-vs-window crossover probe: identical results and a recorded agg win shape") {
    val r = Similarity.aggTopKCrossover(spark, sf).collect().head
    assert(r.getAs[Boolean]("results_equal"),
      "both formulations must produce identical top-k sets at 4M rows")
    assert(r.getAs[Long]("topk_rows") === 50L)
    assert(r.getAs[Long]("corpus_rows") === 4000000L)
  }

  test("C4 line filter: drop counts equal the injected slices, reassembly conserves lines") {
    import org.apache.spark.sql.functions.{col, expr}
    val rows = TextOps.c4LineFilter(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .withColumn("h", expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"))
    // every policy/brace drop comes from its injection slice, one per doc
    assert(rows.map(_.getLong(7)).sum === docs.filter(col("h") % 11 === 0).count(),
      "each slice-A doc loses exactly its one injected javascript line")
    assert(rows.map(_.getLong(8)).sum === docs.filter(col("h") % 11 === 1).count(),
      "each slice-B doc loses exactly its one injected brace line")
    assert(rows.map(_.getLong(2)).sum === docs.filter(col("h") % 11 === 2).count(),
      "each slice-C doc is dropped whole by the lorem rule")
    rows.foreach { r =>
      assert(r.getLong(5) + r.getLong(6) + r.getLong(7) + r.getLong(8) >= r.getLong(4),
        "kept + per-rule drops cover every line (rules may overlap)")
      assert(r.getLong(5) <= r.getLong(4), "kept lines cannot exceed total")
    }
    val changed = rows.map(_.getLong(3)).sum
    assert(changed > 0 && changed < docs.count(), "the battery must split the corpus")
  }

  test("leakage-safe split: zero cross-split near-dup mass, naive split leaks") {
    val rows = Curation.leakageSafeSplit(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    Seq("cluster", "naive").foreach { m =>
      val mr = rows.filter(_.getString(0) == m)
      assert(mr.map(_.getLong(2)).sum === total, s"$m split must cover the corpus")
    }
    val clusterLeak = rows.filter(_.getString(0) == "cluster").map(_.getLong(4)).sum
    val naiveLeak = rows.filter(_.getString(0) == "naive").map(_.getLong(4)).sum
    assert(clusterLeak === 0L, "cluster-keyed assignment cannot straddle a cluster")
    assert(naiveLeak > 0L,
      "the per-doc hash split must demonstrably leak near-dups on this corpus")
  }

  test("matryoshka recall: full-dim anchor is exactly 1.0 and truncation loses recall") {
    val rows = Similarity.matryoshkaRecall(spark, sf).collect()
    assert(rows.length === 4 * 5, "4 prefix lengths x 5 queries")
    val byDim = rows.groupBy(_.getInt(0)).view
      .mapValues(rs => rs.map(_.getDouble(4)).sum / rs.length).toMap
    assert(byDim(64) === 1.0, "m=64 is the identity anchor")
    rows.foreach { r =>
      val rec = r.getDouble(4)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getLong(3) <= 5L)
    }
    assert(byDim(8) < byDim(64),
      s"8-dim prefixes of non-MRL embeddings must lose recall: ${byDim(8)}")
  }

  test("LPA census matches a plain-Scala synchronous replay on the same graph") {
    val und = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.toSet
    val adj = (und.toSeq.map(e => (e._1, e._2)) ++ und.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val nodes = Tables.embeddings(spark, sf).select("vec_id").collect()
      .map(_.getLong(0)).sorted
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to 4) {
      val next = nodes.map { v =>
        adj.get(v) match {
          case Some(nbs) =>
            val counts = nbs.map(lbl).groupBy(identity).map { case (l, o) => (l, o.size) }
            v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
          case None => v -> lbl(v)
        }
      }.toMap
      lbl = next
    }
    val expected = lbl.values.groupBy(identity).map { case (c, m) => (c, m.size.toLong) }
    val got = Similarity.labelPropagation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected, "community census must match the single-node replay")
  }

  test("k-core census matches a plain-Scala peeling replay and telescopes") {
    val und = Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.toSet
    var active = Tables.embeddings(spark, sf).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val expected = (1 to 6).map { r =>
      val deg = und.toSeq
        .filter(e => active(e._1) && active(e._2))
        .flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
      val next = deg.filter(_._2 >= 4L).keySet
      val row = (r.toLong, active.size.toLong, (active.size - next.size).toLong,
        next.size.toLong, next.toSeq.sum)
      active = next
      row
    }
    val got = Similarity.kCore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got === expected, "k-core census must match the single-node peeling replay")
    // telescoping: each round starts where the previous ended, and the
    // fixed budget reaches the fixpoint (the convergence witness)
    got.sliding(2).foreach { case Seq(a, b) => assert(b._2 === a._4) }
    assert(got.last._3 === 0L,
      "the last committed round must be a fixpoint witness (n_removed = 0)")
    assert(got.head._3 > 0L,
      "k = out-degree + 1 must actually peel (a no-op census would hide a dead k)")
  }

  test("IVF recall curve: nested-probe monotonicity, full-probe anchor, deployed-config agreement") {
    val rows = Similarity.ivfRecallCurve(spark, sf).collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L, 8L, 16L))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_queries") === 5L)
      assert(r.getAs[Long]("recall_ppm") >= 0 && r.getAs[Long]("recall_ppm") <= 1000000L)
    }
    // argmin_n prefixes nest -> candidate sets nest -> with the shared
    // tie-break, recall and probed mass are monotone in nprobe
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("recall_ppm") >= a.getAs[Long]("recall_ppm"),
        s"recall must be monotone in nprobe (${a.getLong(0)} -> ${b.getLong(0)})")
      assert(b.getAs[Long]("probed_vecs") >= a.getAs[Long]("probed_vecs"))
    }
    // nprobe = IvfK probes every list: the rerank IS brute force
    assert(rows.last.getAs[Long]("recall_ppm") === 1000000L,
      "full probe must recall the exact top-5 exactly")
    // the deployed config (nprobe = 4) must agree with x_sim_recall's ivf row
    val deployed = Similarity.simRecall(spark, sf).collect()
      .filter(_.getString(0) == "ivf").map(_.getAs[Long]("n_hit")).sum
    assert(rows.find(_.getLong(0) == 4L).get.getAs[Long]("n_hits") === deployed)
  }

  test("MMR rerank: 8 distinct picks per query, top-1 first, diversity changes the set") {
    val rows = Similarity.mmrRerank(spark, sf).collect()
    assert(rows.length === 40, "5 queries x 8 steps")
    val byQ = rows.groupBy(_.getLong(0))
    val top = Similarity.bruteForceTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val picks = rs.sortBy(_.getLong(1)).map(_.getLong(2))
      assert(picks.distinct.length === 8, s"query $q repicked a neighbor")
      // step 1 is pure relevance: must equal the brute-force top-1
      val bf = top(q).sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1))
      assert(picks.head === bf.head, s"query $q step 1 must be the nearest neighbor")
    }
    // diversity must actually change SOME query's selection vs plain top-8
    val changed = byQ.exists { case (q, rs) =>
      val picks = rs.map(_.getLong(2)).toSet
      val bf8 = top(q).sortBy(r => (-r.getDouble(2), r.getLong(1))).take(8).map(_.getLong(1)).toSet
      picks != bf8
    }
    assert(changed, "MMR selection must differ from plain top-8 somewhere")
  }

  test("MMR rerank plans as ONE greedy aggregation, not K join barriers") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val df = Similarity.mmrRerank(spark, sf)
    df.collect() // finalize AQE
    val nodes = walk(df.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName.contains("ObjectHashAggregate")),
      "the greedy trajectory must fold inside MmrGreedyAgg")
    // corpus fanOut ×2 + pool window + output sort; the greedy agg
    // itself adds NONE (partial+final reuse the window's partitioning)
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles <= 4,
      s"fanOut x2 + pool window + output sort only, got $shuffles")
    // the whole selection is one aggregation: no join may appear after
    // the pool is built except the broadcast query attach
    val joins = nodes.filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.forall(_.nodeName.contains("Broadcast")),
      s"only the query-vector broadcast may join, got ${joins.map(_.nodeName)}")
  }

  test("CCNet buckets tertile every language and order surprise head < tail") {
    val rows = TextOps.ccnetBuckets(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum === Tables.documents(spark, sf).count(),
      "every document lands in exactly one bucket")
    val byLang = rows.groupBy(_.getString(0))
    byLang.foreach { case (lang, rs) =>
      assert(rs.map(_.getString(1)).toSet === Set("head", "middle", "tail"),
        s"$lang must have all three buckets")
      val counts = rs.map(_.getLong(2))
      assert(counts.max - counts.min <= 2,
        s"$lang tertiles must balance within ties, got ${counts.mkString(",")}")
      def mean(b: String) = {
        val r = rs.find(_.getString(1) == b).get
        r.getLong(4).toDouble / r.getLong(2)
      }
      assert(mean("head") <= mean("middle") && mean("middle") <= mean("tail") &&
        mean("head") < mean("tail"),
        s"$lang surprise must increase head -> tail")
    }
  }

  test("Gopher rules: every doc judged, injected slices fail exactly their rule") {
    val rows = TextOps.gopherRules(spark, sf).collect()
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "every document must be judged")
    // the symbol and alpha rules only fire on the injected ~1/7 doc
    // slices — nonzero (the injection worked) but bounded well below
    // the natural-rule fail rates' scale
    val fSym = rows.map(_.getLong(4)).sum
    val fAlpha = rows.map(_.getLong(5)).sum
    assert(fSym > 0 && fSym < n / 3, s"symbol-rule fails $fSym not in (0, n/3)")
    assert(fAlpha > 0 && fAlpha < n / 3, s"alpha-rule fails $fAlpha not in (0, n/3)")
    // natural rules discriminate on the raw corpus
    assert(rows.map(_.getLong(2)).sum > 0, "word-count rule must fail some docs")
    assert(rows.map(_.getLong(6)).sum > 0, "stopword rule must fail some docs")
    val pass = rows.map(_.getLong(7)).sum
    assert(pass > 0 && pass < n, s"composite must split the corpus, got $pass of $n")
  }

  test("DSIR resampling classifies every doc and prefers the target domain") {
    val rows = TextOps.dsirResample(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getLong(1)).sum === Tables.documents(spark, sf).count(),
      "every document must be scored")
    val (target, rest) = rows.partition(_.getString(0).drop(3).toInt % 5 == 0)
    def rate(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getLong(2)).sum.toDouble / rs.map(_.getLong(1)).sum
    assert(rate(target) > rate(rest),
      s"target-domain selection rate ${rate(target)} must exceed ${rate(rest)}")
    assert(rows.exists(_.getLong(2) > 0) && rest.map(_.getLong(2)).sum >= 0,
      "selection must be a real subset, not all-or-nothing")
  }

  test("residual IVF-PQ recall >= plain IVF-PQ against exact inner-product top-5") {
    import org.apache.spark.sql.functions._
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getSeq[Double](1).toArray)
      .toMap
    // exact top-5 by the same micro-quantized inner product and id
    // tiebreak the ADC scores approximate
    def exactTop5(q: Long): Set[Long] = {
      val qv = vecs(q)
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (math.round(v.zip(qv).map { case (a, b) => a * b }.sum * 1e6), id) }
        .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2).toSet
    }
    def hits(df: org.apache.spark.sql.DataFrame): Int =
      df.collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
        .count { case (q, n) => exactTop5(q)(n) }
    val plain = hits(Similarity.ivfPqTopK(spark, sf))
    val residual = hits(Similarity.ivfPqResidualTopK(spark, sf))
    assert(residual >= plain,
      s"residual codes must not lose recall: $residual < $plain (of 25)")
    assert(residual > 0, "residual IVF-PQ must find at least one true neighbor")
  }

  test("valueAtRank equals the single-window order statistic across widths and signs") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random scores with duplicates and negatives
    val scores = spark.range(0, 5000).select(
      (expr("cast(conv(substr(md5(cast(id as string)), 1, 6), 16, 10) as bigint)")
        % 4001L - 2000L).as("s"))
    val n = scores.count()
    val direct = scores
      .withColumn("rk", row_number().over(Window.orderBy("s")))
      .collect().sortBy(_.getInt(1)).map(_.getLong(0))
    for (width <- Seq(1L, 7L, 100L, 1000000L); q <- Seq(1L, n / 2, (9 * n + 9) / 10, n)) {
      val cut = spark.range(1).select(lit(q).as("cut_rk"))
      val got = graft.operators.Ranks.valueAtRank(scores, "s", cut, width)
        .collect()
      assert(got.length === 1 && got.head.getLong(0) === direct((q - 1).toInt),
        s"width=$width rank=$q: ${got.toSeq} vs ${direct((q - 1).toInt)}")
    }
    // out-of-range rank -> empty, never a null row
    val none = graft.operators.Ranks.valueAtRank(
      scores, "s", spark.range(1).select(lit(n + 1).as("cut_rk")), 100L)
    assert(none.collect().isEmpty, "rank beyond n must yield an empty frame")
    // batched form: one pass, several ranks (the a16 quantile shape)
    import spark.implicits._
    val ranks = Seq(("q1", 1L), ("mid", n / 2), ("p90", (9 * n + 9) / 10), ("max", n))
    val batched = graft.operators.Ranks
      .valuesAtRanks(scores, "s", ranks.toDF("qlabel", "cut_rk"), 100L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((label, q) <- ranks)
      assert(batched(label) === direct((q - 1).toInt),
        s"batched $label (rank $q) disagrees with the sorted order")
  }

  test("hard negatives carry a different label than their anchor and rank by similarity") {
    import org.apache.spark.sql.functions._
    val neg = Similarity.hardNegatives(spark, sf)
    val lab = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
    val joined = neg
      .join(lab.withColumnRenamed("vec_id", "query_id").withColumnRenamed("label", "qlabel"), "query_id")
      .join(lab.withColumnRenamed("vec_id", "negative_id").withColumnRenamed("label", "nlabel"), "negative_id")
      .collect()
    assert(joined.nonEmpty, "LSH collisions must yield at least one cross-label candidate")
    assert(joined.forall(r => r.getAs[Int]("qlabel") != r.getAs[Int]("nlabel")),
      "every mined negative must disagree with its anchor's label")
    val byQuery = neg.collect().groupBy(_.getLong(0))
    assert(byQuery.values.forall(_.length <= 2), "top-2 per anchor")
    byQuery.values.foreach { rs =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sorted.reverse.toSeq === sims.toSeq, "rk must order by sim desc")
    }
  }

  test("winnowing: exact duplicates share their full fingerprint set; ppm is exact") {
    val rows = TextOps.winnowing(spark, sf).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (shared, fpA, fpB, ppm) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(shared <= math.min(fpA, fpB),
        "shared fingerprints cannot exceed either document's set")
      assert(ppm === 1000000L * shared / math.min(fpA, fpB),
        "overlap_ppm must be the exact integer formula")
    }
    val shareds = rows.map(_.getLong(2))
    assert(shareds.zip(shareds.tail).forall { case (a, b) => a >= b },
      "output must rank by shared_fp desc")
    // the corpus plants exact duplicate documents; winnowing's detection
    // guarantee makes their fingerprint sets IDENTICAL → ppm 1000000
    assert(rows.exists(_.getLong(5) === 1000000L),
      "planted exact dups must surface as full-overlap pairs")
  }

  test("ER match: recall is total (every injected twin re-linked), price confirms") {
    val rows = Dedup.erMatch(spark, sf).collect()
    val perType = Tables.part(spark, sf).groupBy("p_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet === perType.keySet)
    rows.foreach { r =>
      val (tpe, nCand, nMatched, nTrue, nFalse, nPrice) = (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nTrue === perType(tpe),
        s"$tpe: the dirt stays inside the match tolerance, so recall must be 1.0")
      assert(nMatched === nTrue + nFalse, "matches partition into true and false")
      assert(nPrice === nTrue,
        "price is unique per part: exactly the true links carry equal prices")
      assert(nCand >= nMatched, "blocking candidates bound the matches")
    }
  }

  test("PSI drift: nonnegative, bands match thresholds, grid is the full bucket set") {
    import org.apache.spark.sql.functions._
    val rows = Curation.psiDrift(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_.getLong(1)).sum === docs.count(),
      "per-source doc counts must partition the corpus")
    val globalBuckets = docs
      .select((length(bin(size(split(lower(trim(col("text"))), "\\s+")).cast("long"))) - 1))
      .distinct().count()
    rows.foreach { r =>
      val (psi, band) = (r.getLong(3), r.getString(4))
      assert(psi >= 0L, s"${r.getString(0)}: PSI is a sum of nonnegative terms")
      assert(band === (if (psi < 100000L) "stable" else if (psi < 200000L) "minor" else "major"))
      assert(r.getLong(2) === globalBuckets,
        "every source scores against the full global bucket grid")
    }
  }

  test("pareto frontier: staircase is strict and no point dominates another") {
    val rows = Curation.paretoSelect(spark, sf).collect()
    assert(rows.nonEmpty)
    val pts = rows.map(r => (r.getLong(0), r.getLong(1)))
    // sorted q desc, cost must strictly decrease — the skyline staircase
    pts.zip(pts.tail).foreach { case ((q1, w1), (q2, w2)) =>
      assert(q1 > q2, "one point per quality level")
      assert(w1 > w2, s"lower quality must buy strictly lower cost: ($q1,$w1) vs ($q2,$w2)")
    }
    for (a <- pts; b <- pts if a != b)
      assert(!(b._1 >= a._1 && b._2 <= a._2),
        s"$b dominates $a — not a frontier")
  }

  test("quantile normalization: calibrated mass is bounded by the global distribution") {
    import org.apache.spark.sql.functions._
    val rows = Curation.quantileNorm(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_.getLong(1)).sum === docs.count())
    assert(rows.map(_.getLong(2)).sum ===
      docs.agg(sum("n_chars")).head.getLong(0), "raw mass must be conserved")
    val (gMin, gMax) = {
      val r = docs.agg(min("n_chars"), max("n_chars")).head
      (r.getLong(0), r.getLong(1))
    }
    rows.foreach { r =>
      val (nd, cal) = (r.getLong(1), r.getLong(3))
      assert(cal >= gMin * nd && cal <= gMax * nd,
        s"${r.getString(0)}: calibrated values must come from the global range")
    }
  }

  test("AQE skew join: runtime split fires and only changes partitioning, not the answer") {
    import org.apache.spark.sql.functions._
    import graft.operators.Skew
    val rows = Skew.aqeSkewJoin(spark, sf).collect()
    assert(rows.forall(_.getBoolean(3)),
      "OptimizeSkewedJoin must fire (isSkewJoin read structurally from the executed plan)")
    // parity against a plain recompute with no AQE skew machinery
    val plain = Tables.events(spark, sf)
      .withColumn("w10", expr(
        """CASE event_type WHEN 'click' THEN 15 WHEN 'error' THEN 1
          | WHEN 'purchase' THEN 50 WHEN 'signup' THEN 30 ELSE 10 END""".stripMargin))
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)") * col("w10")).as("wm"),
        count(lit(1)).as("n"))
      .orderBy("day").collect()
    assert(rows.length === plain.length)
    rows.zip(plain).foreach { case (g, p) =>
      assert(g.getString(0) === p.getString(0))
      assert(g.getLong(1) === p.getLong(1), s"day ${g.getString(0)}: weighted mass")
      assert(g.getLong(2) === p.getLong(2))
    }
  }

  test("encoding advisor: advice is a pure function of the byte ratios it reports") {
    val rows = graft.operators.BenchOps.k12EncodingAdvisor(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ratio, dictAll, advice) = (r.getLong(4), r.getBoolean(5), r.getString(6))
      val expected =
        if (ratio <= 600000) "effective"
        else if (ratio <= 900000) "moderate-consider-zstd"
        else if (dictAll) "incompressible-consider-plain"
        else "try-dictionary"
      assert(advice === expected, s"${r.getString(0)}: advice must follow the thresholds")
      assert(r.getLong(2) <= r.getLong(3) * 2,
        "compressed mass must stay in sane relation to uncompressed")
      assert(ratio === r.getLong(2) * 1000000L / r.getLong(3))
    }
    assert(rows.map(_.getString(6)).distinct.length >= 2,
      "the fixture must exercise more than one advice bucket")
  }

  test("lineage tracer: self-join sides stay separate, derived columns fan in") {
    import org.apache.spark.sql.functions._
    val o = Tables.orders(spark, sf)
    val a = o.select(col("o_orderkey").as("k"), col("o_totalprice").as("pa"))
    val b = o.select(col("o_orderkey").as("k2"), col("o_orderdate").as("d"))
    val q = a.join(b, col("k") === col("k2"))
      .select(col("k"), (col("pa") * 2).as("double_price"), col("d"))
    val triples = graft.plans.Lineage.trace(q).toSet
    assert(triples === Set(
      ("k", "orders", "o_orderkey"),
      ("double_price", "orders", "o_totalprice"),
      ("d", "orders", "o_orderdate")),
      s"got $triples")
    // a two-source derived column fans in to both leaves
    val rev = graft.plans.Lineage.trace(
      Tables.lineitem(spark, sf).select(
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("r")))
    assert(rev.toSet === Set(
      ("r", "lineitem", "l_discount"), ("r", "lineitem", "l_extendedprice")))
  }

  test("partition audit: the dribbled partition flags, the healthy ones don't, rows conserve") {
    val rows = graft.operators.BenchOps.partitionAudit(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5))).toMap
    val raw = Tables.orders(spark, sf).groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === raw.keySet)
    rows.foreach { case (p, (_, nRows, _, _)) =>
      assert(nRows === raw(p), s"$p: audit rows must equal the raw partition")
    }
    val (pFiles, _, pSmall, pFlag) = rows("P")
    assert(pFiles === 8L && pSmall === 8L && pFlag,
      "the 8-way dribbled partition must flag for compaction")
    Seq("F", "O").foreach { p =>
      val (nf, _, ns, flag) = rows(p)
      assert(nf === 2L && ns === 0L && !flag, s"$p: healthy partition must not flag")
    }
  }

  test("CDC chunking: census conserved, planted dup docs dedup at chunk level") {
    import org.apache.spark.sql.functions._
    val r = Multimodal.cdcChunking(spark, sf).collect().head
    val (nDocs, totalBytes, nChunks, nUniq, dupBytes, maxCopies) = (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val docs = Tables.documents(spark, sf)
    assert(nDocs === docs.count())
    assert(totalBytes === docs.agg(sum(length(col("text")))).head.getLong(0),
      "ascii corpus: byte mass equals character mass")
    assert(nUniq <= nChunks)
    assert(nChunks >= nDocs, "every blob yields at least its final chunk")
    assert(maxCopies >= 2 && dupBytes > 0,
      "planted duplicate documents must dedup at the chunk level")
    assert(dupBytes < totalBytes, "savings are a strict subset of the corpus")
  }

  test("soft dedup: mass conserves, weights bound by counts, effective equals survivors") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.softDedupWeights(spark, sf).collect()
    val nDocs = rows.map(_.getLong(1)).sum
    assert(nDocs === Tables.documents(spark, sf).count(), "census covers the corpus")
    rows.foreach { r =>
      val (n, inCl, wSum, eff) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(inCl <= n)
      assert(wSum <= n * 1000000L, s"${r.getString(0)}: weights cannot exceed 1 per doc")
      assert(eff <= n && eff >= 0)
      // singletons carry exactly 1e6 ppm: weight mass below n only from clusters
      assert((n - inCl) * 1000000L <= wSum,
        s"${r.getString(0)}: singleton mass alone is a lower bound")
    }
    // global effective docs ~ hard-dedup survivor count: reps of every
    // cluster + singletons = distinct reps (truncating div loses < 1
    // per cluster, so compare via the exact ppm sum)
    val wTotal = rows.map(_.getLong(3)).sum
    val survivors = Dedup.clusterSizeHist(spark, sf)
      .agg(sum("n_clusters")).head.getLong(0)
    // sum over clusters of size*floor(1e6/size) is within n_clusters of 1e6*survivors
    assert(math.abs(wTotal - survivors * 1000000L) < survivors * 1000000L / 2,
      s"weight mass $wTotal must be on the order of survivors $survivors")
  }

  test("zipf fit: slope negative, intercept positive, no corpus-sized sort in the plan") {
    val df = TextOps.zipfFit(spark, sf)
    val r = df.collect().head
    assert(r.getLong(0) > 2, "needs at least 3 rank points")
    assert(r.getLong(1) < 0, "rank-frequency slope must be negative")
    assert(r.getLong(2) > 0, "log-intercept must be positive")
    // the top-K cut must plan as TakeOrderedAndProject, not a global Sort
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be TakeOrderedAndProject:\n$plan")
  }

  test("tokenizer fertility: at least one token per word, chars conserve per language") {
    val rows = TextOps.tokenizerFertility(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, nc, nt, fert, cpt) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nt >= nw, s"${r.getString(0)}: every word is at least one token")
      assert(nt <= nc, s"${r.getString(0)}: merges never exceed character count")
      assert(fert === nt * 1000000L / nw)
      assert(cpt === nc * 1000000L / nt)
    }
  }

  test("heaps law: no Expand in the plan, growth monotone, vocab bounded by tokens") {
    val df = TextOps.heapsLaw(spark, sf)
    val rows = df.collect()
    assert(rows.length === 5)
    // the design claim: prefix vocabulary WITHOUT count(DISTINCT CASE...)
    // — a multi-distinct would plan an Expand (5x token-stream blowup)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"heaps must not Expand the corpus:\n$plan")
    val toks = rows.map(_.getLong(2))
    val vocab = rows.map(_.getLong(3))
    assert(toks.toSeq === toks.sorted.toSeq, "occurrence mass grows with the prefix")
    assert(vocab.toSeq === vocab.sorted.toSeq, "vocabulary grows with the prefix")
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(2), "vocab <= tokens"))
  }

  test("topk_pairs rejects non-BIGINT children at analysis time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1.5, 1L)).toDF("score", "id")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy().agg(graft.functions.TopKPairsNative.topk(col("score"), col("id"), 3))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("bigint"),
      s"analysis error must name the required type, got: ${err.getMessage}")
  }

  test("file provenance: census matches the physical fixture exactly") {
    import org.apache.spark.sql.functions._
    val rows = BenchOps.fileProvenance(spark, sf).collect()
    val orders = Tables.orders(spark, sf)
    assert(rows.map(_.getLong(2)).sum === orders.count(),
      "per-file rows must sum to the table")
    assert(rows.map(_.getLong(3)).sum ===
      orders.agg(sum("o_orderkey")).head.getLong(0), "key mass conserves")
    // the P partition was written with 8 tasks - multiple files must appear
    val pFiles = rows.filter(_.getString(0) == "P")
    assert(pFiles.length > 1, "the 8-task partition yields several files")
    rows.foreach { r =>
      assert(r.getString(1).endsWith(".parquet"))
      assert(r.getLong(4) <= r.getLong(5), "min_key <= max_key per file")
    }
  }

  test("AP@10 is consistent with MRR and bounded by precision identities") {
    val ap = TextOps.apAt10(spark, sf).collect()(0)
    val mrr = TextOps.mrrAt10(spark, sf).collect()(0)
    val (k, hits, nRel, apPpm) = (ap.getLong(0), ap.getLong(1), ap.getLong(2), ap.getLong(3))
    assert(k === 10 && hits === mrr.getLong(1) && nRel === mrr.getLong(2))
    assert(apPpm >= 0 && apPpm <= 1000000L)
    // AP <= best-possible P@k mass: hits ranked first would give
    // hits/min(R,10) exactly; any other placement only loses
    val ideal = hits * 1000000L / math.min(nRel, 10L)
    assert(apPpm <= ideal, "AP is maximized by front-loading the hits")
    if (hits > 0) {
      // the first relevant doc contributes P@r = hits_at_r/r = 1/r = RR
      assert(apPpm > 0)
      assert(mrr.getLong(3) > 0)
    } else assert(apPpm === 0L)
  }

  test("burstiness: gated, ordered, and each row re-derives cf/df arithmetic") {
    val rows = TextOps.burstiness(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    val scores = rows.map(_.getLong(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getLong(1) >= 5, "cf gate")
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1),
        "df bounds: 1 <= df <= cf")
      assert(r.getLong(3) === r.getLong(1) * 1000L / r.getLong(2))
      assert(r.getLong(3) >= 1000L, "a term occurs at least once per containing doc")
    }
  }

  test("readability: per-source census conserves docs and bounds hold") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.readability(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(4),
        s"${r.getString(0)}: min <= mean <= max")
      assert(r.getLong(5) <= r.getLong(1))
      // FK floor: every term is >= 0, so grade_milli >= -15590 exactly.
      // (NOT -15590+390: a punctuation-dense doc like "a.b.c d.e" has
      // more sentence runs than whitespace tokens, so 390*w div sents
      // can legitimately be 0 — the +390 assumed sents <= w.)
      assert(r.getLong(3) >= -15590L)
    }
    // one-doc re-derivation with the committed integer definition
    val d = Tables.documents(spark, sf).orderBy("doc_id").limit(1)
      .select(col("text")).head.getString(0)
    val w = math.max(d.trim.toLowerCase.split("\\s+").length, 1).toLong
    val sents = math.max("[.!?]+".r.findAllIn(d).length, 1).toLong
    val syl = "[aeiou]+".r.findAllIn(d.toLowerCase).length.toLong
    val grade = 390L * w / sents + 11800L * syl / w - 15590L
    val lo = rows.map(_.getLong(3)).min
    val hi = rows.map(_.getLong(4)).max
    assert(grade >= lo && grade <= hi, "a re-derived doc grade lies inside the census bounds")
  }

  test("PQ distortion census: one row per subspace, bounded, full coverage") {
    val rows = Similarity.pqDistortion(spark, sf).collect()
    assert(rows.map(_.getInt(0)).sorted.sameElements(0 until 8),
      "all 8 subspaces report")
    val n = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) === n, "every vector encoded in every subspace")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(3),
        s"subspace ${r.getInt(0)}: 0 <= mean <= max")
    }
    // the encoder picks the NEAREST code, so mean distortion must be
    // strictly below the trivial all-zero-centroid bound E[||sv||^2]
    import org.apache.spark.sql.functions._
    val meanNorm2 = Tables.embeddings(spark, sf)
      .select(expr("aggregate(slice(cast(embedding as array<double>), 1, 8), 0.0D, (a, x) -> a + x * x)").as("n2"))
      .agg(avg("n2")).head.getDouble(0)
    assert(rows.find(_.getInt(0) == 0).get.getLong(2) < meanNorm2 * 1e6,
      "quantizing must beat the zero-centroid straw man in subspace 0")
  }

  test("IVF list balance: census covers the corpus and audits the served index") {
    val rows = Similarity.ivfListBalance(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.nonEmpty && rows.length <= 16, "at most K=16 lists")
    assert(rows.map(_.getLong(1)).sum === n, "every vector lands in exactly one list")
    val idTotal = Tables.embeddings(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("vec_id")).head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === idTotal, "id mass conserves across lists")
    rows.foreach { r =>
      assert(r.getLong(3) === r.getLong(1) * 1000000L / n)
      assert(r.getLong(4) === r.getLong(1) * 16L * 100L / n)
    }
  }

  test("JSD: bounded by ln2, and the largest source re-derives term-exactly") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.jsdSources(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 693147L,
        s"${r.getString(0)}: JSD in [0, ln2] micro-nats")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
    }
    // brute-force the quantized JSD for the largest source with the
    // SAME per-term quantization (JVM math.log == Spark's ln)
    val toks = Tables.documents(spark, sf)
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val n = toks.length.toLong
    val g = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val biggest = toks.groupBy(_._1).view.mapValues(_.length).maxBy(v => (v._2, v._1))._1
    val sCnt = toks.filter(_._1 == biggest).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nS = sCnt.values.sum
    var sP = 0L; var sQ = 0L; var gPresent = 0L
    sCnt.foreach { case (t, cs) =>
      val cg = g(t)
      val den = cs.toDouble * n + cg.toDouble * nS
      sP += cs * math.round(math.log(2.0 * cs * n / den) * 1e6)
      sQ += cg * math.round(math.log(2.0 * cg * nS / den) * 1e6)
      gPresent += cg
    }
    val expected = (math.max(sP, 0L) / nS + math.max(sQ + (n - gPresent) * 693147L, 0L) / n) / 2
    val row = rows.find(_.getString(0) == biggest).get
    assert(row.getLong(2) === expected, s"$biggest: engine JSD must equal the brute-force fold")
  }

  test("MRR/P@10/R@10: consistent with each other and with the hit census") {
    val r = TextOps.mrrAt10(spark, sf).collect()
    assert(r.length === 1)
    val (k, hits, nRel, mrr, p10, r10) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3), r(0).getLong(4), r(0).getLong(5))
    assert(k === 10 && hits >= 0 && hits <= 10)
    assert(p10 === hits * 100000L, "precision@10 is exactly hits/10")
    assert(r10 === hits * 1000000L / nRel)
    if (hits > 0) assert(mrr >= 100000L && mrr <= 1000000L,
      "a hit in the top-10 bounds RR to [1/10, 1]")
    else assert(mrr === 0L)
  }

  test("curriculum phases: value-ordered quartiles conserve docs and difficulty order") {
    val rows = TextOps.curriculumPhases(spark, sf).collect()
    val phases = rows.map(_.getInt(0)).distinct.sorted
    assert(phases.sameElements(Array(1, 2, 3, 4)), "all four phases populated")
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum === n, "every doc lands in exactly one phase")
    // global per-phase mean difficulty is nondecreasing (phases are
    // value-ordered intervals of the surprise distribution)
    val byPhase = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
      rs.map(r => r.getLong(3) * r.getLong(2)).sum.toDouble / rs.map(_.getLong(2)).sum
    }
    assert(byPhase.zip(byPhase.tail).forall { case (a, b) => a <= b },
      s"phase means must be easy->hard: ${byPhase.mkString(", ")}")
    // quartiles balanced up to tie mass: no phase above half the corpus
    val sizes = rows.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(sizes.values.forall(_ <= n / 2 + 1), s"phase sizes: $sizes")
  }

  test("streaming drift gate: nonnegative PSI per day over the full feed") {
    val rows = EventStreams.streamDrift(spark, sf).collect()
    assert(rows.length === 30, "the fixture feed spans 30 days")
    val n = Tables.events(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === n, "day censuses cover every event")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0, s"${r.getString(0)}: PSI is a sum of nonneg terms")
      val band = r.getString(4)
      val psi = r.getLong(3)
      assert(band === (if (psi < 100000L) "stable" else if (psi < 200000L) "minor" else "major"))
    }
  }

  test("PMI collocations: count-gated, ordered, and the top score re-derives") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.pmiCollocations(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { r =>
      assert(r.getLong(1) >= 3, s"${r.getString(0)}: hapax-gated count")
      assert(r.getLong(1) <= r.getLong(2) && r.getLong(1) <= r.getLong(3),
        s"${r.getString(0)}: joint count can't exceed either slot count")
    }
    val scores = rows.map(_.getLong(4))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "pmi_micro must be nonincreasing down the top-30")
    // re-derive the head row's PMI from its own exact counts + the
    // corpus bigram total
    val n = Tables.documents(spark, sf)
      .select(split(lower(trim(col("text"))), "\\s+").as("t"))
      .filter(size(col("t")) >= 2)
      .agg(sum(size(col("t")) - 1)).head.getLong(0)
    val h = rows.head
    val expected = math.round((math.log(h.getLong(1).toDouble) + math.log(n.toDouble)
      - math.log(h.getLong(2).toDouble) - math.log(h.getLong(3).toDouble)) * 1e6)
    assert(h.getLong(4) === expected, "head PMI re-derives from its counts")
  }

  test("NDCG@10: k=10, dcg bounded by idcg, ndcg in (0, 1e6]") {
    val r = TextOps.ndcgAt10(spark, sf).collect()
    assert(r.length === 1)
    val (k, dcg, idcg, ndcg) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3))
    assert(k === 10, "BM25 must retrieve a full top-10 at every sf")
    assert(dcg > 0 && dcg <= idcg, "ideal ranking dominates any ranking")
    assert(ndcg > 0 && ndcg <= 1000000L)
    // idcg re-derives: ideal top-10 grades are the 10 largest rel values
    val rels = Tables.documents(spark, sf)
      .select((org.apache.spark.sql.functions.col("doc_id") % 4).as("rel"))
      .collect().map(_.getLong(0)).sorted.reverse.take(10)
    val expectedIdcg = rels.zipWithIndex.map { case (rel, i) =>
      math.round(rel * 1e6 / (math.log((i + 2).toDouble) / math.log(2.0)))
    }.sum
    assert(idcg === expectedIdcg, "idcg re-derives from the grade census")
  }
}
