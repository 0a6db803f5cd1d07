package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The reference's benchmark executables re-expressed as Spark jobs that
  * emit result DataFrames with the reference's CSV columns (FIXTURES.md
  * §B). Timing = System.nanoTime around Spark actions (the reference's
  * std::chrono spans, src/metadata_benchmark.cc:183-188); first-run JIT
  * warmup is the caller's concern.
  */
object BenchRunners {

  private def timeMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def dirBytes(spark: SparkSession, p: String): Long = {
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(path).getLength
  }

  /** Driver-side footer decode timing of one file (cheap, no job):
    * median of 5 decodes after 1 warmup — single shots on this box carry
    * multi-× scheduler outliers that would masquerade as scaling effects.
    */
  private def footerTimesUs(spark: SparkSession, p: String): (Double, Double, Long) = {
    val conf = FooterMeta.sessionConf(spark).value
    val file = FooterMeta.parquetFiles(conf, p).head
    def once(): (Double, Double, Long) = {
      val ft = FooterMeta.footer(conf, file)
      val t1 = System.nanoTime()
      val nCols = ft.meta.getFileMetaData.getSchema.getColumns.asScala.size
      val t2 = System.nanoTime()
      (ft.decodeNs / 1e3, (t2 - t1) / 1e3, nCols.toLong)
    }
    once()
    val samples = (1 to 5).map(_ => once())
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    (med(samples.map(_._1)), med(samples.map(_._2)), samples.head._3)
  }

  /** The wide tables below are staged once per generator parameter set
    * ([[graft.Staged]]): WideTableGen is deterministic, so a staged file
    * IS the file a regeneration would produce. The metadata benchmarks
    * measure footer DECODE, and the reference likewise generates each
    * grid file once and then times decode in a loop
    * (src/metadata_benchmark.cc:232-246), so reuse keeps the measured
    * quantity honest while cutting the wide write out of every repeat.
    *
    * The snappy table [[dataReadBenchmark]] times and
    * [[readBenchCounts]] checks.
    */
  private def readBenchFile(
      spark: SparkSession, nc: Int, numRows: Long, seed: Long, workDir: String): String =
    graft.Staged.at(spark, s"$workDir/read_bench_${nc}c_${numRows}n_s$seed", Nil)(
      ParquetKnobs.write(WideTableGen.wide(spark, nc, numRows, seed), _,
        ParquetKnobs.WriteConfig(codec = "snappy")))

  /** The table [[chunksAndPagesBenchmark]] and [[statsBenchmark]] decode. */
  private def metaBenchFile(spark: SparkSession, nc: Int, numRows: Long, workDir: String): String =
    graft.Staged.at(spark, s"$workDir/meta_bench_${nc}c_${numRows}n", Nil)(
      ParquetKnobs.write(WideTableGen.wide(spark, nc, numRows), _, ParquetKnobs.WriteConfig()))

  /** The one-file snappy table [[wideFooterProbe]] times and [[wideLayout]]
    * checks. One generator partition: one nc-column file instead of 32
    * three-row ones, whose cold build was dominated by per-file
    * column-writer/footer overhead (see WideTableGen.wide).
    */
  private def wideProbeFile(spark: SparkSession, nc: Int, numRows: Long, workDir: String): String =
    graft.Staged.at(spark, s"$workDir/wide_probe_${nc}c_${numRows}n_1p", Nil)(
      ParquetKnobs.write(WideTableGen.wide(spark, nc, numRows, numPartitions = 1), _,
        ParquetKnobs.WriteConfig(codec = "snappy")))

  /** One throwaway footer open before any timed measurement: the first
    * footer open in a JVM pays parquet-hadoop class loading
    * (~60 ms observed), which would otherwise land entirely on the first
    * grid row.
    */
  def warmupFooterPath(spark: SparkSession, workDir: String): Unit = {
    val path = s"$workDir/warmup_1cols"
    ParquetKnobs.write(WideTableGen.wide(spark, 1, 100L), path, ParquetKnobs.WriteConfig())
    footerTimesUs(spark, path)
    ()
  }

  /** Predicate-pushdown effect measurement (SURVEY §4): the same
    * selective filter scan timed with parquet filter pushdown on vs off
    * — the reference's stats-enabled/disabled axis expressed as the
    * Spark conf that consumes those stats.
    */
  /** Generates (once, [[graft.Staged]]) the sorted, 1 MiB-row-group file
    * that [[pushdownBenchmark]] and [[pushdownRows]] share; returns its
    * path. Deterministic input: the write is the expensive half of the
    * op and isn't what either query measures.
    */
  private[graft] def ensurePushdownFile(
      spark: SparkSession, numRows: Long, workDir: String): String =
    graft.Staged.at(spark, s"$workDir/pushdown_bench_$numRows", Nil) { path =>
      // low-cardinality sorted column -> tight row-group min/max -> skippable
      val df = spark.range(numRows).selectExpr(
        "id AS k",
        "CAST(id % 1000 AS DOUBLE) AS v")
      ParquetKnobs.write(df.repartitionByRange(8, org.apache.spark.sql.functions.col("k")),
        path, ParquetKnobs.WriteConfig(rowGroupBytes = 1024 * 1024))
    }

  def pushdownBenchmark(
      spark: SparkSession,
      numRows: Long,
      workDir: String): DataFrame = {
    import spark.implicits._
    val path = ensurePushdownFile(spark, numRows, workDir)
    // untimed warm run of the same filtered shape: without it the first
    // timed variant pays cold page cache + codegen compile and the
    // comparison measures run order, not pushdown
    spark.read.parquet(path).filter(s"k < ${numRows / 100}").foreach(_ => ())
    val saved = spark.conf.get("spark.sql.parquet.filterPushdown")
    val rows =
      try Seq(true, false).map { on =>
        spark.conf.set("spark.sql.parquet.filterPushdown", on.toString)
        val df2 = spark.read.parquet(path).filter(s"k < ${numRows / 100}")
        // execute the physical plan directly: Dataset actions run on a
        // separate rddQueryExecution, so metrics would land elsewhere
        val plan = df2.queryExecution.executedPlan
        val (_, ms) = timeMs(plan.execute().count())
        // rows emitted by the scan node = rows surviving row-group/page
        // skipping — the deterministic evidence of pushdown (wall time on
        // an MB-scale local file is noise)
        val finalPlan = plan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val scanRows = finalPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numOutputRows").value
        }.sum
        (on, numRows, scanRows, ms)
      } finally spark.conf.set("spark.sql.parquet.filterPushdown", saved)
    rows.toDF("pushdown_enabled", "num_rows", "scan_output_rows", "filtered_read_time_ms")
  }

  /** data_read_benchmark (src/data_read_benchmark.cc:99-135): footer-only,
    * full-table, random-half-columns, and every-10th-column reads over a
    * generated wide table. Column names follow the reference CSV header
    * (src/data_read_benchmark.cc:126).
    */
  def dataReadBenchmark(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Long,
      workDir: String,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val rows = numColsList.map { nc =>
      val path = readBenchFile(spark, nc, numRows, seed, workDir)
      val (thriftUs, schemaUs, _) = footerTimesUs(spark, path)
      val df = spark.read.parquet(path)
      val (_, fullMs) = timeMs(materialize(df))
      val rnd = new Random(seed)
      val half = rnd.shuffle((0 until nc).toList).take(math.max(1, nc / 2)).map(i => s"col_$i")
      val (_, halfMs) = timeMs(materialize(df.select(half.map(df(_)): _*)))
      val tenth = (0 until nc by 10).map(i => s"col_$i")
      val (_, tenthMs) = timeMs(materialize(df.select(tenth.map(df(_)): _*)))
      (nc, numRows, (thriftUs + schemaUs) / 1e3, fullMs, halfMs, tenthMs)
    }
    rows.toDF("num_columns", "num_rows", "metadata_decode_time_ms",
      "full_data_read_time_ms", "random_column_read_time_ms", "page_read_time_ms")
  }

  /** metadata_benchmark BenchmarkChunksAndPages
    * (src/metadata_benchmark.cc:13-42, CSV header :83): footer decode
    * split into Thrift-decode and schema-build stages, per column count.
    * stats_level is recorded as requested (§4 deviation note in
    * ParquetKnobs).
    */
  def chunksAndPagesBenchmark(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Long,
      workDir: String,
      statsLevel: Int = 1): DataFrame = {
    import spark.implicits._
    val rows = numColsList.map { nc =>
      val path = metaBenchFile(spark, nc, numRows, workDir)
      val (thriftUs, schemaUs, _) = footerTimesUs(spark, path)
      (nc, thriftUs + schemaUs, thriftUs, schemaUs, dirBytes(spark, path), statsLevel)
    }
    rows.toDF("num_columns", "total_decode_time_us", "thrift_decode_time_us",
      "schema_build_time_us", "size_bytes", "stats_level")
  }

  /** metadata_benchmark BenchmarkStats (src/metadata_benchmark.cc:44-79,
    * CSV header :96): force min/max statistics decode for every
    * (row group × chunk).
    */
  def statsBenchmark(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Long,
      workDir: String): DataFrame = {
    import spark.implicits._
    val conf = FooterMeta.sessionConf(spark).value
    val rows = numColsList.map { nc =>
      val path = metaBenchFile(spark, nc, numRows, workDir)
      val file = FooterMeta.parquetFiles(conf, path).head
      val footer = FooterMeta.footer(conf, file).meta
      val t0 = System.nanoTime()
      var withStats = 0
      footer.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val s = c.getStatistics
          if (s != null && s.hasNonNullValue) withStats += 1
        }
      }
      val statsUs = (System.nanoTime() - t0) / 1e3
      (nc, footer.getBlocks.size(), statsUs, dirBytes(spark, path), withStats > 0)
    }
    rows.toDF("num_columns", "num_row_groups", "stats_decode_time_us",
      "size_bytes", "stats_enabled")
  }

  /** metadata_benchmark row-group grid (G2: src/metadata_benchmark.cc:269-281):
    * cols × row-group rows × page size × stats, CSV header :215-216.
    */
  def rowGroupGrid(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Int,
      rowGroupSizes: Seq[Int],
      pageSizes: Seq[Int],
      workDir: String): DataFrame = {
    import spark.implicits._
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = for {
      nc <- numColsList
      rg <- rowGroupSizes
      ps <- pageSizes
      stats <- Seq(1, 0)
    } yield {
      // TIMED writes land in their own scratch dirs, never the staged
      // files rowGroupLayout's byte oracle reads (see the
      // compressionBenchmark note: rewrites are not bit-reproducible).
      // Write-once across JVMs (round-9 verdict task 6): the generator
      // is deterministic, so the layer named by the exact (cols, rows,
      // rg, ps, stats) tuple is reused and sweep repeats measure DECODE
      // only; write_time_ms then reports the once-measured generation
      // time the build stored beside the data.
      val dir = graft.Staged.at(spark,
          s"$workDir/rg_timed_${nc}c_${numRows}n_${rg}r_${ps}p_$stats", Nil) { dir =>
        // single output file (the reference's layout): with the default
        // 32 generator partitions every part file would hold ONE sub-
        // block-size row group and the row-group-size axis would not
        // vary at all
        val df = WideTableGen.wide(spark, nc, numRows.toLong).coalesce(1)
        // the stats axis is REAL statistics on/off (StatsLevel NONE
        // suppresses min/max entirely), not the dictionary proxy
        val (_, w) = timeMs(ParquetKnobs.write(df, s"$dir/data",
          ParquetKnobs.WriteConfig(
            rowGroupBytes = ParquetKnobs.rowGroupBytesFor(rg, nc),
            pageBytes = ps,
            statsLevel = stats)))
        val out = fs.create(new Path(s"$dir/write_ms"))
        try out.write(w.toString.getBytes("UTF-8")) finally out.close()
      }
      val path = s"$dir/data"
      val writeMs = {
        val in = fs.open(new Path(s"$dir/write_ms"))
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.toDouble finally in.close()
      }
      val (thriftUs, schemaUs, _) = footerTimesUs(spark, path)
      val (_, statsDecodeMs) = timeMs {
        FooterMeta.chunkStats(spark, Seq(path)).filter(_.has_min_max).count()
      }
      val sizeMb = dirBytes(spark, path) / 1024.0 / 1024.0
      // actual row-group count from the footer — evidence the axis varied
      val nRg = {
        val conf = FooterMeta.sessionConf(spark).value
        FooterMeta.footer(conf, FooterMeta.parquetFiles(conf, path).head).meta.getBlocks.size()
      }
      (nc, numRows, rg, nRg, ps, stats, writeMs,
        (thriftUs + schemaUs) / 1e3, thriftUs / 1e3, schemaUs / 1e3,
        statsDecodeMs, sizeMb)
    }
    rows.toDF("num_columns", "num_rows", "row_group_size", "num_row_groups",
      "page_size", "stats_level", "write_time_ms", "total_decode_time_ms",
      "thrift_decode_time_ms", "schema_build_time_ms",
      "stats_decode_time_ms", "file_size_mb")
  }

  /** compression_benchmark (src/compression_benchmark.cc:103-121, CSV
    * header :92): encode/decode time + compressed size per codec. The
    * algorithm code keeps the reference's 0..4 recode domain
    * (scripts/visualize_compression_benchmark.py:12).
    */
  /** Codec → the reference's algorithm recode domain
    * (scripts/visualize_compression_benchmark.py:12), extended with 5
    * for the net-new lz4_raw member.
    */
  private[graft] val algoCode: Map[String, Int] = Map(
    "uncompressed" -> 0, "snappy" -> 1, "gzip" -> 2, "brotli" -> 3, "zstd" -> 4,
    "lz4_raw" -> 5)

  def compressionBenchmark(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Long,
      workDir: String): DataFrame = {
    import spark.implicits._
    val rows = for {
      nc <- numColsList
      codec <- ParquetKnobs.allCodecs
    } yield {
      // unavailable codecs (brotli without its external jar) emit a
      // skipped-row marker instead of silently vanishing from the sweep,
      // so the result covers the reference's full codec list either way
      if (ParquetKnobs.codecAvailable(codec)) {
        val df = WideTableGen.wide(spark, nc, numRows)
        // TIMED writes land in their own scratch dirs, never the
        // staged files codecRoundtrip's byte oracle reads:
        // parquet-mr sizes row groups from a memory ESTIMATE, so
        // rewriting identical data is not bit-reproducible (observed
        // +-1 byte), and an oracle-read file must be write-once
        val path = s"$workDir/comp_timed_${nc}c_$codec"
        val (_, encodeMs) = timeMs(ParquetKnobs.write(df, path, ParquetKnobs.WriteConfig(codec = codec)))
        val (_, decodeMs) = timeMs(materialize(spark.read.parquet(path)))
        val sizeMb = dirBytes(spark, path) / 1024.0 / 1024.0
        (algoCode(codec), nc, numRows, encodeMs, decodeMs, sizeMb, true)
      } else (algoCode(codec), nc, numRows, -1.0, -1.0, -1.0, false)
    }
    rows.toDF("algorithm", "num_columns", "num_rows", "encoding_time_ms",
      "decoding_time_ms", "compressed_size_mb", "codec_available")
  }

  // ------------------------------------------------------------------ //
  // Deterministic twins of the timed benchmarks: the same generated
  // artifacts, but the emitted columns are layout/content facts a
  // SECOND engine recomputes independently from the files (DuckDB's
  // parquet reader, parquet_metadata(), read_blob byte lengths) — full
  // cross-engine oracles where the timing twins are rows-only by
  // nature. Wall-clock never appears in these outputs.
  // ------------------------------------------------------------------ //

  private def parquetBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  /** Deterministic half of the pushdown experiment: the filtered
    * results themselves, computed under BOTH pushdown settings — the
    * semantic guarantee the timing twin leans on (row-group/page
    * skipping must never change query results), cross-checked by a
    * DuckDB scan of the same generated file.
    */
  def pushdownRows(spark: SparkSession, numRows: Long, workDir: String): DataFrame = {
    import spark.implicits._
    val path = ensurePushdownFile(spark, numRows, workDir)
    val thr = numRows / 100
    // restore whatever the session had, not a hardcoded default — a
    // caller that deliberately disabled pushdown must get it back off
    val saved = spark.conf.get("spark.sql.parquet.filterPushdown")
    val rows = Seq(true, false).map { on =>
      spark.conf.set("spark.sql.parquet.filterPushdown", on.toString)
      try {
        val df = spark.read.parquet(path)
        val total = df.count()
        val m = df.filter(s"k < $thr")
          .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
            org.apache.spark.sql.functions.sum("k")).first()
        (on, total, m.getLong(0), m.getLong(1))
      } finally spark.conf.set("spark.sql.parquet.filterPushdown", saved)
    }
    rows.toDF("pushdown_enabled", "num_rows", "matched_rows", "matched_k_sum")
  }

  /** S14 — parquet AGGREGATE pushdown: COUNT/MIN/MAX answered from
    * footer statistics by the DSv2 scan (`PushedAggregation` in the
    * plan), never decoding a data page — the 100 TB "how many rows,
    * what's the key range" shape that should cost footer reads only.
    * Requires the v2 parquet path (`useV1SourceList` minus parquet) +
    * `spark.sql.parquet.aggregatePushdown`; both confs are restored to
    * the caller's values. The emitted `agg_pushed` flag is derived
    * from the executed plan, and the DuckDB oracle pins it to TRUE —
    * so a silent regression to a full scan fails the correctness gate,
    * not just a bench number.
    */
  def aggPushdown(spark: SparkSession, numRows: Long, workDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max => fmax, min => fmin}
    val path = ensurePushdownFile(spark, numRows, workDir)
    val savedV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    val savedAgg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    val (row, pushed) =
      try {
        spark.conf.set("spark.sql.sources.useV1SourceList",
          savedV1.split(",").map(_.trim).filterNot(_.equalsIgnoreCase("parquet")).mkString(","))
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        val df = spark.read.parquet(path).agg(
          count(lit(1)).as("n_rows"),
          fmin("k").as("min_k"), fmax("k").as("max_k"),
          fmin("v").as("min_v"), fmax("v").as("max_v"))
        val row = df.collect().head
        // inspect the executed scan's pushedAggregate directly — a plan-
        // STRING match ('PushedAggregation: [COUNT') breaks on plan-format
        // changes and maxMetadataStringLength truncation, and the oracle
        // pins this flag to TRUE, so a cosmetic change would read as a
        // correctness regression
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          // materialized AQE stages are LEAVES wrapping their subtree
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            q +: scans(q.plan)
          case other => other +: other.children.flatMap(scans)
        }
        val pushed = scans(df.queryExecution.executedPlan).exists {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan match {
              case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
                p.pushedAggregate.exists(_.aggregateExpressions.nonEmpty)
              case _ => false
            }
          case _ => false
        }
        (row, pushed)
      } finally {
        spark.conf.set("spark.sql.sources.useV1SourceList", savedV1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", savedAgg)
      }
    // + 0.0 normalizes the zero sign: parquet writers store -0.0 as the
    // double column min (spec-sanctioned, sorts before +0.0), so the
    // pushed aggregate surfaces -0.0 where a data-page scan yields 0.0
    Seq((row.getLong(0), row.getLong(1), row.getLong(2),
        row.getDouble(3) + 0.0, row.getDouble(4) + 0.0, pushed))
      .toDF("n_rows", "min_k", "max_k", "min_v", "max_v", "agg_pushed")
  }

  /** Deterministic half of [[dataReadBenchmark]]: layout facts (column/
    * row counts, projected-column counts) plus order-independent
    * content extrema of the generated wide files. Float SUMs are
    * excluded on purpose — partial-sum combine order makes them
    * run-dependent — while min/max are exact under any order.
    */
  /** Per-round wide-schema probe: footer decode + subset read at `nc`
    * columns. Wide-footer behavior is the reference's core subject
    * (src/metadata_benchmark.cc:233 sweeps widths to 10,000) but the
    * gated grids stop at 100 cols, so width regressions between rounds
    * were only visible in one-off BASELINE_QUALITATIVE runs. The wide
    * file is generated ONCE ([[wideProbeFile]]); each round then
    * pays a median-of-5 footer decode (~ms at 1000 cols) plus one
    * 10-column subset read over the small file — cheap by construction.
    */
  def wideFooterProbe(
      spark: SparkSession, nc: Int, numRows: Long, workDir: String): DataFrame = {
    import spark.implicits._
    val path = wideProbeFile(spark, nc, numRows, workDir)
    val (thriftUs, schemaUs, nColsRead) = footerTimesUs(spark, path)
    val df = spark.read.parquet(path)
    val subset = (0 until nc by math.max(1, nc / 10)).map(i => s"col_$i")
    materialize(df.select(subset.map(df(_)): _*)) // warm page cache + codegen
    val (_, subsetMs) = timeMs(materialize(df.select(subset.map(df(_)): _*)))
    // Timings to stderr; the OUTPUT is the deterministic half only, so
    // the probe is fully oracled against pinned literals (round-11).
    // The committed footer-decode-vs-baseline evidence lives in
    // BaselineCompare's baseline_footer_decode.csv, not here.
    System.err.println(
      f"[wide_probe_${nc}cols] thrift_decode=$thriftUs%.1fus " +
        f"schema_build=$schemaUs%.1fus subset_read=$subsetMs%.1fms")
    Seq((nc, numRows, nColsRead, subset.size))
      .toDF("num_columns", "num_rows", "n_cols_footer", "n_subset_cols")
  }

  /** Deterministic twin of [[wideFooterProbe]]: the 1000-col file's
    * layout (column count from the footer, rows, row groups) plus exact
    * extrema of the first and last columns, all recomputed by DuckDB's
    * independent decoder — proving the probe times a real, intact
    * 1000-column file.
    */
  def wideLayout(
      spark: SparkSession, nc: Int, numRows: Long, workDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max => fmax, min => fmin}
    import spark.implicits._
    val path = wideProbeFile(spark, nc, numRows, workDir)
    val conf = FooterMeta.sessionConf(spark).value
    val nGroups = FooterMeta.footer(conf, FooterMeta.parquetFiles(conf, path).head)
      .meta.getBlocks.size
    val last = s"col_${nc - 1}"
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), fmin("col_0"), fmax("col_0"), fmin(last), fmax(last)).first()
    Seq((nc, r.getLong(0), nGroups, r.getFloat(1), r.getFloat(2), r.getFloat(3), r.getFloat(4)))
      .toDF("num_columns", "num_rows", "n_row_groups",
        "min_col0", "max_col0", "min_last", "max_last")
  }

  def readBenchCounts(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Long,
      workDir: String,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max => fmax, min => fmin}
    import spark.implicits._
    val rows = numColsList.map { nc =>
      val path = readBenchFile(spark, nc, numRows, seed, workDir)
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), fmin("col_0"), fmax("col_0")).first()
      (nc, r.getLong(0), math.max(1, nc / 2), (nc + 9) / 10,
        r.getFloat(1), r.getFloat(2))
    }
    rows.toDF("num_columns", "num_rows", "n_half_cols", "n_tenth_cols",
      "min_col0", "max_col0")
  }

  /** Deterministic half of [[compressionBenchmark]]: every available
    * codec's written file read back (count + exact float extrema) plus
    * its parquet byte mass — the data-identity claim of a codec sweep
    * (compression must be lossless), checked by DuckDB's independent
    * decoder over the same files.
    */
  def codecRoundtrip(
      spark: SparkSession, nc: Int, numRows: Long, workDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max => fmax, min => fmin}
    import spark.implicits._
    val rows = ParquetKnobs.codecs.map { codec =>
      val path = graft.Staged.at(spark, s"$workDir/comp_bench_${nc}c_$codec", Nil)(
        ParquetKnobs.write(WideTableGen.wide(spark, nc, numRows), _,
          ParquetKnobs.WriteConfig(codec = codec)))
      val r = spark.read.parquet(path)
        .agg(count(lit(1)), fmin("col_0"), fmax("col_0")).first()
      (algoCode(codec), r.getLong(0), r.getFloat(1), r.getFloat(2),
        parquetBytes(spark, path))
    }
    rows.toDF("algorithm", "n_rows", "min_col0", "max_col0", "parquet_bytes")
      .orderBy("algorithm")
  }

  /** Deterministic half of [[rowGroupGrid]]: per writer config, the
    * layout the knobs actually produced — row-group count, statistics
    * presence, byte mass — recomputed cross-engine from the files via
    * DuckDB parquet_metadata(). This is the evidence that the
    * row-group-size, page-size, and stats axes REALLY varied, separated
    * from the timings they influence.
    */
  def rowGroupLayout(
      spark: SparkSession,
      numColsList: Seq[Int],
      numRows: Int,
      rowGroupSizes: Seq[Int],
      pageSizes: Seq[Int],
      workDir: String): DataFrame = {
    import spark.implicits._
    val conf = FooterMeta.sessionConf(spark).value
    val rows = for {
      nc <- numColsList
      rg <- rowGroupSizes
      ps <- pageSizes
      stats <- Seq(1, 0)
    } yield {
      val path = graft.Staged.at(spark, s"$workDir/rg_bench_${nc}c_${rg}r_${ps}p_$stats", Nil)(
        ParquetKnobs.write(WideTableGen.wide(spark, nc, numRows.toLong).coalesce(1), _,
          ParquetKnobs.WriteConfig(
            rowGroupBytes = ParquetKnobs.rowGroupBytesFor(rg, nc),
            pageBytes = ps, statsLevel = stats)))
      val blocks = FooterMeta.footer(conf, FooterMeta.parquetFiles(conf, path).head)
        .meta.getBlocks.asScala
      val nRg = blocks.size
      val statsPresent = blocks.exists(_.getColumns.asScala.exists { c =>
        val s = c.getStatistics; s != null && s.hasNonNullValue })
      (nc, numRows, rg, ps, stats, nRg, statsPresent, parquetBytes(spark, path))
    }
    rows.toDF("num_columns", "num_rows", "row_group_size", "page_size",
      "stats_level", "num_row_groups", "stats_present", "parquet_bytes")
      .orderBy("row_group_size", "page_size", "stats_level")
  }
}
