package graft.operators

import graft.Tables
import graft.sources.{BenchRunners, FooterMeta, ParquetKnobs, WideTableGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark-workload surface registered as driver queries (SURVEY §2.1,
  * §2.2): generator, writer knobs, footer datasets, read benchmarks, and
  * the CSV/JSON scan/sink paths. Grid sizes here are verify-scale; the
  * full reference grids live in [[graft.BenchmarkSuite]].
  *
  * Timing-valued outputs are non-deterministic by nature → no SQL oracle
  * (driver records rows-only checks). Footer-derived outputs drop the
  * timing columns so their rows are deterministic.
  */
object BenchOps {

  type Q = (SparkSession, String) => DataFrame

  /** Scratch space for generated files (inside the repo tree, gitignored). */
  private def workRoot: String = graft.WorkDirs.rootActive

  /** G1 — wide-table generation summary (reads nothing, generates N×M). */
  def g1WideGen(spark: SparkSession, sfDir: String): DataFrame =
    WideTableGen.wide(spark, 100, 10000L)
      .agg(count(lit(1)).as("n_rows"))
      .select(col("n_rows"), lit(100).as("n_cols"))

  /** K14 — logical-type annotation census over a typed fixture that
    * exercises the full Parquet logical-type system the reference
    * models (src/flatbuff_ns.fbs:77-114): DECIMAL on INT32/INT64/FLBA,
    * TIMESTAMP millis/micros/nanos ± UTC, DATE, TIME, UUID (FLBA 16),
    * JSON, BSON, INT{8,16,64}±signed, STRING, ENUM, and two
    * unannotated physicals. The fixture is written once via parquet-mr
    * (Spark's writer can't emit UUID/JSON/BSON/ENUM); the census
    * decodes `LogicalTypeAnnotation` distributed across executors and
    * DuckDB's `parquet_schema()` independently re-derives every field
    * for the oracle.
    */
  def k14LogicalTypes(spark: SparkSession, sfDir: String): DataFrame = {
    val file = s"$workRoot/ltypes/typed.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    if (!p.getFileSystem(conf).exists(p))
      ParquetKnobs.writeLogicalTypesFixture(conf, file)
    FooterMeta.logicalTypes(spark, Seq(file)).toDF()
      .orderBy("column")
  }

  /** K15 — parquet field-ID round-trip census: write IDs through the
    * writer, read them back distributed, and have DuckDB's independent
    * decoder confirm every ID (plus the no-ID sentinel). Field IDs are
    * the rename-stable column identity Iceberg/Delta column mapping
    * resolves by, so a 100 TB lake's schema-evolution story rests on
    * this exact round-trip. Spark ALSO resolves by field ID when
    * `spark.sql.parquet.fieldId.read.enabled` is on; the census proves
    * the footer carries what that resolution needs.
    */
  def k15FieldIds(spark: SparkSession, sfDir: String): DataFrame = {
    val file = s"$workRoot/ltypes/fieldids.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    if (!p.getFileSystem(conf).exists(p))
      ParquetKnobs.writeFieldIdFixture(conf, file)
    FooterMeta.fieldIds(spark, Seq(file)).toDF().orderBy("column")
  }

  /** S4 — footer metadata Dataset over every table in sfDir (timings
    * dropped for deterministic rows).
    */
  def s4FooterMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    FooterMeta.fileMeta(spark, tables.map(t => s"$sfDir/$t.parquet"))
      .toDF()
      .withColumn("file", element_at(split(col("path"), "/"), -1))
      .select("file", "num_row_groups", "num_columns", "num_rows")
      .orderBy("file")
  }

  /** S5 — per-chunk statistics Dataset for lineitem + orders. */
  def s5ChunkStats(spark: SparkSession, sfDir: String): DataFrame =
    FooterMeta.chunkStats(spark, Seq(s"$sfDir/lineitem.parquet", s"$sfDir/orders.parquet"))
      .toDF()
      .withColumn("file", element_at(split(col("path"), "/"), -1))
      .select("file", "row_group", "column", "codec", "num_values",
        "has_min_max", "null_count", "dict_encoded")
      .orderBy("file", "row_group", "column")

  /** Column-level lineage of q3 as a QUERY — the catalog-facing
    * governance report ([[graft.plans.Lineage]]): every output column
    * of the 3-table join+aggregate traced to its (table, column)
    * leaves, including the two-source derived `revenue`. Pure plan
    * analysis: no job runs, no data is read, so the oracle is the
    * hand-derived expected lineage pinned as a literal table (the
    * s9_json_scan fixed-table discipline) — a tracer regression
    * changes the rows and reddens the gate.
    */
  def planLineage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.plans.Lineage.trace(Analytics.q3ShippingPriority(spark, sfDir))
      .toDF("out_col", "src_table", "src_col")
      .orderBy("out_col", "src_table", "src_col")
  }

  /** Partition-layout audit — the small-files report every lake
    * compaction service runs: per hive partition, file / row / row-group
    * counts and how many files are "small" under the RELATIVE rule
    * `rows × 3 < max file rows in the layout` (scale-invariant: the
    * fixture's 8-way-split P partition flags at every sf while the
    * 2-way F/O files never do), plus the compaction verdict. Inputs
    * are footer quantities via the distributed [[FooterMeta]] decode —
    * no data page is read, so the audit costs O(files) at any size.
    *
    * The fixture is the problem made deterministic: F/O written in 2
    * hash buckets (healthy files), P appended in 8 (the streaming-
    * ingest dribble that creates the small-file problem), under a
    * write-once dir keyed by `{SFDIR}` concatenation so the DuckDB
    * oracle addresses the same files textually and re-derives every
    * count from `parquet_metadata()`.
    */
  /** Write-once partitioned orders fixture shared by
    * [[partitionAudit]] and [[fileProvenance]] — keyed on the input
    * file fingerprint so a testdata regen rebuilds it exactly once.
    */
  private def ensurePauditFixture(spark: SparkSession, sfDir: String): String = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fp = graft.sources.LayoutCache.fingerprint(conf, s"$sfDir/orders.parquet")
    val out = s"$workRoot/paudit$sfDir/orders_by_status"
    val fs = new Path(out).getFileSystem(conf)
    if (!fs.exists(new Path(s"$out/_AUDIT_FP_$fp"))) {
      fs.delete(new Path(out), true)
      val o = graft.Tables.orders(spark, sfDir)
      o.filter(col("o_orderstatus") =!= "P").repartition(2, col("o_orderkey"))
        .write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
      o.filter(col("o_orderstatus") === "P").repartition(8, col("o_orderkey"))
        .write.partitionBy("o_orderstatus").mode("append").parquet(out)
      fs.create(new Path(s"$out/_AUDIT_FP_$fp")).close()
    }
    out
  }

  /** Row-level file provenance via the hidden `_metadata` struct
    * (round-11): which physical file contributed which rows — the
    * lineage question incident response asks first ("which shard was
    * written by the bad job"), answered by Spark's NATIVE metadata
    * columns instead of an input_file_name() UDF-era hack. Output is a
    * per-(partition, file) census with key extrema, so a corrupted or
    * skewed file is directly addressable. Oracle: DuckDB re-derives
    * the identical census from the same files via
    * `parquet_scan(..., filename=true, hive_partitioning=true)` — two
    * independent readers agreeing on physical row placement.
    *
    * Scale: `_metadata.file_path` is a constant per split (no per-row
    * cost in the scan), and the aggregate is (partition, file)-keyed —
    * cardinality = the file count, the same frame FooterMeta reports
    * on. No new shapes at 100 TB.
    */
  def fileProvenance(spark: SparkSession, sfDir: String): DataFrame = {
    val out = ensurePauditFixture(spark, sfDir)
    spark.read.parquet(out)
      .select(col("o_orderkey"), col("o_orderstatus"),
        regexp_extract(col("_metadata.file_path"), "[^/]+$", 0).as("file"))
      .groupBy("o_orderstatus", "file")
      .agg(
        count(lit(1)).as("n_rows"),
        sum("o_orderkey").as("key_sum"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus", "file")
  }

  def partitionAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val out = ensurePauditFixture(spark, sfDir)
    val fs = new Path(out).getFileSystem(conf)
    val dirs = fs.listStatus(new Path(out)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("o_orderstatus="))
      .map(_.getPath.toString)
    val perFile = FooterMeta.fileMeta(spark, dirs).toDF()
      .select(regexp_extract(col("path"), "o_orderstatus=([^/]+)", 1).as("partition"),
        col("num_rows"), col("num_row_groups"))
    // 1-row global max attach (broadcast) — the relative small-file cut
    val cut = perFile.agg(max("num_rows").as("max_file_rows"))
    perFile.crossJoin(broadcast(cut))
      .withColumn("small", (col("num_rows") * 3 < col("max_file_rows")).cast("long"))
      .groupBy("partition")
      .agg(
        count(lit(1)).as("n_files"),
        sum("num_rows").as("n_rows"),
        sum("num_row_groups").cast("long").as("n_rowgroups"),
        sum("small").as("n_small_files"))
      .withColumn("compact_candidate", col("n_small_files") >= 4L)
      .orderBy("partition")
  }

  /** K12 — per-column encoding/compression ADVISOR over footer
    * metadata: the storage-layout report a lake compaction service
    * derives before rewriting a table — per column, chunk count,
    * compressed vs uncompressed byte mass, whether every chunk
    * dictionary-encoded, and an integer-thresholded recommendation
    * (≤60 % effective / ≤90 % consider-zstd / incompressible-with-dict
    * consider-plain / else try-dictionary). The decision inputs are
    * pure footer quantities, so the advisor runs on a 100 TB table
    * without touching a data page — the [[graft.sources.FooterMeta]]
    * distributed decode fans the footers across executors.
    *
    * Cross-engine: DuckDB's `parquet_metadata()` reads the SAME
    * physical footer, so sizes, encodings and therefore every
    * recommendation must agree exactly (integer ppm thresholds — no
    * float advice boundaries).
    */
  def k12EncodingAdvisor(spark: SparkSession, sfDir: String): DataFrame =
    FooterMeta.chunkStats(spark, Seq(s"$sfDir/lineitem.parquet")).toDF()
      .groupBy("column")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("compressed_bytes").as("comp_bytes"),
        sum("uncompressed_bytes").as("uncomp_bytes"),
        min("dict_encoded").as("dict_all"))
      .withColumn("ratio_ppm", expr("comp_bytes * 1000000 div uncomp_bytes"))
      .withColumn("advice",
        when(col("ratio_ppm") <= 600000, "effective")
          .when(col("ratio_ppm") <= 900000, "moderate-consider-zstd")
          .when(col("dict_all"), "incompressible-consider-plain")
          .otherwise("try-dictionary"))
      .select("column", "n_chunks", "comp_bytes", "uncomp_bytes",
        "ratio_ppm", "dict_all", "advice")
      .orderBy("column")

  /** S5 via the DataSource V2 connector ([[graft.sources.v2.FooterDataSource]]):
    * footer metadata read through Spark's connector API — per-file input
    * partitions, column pruning at the source — producing exactly
    * s5_chunk_stats's rows, so it shares that DuckDB oracle.
    */
  def s12FooterSourceV2(spark: SparkSession, sfDir: String): DataFrame = {
    def footer(t: String) =
      spark.read.format("graft-footer").load(s"$sfDir/$t.parquet")
    footer("lineitem").unionByName(footer("orders"))
      .withColumn("file", element_at(split(col("path"), "/"), -1))
      .select("file", "row_group", "column", "codec", "num_values",
        "has_min_max", "null_count", "dict_encoded")
      .orderBy("file", "row_group", "column")
  }

  // Shared grid constants — the timed benchmarks, their deterministic
  // twins, and the DuckDB oracles must all address the same files.
  // MetaCols includes 1000 so every round's gated sweep decodes a
  // genuinely wide footer (the reference's metadata grid goes to 10000
  // cols — that full width runs under BenchmarkSuite scale="full",
  // recorded in BASELINE_QUALITATIVE.md; 1000 here keeps the per-round
  // budget ~3 s while still exercising the wide-footer decode path).
  private val MetaCols = Seq(10, 100, 1000)
  private val ReadCols = Seq(10, 50)
  private val ReadRows = 20000L
  private val CompCols = 10
  private val CompRows = 10000L
  private val PushRows = 1000000L
  // {10,100}: the per-round gated sweep exercises a non-trivial
  // rowgroup×page grid at two widths (round-7 verdict task 7); the
  // reference's full 128-config grid still runs under scale="full"
  private val GridCols = Seq(10, 100)
  private val GridRows = 10000
  private val GridRg = Seq(1000, 10000)
  private val GridPs = Seq(8 * 1024, 1024 * 1024)

  // 1000-col per-round width probe (round-9 verdict task 6): the
  // reference's subject at a width the gated grids don't reach
  private val WideProbeCols = 1000
  private val WideProbeRows = 1000L

  /** M6 — per-round wide-schema probe: footer decode + 10-col subset
    * read at 1000 columns (rows-only; twinned by [[m6WideLayout]]).
    */
  def m6WideProbe(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.wideFooterProbe(spark, WideProbeCols, WideProbeRows, s"$workRoot/wide")

  /** M6 deterministic twin — the 1000-col file's layout + exact column
    * extrema, oracle-checked by DuckDB over the same file.
    */
  def m6WideLayout(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.wideLayout(spark, WideProbeCols, WideProbeRows, s"$workRoot/wide")

  // the reference's width sweep ENDPOINT (metadata_benchmark.cc:233
  // sweeps {10,100,1000,10000} columns) — probed per round at a row
  // count kept deliberately small so the per-round cost is footer
  // decode + one 10-col subset read, not a heavyweight data write
  private val Wide10kCols = 10000
  private val Wide10kRows = 100L

  /** M6b — per-round 10,000-column probe at the reference sweep's
    * endpoint width (rows-only; twinned by [[m6Wide10kLayout]]).
    * Footer decode time at this width is the reference's headline
    * metadata-scaling subject; the write is fingerprint-cached so
    * repeats measure decode, not generation.
    */
  def m6Wide10kProbe(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.wideFooterProbe(spark, Wide10kCols, Wide10kRows, s"$workRoot/wide")

  /** M6b deterministic twin — the 10,000-col file's layout + exact
    * extrema of the first and last columns via DuckDB's independent
    * decoder.
    */
  def m6Wide10kLayout(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.wideLayout(spark, Wide10kCols, Wide10kRows, s"$workRoot/wide")

  // M7 — the CHUNK-vs-PAGE half of the reference's StatsLevel ladder
  // (src/data_generator.h:5-9; grid at src/metadata_benchmark.cc:245).
  // parquet-mr has no independent page-stats switch, but page-stat
  // GRANULARITY is expressible: the column index carries one entry per
  // PAGE, so pinning the page count per chunk pins how fine the page
  // statistics are. parquet.page.row.count.limit with per-row size
  // checks makes page boundaries deterministic (L rows per page on a
  // single-partition deterministic write), giving a three-config ladder:
  //   sl0_none  — stats off:  no chunk stats, NO column index at all
  //   sl1_chunk — stats on, one page per chunk: index exists but its
  //               granularity collapses to chunk level (1 entry)
  //   sl2_page  — stats on, 100-row pages: a true per-page index
  private val PageIdxRows = 2000L
  private val PageIdxPageRows = 100

  /** M7 — page-index ladder: writes the same 2000-row deterministic
    * 3-column frame under the three configs and decodes, per config,
    * the structural footer facts: chunk-stat presence, column-index
    * presence (page stats), offset-index page count of col 0, plus a
    * content checksum. Everything is deterministic — fully oracled, no
    * rows-only twin needed: DuckDB independently re-derives row counts,
    * chunk-stat presence, and the checksum from the same files, and
    * pins the page counts arithmetically (ceil(rows/100) vs 1).
    */
  def m7PageIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = spark.range(0L, PageIdxRows, 1L, 1)
      .select(col("id"),
        (col("id") % 97).cast("double").as("v"),
        concat(lit("k"), col("id") % 7).as("k"))
    val configs = Seq(
      ("sl0_none", false, PageIdxPageRows),
      ("sl1_chunk", true, 1 << 30),
      ("sl2_page", true, PageIdxPageRows))
    val conf = FooterMeta.sessionConf(spark).value
    val rows = configs.map { case (name, stats, pageRows) =>
      val path = s"$workRoot/pageidx/$name"
      base.coalesce(1).write.mode("overwrite")
        .option("compression", "snappy")
        .option("parquet.column.statistics.enabled", stats.toString)
        .option("parquet.page.row.count.limit", pageRows.toString)
        // check page bounds at every row so the row-count limit, not
        // the size estimator, decides boundaries — determinism
        .option("parquet.page.size.row.check.min", "1")
        .option("parquet.page.size.row.check.max", "1")
        .option("parquet.page.size", (16 * 1024 * 1024).toString)
        .parquet(path)
      val file = FooterMeta.parquetFiles(conf, path).head
      FooterMeta.withReader(conf, file) { reader =>
        val blocks = reader.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        val chunks = blocks.asScala.flatMap(_.getColumns.asScala).toSeq
        val nChunks = chunks.size
        val withCIndex = chunks.count(c => reader.readColumnIndex(c) != null)
        val withStats = chunks.count(c =>
          c.getStatistics != null && c.getStatistics.hasNonNullValue)
        val pagesCol0 = blocks.asScala.map { b =>
          Option(reader.readOffsetIndex(b.getColumns.get(0)))
            .map(_.getPageCount).getOrElse(0)
        }.sum
        (name, blocks.size, nChunks, withCIndex, withStats, pagesCol0)
      }
    }
    val facts = rows.toDF("config", "n_row_groups", "n_chunks",
      "chunks_with_page_index", "chunks_with_stats", "n_pages_col0")
    val content = configs.map { case (name, _, _) =>
      val r = spark.read.parquet(s"$workRoot/pageidx/$name")
        .agg(count(lit(1)).as("n"), sum("v").as("sv")).first()
      (name, r.getLong(0), math.round(r.getDouble(1)))
    }.toDF("config", "n_rows", "v_sum")
    facts.join(content, Seq("config"))
      .select("config", "n_rows", "n_row_groups", "n_chunks",
        "chunks_with_page_index", "chunks_with_stats", "n_pages_col0", "v_sum")
      .orderBy("config")
  }

  /** S1–S3 timed reads (data_read_benchmark shape). */
  def s3ReadBench(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.dataReadBenchmark(spark, ReadCols, ReadRows, s"$workRoot/read")

  /** S3 deterministic twin — layout facts + exact extrema of the same
    * generated files, fully oracle-checked (the timed twin stays
    * rows-only by nature).
    */
  def s3ReadCounts(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.readBenchCounts(spark, ReadCols, ReadRows, s"$workRoot/read")

  /** K1 + compression sweep (compression_benchmark shape). */
  def k1CompressionSweep(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.compressionBenchmark(spark, Seq(CompCols), CompRows, s"$workRoot/comp")

  /** K1 deterministic twin — per-codec lossless roundtrip + byte mass. */
  def k1CodecRoundtrip(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.codecRoundtrip(spark, CompCols, CompRows, s"$workRoot/comp")

  /** Chunks-and-pages footer decode sweep (metadata_benchmark shape). */
  def m2ChunksPages(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.chunksAndPagesBenchmark(spark, MetaCols, 10000L, s"$workRoot/meta")

  /** Stats decode benchmark — reuses m2's generated files when present
    * (the alphabetical bench order guarantees m2_chunks_pages ran first
    * in the same process; the existence check keeps it standalone).
    */
  def m2Stats(spark: SparkSession, sfDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = MetaCols.exists { nc =>
      val p = new org.apache.hadoop.fs.Path(s"$workRoot/meta/meta_bench_${nc}cols")
      !p.getFileSystem(conf).exists(p)
    }
    if (missing)
      BenchRunners.chunksAndPagesBenchmark(spark, MetaCols, 10000L, s"$workRoot/meta")
    BenchRunners.statsBenchmark(spark, MetaCols, 10000L, s"$workRoot/meta")
  }

  /** Row-group × page-size grid (verify-scale slice of the 128-config
    * reference grid).
    */
  def m3RowGroupGrid(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.rowGroupGrid(spark, GridCols, GridRows, GridRg, GridPs, s"$workRoot/rg")

  /** M3 deterministic twin — the layout every grid config actually
    * produced (row-group count, stats presence, bytes), oracle-checked
    * against DuckDB parquet_metadata() over the same files.
    */
  def m3RowGroupLayout(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.rowGroupLayout(spark, GridCols, GridRows, GridRg, GridPs, s"$workRoot/rg")

  /** §4 — predicate-pushdown effect: same selective scan with parquet
    * filter pushdown on vs off (row-group skipping via min/max stats).
    */
  def m4Pushdown(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.pushdownBenchmark(spark, PushRows, s"$workRoot/pd")

  private val SkipProbes = 20

  /** X — layout-skipping effectiveness census (SURVEY §4's clustering
    * axis made measurable): for the SAME 1M-row table written two ways
    * — range-sorted on the key (the [[m4Pushdown]] file: tight per-
    * row-group min/max) vs hash-shuffled (every row group spans nearly
    * the full key range) — count, from FOOTER STATISTICS ALONE, how
    * many row groups survive min/max pruning for 20 fixed point
    * probes. This is the number a lake's clustering decision (sort
    * keys, Z-order, compaction policy) actually moves: survivors ≈
    * probes on the sorted layout, ≈ probes × all row groups on the
    * shuffled one. avg_surviving_ppm = surviving row groups per probe
    * as ppm of the layout's row-group count.
    *
    * Scale: ONE distributed plan (r13 — the census used to run its
    * joins in intermediate count() actions and register a
    * driver-assembled 2-row frame, hiding the joins from the scale
    * lint): both layouts' footer-range frames union under a layout
    * tag (footer-model-sized — one row per row group — and
    * localCheckpointed so the row-group census and the probe join
    * share one decode); the probe frame is a 20-row constant; their
    * non-equi join is model × constant (allowlisted BNLJ in THIS
    * query's executed plan), never data-sized. DuckDB re-derives
    * everything from the same footers via parquet_metadata().
    */
  def xLayoutSkipping(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sortedPath = BenchRunners.ensurePushdownFile(spark, PushRows, s"$workRoot/pd")
    val shuffledPath = ensureShuffledFile(spark, PushRows, s"$workRoot/pd")
    val step = PushRows / SkipProbes
    val probes = (0 until SkipProbes).map(i => i * step + step / 2)
    val probeDf = probes.toDF("p")
    val ranges = Seq(("range_sorted", sortedPath), ("hash_shuffled", shuffledPath))
      .map { case (layout, path) =>
        FooterMeta.chunkRangesLong(spark, Seq(path), "k").toDF()
          .select(lit(layout).as("layout"), col("min_v"), col("max_v"))
      }
      .reduce(_ unionByName _)
      .transform(graft.Ckpt.pin("BenchOps.layoutSkipping.ranges"))
    val rgCounts = ranges.groupBy("layout").agg(count(lit(1)).as("n_rowgroups"))
    val surv = ranges
      .join(broadcast(probeDf),
        col("p") >= col("min_v") && col("p") <= col("max_v"))
      .groupBy("layout").agg(count(lit(1)).as("surviving_rg"))
    rgCounts.join(surv, Seq("layout"), "left")
      .na.fill(0L, Seq("surviving_rg"))
      .select(col("layout"), col("n_rowgroups"),
        lit(SkipProbes.toLong).as("n_probes"), col("surviving_rg"),
        expr(s"surviving_rg * 1000000 div (${SkipProbes}L * n_rowgroups)")
          .as("avg_surviving_ppm"))
      .orderBy("layout")
  }

  /** The pushdown table re-written in hash-shuffled order with the same
    * 1 MiB row groups — the anti-clustered control for
    * [[xLayoutSkipping]]. Write-once (_SUCCESS-gated), deterministic.
    */
  private def ensureShuffledFile(
      spark: SparkSession, numRows: Long, workDir: String): String = {
    val path = s"$workDir/shuffled_bench_$numRows"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/_SUCCESS"))) {
      val df = spark.range(numRows).selectExpr(
        "id AS k", "CAST(id % 1000 AS DOUBLE) AS v")
        .withColumn("h", hash(col("k")))
        .repartitionByRange(8, col("h"))
        .sortWithinPartitions("h")
        .drop("h")
      ParquetKnobs.write(df, path,
        ParquetKnobs.WriteConfig(rowGroupBytes = 1024 * 1024))
    }
    path
  }

  /** M4 deterministic twin — the filtered results under both pushdown
    * settings (pushdown must never change results), oracle-checked by
    * DuckDB scanning the same file.
    */
  def m4PushdownRows(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.pushdownRows(spark, PushRows, s"$workRoot/pd")

  /** S14 — aggregate pushdown over the same generated file: COUNT and
    * the k/v extrema must come back from footer statistics
    * (`PushedAggregation` BatchScan), plan-flag oracled to TRUE.
    */
  def s14AggPushdown(spark: SparkSession, sfDir: String): DataFrame =
    BenchRunners.aggPushdown(spark, PushRows, s"$workRoot/pd")

  /** S6 — subset-schema read (scripts/schema_full_partial_benchmark.py:36-45):
    * the file is opened with an explicit 3-field schema, so the scan
    * decodes only those column chunks — same effect as projection
    * pruning, but imposed at the reader-schema level.
    */
  def s6SubsetSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val subset = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType)))
    spark.read.schema(subset).parquet(s"$sfDir/lineitem.parquet")
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  /** K3 — console/top-k viewer (src/table_viewer.cc:24-34): first 20
    * rows in a deterministic order (the reference prints file order; a
    * distributed engine must impose one).
    */
  def k3TopView(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
      .limit(20)

  /** S7 + K2 — CSV sink then CSV scan with explicit schema; the result
    * round-trips a2_group_mean, so it shares that oracle.
    */
  def s7CsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"$workRoot/csv/a2"
    Analytics.a2GroupMean(spark, sfDir)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("avg_value", DoubleType),
      StructField("sum_value", DoubleType),
      StructField("n", LongType)))
    spark.read.option("header", "true").schema(schema).csv(out)
      .orderBy("event_type")
  }

  /** S8 — multi-file glob scan ≡ union-all; shares u1's oracle. */
  def s8GlobUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val base = s"$workRoot/csv/orders_slices"
    val schema = StructType(Seq(
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType)))
    Seq("F", "O").foreach { st =>
      o.filter(col("o_orderstatus") === st).select("o_orderpriority", "o_totalprice")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$base/status_$st")
    }
    spark.read.option("header", "true").schema(schema).csv(s"$base/status_*")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")
  }

  /** S11 — ORC sink + scan (net-new format breadth; same relational
    * semantics as the parquet path, shared oracle shape).
    */
  def s11OrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"$workRoot/orc/lineitem"
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** S13 — JSON-lines sink + scan roundtrip (the write-side twin of
    * S9's benchmark-JSON scan): events written as newline-delimited
    * JSON with an explicit read schema — schema-on-read is the
    * footgun JSON sources carry at scale (a schema-inference pass
    * reads the whole dataset TWICE), so the read is always
    * schema-supplied. Timestamps stay out of the roundtrip columns:
    * JSON timestamp formatting is engine/timezone-config dependent,
    * exactly the kind of implicit coupling a lake format should not
    * rely on.
    */
  def s13JsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"$workRoot/json/events"
    Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value")
      .write.mode("overwrite").json(out)
    spark.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .json(out)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("event_id").as("id_sum"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** K8 — small-file compaction: the maintenance pass every lake runs.
    * A 64-file fragmentation of `orders` (the fixture, built once per
    * source fingerprint) is rewritten to a file count sized from the
    * actual input bytes (ceil(bytes / target)), and the query returns
    * the data-identity aggregate over the COMPACTED copy — compaction
    * must be a pure layout change, which the oracle checks against the
    * original source. File-count reduction itself is engine-layout, not data,
    * so it is spec-asserted (SourcesSpec), not oracled.
    *
    * Scale: compaction is one narrow read + `repartition(n)` +
    * write per partition-directory; at 100 TB it runs per-partition
    * with n from that partition's bytes, never a global job.
    */
  def k8Compaction(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/orders.parquet")
    val frag = s"$workRoot/compact/frag_${new java.io.File(sfDir).getName}_$fp"
    val fs = new Path(frag).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$frag/_SUCCESS")))
      Tables.orders(spark, sfDir).repartition(64).write.mode("overwrite").parquet(frag)
    val inputBytes = fs.listStatus(new Path(frag))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val targetFileBytes = 4L << 20 // 4 MiB here; 128 MiB-1 GiB on a lake
    val n = math.max(1, ((inputBytes + targetFileBytes - 1) / targetFileBytes).toInt)
    val compacted = s"$workRoot/compact/out"
    spark.read.parquet(frag).repartition(n)
      .write.mode("overwrite").parquet(compacted)
    spark.read.parquet(compacted)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum("o_orderkey").as("key_sum"),
        round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderstatus")
  }

  private[graft] val BloomRows = 200000L

  /** K9 — parquet BLOOM FILTER knob (the K-family axis the reference's
    * sweep lacks): the writer attaches a split-block bloom filter to
    * the high-cardinality key column only
    * (`parquet.bloom.filter.enabled#k`), so point-lookup row groups can
    * be skipped on membership before ANY data page decodes — the
    * dictionary/stats complement for needle-in-100 TB lookups where
    * min/max ranges are too wide to prune. Keys are the EVEN integers,
    * making hit/miss probes deterministic.
    *
    * The bloom_on_* flags are derived from the written footer
    * (ColumnChunkMetaData.bloomFilterOffset) and the oracle PINS them —
    * the same derived-flag gate as s14's agg_pushed: silently losing
    * the bloom writes fails correctness, not just a bench number. The
    * spec additionally loads the filter and proves the present key is
    * found and absent keys reject at ~FPP.
    */
  /** Build-if-absent writer for the k9 bloom file: all-EVEN keys with a
    * split-block bloom filter on `k` only (shared by the knob query and
    * the read-side pruning evidence below).
    */
  private def ensureBloomFile(spark: SparkSession): String = {
    import org.apache.hadoop.fs.Path
    val path = s"$workRoot/bloom/bloom_knob_$BloomRows"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    if (!fs.exists(new Path(s"$path/_SUCCESS")))
      spark.range(BloomRows)
        .selectExpr("id * 2 AS k", "cast(id % 1000 as double) AS v")
        .coalesce(1)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#k", "true")
        .option("parquet.bloom.filter.expected.ndv#k", BloomRows.toString)
        .parquet(path)
    path
  }

  def k9BloomKnob(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ensureBloomFile(spark)
    val (bloomK, bloomV) = bloomFlags(spark, path)
    val base = spark.read.parquet(path)
    val hit = base.filter(col("k") === 123456L)
      .agg(count(lit(1)).as("c"), coalesce(sum("k"), lit(0L)).as("s")).head()
    val miss = base.filter(col("k") === 123457L).count()
    Seq((base.count(), bloomK, bloomV, hit.getLong(0), miss, hit.getLong(1)))
      .toDF("n_rows", "bloom_on_k", "bloom_on_v", "hit_rows", "miss_rows", "hit_k_sum")
  }

  /** One point-lookup probe over the bloom file: returns (result rows,
    * scan-emitted rows, ms). The scan metric (`numOutputRows` of the
    * file scan, summed across AQE stages via [[graft.Explain.walkPlans]])
    * is the pruning evidence: a row group rejected by the bloom filter
    * emits ZERO rows before any data page decodes. Dictionary filtering
    * is disabled on every probe so a dictionary-miss rejection can't
    * masquerade as bloom pruning; min/max stats and the column index
    * can never prune an ODD key inside the all-EVEN file's ranges.
    */
  private def bloomProbe(
      spark: SparkSession, path: String, key: Long, bloomOn: Boolean): (Long, Long, Double) = {
    val df = spark.read
      .option("parquet.filter.bloom.enabled", bloomOn.toString)
      .option("parquet.filter.dictionary.enabled", "false")
      .parquet(path)
      .filter(col("k") === key)
    val plan = df.queryExecution.executedPlan
    val t0 = System.nanoTime()
    val resultRows = plan.execute().count()
    val ms = (System.nanoTime() - t0) / 1e6
    val scanRows = graft.Explain.walkPlans(plan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    (resultRows, scanRows, ms)
  }

  /** K9 read side — bloom-filter PRUNING measured, the stats-effect
    * evidence loop of the reference's metadata benchmark
    * (src/metadata_benchmark.cc:44-79) applied to the bloom axis: a
    * point lookup for an ODD key over the all-EVEN-keys file sits
    * inside every row group's [min,max], so stats and column-index
    * skipping are structurally powerless — any scan-row drop between
    * bloom-off and bloom-on is attributable to the bloom filter alone.
    * Probes hit (present) and miss (absent) keys under both read
    * settings with wall-clock; rows-only, twinned by
    * [[k9BloomPruneRows]] below which pins the pruning flag and
    * result-identity under the DuckDB oracle.
    */
  def k9BloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ensureBloomFile(spark)
    bloomProbe(spark, path, 2L, bloomOn = true) // warm: page cache + codegen
    val rows = for {
      bloomOn <- Seq(true, false)
      (probe, key) <- Seq(("hit", 123456L), ("miss", 123457L))
    } yield {
      val (res, scan, ms) = bloomProbe(spark, path, key, bloomOn)
      (bloomOn, probe, res, scan, math.round(ms * 1000.0) / 1000.0)
    }
    rows.toDF("bloom_read_enabled", "probe", "result_rows", "scan_output_rows", "read_time_ms")
  }

  /** K9 read-side deterministic twin: pruning must never change
    * RESULTS (hit/miss counts and sums identical under both read
    * settings — the m4_pushdown_rows discipline), and the `bloom_pruned`
    * flag — scan emitted 0 rows on the bloom-on miss probe but >0 on
    * the bloom-off one — is pinned TRUE by the oracle exactly like
    * s14's agg_pushed: silently losing read-side bloom pruning fails
    * correctness, not just a bench number.
    */
  def k9BloomPruneRows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val path = ensureBloomFile(spark)
    val hitSum = (on: Boolean) => spark.read
      .option("parquet.filter.bloom.enabled", on.toString)
      .option("parquet.filter.dictionary.enabled", "false")
      .parquet(path).filter(col("k") === 123456L)
      .agg(count(lit(1)).as("c"), coalesce(sum("k"), lit(0L)).as("s")).head()
    val (hOn, hOff) = (hitSum(true), hitSum(false))
    val (missOnRes, missOnScan, _) = bloomProbe(spark, path, 123457L, bloomOn = true)
    val (missOffRes, missOffScan, _) = bloomProbe(spark, path, 123457L, bloomOn = false)
    Seq((
      hOn.getLong(0), hOn.getLong(1), missOnRes,
      hOn.getLong(0) == hOff.getLong(0) && hOn.getLong(1) == hOff.getLong(1) &&
        missOnRes == missOffRes,
      missOnScan == 0L && missOffScan > 0L))
      .toDF("hit_rows", "hit_k_sum", "miss_rows", "results_identical", "bloom_pruned")
  }

  /** (bloom on k?, bloom on v?) read from the written file's footer. */
  private[graft] def bloomFlags(spark: SparkSession, path: String): (Boolean, Boolean) = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = FooterMeta.sessionConf(spark).value
    val fs = new Path(path).getFileSystem(conf)
    val part = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val m = FooterMeta.footer(conf, part.toString).meta.getBlocks.get(0).getColumns.asScala
      .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
    (m("k"), m("v"))
  }

  /** Compacted-output file count, exposed for the spec. */
  private[graft] def compactedFileCount(spark: SparkSession): Int = {
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$workRoot/compact/out")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** K5 — partitioned write + partition-pruned read: the first-order
    * layout optimization at lake scale. The filtered read touches only
    * the matching partition directory (PartitionFilters in the plan,
    * asserted in SourcesSpec).
    */
  def k5PartitionedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"$workRoot/part/orders_by_status"
    Tables.orders(spark, sfDir)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    partitionPrunedRead(spark)
  }

  /** The pruned-read plan over k5's output (exposed for the plan spec). */
  def partitionPrunedRead(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$workRoot/part/orders_by_status")
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("o_orderpriority")

  /** K6 — sort-on-write layout: range-partition + sort by the filter
    * key before writing, so every row group carries tight,
    * non-overlapping min/max stats and a selective read skips whole
    * files/row groups (the m4_pushdown machinery consumes exactly this
    * layout). At 100 TB this is the difference between a layout where
    * predicate pushdown prunes ~0% and one where it prunes ~99%.
    *
    * Measured pitfall: the sort key is cast to DATE, not kept as
    * timestamp — in this Spark/parquet-mr build, row-group stats
    * skipping does not engage for timestamp columns (NTZ or LTZ; stats
    * are written but scans emit every row) while DATE keys skip
    * correctly (1459 of 6000 rows scanned at sf0.001, asserted in
    * SourcesSpec). Time-partitioned layouts should sort on DATE.
    *
    * The DuckDB oracle applies the equivalent filter to the original
    * table, checking the sorted copy round-trips.
    */
  def k6SortedWrite(spark: SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(sortedLineitemPath(spark, sfDir))
      .filter(col("l_shipdate") < to_date(lit("1996-06-01")))
      .agg(count(lit(1)).as("n_rows"),
        round(sum("l_extendedprice"), 2).as("sum_price"))
  }

  /** Writes (once per source version) the range-partitioned date-sorted
    * copy used by k6 and its pruning spec. The path is keyed on the
    * source fingerprint ([[graft.sources.LayoutCache]]) so a
    * regenerated lineitem table always forces a fresh sorted copy.
    */
  def sortedLineitemPath(spark: SparkSession, sfDir: String): String = {
    val fp = graft.sources.LayoutCache.fingerprint(
      spark.sparkContext.hadoopConfiguration, s"$sfDir/lineitem.parquet")
    val out = s"$workRoot/sorted/lineitem_${new java.io.File(sfDir).getName}_$fp"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/_SUCCESS")))
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("l_shipdate"),
          col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .option("parquet.block.size", (1024 * 1024).toString)
        .parquet(out)
    out
  }

  /** A7 — sketch aggregates: the bounded-memory versions of
    * count-distinct and percentile that replace the exact forms at
    * 100 TB. Fully oracled since round 12 via dataset-keyed literal
    * pins (both sketches proved bit-identical same-JVM and cross-JVM,
    * DETERMINISM.md); exact twins in s1/a4, error-bound twin
    * [[a7ApproxBounds]].
    */
  def a7ApproxStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).agg(
      approx_count_distinct(col("l_orderkey")).as("approx_orders"),
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx_p50_price"),
      count(lit(1)).as("n_rows"))

  /** Error-bound twin of [[a7ApproxStats]] (round-9 verdict task 7):
    * the sketch values themselves have no cross-engine oracle, but
    * their CONTRACTS do. approx_count_distinct at default rsd 0.05 must
    * land within 3σ = 15 % of the exact distinct count;
    * approx_percentile(accuracy=10000) guarantees the returned VALUE
    * occupies a rank within n/accuracy of the true median rank — both
    * checked in-query with exact integer arithmetic (ranks via two
    * counts against the returned value), emitted as flags the oracle
    * PINS TRUE next to DuckDB-recomputed exacts.
    */
  def a7ApproxBounds(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    // exact distinct in its OWN aggregate: mixing countDistinct with
    // the sketch aggregates forces Catalyst's distinct-rewrite Expand
    // (every row duplicated per aggregate group), which multiplied the
    // percentile buffer work ~4x at sf0.1 — two cheap passes beat one
    // expanded pass
    val s = li.agg(
      approx_count_distinct(col("l_orderkey")).as("acd"),
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"),
      count(lit(1)).as("n_rows")).first()
    val (acd, p50, nRows) = (s.getLong(0), s.getDouble(1), s.getLong(2))
    val exact = li.select(col("l_orderkey")).distinct().count()
    val r = li.agg(
      sum(when(col("l_extendedprice") < p50, 1L).otherwise(0L)).as("rank_lt"),
      sum(when(col("l_extendedprice") <= p50, 1L).otherwise(0L)).as("rank_le")).first()
    val (rankLt, rankLe) = (r.getLong(0), r.getLong(1))
    val rankTol = nRows / 10000 + 1
    import spark.implicits._
    Seq((nRows, exact,
      math.abs(acd - exact) * 1000000L / exact <= 150000L,
      rankLt <= nRows / 2 + rankTol && rankLe >= nRows / 2 - rankTol))
      .toDF("n_rows", "exact_orders", "acd_within_3sigma", "p50_rank_within_eps")
  }

  /** M5 — metadata-sidecar experiment (the Spark-idiom analog of the
    * reference's Thrift→FlatBuffers footer transcoding,
    * src/pq_fb_ns_data_generator.cc:34-60): re-encode footer metadata as
    * a columnar sidecar table and compare sizes. Where the reference
    * appends a FlatBuffer to each file, a lake-scale engine stores
    * footer metadata *as a queryable table* — one sidecar for millions
    * of files, scanned with the same pruned-column machinery as data.
    */
  def m5MetadataSidecar(spark: SparkSession, sfDir: String): DataFrame = {
    val tables = Seq("lineitem", "orders", "events")
    val paths = tables.map(t => s"$sfDir/$t.parquet")
    val sidecarPath = s"$workRoot/sidecar/chunk_stats"
    val stats = FooterMeta.chunkStats(spark, paths)
    stats.toDF().write.mode("overwrite").parquet(sidecarPath)
    val conf = FooterMeta.sessionConf(spark).value
    def len(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      if (fs.getFileStatus(hp).isDirectory) fs.getContentSummary(hp).getLength
      else fs.getFileStatus(hp).getLen
    }
    val footerBytes =
      paths.map(p => FooterMeta.footerLength(conf, FooterMeta.parquetFiles(conf, p).head))
    import spark.implicits._
    val nChunks = stats.count()
    Seq((tables.mkString("|"), footerBytes.sum, len(sidecarPath), nChunks))
      .toDF("source_tables", "thrift_footer_bytes", "sidecar_parquet_bytes", "n_chunk_rows")
  }

  /** A6 — mean over iterations: the reference's repeated-measurement
    * aggregation (src/pq_fb_ns_data_generator.cc:268-271 accumulates N
    * timing iterations and reports their mean) as a REGISTERED query
    * over a measurement-rows table, not just bench methodology.
    * The fixture is deterministic (quarter-step values are exact
    * doubles, so partial-sum order cannot change the aggregate) and
    * shared verbatim with the DuckDB oracle.
    */
  private[graft] val a6Fixture: Seq[(String, Int, Double)] = {
    val benches = Seq(
      "decode_footer_2000" -> 15.25, "decode_footer_3000" -> 22.5,
      "scan_subset" -> 7.75, "scan_full" -> 31.0)
    for {
      ((name, base), bi) <- benches.zipWithIndex
      iter <- 1 to 5
    } yield (name, iter, base + 0.25 * ((iter * 7 + bi * 3) % 5))
  }

  def a6IterationMean(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    a6Fixture.toDF("bench_name", "iteration", "elapsed_ms")
      .groupBy("bench_name")
      .agg(
        count(lit(1)).as("n_iters"),
        round(avg("elapsed_ms"), 6).as("mean_ms"),
        round(stddev("elapsed_ms"), 6).as("stddev_ms"),
        min("elapsed_ms").as("min_ms"),
        max("elapsed_ms").as("max_ms"))
      .orderBy("bench_name")
  }

  /** S9 — benchmark-JSON document scan: write a google-benchmark-shaped
    * nested document, read it back with spark.read.json, explode the
    * benchmarks array, and parse names (P6 shape) —
    * scripts/vizualize_flatbuffers_benchmark.py:6-25.
    */
  def s9JsonScan(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"$workRoot/json/gbench"
    val runs = Seq(
      ("BM_ParseMeta/2000/0/0", 15.8e6, 15.8e6, 193.0),
      ("BM_ParseMeta/3000/0/0", 22.8e6, 22.8e6, 180.0),
      ("BM_ParseMeta/2000/1/0", 7.9e6, 7.9e6, 150.0),
      ("BM_ParseMeta/3000/1/1", 11.4e6, 11.4e6, 160.0))
    import spark.implicits._
    val doc = runs.toDF("name", "real_time", "ThriftTime", "FlatBufferTime")
      .agg(collect_list(struct(col("name"), col("real_time"), col("ThriftTime"),
        col("FlatBufferTime"))).as("benchmarks"))
    doc.coalesce(1).write.mode("overwrite").json(out)
    spark.read.json(out)
      .select(explode(col("benchmarks")).as("b"))
      .select(
        element_at(split(col("b.name"), "/"), 2).cast("int").as("cols"),
        element_at(split(col("b.name"), "/"), 3).cast("int").as("subset"),
        element_at(split(col("b.name"), "/"), 4).cast("int").as("random"),
        col("b.ThriftTime").as("thrift_time"),
        col("b.FlatBufferTime").as("flatbuffer_time"))
      .groupBy("cols", "subset", "random")
      .agg(first(col("thrift_time")).as("thrift_time"),
        first(col("flatbuffer_time")).as("flatbuffer_time"))
      .orderBy("cols", "subset", "random")
  }

  val registry: Map[String, Q] = Map(
    "g1_wide_gen" -> g1WideGen _,
    "s4_footer_meta" -> s4FooterMeta _,
    "s5_chunk_stats" -> s5ChunkStats _,
    "k12_encoding_advisor" -> k12EncodingAdvisor _,
    "x_plan_lineage" -> planLineage _,
    "x_file_provenance" -> fileProvenance _,
    "x_partition_audit" -> partitionAudit _,
    "s3_read_bench" -> s3ReadBench _,
    "s3_read_counts" -> s3ReadCounts _,
    "k1_compression_sweep" -> k1CompressionSweep _,
    "k1_codec_roundtrip" -> k1CodecRoundtrip _,
    "m2_chunks_pages" -> m2ChunksPages _,
    "m2_stats" -> m2Stats _,
    "m3_rowgroup_grid" -> m3RowGroupGrid _,
    "m3_rowgroup_layout" -> m3RowGroupLayout _,
    "m4_pushdown" -> m4Pushdown _,
    "m4_pushdown_rows" -> m4PushdownRows _,
    "s14_agg_pushdown" -> s14AggPushdown _,
    "s6_subset_schema" -> s6SubsetSchema _,
    "k3_top20_view" -> k3TopView _,
    "s7_csv_roundtrip" -> s7CsvRoundtrip _,
    "s8_glob_union" -> s8GlobUnion _,
    "s9_json_scan" -> s9JsonScan _,
    "s12_footer_source_v2" -> s12FooterSourceV2 _,
    "s11_orc_roundtrip" -> s11OrcRoundtrip _,
    "s13_json_roundtrip" -> s13JsonRoundtrip _,
    "k8_compaction" -> k8Compaction _,
    "k9_bloom_knob" -> k9BloomKnob _,
    "k9_bloom_prune" -> k9BloomPrune _,
    "k9_bloom_prune_rows" -> k9BloomPruneRows _,
    "m6_wide_probe" -> m6WideProbe _,
    "m6_wide_layout" -> m6WideLayout _,
    "m6_wide10k_probe" -> m6Wide10kProbe _,
    "m6_wide10k_layout" -> m6Wide10kLayout _,
    "m7_page_index" -> m7PageIndex _,
    "k5_partitioned_write" -> k5PartitionedWrite _,
    "k6_sorted_write" -> k6SortedWrite _,
    "a6_iteration_mean" -> a6IterationMean _,
    "a7_approx_stats" -> a7ApproxStats _,
    "a7_approx_bounds" -> a7ApproxBounds _,
    "m5_metadata_sidecar" -> m5MetadataSidecar _,
    "k14_logical_types" -> k14LogicalTypes _,
    "k15_field_ids" -> k15FieldIds _,
    "x_layout_skipping" -> xLayoutSkipping _,
  )

  private val allTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  val oracles: Map[String, String] = Map(
    // Round-12 twin widening (r11 verdict task 8): HLL++ register
    // merges AND approx_percentile's summary merges proved
    // bit-identical same-JVM and cross-JVM (DETERMINISM.md), so the
    // sketch outputs are literal-pinned per dataset, keyed by the exact
    // lineitem row count DuckDB recomputes. A testdata regen or sketch
    // regression reddens the gate; re-capture at the three SFs via
    // SPARK_GRAFT_ONLY=a7_approx_stats.
    "a7_approx_stats" ->
      """WITH n AS (SELECT count(*)::BIGINT AS c FROM lineitem),
        |pins(c, approx_orders, p50) AS (VALUES
        |  (6000, 1379, 52736.15),
        |  (60000, 14206, 53020.59),
        |  (600000, 144569, 52922.03))
        |SELECT approx_orders::BIGINT AS approx_orders,
        | p50::DOUBLE AS approx_p50_price, n.c::BIGINT AS n_rows
        |FROM pins JOIN n ON pins.c = n.c""".stripMargin,
    // DuckDB re-derives the pruning census from the same footers:
    // typed row-group min/max via parquet_metadata(), the same 20
    // probes, the same truncating-div ppm
    "x_layout_skipping" -> {
      val step = PushRows / SkipProbes
      val probeVals = (0 until SkipProbes)
        .map(i => s"(${i * step + step / 2})").mkString(", ")
      s"""WITH probes(p) AS (VALUES $probeVals),
         |r AS (
         | SELECT 'range_sorted' AS layout,
         |  stats_min_value::BIGINT AS mn, stats_max_value::BIGINT AS mx
         | FROM parquet_metadata('$workRoot/pd/pushdown_bench_$PushRows/*.parquet')
         | WHERE path_in_schema = 'k'
         | UNION ALL
         | SELECT 'hash_shuffled',
         |  stats_min_value::BIGINT, stats_max_value::BIGINT
         | FROM parquet_metadata('$workRoot/pd/shuffled_bench_$PushRows/*.parquet')
         | WHERE path_in_schema = 'k'),
         |n AS (SELECT layout, count(*)::BIGINT AS n_rowgroups FROM r GROUP BY 1),
         |s AS (SELECT layout, count(*)::BIGINT AS surviving
         |      FROM r JOIN probes ON p BETWEEN mn AND mx GROUP BY 1)
         |SELECT n.layout, n.n_rowgroups, ${SkipProbes}::BIGINT AS n_probes,
         | coalesce(s.surviving, 0)::BIGINT AS surviving_rg,
         | (coalesce(s.surviving, 0) * 1000000
         |   // (${SkipProbes} * n.n_rowgroups))::BIGINT AS avg_surviving_ppm
         |FROM n LEFT JOIN s USING (layout) ORDER BY layout""".stripMargin
    },
    // DuckDB re-reads the same footer's field_id column; the no-ID
    // column pins the -1 sentinel path
    "k15_field_ids" ->
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file,
         | name AS "column",
         | coalesce(field_id, -1)::INT AS field_id
         |FROM parquet_schema('$workRoot/ltypes/fieldids.parquet')
         |WHERE num_children IS NULL
         |ORDER BY "column"""".stripMargin,
    // DuckDB's parquet_schema() is an independent second decoder of the
    // typed fixture's footer: kind from its logical_type rendering,
    // precision/scale from its native columns, int bit widths from the
    // converted type (DuckDB prints bitWidth as a raw byte, unusable),
    // timestamp/time unit+utc parsed from the logical_type string.
    // Sentinels (-1/'na'/0) mirror LogicalTypeRow exactly.
    "k14_logical_types" ->
      raw"""SELECT regexp_extract(file_name, '[^/]+$$') AS file,
        | name AS "column",
        | type AS physical,
        | coalesce(type_length, '0')::INT AS type_length,
        | CASE WHEN logical_type LIKE 'DecimalType%' THEN 'DECIMAL'
        |      WHEN logical_type LIKE 'TimestampType%' THEN 'TIMESTAMP'
        |      WHEN logical_type LIKE 'TimeType%' THEN 'TIME'
        |      WHEN logical_type LIKE 'DateType%' THEN 'DATE'
        |      WHEN logical_type LIKE 'UUIDType%' THEN 'UUID'
        |      WHEN logical_type LIKE 'JsonType%' THEN 'JSON'
        |      WHEN logical_type LIKE 'BsonType%' THEN 'BSON'
        |      WHEN logical_type LIKE 'IntType%' THEN 'INT'
        |      WHEN logical_type LIKE 'StringType%' THEN 'STRING'
        |      WHEN logical_type LIKE 'EnumType%' THEN 'ENUM'
        |      ELSE 'NONE' END AS logical,
        | coalesce("precision", -1)::INT AS "precision",
        | coalesce("scale", -1)::INT AS "scale",
        | CASE WHEN logical_type LIKE '%MilliSeconds()%' THEN 'MILLIS'
        |      WHEN logical_type LIKE '%MicroSeconds()%' THEN 'MICROS'
        |      WHEN logical_type LIKE '%NanoSeconds()%' THEN 'NANOS'
        |      ELSE 'na' END AS unit,
        | CASE WHEN logical_type LIKE 'TimestampType%' OR logical_type LIKE 'TimeType%'
        |      THEN regexp_extract(logical_type, 'isAdjustedToUTC=(\d)', 1)::INT
        |      ELSE -1 END AS utc,
        | CASE converted_type
        |      WHEN 'INT_8' THEN 8 WHEN 'UINT_8' THEN 8
        |      WHEN 'INT_16' THEN 16 WHEN 'UINT_16' THEN 16
        |      WHEN 'INT_32' THEN 32 WHEN 'UINT_32' THEN 32
        |      WHEN 'INT_64' THEN 64 WHEN 'UINT_64' THEN 64
        |      ELSE -1 END AS bit_width,
        | CASE WHEN logical_type LIKE 'IntType%'
        |      THEN regexp_extract(logical_type, 'isSigned=(\d)', 1)::INT
        |      ELSE -1 END AS signed
        |FROM parquet_schema('$workRoot/ltypes/typed.parquet')
        |WHERE num_children IS NULL
        |ORDER BY "column"""".stripMargin,
    // exacts DuckDB-recomputed; both bound flags PINNED TRUE (the
    // oracle-checkable half of each sketch's accuracy contract)
    "a7_approx_bounds" ->
      """SELECT count(*)::BIGINT AS n_rows,
        | count(DISTINCT l_orderkey)::BIGINT AS exact_orders,
        | TRUE AS acd_within_3sigma, TRUE AS p50_rank_within_eps
        |FROM lineitem""".stripMargin,
    // footer metadata is deterministic — DuckDB's parquet_metadata() is
    // an independent second decoder of the same footers ({SFDIR} is
    // substituted by Verify at dump time)
    "s4_footer_meta" -> {
      val files = allTables.map(t => s"'{SFDIR}/$t.parquet'").mkString(", ")
      s"""SELECT regexp_extract(file_name, '[^/]+$$') AS file,
         | (max(row_group_id) + 1)::INT AS num_row_groups,
         | count(DISTINCT column_id)::INT AS num_columns,
         | sum(CASE WHEN column_id = 0 THEN row_group_num_rows ELSE 0 END)::BIGINT AS num_rows
         |FROM parquet_metadata([$files])
         |GROUP BY 1 ORDER BY file""".stripMargin
    },
    // same files via parquet_metadata (column_id=0 dedupes the
    // per-chunk rows), same relative small-file rule and verdict
    "x_partition_audit" -> {
      val p = s"$workRoot/paudit{SFDIR}/orders_by_status"
      s"""WITH m AS (
         | SELECT file_name,
         |  regexp_extract(file_name, 'o_orderstatus=([^/]+)', 1) AS partition,
         |  row_group_num_rows
         | FROM parquet_metadata('$p/*/*.parquet') WHERE column_id = 0),
         |f AS (SELECT partition, file_name, count(*)::BIGINT AS n_rg,
         |       sum(row_group_num_rows)::BIGINT AS n_rows
         |      FROM m GROUP BY 1, 2),
         |g AS (SELECT f.*, (SELECT max(n_rows) FROM f) AS max_file_rows FROM f)
         |SELECT partition, count(*)::BIGINT AS n_files, sum(n_rows)::BIGINT AS n_rows,
         | sum(n_rg)::BIGINT AS n_rowgroups,
         | sum(CASE WHEN n_rows * 3 < max_file_rows THEN 1 ELSE 0 END)::BIGINT AS n_small_files,
         | (sum(CASE WHEN n_rows * 3 < max_file_rows THEN 1 ELSE 0 END) >= 4) AS compact_candidate
         |FROM g GROUP BY partition ORDER BY partition""".stripMargin
    },
    // DuckDB re-derives the per-(partition, file) census from the same
    // physical files — filename=true is its _metadata.file_path
    "x_file_provenance" -> {
      val p = s"$workRoot/paudit{SFDIR}/orders_by_status"
      s"""SELECT o_orderstatus, regexp_extract(filename, '[^/]+$$') AS file,
         | count(*)::BIGINT AS n_rows, sum(o_orderkey)::BIGINT AS key_sum,
         | min(o_orderkey)::BIGINT AS min_key, max(o_orderkey)::BIGINT AS max_key
         |FROM parquet_scan('$p/*/*.parquet', filename=true, hive_partitioning=true)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // hand-derived expected lineage for q3, pinned (pure plan
    // analysis has no data-side recompute; the literal IS the spec)
    "x_plan_lineage" ->
      """SELECT out_col, src_table, src_col FROM (VALUES
        | ('l_orderkey', 'lineitem', 'l_orderkey'),
        | ('o_orderpriority', 'orders', 'o_orderpriority'),
        | ('orderdate', 'orders', 'o_orderdate'),
        | ('revenue', 'lineitem', 'l_discount'),
        | ('revenue', 'lineitem', 'l_extendedprice')) AS t(out_col, src_table, src_col)
        |ORDER BY out_col, src_table, src_col""".stripMargin,
    // same physical footer, same integer thresholds - the advice
    // column is deterministic byte arithmetic, never a heuristic
    "k12_encoding_advisor" ->
      """WITH c AS (
        | SELECT path_in_schema AS "column", total_compressed_size AS cb,
        |  total_uncompressed_size AS ub,
        |  (encodings LIKE '%DICTIONARY%') AS de
        | FROM parquet_metadata(['{SFDIR}/lineitem.parquet'])),
        |a AS (
        | SELECT "column", count(*)::BIGINT AS n_chunks, sum(cb)::BIGINT AS comp_bytes,
        |  sum(ub)::BIGINT AS uncomp_bytes, bool_and(de) AS dict_all
        | FROM c GROUP BY "column"),
        |r AS (SELECT *, (comp_bytes * 1000000 // uncomp_bytes) AS ratio_ppm FROM a)
        |SELECT "column", n_chunks, comp_bytes, uncomp_bytes,
        | ratio_ppm::BIGINT AS ratio_ppm, dict_all,
        | CASE WHEN ratio_ppm <= 600000 THEN 'effective'
        |      WHEN ratio_ppm <= 900000 THEN 'moderate-consider-zstd'
        |      WHEN dict_all THEN 'incompressible-consider-plain'
        |      ELSE 'try-dictionary' END AS advice
        |FROM r ORDER BY "column"""".stripMargin,
    "s5_chunk_stats" ->
      """SELECT regexp_extract(file_name, '[^/]+$') AS file,
        | row_group_id::INT AS row_group, path_in_schema AS column,
        | compression AS codec, num_values,
        | (stats_min_value IS NOT NULL) AS has_min_max,
        | stats_null_count AS null_count,
        | (encodings LIKE '%DICTIONARY%') AS dict_encoded
        |FROM parquet_metadata(['{SFDIR}/lineitem.parquet', '{SFDIR}/orders.parquet'])
        |ORDER BY file, row_group, "column"""".stripMargin,
    "s12_footer_source_v2" ->
      """SELECT regexp_extract(file_name, '[^/]+$') AS file,
        | row_group_id::INT AS row_group, path_in_schema AS column,
        | compression AS codec, num_values,
        | (stats_min_value IS NOT NULL) AS has_min_max,
        | stats_null_count AS null_count,
        | (encodings LIKE '%DICTIONARY%') AS dict_encoded
        |FROM parquet_metadata(['{SFDIR}/lineitem.parquet', '{SFDIR}/orders.parquet'])
        |ORDER BY file, row_group, "column"""".stripMargin,
    // s9's synthetic benchmark document is deterministic, so the parsed
    // result is a fixed table
    "s9_json_scan" ->
      """SELECT cols, subset, random, thrift_time, flatbuffer_time FROM (VALUES
        | (2000, 0, 0, 15.8e6, 193.0),
        | (2000, 1, 0, 7.9e6, 150.0),
        | (3000, 0, 0, 22.8e6, 180.0),
        | (3000, 1, 1, 11.4e6, 160.0)) AS t(cols, subset, random, thrift_time, flatbuffer_time)
        |ORDER BY cols, subset, random""".stripMargin,
    "g1_wide_gen" -> "SELECT 10000::BIGINT AS n_rows, 100::INT AS n_cols",
    "s6_subset_schema" ->
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price FROM lineitem""".stripMargin,
    "k3_top20_view" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 20""".stripMargin,
    "s7_csv_roundtrip" -> Analytics.oracles("a2_group_mean"),
    "s8_glob_union" -> Analytics.oracles("u1_union_all"),
    "s11_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "s13_json_roundtrip" ->
      """SELECT event_type, count(*) AS n, sum(event_id)::BIGINT AS id_sum,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "k8_compaction" ->
      """SELECT o_orderstatus, count(*) AS n, sum(o_orderkey)::BIGINT AS key_sum,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "k5_partitioned_write" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "k6_sorted_write" ->
      """SELECT count(*) AS n_rows, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1996-06-01'""".stripMargin,
    // deterministic twins of the timed benchmarks: DuckDB recomputes
    // every column independently from the SAME generated files (its own
    // parquet decoder, parquet_metadata(), read_blob byte lengths)
    // bloom flags pinned like s14's agg_pushed: losing the bloom write
    // on k (or growing one on v) fails the correctness gate
    "k9_bloom_knob" -> {
      val p = s"$workRoot/bloom/bloom_knob_$BloomRows"
      s"""SELECT (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS n_rows,
         | TRUE AS bloom_on_k, FALSE AS bloom_on_v,
         | (SELECT count(*) FROM '$p/*.parquet' WHERE k = 123456)::BIGINT AS hit_rows,
         | (SELECT count(*) FROM '$p/*.parquet' WHERE k = 123457)::BIGINT AS miss_rows,
         | (SELECT coalesce(sum(k), 0) FROM '$p/*.parquet' WHERE k = 123456)::BIGINT AS hit_k_sum""".stripMargin
    },
    // read-side bloom evidence: result identity comes from DuckDB's
    // independent scan of the same file; the pruning flag is PINNED
    // TRUE (the s14 agg_pushed discipline) — if Spark's parquet reader
    // ever stops consulting the bloom filter, the gate goes red
    "k9_bloom_prune_rows" -> {
      val p = s"$workRoot/bloom/bloom_knob_$BloomRows"
      s"""SELECT (SELECT count(*) FROM '$p/*.parquet' WHERE k = 123456)::BIGINT AS hit_rows,
         | (SELECT coalesce(sum(k), 0) FROM '$p/*.parquet' WHERE k = 123456)::BIGINT AS hit_k_sum,
         | (SELECT count(*) FROM '$p/*.parquet' WHERE k = 123457)::BIGINT AS miss_rows,
         | TRUE AS results_identical, TRUE AS bloom_pruned""".stripMargin
    },
    // 1000-col width-probe twin: footer layout + first/last column
    // extrema from DuckDB's independent decoder
    "m6_wide_layout" -> {
      val p = s"$workRoot/wide/wide_probe_${WideProbeCols}cols"
      s"""SELECT
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::INT AS num_columns,
         | (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS num_rows,
         | (SELECT max(row_group_id) + 1 FROM parquet_metadata('$p/*.parquet'))::INT AS n_row_groups,
         | (SELECT min(col_0) FROM '$p/*.parquet') AS min_col0,
         | (SELECT max(col_0) FROM '$p/*.parquet') AS max_col0,
         | (SELECT min(col_${WideProbeCols - 1}) FROM '$p/*.parquet') AS min_last,
         | (SELECT max(col_${WideProbeCols - 1}) FROM '$p/*.parquet') AS max_last""".stripMargin
    },
    // The oracle re-derives per config: row count, chunk count, and
    // CHUNK-stat presence from DuckDB's independent footer decoder,
    // plus the content checksum from the data itself. The page-axis
    // facts are pinned by the ladder's semantics, ARITHMETICALLY from
    // DuckDB-derived quantities (never free constants): the column
    // index exists iff stats are on (parquet-mr couples them — the
    // documented §7.4 residual), and the page count per chunk is
    // ceil(rows/100) under the 100-row page limit vs 1 under the
    // one-page-per-chunk config. If parquet-mr's writer semantics ever
    // drift (index written without stats, page limit ignored), the
    // Spark-measured values flip and this gate goes red.
    "m7_page_index" -> {
      val root = s"$workRoot/pageidx"
      val cfgs = Seq("sl0_none", "sl1_chunk", "sl2_page")
      cfgs.map { c =>
        s"""SELECT '$c' AS config,
           | (SELECT count(*) FROM '$root/$c/*.parquet')::BIGINT AS n_rows,
           | (SELECT max(row_group_id) + 1 FROM parquet_metadata('$root/$c/*.parquet'))::INT AS n_row_groups,
           | (SELECT count(*) FROM parquet_metadata('$root/$c/*.parquet'))::INT AS n_chunks,
           | (SELECT count(*) FILTER (stats_min_value IS NOT NULL) FROM parquet_metadata('$root/$c/*.parquet'))::INT AS chunks_with_page_index,
           | (SELECT count(*) FILTER (stats_min_value IS NOT NULL) FROM parquet_metadata('$root/$c/*.parquet'))::INT AS chunks_with_stats,
           | (CASE WHEN '$c' = 'sl1_chunk'
           |   THEN (SELECT max(row_group_id) + 1 FROM parquet_metadata('$root/$c/*.parquet'))
           |   ELSE (SELECT ((count(*) + ${PageIdxPageRows - 1}) // $PageIdxPageRows) FROM '$root/$c/*.parquet') END)::INT AS n_pages_col0,
           | (SELECT round(sum(v))::BIGINT FROM '$root/$c/*.parquet') AS v_sum""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY config")
    },
    "m6_wide10k_layout" -> {
      val p = s"$workRoot/wide/wide_probe_${Wide10kCols}cols"
      s"""SELECT
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::INT AS num_columns,
         | (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS num_rows,
         | (SELECT max(row_group_id) + 1 FROM parquet_metadata('$p/*.parquet'))::INT AS n_row_groups,
         | (SELECT min(col_0) FROM '$p/*.parquet') AS min_col0,
         | (SELECT max(col_0) FROM '$p/*.parquet') AS max_col0,
         | (SELECT min(col_${Wide10kCols - 1}) FROM '$p/*.parquet') AS min_last,
         | (SELECT max(col_${Wide10kCols - 1}) FROM '$p/*.parquet') AS max_last""".stripMargin
    },
    // round-11: the probes' outputs are now their deterministic halves
    // (timings go to stderr + the bench record), so DuckDB re-derives
    // every column from the same files; n_subset_cols is the probe's
    // fixed 1-in-(nc/10) projection width
    "m6_wide_probe" -> {
      val p = s"$workRoot/wide/wide_probe_${WideProbeCols}cols"
      s"""SELECT
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::INT AS num_columns,
         | (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS num_rows,
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::BIGINT AS n_cols_footer,
         | 10::INT AS n_subset_cols""".stripMargin
    },
    "m6_wide10k_probe" -> {
      val p = s"$workRoot/wide/wide_probe_${Wide10kCols}cols"
      s"""SELECT
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::INT AS num_columns,
         | (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS num_rows,
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::BIGINT AS n_cols_footer,
         | 10::INT AS n_subset_cols""".stripMargin
    },
    // the oracle pins agg_pushed to TRUE: if the Spark side ever stops
    // serving the aggregate from footer stats, the gate goes red
    "s14_agg_pushdown" -> {
      val p = s"$workRoot/pd/pushdown_bench_$PushRows"
      s"""SELECT count(*)::BIGINT AS n_rows,
         | min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k,
         | min(v) AS min_v, max(v) AS max_v,
         | true AS agg_pushed
         |FROM '$p/*.parquet'""".stripMargin
    },
    "m4_pushdown_rows" -> {
      val p = s"$workRoot/pd/pushdown_bench_$PushRows"
      val thr = PushRows / 100
      s"""WITH f AS (
         | SELECT count(*)::BIGINT AS num_rows,
         |  (count(*) FILTER (WHERE k < $thr))::BIGINT AS matched_rows,
         |  (sum(k) FILTER (WHERE k < $thr))::BIGINT AS matched_k_sum
         | FROM '$p/*.parquet')
         |SELECT t.pushdown_enabled, f.num_rows, f.matched_rows, f.matched_k_sum
         |FROM f, (VALUES (true), (false)) t(pushdown_enabled)
         |ORDER BY pushdown_enabled""".stripMargin
    },
    "s3_read_counts" -> ReadCols.map { nc =>
      val p = s"$workRoot/read/read_bench_${nc}cols"
      s"""SELECT
         | (SELECT count(DISTINCT column_id) FROM parquet_metadata('$p/*.parquet'))::INT AS num_columns,
         | (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS num_rows,
         | ${math.max(1, nc / 2)}::INT AS n_half_cols,
         | ${(nc + 9) / 10}::INT AS n_tenth_cols,
         | (SELECT min(col_0) FROM '$p/*.parquet') AS min_col0,
         | (SELECT max(col_0) FROM '$p/*.parquet') AS max_col0""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY num_columns"),
    "k1_codec_roundtrip" -> graft.sources.ParquetKnobs.codecs.map { c =>
      val p = s"$workRoot/comp/comp_bench_${CompCols}c_$c"
      s"""SELECT ${BenchRunners.algoCode(c)}::INT AS algorithm,
         | (SELECT count(*) FROM '$p/*.parquet')::BIGINT AS n_rows,
         | (SELECT min(col_0) FROM '$p/*.parquet') AS min_col0,
         | (SELECT max(col_0) FROM '$p/*.parquet') AS max_col0,
         | (SELECT sum(octet_length(content)) FROM read_blob('$p/*.parquet'))::BIGINT AS parquet_bytes""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY algorithm"),
    "m3_rowgroup_layout" -> {
      val parts = for {
        nc <- GridCols
        rg <- GridRg
        ps <- GridPs
        stats <- Seq(1, 0)
      } yield {
        val p = s"$workRoot/rg/rg_bench_${nc}c_${rg}r_${ps}p_$stats"
        s"""SELECT $nc::INT AS num_columns,
           | (SELECT count(*) FROM '$p/*.parquet')::INT AS num_rows,
           | $rg::INT AS row_group_size, $ps::INT AS page_size,
           | $stats::INT AS stats_level,
           | (SELECT (max(row_group_id) + 1)::INT FROM parquet_metadata('$p/*.parquet')) AS num_row_groups,
           | (SELECT bool_or(stats_min_value IS NOT NULL) FROM parquet_metadata('$p/*.parquet')) AS stats_present,
           | (SELECT sum(octet_length(content)) FROM read_blob('$p/*.parquet'))::BIGINT AS parquet_bytes""".stripMargin
      }
      parts.mkString("", "\nUNION ALL\n",
        "\nORDER BY row_group_size, page_size, stats_level")
    },
    "a6_iteration_mean" -> {
      val rows = a6Fixture
        .map { case (n, i, v) => s"('$n', $i, $v)" }.mkString(",\n ")
      s"""WITH runs(bench_name, iteration, elapsed_ms) AS (VALUES
         | $rows)
         |SELECT bench_name, count(*) AS n_iters,
         | round(avg(elapsed_ms), 6) AS mean_ms,
         | round(stddev_samp(elapsed_ms), 6) AS stddev_ms,
         | min(elapsed_ms) AS min_ms, max(elapsed_ms) AS max_ms
         |FROM runs GROUP BY bench_name ORDER BY bench_name""".stripMargin
    },
  )
}
