package graft

import graft.operators.{BenchOps, Multimodal}
import graft.sources.{FooterMeta, ParquetKnobs, WideTableGen}
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf
  private val work = s"${System.getProperty("user.dir")}/target/graft-test"

  test("wide generator: N float columns named col_i, M rows, values in range") {
    val df = WideTableGen.wide(spark, 25, 1000L, seed = 7)
    assert(df.columns.toSeq === (0 until 25).map(i => s"col_$i"))
    assert(df.schema.fields.forall(_.dataType.typeName === "float"))
    assert(df.count() === 1000)
    import org.apache.spark.sql.functions._
    val mm = df.agg(min(col("col_0")), max(col("col_0"))).collect()(0)
    assert(mm.getFloat(0) >= -1000f && mm.getFloat(1) <= 1000f)
  }

  test("wide generator: the same (seed, rows, numPartitions) gives the same frame") {
    def gen(seed: Long) = WideTableGen.wide(spark, 6, 500L, seed, numPartitions = 3)
    val (a, b) = (gen(11), gen(11))
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    assert(gen(12).exceptAll(a).count() === 500, "another seed must give other values")
  }

  test("wide generator: a pruned read returns those columns of the full read") {
    val full = WideTableGen.wide(spark, 20, 300L, seed = 5, numPartitions = 2)
    val pruned = full.select("col_3", "col_17")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.map(_.scan.readSchema().fieldNames.toSeq) === Seq(Seq("col_3", "col_17")),
      "required-column pushdown must reach the source")
    val fromFull = full.collect().map(r => (r.getFloat(3), r.getFloat(17))).toSeq
    assert(pruned.collect().map(r => (r.getFloat(0), r.getFloat(1))).toSeq === fromFull)
  }

  test("wide generator: numPartitions = k writes k files; 0 keeps the session default") {
    val path = s"$work/wide_k_files"
    ParquetKnobs.write(WideTableGen.wide(spark, 4, 900L, numPartitions = 3), path,
      ParquetKnobs.WriteConfig())
    val conf = FooterMeta.sessionConf(spark).value
    val files = FooterMeta.parquetFiles(conf, path)
    assert(files.size === 3)
    assert(files.map(f => FooterMeta.footer(conf, f).meta.getBlocks.get(0).getRowCount).sum === 900)
    assert(WideTableGen.wide(spark, 4, 900L).rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("wide generator: non-nullable floats from one leaf with N attributes") {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Project}
    import org.apache.spark.sql.types.FloatType
    val df = WideTableGen.wide(spark, 300, 10L)
    assert(df.schema.fields.forall(f => f.dataType == FloatType && !f.nullable))
    val plan = df.queryExecution.analyzed
    assert(plan.isInstanceOf[LeafNode], plan.treeString)
    assert(plan.output.size === 300)
    assert(plan.collectFirst { case p: Project => p }.isEmpty)
  }

  test("writer knobs round-trip: written file reads back with same content") {
    val df = WideTableGen.wide(spark, 5, 2000L, seed = 3)
    val path = s"$work/roundtrip"
    ParquetKnobs.write(df, path, ParquetKnobs.WriteConfig(
      codec = "zstd", rowGroupBytes = ParquetKnobs.rowGroupBytesFor(500, 5),
      pageBytes = 8 * 1024, dictionary = false))
    val back = spark.read.parquet(path)
    // parquet read-back reports nullable=true; compare names + types
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() === 2000)
    // content equality via symmetric difference (the generator is deterministic per seed)
    assert(back.exceptAll(df).count() === 0 && df.exceptAll(back).count() === 0)
  }

  test("row-group sizing knob actually produces multiple row groups") {
    val df = WideTableGen.wide(spark, 5, 10000L)
    val path = s"$work/rgsize"
    ParquetKnobs.write(df.coalesce(1), path, ParquetKnobs.WriteConfig(
      rowGroupBytes = ParquetKnobs.rowGroupBytesFor(1000, 5)))
    val meta = FooterMeta.fileMeta(spark, Seq(path)).collect()
    assert(meta.map(_.num_row_groups).sum >= 2,
      s"expected multiple row groups, got ${meta.map(_.num_row_groups).toSeq}")
  }

  test("sort-on-write layout enables row-group/file skipping on the filter key") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.BenchOps.sortedLineitemPath(spark, sf)
    val df = spark.read.parquet(out)
      .filter(col("l_shipdate") < to_date(lit("1996-06-01")))
    val plan = df.queryExecution.executedPlan
    plan.execute().count()
    val finalPlan = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanRows = finalPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    val total = spark.read.parquet(out).count()
    assert(scanRows < total,
      s"range-sorted layout must let min/max stats skip data: scan=$scanRows total=$total")
  }

  test("graft-footer DSv2 source prunes columns at the scan and matches the Dataset helper") {
    val df = spark.read.format("graft-footer").load(s"$sf/lineitem.parquet")
      .select("column", "num_values")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a DSv2 BatchScan")
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("column", "num_values"),
      "required-column pushdown must reach the source")
    val viaConnector = df.collect().map(_.toString).sorted.toSeq
    val viaDataset = FooterMeta.chunkStats(spark, Seq(s"$sf/lineitem.parquet"))
      .toDF().select("column", "num_values").collect().map(_.toString).sorted.toSeq
    assert(viaConnector === viaDataset)
  }

  test("graft-footer scan carries the SESSION Hadoop conf to its readers") {
    // a runtime session setting must be visible in the conf the scan
    // ships to executors (sessionState.newHadoopConf() copies session
    // conf entries onto the context Hadoop conf) — `new Configuration()`
    // would drop it, and with it any configured filesystem/credentials
    spark.conf.set("graft.probe", "session-value-42")
    try {
      val scans = spark.read.format("graft-footer").load(s"$sf/lineitem.parquet")
        .queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
      assert(scans.nonEmpty)
      val conf = scans.head.scan.asInstanceOf[graft.sources.v2.FooterScan].conf.value
      assert(conf.get("graft.probe") === "session-value-42",
        "scan must capture sessionState.newHadoopConf(), not defaults")
    } finally spark.conf.unset("graft.probe")
  }

  test("a corrupt or truncated footer fails naming the file") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Paths.get(s"$work/corrupt")
    Files.createDirectories(dir)
    val garbage = dir.resolve("garbage_footer.parquet")
    Files.copy(Paths.get(s"$sf/region.parquet"), garbage, StandardCopyOption.REPLACE_EXISTING)
    // overwrite the first half of the Thrift footer: [footer][4B len][PAR1]
    val bytes = Files.readAllBytes(garbage)
    val footerLen = FooterMeta.footerLength(conf, garbage.toString).toInt
    val start = bytes.length - 8 - footerLen
    java.util.Arrays.fill(bytes, start, start + footerLen / 2, 0xff.toByte)
    Files.write(garbage, bytes)
    val short = dir.resolve("six_bytes.parquet")
    Files.write(short, "PAR1PA".getBytes("US-ASCII"))
    for (f <- Seq(garbage, short)) {
      val e = intercept[java.io.IOException](FooterMeta.footer(conf, f.toString))
      assert(e.getMessage.contains(f.getFileName.toString), e.getMessage)
    }
  }

  test("StatsLevel NONE suppresses chunk min/max entirely") {
    val path = s"$work/statsoff"
    ParquetKnobs.write(WideTableGen.wide(spark, 5, 1000L), path,
      ParquetKnobs.WriteConfig(statsLevel = 0))
    val stats = FooterMeta.chunkStats(spark, Seq(path)).collect()
    assert(stats.nonEmpty && stats.forall(!_.has_min_max),
      "statsLevel=0 must write no min/max statistics (reference StatsLevel NONE)")
    val on = s"$work/statson"
    ParquetKnobs.write(WideTableGen.wide(spark, 5, 1000L), on,
      ParquetKnobs.WriteConfig(statsLevel = 1))
    assert(FooterMeta.chunkStats(spark, Seq(on)).collect().forall(_.has_min_max))
  }

  test("footer metadata agrees with a batch scan of the same table") {
    val meta = FooterMeta.fileMeta(spark, Seq(s"$sf/lineitem.parquet")).collect()
    val batchCount = Tables.lineitem(spark, sf).count()
    assert(meta.map(_.num_rows).sum === batchCount)
    assert(meta.head.num_columns === 11)
    assert(meta.head.footer_decode_us > 0)
  }

  test("bucketed join plan has no shuffle exchange before the join") {
    import graft.operators.Bucketing
    Bucketing.bucketedJoin(spark, sf).collect() // ensures tables + executes
    val plan = Bucketing.bucketedJoinPlan(spark).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join:\n$plan")
    // the only exchange allowed is the final single-partition order-by;
    // the join inputs must read bucket files directly
    val joinSection = plan.split("SortMergeJoin").last
    assert(!joinSection.contains("ShuffleExchange") && !joinSection.contains("Exchange hashpartitioning"),
      s"join inputs were shuffled:\n$plan")
  }

  test("partitioned read prunes to the matching partition directory") {
    import graft.operators.BenchOps
    BenchOps.k5PartitionedWrite(spark, sf).collect() // writes + executes
    val plan = BenchOps.partitionPrunedRead(spark).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*o_orderstatus[^\\]]*\\].*"),
      s"expected partition pruning on o_orderstatus:\n$plan")
  }

  test("chunk stats expose min/max presence and codec per chunk") {
    val stats = FooterMeta.chunkStats(spark, Seq(s"$sf/orders.parquet")).collect()
    assert(stats.nonEmpty)
    assert(stats.forall(_.num_values > 0))
    assert(stats.forall(_.has_min_max)) // driver testdata writes chunk stats
  }

  test("cached layouts regenerate when the source data changes") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.operators.{BenchOps, Bucketing, Similarity}
    // a private sfDir copy we can touch (testdata itself is read-only)
    val dir = s"$work/stale-sf"
    Files.createDirectories(Paths.get(dir))
    for (t <- Seq("lineitem", "orders", "embeddings", "documents"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

    // incremental-dedup base index: same fingerprint-keying discipline
    val i1 = graft.operators.Dedup.baseIndexDir(spark, dir)
    assert(graft.operators.Dedup.baseIndexDir(spark, dir) === i1)
    val docFile = new java.io.File(s"$dir/documents.parquet")
    assert(docFile.setLastModified(docFile.lastModified() + 2000))
    assert(graft.operators.Dedup.baseIndexDir(spark, dir) !== i1,
      "touched documents must produce a fresh base postings index")

    // sorted-lineitem layout: same source -> same path; touched source
    // -> new path (forced regeneration)
    val p1 = BenchOps.sortedLineitemPath(spark, dir)
    assert(BenchOps.sortedLineitemPath(spark, dir) === p1, "unchanged source must reuse")
    val liFile = new java.io.File(s"$dir/lineitem.parquet")
    assert(liFile.setLastModified(liFile.lastModified() + 2000))
    val p2 = BenchOps.sortedLineitemPath(spark, dir)
    assert(p2 !== p1, "touched source must produce a fresh sorted layout")

    // banded ANN layout: same fingerprint-keying discipline
    val a1 = Similarity.bucketedLayoutPath(spark, dir)
    val embFile = new java.io.File(s"$dir/embeddings.parquet")
    assert(embFile.setLastModified(embFile.lastModified() + 2000))
    assert(Similarity.bucketedLayoutPath(spark, dir) !== a1,
      "touched embeddings must produce a fresh banded layout")

    // bucketed join tables: rewrite on first use + after a touch,
    // reuse (no rewrite) in between — so bench loops measure the join
    assert(Bucketing.ensureBucketTables(spark, dir), "first call must write")
    assert(!Bucketing.ensureBucketTables(spark, dir), "unchanged source must reuse")
    val oFile = new java.io.File(s"$dir/orders.parquet")
    assert(oFile.setLastModified(oFile.lastModified() + 2000))
    assert(Bucketing.ensureBucketTables(spark, dir), "touched source must rewrite")
  }

  test("compaction reduces file count without changing the data") {
    val rows = BenchOps.k8Compaction(spark, TestSpark.sf).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.orders(spark, TestSpark.sf).count())
    val files = BenchOps.compactedFileCount(spark)
    assert(files < 64, s"compaction must shrink the 64-file fixture, got $files")
    assert(files >= 1)
  }

  test("json roundtrip preserves rows and typed values under an explicit schema") {
    import org.apache.spark.sql.functions._
    val rows = BenchOps.s13JsonRoundtrip(spark, TestSpark.sf).collect()
    assert(rows.map(_.getLong(1)).sum === Tables.events(spark, TestSpark.sf).count())
    // id_sum is an exact integer — any row loss or type corruption shows
    val direct = Tables.events(spark, TestSpark.sf)
      .agg(sum("event_id")).head().getLong(0)
    assert(rows.map(_.getLong(2)).sum === direct)
  }

  test("binaryFile ingest parses ids from filenames and matches the table payloads") {
    val rows = Multimodal.ingestFiles(spark, TestSpark.sf).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("audio", "image", "video"))
    val expected = Tables.documents(spark, TestSpark.sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 25 === 0).count()
    assert(rows.map(_.getLong(1)).sum === expected, "one file per selected doc")
    // stub dimensions are bounded by construction
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(3) >= 64 * n && r.getLong(3) < (64 + 1856) * n)
      assert(r.getLong(4) >= 64 * n && r.getLong(4) < (64 + 1016) * n)
    }
  }

  test("aggregate pushdown serves COUNT/MIN/MAX from footer stats and restores confs") {
    val v1Before = spark.conf.get("spark.sql.sources.useV1SourceList")
    val aggBefore = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    val r = graft.operators.BenchOps.s14AggPushdown(spark, TestSpark.sf).head()
    assert(r.getBoolean(5), "the plan must show PushedAggregation — a full scan is a regression")
    assert(r.getLong(0) === 1000000L && r.getLong(1) === 0L && r.getLong(2) === 999999L)
    assert(r.getDouble(3) === 0.0 && r.getDouble(4) === 999.0)
    assert(!(1.0 / r.getDouble(3) < 0), "zero sign must be normalized (+0.0, not parquet's -0.0 min)")
    assert(spark.conf.get("spark.sql.sources.useV1SourceList") === v1Before, "v1-list restored")
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") === aggBefore, "agg conf restored")
  }

  test("bloom-filter knob writes a working bloom on k only, and probes behave") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = graft.operators.BenchOps.k9BloomKnob(spark, TestSpark.sf).head()
    assert(r.getBoolean(1), "k must carry a bloom filter")
    assert(!r.getBoolean(2), "v must not carry a bloom filter")
    assert(r.getLong(3) === 1L && r.getLong(4) === 0L && r.getLong(5) === 123456L)
    // load the filter itself: present keys can NEVER be rejected, and
    // absent keys must reject at ~FPP (deterministic file -> stable)
    val dir = s"${graft.WorkDirs.rootActive}/bloom/bloom_knob_200000"
    val conf = spark.sparkContext.hadoopConfiguration
    val part = new Path(dir).getFileSystem(conf).listStatus(new Path(dir))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(part, conf))
    try {
      val block = reader.getFooter.getBlocks.get(0)
      val colK = block.getColumns.asScala.find(_.getPath.toDotString == "k").get
      val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(colK)
      assert(bloom != null, "bloom filter bytes must be readable")
      val presentFound = (0 until 100)
        .count(i => bloom.findHash(bloom.hash(i.toLong * 2)))
      val absentFound = (0 until 100)
        .count(i => bloom.findHash(bloom.hash(i.toLong * 2 + 1)))
      assert(presentFound === 100, "a bloom filter has no false negatives")
      assert(absentFound <= 5, s"absent keys must reject at ~1% FPP, found $absentFound/100")
    } finally reader.close()
  }

  test("CBO join reorder moves the selective dimension ahead of the fact-fact join") {
    import graft.operators.Bucketing
    Bucketing.ensureCboTables(spark, sf)
    def scoped(cbo: Boolean): Seq[String] = {
      val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      val saved = keys.map(k => k -> spark.conf.get(k))
      try {
        keys.foreach(spark.conf.set(_, cbo.toString))
        Bucketing.leafOrder(spark)
      } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
    val off = scoped(cbo = false)
    val on = scoped(cbo = true)
    // heuristic-only optimization keeps the written order: lineitem first
    assert(off.head === "graft_cbo_lineitem",
      s"without CBO the written fact-first order must survive: $off")
    assert(on !== off, s"CBO must rewrite the join tree: on=$on off=$off")
    // the costed order starts from the dimension side, not fact ⋈ fact
    assert(on.head !== "graft_cbo_lineitem",
      s"CBO must not keep the fact table as the leftmost leaf: $on")
  }

  test("k14: logical-type census decodes the full annotation surface") {
    val rows = BenchOps.k14LogicalTypes(spark, sf).collect()
      .map(r => r.getString(1) -> r).toMap
    def f(c: String, field: String) =
      rows(c).get(rows(c).schema.fieldIndex(field))
    // DECIMAL carries precision+scale on all three physicals
    assert(f("d_i32", "logical") === "DECIMAL" && f("d_i32", "precision") === 9
      && f("d_i32", "scale") === 2 && f("d_i32", "physical") === "INT32")
    assert(f("d_flba", "physical") === "FIXED_LEN_BYTE_ARRAY"
      && f("d_flba", "type_length") === 16 && f("d_flba", "precision") === 38)
    // TIMESTAMP unit × utc combinations
    assert(f("ts_ms_utc", "unit") === "MILLIS" && f("ts_ms_utc", "utc") === 1)
    assert(f("ts_us_local", "unit") === "MICROS" && f("ts_us_local", "utc") === 0)
    assert(f("ts_ns_utc", "unit") === "NANOS" && f("ts_ns_utc", "utc") === 1)
    // INT bit width + signedness
    assert(f("i8", "bit_width") === 8 && f("i8", "signed") === 1)
    assert(f("u16", "bit_width") === 16 && f("u16", "signed") === 0)
    assert(f("u64", "bit_width") === 64 && f("u64", "signed") === 0)
    // the rest of the surface
    assert(f("uid", "logical") === "UUID" && f("uid", "type_length") === 16)
    assert(f("js", "logical") === "JSON" && f("js", "physical") === "BYTE_ARRAY")
    assert(f("dt", "logical") === "DATE")
    assert(f("t_ms", "logical") === "TIME" && f("t_ms", "unit") === "MILLIS")
    assert(f("s", "logical") === "STRING" && f("en", "logical") === "ENUM")
    assert(f("f32", "logical") === "NONE" && f("raw", "logical") === "NONE")
    // the annotations sit on a real 4-row file (footer-counted: Spark's
    // own reader has no Catalyst mapping for UUID/ENUM columns)
    val meta = FooterMeta.fileMeta(spark,
      Seq(s"${graft.WorkDirs.rootActive}/ltypes/typed.parquet")).collect()
    assert(meta.head.num_rows === 4 && meta.head.num_columns === 17)
  }

  test("k15: field IDs round-trip through the writer and the no-ID sentinel holds") {
    val rows = BenchOps.k15FieldIds(spark, sf).collect()
      .map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(rows === Map(
      "order_key" -> 1, "status" -> 2, "total" -> 100, "no_id" -> -1))
  }

  test("k14: BSON annotation decodes too (spec-only file — DuckDB can't read it)") {
    // DuckDB rejects converted type 20, so BSON stays out of the oracled
    // fixture; the census itself must still decode it
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val file = s"$work/bson_fixture.parquet"
    val schema = Types.buildMessage()
      .required(BINARY).as(LTA.bsonType()).named("bs")
      .named("bson_only")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf).withType(schema)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("bs", Binary.fromConstantByteArray(Array[Byte](5, 0, 0, 0, 0))))
    finally w.close()
    val row = FooterMeta.logicalTypes(spark, Seq(file)).collect().head
    assert(row.logical === "BSON" && row.physical === "BYTE_ARRAY")
  }

  test("k14: INT96 physical type decodes too (spec-only file — deprecated type, no annotation)") {
    // INT96 (src/flatbuff_ns.fbs:12) is deprecated with no logical
    // annotation and parquet-mr's example API still writes it as a
    // 12-byte value; like BSON it stays out of the oracled fixture
    // (Spark's own INT96 path is a timestamp coercion, not a census
    // subject) but the footer census must decode the physical type
    import org.apache.parquet.example.data.simple.{NanoTime, SimpleGroupFactory}
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val file = s"$work/int96_fixture.parquet"
    val schema = Types.buildMessage()
      .required(INT96).named("ts96")
      .named("int96_only")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf).withType(schema)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts96", new NanoTime(2460000, 43200L * 1000 * 1000 * 1000)))
    finally w.close()
    val row = FooterMeta.logicalTypes(spark, Seq(file)).collect().head
    assert(row.physical === "INT96",
      s"footer census must surface the deprecated physical type, got ${row.physical}")
    assert(row.logical === "NONE", "INT96 carries no logical annotation")
  }
}
