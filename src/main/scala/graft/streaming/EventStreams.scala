package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table (net-new: SURVEY
  * §2.11 — the reference has no streaming; this is the engine's stream
  * path for the same windowed aggregations the batch side runs).
  *
  * The driver's correctness gate is batch (DuckDB), so the streaming
  * query is driven to completion synchronously (memory sink +
  * processAllAvailable) and its result returned as a DataFrame — the
  * stream and batch answers must agree, which is exactly the
  * Dataflow-model property Structured Streaming guarantees for a static
  * source read to end-of-input.
  *
  * Scale: tumbling-window count/sum with a watermark is incremental
  * state of O(open windows × event types) — safe on an unbounded stream;
  * kept small here only by the test data.
  */
object EventStreams {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Memory-sink tables from PRIOR invocations hold their full results
    * until dropped; a bench/verify session that constructs each
    * streaming query several times would otherwise accumulate sinks and
    * spend its tail in GC (measured: 27 s vs 6 s for the append query
    * late in a full bench sweep). Each new streaming query first drops
    * the stale sinks — safe because a prior invocation's frame is
    * always consumed before the next one is constructed.
    */
  private def dropStaleSinks(spark: SparkSession): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))

  /** Runs a drive-to-completion streaming query with a state partition
    * count matched to the HARNESS scale: each micro-batch commits one
    * state store per shuffle partition, and at verify-scale state sizes
    * (a few thousand keys) 32 stores are pure per-batch overhead — 8
    * partitions halve the wall time of the 3-batch append query. The
    * streaming state partition count is fixed at the FIRST batch of a
    * checkpoint, so the conf flip is safe here (fresh temp checkpoint
    * per call) and restored immediately; a lake deployment would size
    * it to state volume (thousands of partitions), not lower it.
    */
  private def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** The on-disk type of events.ts for this sfDir — LongType in the
    * nanos-era testdata (nanosAsLong), TimestampType in the
    * micros-era (see [[graft.Tables.events]]). FileStreamSource needs
    * an explicit schema, and it must match the files, so resolve it
    * from the batch reader's footer-derived schema once per file
    * version: keyed by the file's [[graft.sources.LayoutCache]]
    * fingerprint, so a rewrite under the same path is re-read.
    */
  private val tsTypeCache = new java.util.concurrent.ConcurrentHashMap[String, DataType]()
  private[graft] def rawTsType(spark: SparkSession, sfDir: String): DataType = {
    val events = s"$sfDir/events.parquet"
    val fp = graft.sources.LayoutCache.fingerprint(spark.sparkContext.hadoopConfiguration, events)
    tsTypeCache.computeIfAbsent(s"$events|$fp", _ =>
      spark.read.parquet(events).schema("ts").dataType)
  }

  /** Writes `df` as the one parquet file `file` (through a temp dir
    * beside it): staged stream inputs are one file per micro-batch.
    */
  private def writeOneFile(spark: SparkSession, df: DataFrame, file: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(s"$file-tmp")
    val fs = tmp.getFileSystem(conf)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    FileUtil.copy(fs, part, fs, new Path(file), false, conf)
    fs.delete(tmp, true)
  }

  /** Schema of the raw events parquet with ts as this data's type. */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Normalize ts to TimestampType micros whatever its raw layout —
    * the streaming twin of [[graft.Tables.events]]'s match.
    */
  private def normTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType            => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _                   => df
  }

  /** FileStreamSource needs a directory; the testdata table is a single
    * file, so stream the parent dir with a glob filter pinned to it.
    * ts arrives already normalized to TimestampType micros.
    */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    normTs(spark.readStream
      .schema(rawSchema(rawTsType(spark, sfDir)))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))

  /** One synthetic event row (sentinel / watermark advancer) with ts in
    * the same layout as the staged raw file, so a staged directory that
    * mixes copied raw parquet with synthetic rows stays schema-uniform
    * for the stream reader. tsNanos is the canonical input; the
    * micros-era cast truncates to the same instant.
    */
  private def syntheticEvent(spark: SparkSession, tsType: DataType,
      id: Long, tsNanos: Long, tp: String): DataFrame = {
    import spark.implicits._
    val base = Seq((id, tsNanos, id, tp, 0.0, """{"k": 0}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    tsType match {
      case LongType => base
      case t => base.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast(t))
    }
  }

  /** 10-minute tumbling-window counts per event type, computed by a real
    * streaming query (readStream → watermark → window agg → memory sink).
    */
  def streamWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    dropStaleSinks(spark)
    val name = s"graft_stream_win_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** SLIDING-window twin of [[streamWindow]]: 20-minute windows sliding
    * every 10 — each event contributes to exactly width/slide = 2
    * overlapping windows, the shape rate/latency dashboards use.
    * State per key is ×(width/slide) the tumbling cost, which is the
    * scale knob to watch: the watermark still bounds it. The DuckDB
    * oracle expands each event to its two window starts explicitly
    * (epoch-aligned like Spark's window()) and aggregates.
    */
  def streamWindowSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "20 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    dropStaleSinks(spark)
    val name = s"graft_stream_slide_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** Streaming drift gate — the production monitor that watches a live
    * event feed's VALUE DISTRIBUTION day by day and raises the same PSI
    * bands [[graft.operators.Curation.psiDrift]] scores batch corpora
    * with: the model-quality regression alarm (a payment-amount mix
    * shift, a feature pipeline emitting zeros) that a mean-only monitor
    * misses. Stream side is the scale-correct shape: watermarked
    * day-windowed (window, bucket) counts — state is (#open days ×
    * #buckets) however large the feed — with values bucketed into
    * power-of-two micro-unit buckets AT INGEST (one codegen'd
    * projection, no per-event state).
    *
    * The PSI fold runs post-sink on the (day × bucket) count grid —
    * model-sized, so the exact-integer arithmetic ([[psiDrift]]'s
    * composite-ln micro-nat quantization, every term ≥ 0, truncating
    * div) costs nothing per event; the global baseline is the SAME
    * grid summed over days (no second scan of the feed).
    *
    * Overflow bound (inherited from [[psiDrift]]'s r13 fold, same
    * arithmetic): the per-term numerator
    * ((c_w+1)(n+nB) − (cnt_g+1)(n_w+nB)) · ln_micro rides in
    * DECIMAL(38,0) — exact int128 on both engines — bounded by
    * n² · 2·10⁷, inside 10³⁸ up to n ≈ 2·10¹⁵ total events (the old
    * BIGINT fold wrapped silently past ~10⁷–10⁸). The STATE stays
    * (#days × #buckets) however large the feed. [[PsiFoldSpec]]
    * exercises the shared arithmetic at ≥10⁹-event mass.
    */
  def streamDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val src = eventsStream(spark, sfDir)
    val counts = src
      .withWatermark("ts", "1 hour")
      .withColumn("b", expr(
        "length(bin(greatest(cast(round(value * 1000000) as bigint), 1))) - 1"))
      .groupBy(window(col("ts"), "1 day"), col("b"))
      .agg(count(lit(1)).as("c"))
    dropStaleSinks(spark)
    val name = s"graft_stream_drift_${counter.incrementAndGet()}"
    withStatePartitions(spark, 4) {
      val q = counts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // localCheckpoint: the PSI fold references the sink grid three ways
    // (per-day, global, left-join back); MemoryPlan self-joins fail
    // attribute dedup, and the checkpoint also pins the grid so the
    // fold never re-reads a sink a later test could drop
    val wb = spark.table(name)
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("b"), col("c"))
      .transform(graft.Ckpt.pin("EventStreams.streamDrift.sinkGrid"))
    val glob = wb.groupBy("b").agg(sum("c").as("cnt_g"))
    val nDay = wb.groupBy("day").agg(sum("c").as("n_w"))
    // two exact integer scalars off the model-sized sink grid
    val n = wb.agg(sum("c")).head.getLong(0)
    val nB = glob.count()
    val terms = nDay.crossJoin(broadcast(glob))
      .join(wb.withColumnRenamed("c", "c_w"), Seq("day", "b"), "left")
      .na.fill(0L, Seq("c_w"))
      .withColumn("ln_micro", expr(
        s"""cast(round((ln(cast(c_w + 1 as double)) - ln(cast(n_w + $nB as double))
           | - ln(cast(cnt_g + 1 as double)) + ln(cast(${n + nB}L as double))) * 1000000)
           | as bigint)""".stripMargin))
      // DECIMAL(38,0) = exact int128 (psiDrift r13 discipline): no
      // silent Long wrap past ~1e8 events
      .withColumn("term", expr(
        s"""(cast(c_w + 1 as decimal(20,0)) * ${n + nB}L
           | - cast(cnt_g + 1 as decimal(20,0)) * (n_w + $nB)) * ln_micro"""
          .stripMargin))
    terms.groupBy("day")
      .agg(max("n_w").as("n_events"), count(lit(1)).as("n_buckets"),
        expr(s"sum(term) div (cast(max(n_w) + $nB as decimal(20,0)) * ${n + nB}L)")
          .as("psi_micro_nats"))
      .withColumn("band",
        when(col("psi_micro_nats") < 100000L, "stable")
          .when(col("psi_micro_nats") < 200000L, "minor")
          .otherwise("major"))
      .orderBy("day")
  }

  /** Append-mode twin of [[streamWindow]] — the 100 TB shape: watermark
    * EVICTS window state and each window is emitted exactly once when
    * the watermark passes its end, instead of complete-mode's
    * re-materialization of every window each batch.
    *
    * Drive-to-completion mechanics: the source directory is staged as
    * (1) the real events file, then (2) a far-future sentinel event,
    * processed as separate micro-batches (maxFilesPerTrigger=1, files
    * ordered by mod time). The sentinel pushes the watermark past every
    * real window's end; Spark's no-data micro-batch then flushes the
    * remaining state, so the append output equals the batch answer for
    * ALL real windows — which is exactly x_stream_window's oracle. The
    * sentinel's own window never closes and is never emitted.
    */
  def streamWindowAppend(spark: SparkSession, sfDir: String): DataFrame = {
    // staged (events, far-future sentinel) dir — keyed on the source
    // fingerprint and reused across invocations (bench repeats then
    // time the STREAMING query, not the staging); see [[stagedAppendDir]]
    val stageDir = stagedAppendDir(spark, sfDir)

    val src = normTs(spark.readStream
      .schema(rawSchema(rawTsType(spark, sfDir)))
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir))
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    dropStaleSinks(spark)
    val name = s"graft_stream_append_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .filter(col("event_type") =!= "__sentinel")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** Native `session_window` sessionization — the built-in gap-based
    * session operator (one output row per session, window end = last
    * event + gap), complementing [[sessionize]]'s window-function
    * formulation and [[statefulSessions]]'s mapGroupsWithState state
    * machine. Per-user daily session stats keep the output deterministic
    * and compact; the oracle rebuilds identical sessions with a
    * lag/cumulative-sum in DuckDB (which has no native session window —
    * exactly why the native operator is worth surfacing).
    *
    * Scale: session_window aggregates shuffle on (user, session) after
    * a map-side sort — no full-corpus window function; in streaming the
    * same expression runs under a watermark with merging session state.
    */
  def sessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "s_start")
      .limit(500)
  }

  /** Late-data accounting: the watermark's DROP side, measured exactly.
    *
    * Staging splits the events file into four micro-batches:
    * (1) the on-time bulk (event_id % 5 != 0) — its max timestamp M
    * sets the watermark to M−1h; (2) a one-row on-time advancer —
    * needed because Spark (3.4+, SPARK-40925) filters late events
    * against the PREVIOUS batch's committed watermark
    * (`watermarkForLateEvents`), so the bulk watermark only becomes
    * the drop threshold one batch later; (3) the late cohort
    * (event_id % 5 == 0), now genuinely behind the committed
    * watermark, so every late row whose 10-minute window already
    * closed (window end ≤ M−1h) is dropped by the aggregation while
    * late rows in still-open windows are merged; (4) a far-future
    * sentinel that flushes remaining state.
    * The memory-sink output therefore equals the batch answer
    * over "bulk ∪ late-rows-in-open-windows" — which is exactly the
    * DuckDB oracle's predicate, so the drop semantics are verified
    * value-for-value, not just counted. Timestamps carry microsecond
    * components while window ends are whole minutes, so the
    * open/closed test never lands on the ambiguous equality boundary.
    *
    * Scale: identical plan to [[streamWindowAppend]] — watermark-backed
    * state eviction keeps the store bounded regardless of how late the
    * stragglers are; the drop is a per-row predicate against the
    * current watermark, no state lookup.
    */
  def streamLateData(spark: SparkSession, sfDir: String): DataFrame = {
    val stageDir = graft.Staged.dir(spark, "stream/events_late",
        Seq(s"$sfDir/events.parquet")) { stageDir =>
      val tsT = rawTsType(spark, sfDir)
      val raw = spark.read.schema(rawSchema(tsT)).parquet(s"$sfDir/events.parquet")
      def stagePart(df: DataFrame, name: String): Unit =
        writeOneFile(spark, df, s"$stageDir/$name.parquet")
      val bulk = raw.filter(col("event_id") % 5 =!= 0)
      stagePart(bulk, "0_bulk")
      // on-time row at the bulk max timestamp: watermark-neutral, but
      // forces the batch boundary that commits the bulk watermark
      // before the late cohort arrives (ts-layout-agnostic: the max
      // aggregate keeps the raw column type)
      stagePart(bulk.agg(max("ts").as("ts")).select(
        lit(-2L).as("event_id"), col("ts"), lit(-2L).as("user_id"),
        lit("__advance").as("event_type"), lit(0.0).as("value"),
        lit("""{"k": 0}""").as("props")), "1_advance")
      stagePart(raw.filter(col("event_id") % 5 === 0), "2_late")
      stagePart(syntheticEvent(spark, tsT, -1L, 4102444800L * 1000000000L, "__sentinel"),
        "3_sentinel")
    }

    val src = normTs(spark.readStream
      .schema(rawSchema(rawTsType(spark, sfDir)))
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir))
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    dropStaleSinks(spark)
    val name = s"graft_stream_late_${counter.incrementAndGet()}"
    // 5 micro-batches (4 staged files + eviction) × one windowed-agg
    // store per partition: 4 partitions halve the commit-cycle count
    // vs 8 with identical output (state is a few thousand window keys;
    // same-phase A/B medians 2.24 s vs 2.66 s)
    withStatePartitions(spark, 4) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .filter(!col("event_type").isin("__sentinel", "__advance"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket", "event_type")
  }

  /** Streaming ETL to a DURABLE sink: the append-mode windowed
    * aggregate written through Spark's transactional FileStreamSink
    * (parquet + `_spark_metadata` commit log) instead of the memory
    * sink, then read back as a plain batch table. This is the
    * 100 TB shape end to end — an unbounded stream compacting into a
    * queryable lake table with exactly-once file commits (a task
    * retry re-writes the file, the commit log keeps one) — and the
    * result must STILL equal the batch answer for all closed windows,
    * so it shares [[streamWindowAppend]]'s oracle.
    *
    * The sink directory is a layer keyed on the source fingerprint
    * ([[graft.Staged]]), rebuilt from a fresh checkpoint over the
    * staged input when absent or stale; the read-back goes through
    * the commit log (Spark lists `_spark_metadata`, not the raw
    * directory), which is what makes concurrent-writer garbage
    * invisible to readers at scale.
    */
  def streamFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val outDir = graft.Staged.dir(spark, "stream/events_filesink",
        Seq(s"$sfDir/events.parquet")) { outDir =>
      val src = normTs(spark.readStream
        .schema(rawSchema(rawTsType(spark, sfDir)))
        .option("maxFilesPerTrigger", "1")
        .parquet(stagedAppendDir(spark, sfDir)))
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
      withStatePartitions(spark, 8) {
        val q = agg.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$outDir/data")
          .option("checkpointLocation", s"$outDir/chk")
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
    }
    spark.read.parquet(s"$outDir/data")
      .filter(col("event_type") =!= "__sentinel")
      .orderBy("bucket", "event_type")
  }

  /** The staged (events file, far-future sentinel) directory used by
    * [[streamWindowAppend]], extracted so the file-sink twin reuses the
    * same two-batch drive-to-completion input.
    */
  private def stagedAppendDir(spark: SparkSession, sfDir: String): String =
    graft.Staged.dir(spark, "stream/events_append", Seq(s"$sfDir/events.parquet")) { stageDir =>
      import org.apache.hadoop.fs.{FileUtil, Path}
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(stageDir).getFileSystem(conf)
      FileUtil.copy(fs, new Path(s"$sfDir/events.parquet"),
        fs, new Path(s"$stageDir/0_events.parquet"), false, conf)
      writeOneFile(spark, syntheticEvent(spark, rawTsType(spark, sfDir), -1L,
        4102444800L * 1000000000L, "__sentinel"), s"$stageDir/1_sentinel.parquet")
    }

  /** Streaming point-in-time enrichment through the CUSTOM as-of exec
    * (round-11): each micro-batch of clicks is enriched against the
    * static views dimension via [[graft.plans.AsOfJoin.asof]] inside
    * `foreachBatch` — THE production pattern for running a batch-side
    * operator (custom exec included) in a Structured Streaming
    * pipeline, and the Spark expression of Flink's event-time temporal
    * join against a slowly-changing dimension. Because the dimension
    * is static and as-of enrichment is per-row, the union of per-batch
    * outputs equals the batch as-of EXACTLY, whatever the micro-batch
    * boundaries — so the query shares [[asofNative]]'s oracle verbatim
    * (the x_scd2_pit twin discipline), and multi-batch execution is
    * real (the staged dir's sentinel file forms a second batch; its
    * zero clicks must not disturb the census).
    *
    * Scale: the dimension loads once per batch as a co-partitioned
    * side of the merge (at lake scale it would be a snapshot read);
    * per-batch cost is the batch's own as-of — no streaming state at
    * all, which is the point: the state LIVES in the dimension table.
    */
  def streamAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("ts_us").as("v_ts"))
    val stageDir = stagedAppendDir(spark, sfDir)
    val src = normTs(spark.readStream
      .schema(rawSchema(rawTsType(spark, sfDir)))
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir))
      .filter(col("event_type") === "click")
    dropStaleSinks(spark)
    val outDir =
      s"${graft.WorkDirs.rootActive}/stream/asof_out_${counter.incrementAndGet()}"
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val clicks = batch.select(col("user_id").as("c_user"),
          col("event_id").as("c_id"), unix_micros(col("ts")).as("c_ts"))
        graft.plans.AsOfJoin.asof(clicks, views,
            Seq(clicks("c_user")), Seq(views("v_user")),
            clicks("c_ts"), views("v_ts"), Seq(views("v_id")))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.read.parquet(outDir)
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("v_id")).as("n_matched"),
        sum(col("c_ts") - col("v_ts")).as("total_gap_us"),
        sum(col("v_id")).as("matched_view_id_sum"))
  }

  /** Streaming exact deduplication — `dropDuplicatesWithinWatermark` on
    * event_id, the streaming twin of [[graft.operators.Dedup.exactKeep]]:
    * dedup state is EVICTED once the watermark passes an event's time,
    * so state stays bounded on an unbounded stream (plain
    * dropDuplicates would grow forever). The input is the events file
    * read by TWO file sources unioned, so every event genuinely arrives
    * twice and the operator must drop half; the deduped append output,
    * re-aggregated, equals the batch per-type counts (DuckDB oracle).
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    def src() = eventsStream(spark, sfDir)
      .select("event_id", "ts", "event_type", "value")
    val doubled = src().unionByName(src())
    val deduped = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    dropStaleSinks(spark)
    val name = s"graft_stream_dedup_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  /** Batch sessionization via window functions (the SQL-expressible twin
    * of mapGroupsWithState): a session breaks after a 30-minute gap per
    * user. Emits per-user session stats.
    *
    * Scale: one shuffle on user_id; the running-sum window is a single
    * sort within each user partition — the standard sessionize plan.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val sessions = ev
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy("user_id")
      .agg(
        max("session_id").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
      .limit(200)
  }

  /** Event projection used by the stateful stream (ts in epoch micros). */
  final case class SessionEvent(event_id: Long, ts_us: Long, user_id: Long)

  /** Per-user session state carried across micro-batches. */
  final case class SessionState(lastTsUs: Long, nSessions: Long, nEvents: Long)

  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** True stateful streaming sessionization via mapGroupsWithState —
    * the KeyValueGroupedDataset path. Within a micro-batch events are
    * sorted per user (stream iterators carry no order guarantee), then
    * folded into (last ts, session count) state; a >30 min gap opens a
    * new session. Must produce exactly w2_sessionize's answer, so it
    * shares that DuckDB oracle.
    *
    * Scale: state is O(users) × 24 bytes — the bounded-state shape that
    * survives an unbounded stream (vs. buffering events).
    */
  def statefulSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}
    val src = eventsStream(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
      .as[SessionEvent]
    val gapUs = 1800L * 1000000L
    val out = src.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (user, events, state: GroupState[SessionState]) =>
          val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val newSession = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > gapUs
            st = SessionState(e.ts_us, st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1)
          }
          state.update(st)
          UserSessions(user, st.nSessions, st.nEvents)
      }
    dropStaleSinks(spark)
    val name = s"graft_stream_sess_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = out.writeStream
        .outputMode(OutputMode.Update())
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name).orderBy("user_id").limit(200)
  }

  /** Per-user session state machine for [[statefulSessionsTws]] — the
    * arbitrary-state processor of Spark 4's transformWithState API.
    * Identical fold to [[statefulSessions]]'s mapGroupsWithState
    * closure, carried in a typed ValueState cell.
    */
  private class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, UserSessions] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("sess",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(user: Long, events: Iterator[SessionEvent],
        tv: TimerValues): Iterator[UserSessions] = {
      val gapUs = 1800L * 1000000L
      val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var s = if (st.exists()) st.get() else SessionState(Long.MinValue, 0L, 0L)
      sorted.foreach { e =>
        val newSession = s.lastTsUs == Long.MinValue || e.ts_us - s.lastTsUs > gapUs
        s = SessionState(e.ts_us, s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
      }
      st.update(s)
      Iterator.single(UserSessions(user, s.nSessions, s.nEvents))
    }
  }

  /** Typed event for the timer-driven session stream (ts kept as a
    * timestamp for the watermark, µs long for arithmetic).
    */
  final case class TwsEvent(event_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      user_id: Long, value: Double)

  /** One closed session, in w8_session_window's output shape. */
  final case class ClosedSession(user_id: Long, s_start: String, s_end: String,
      n_events: Long, sum_value: Double)

  /** Open-session accumulator carried in ValueState. */
  final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long, sumValue: Double)

  /** Timer-driven gap sessionization — the flagship of the new API:
    * a session CLOSES when the event-time watermark passes
    * last-event + gap, detected by a per-user event-time TIMER rather
    * than by the next event's arrival, so sessions are emitted even
    * for users who never return. Gap-split semantics match the native
    * session_window (an exact-gap tie SPLITS: `>=`), so the output is
    * w8_session_window's rows and shares its oracle.
    */
  private class SessionTimerProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsEvent, ClosedSession] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var open: ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    private def fmt(us: Long): String =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

    private def close(s: OpenSession, user: Long): ClosedSession =
      ClosedSession(user, fmt(s.startUs),
        fmt(s.lastUs + gapUs),
        s.nEvents,
        // match Spark's round(sum(value), 2): BigDecimal.valueOf
        // (decimal-string route) + HALF_UP, like RoundBase
        java.math.BigDecimal.valueOf(s.sumValue)
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())

    override def handleInputRows(user: Long, events: Iterator[TwsEvent],
        tv: TimerValues): Iterator[ClosedSession] = {
      val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
      val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = if (open.exists()) Option(open.get()) else None
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts_us - s.lastUs < gapUs =>
            cur = Some(OpenSession(s.startUs, e.ts_us, s.nEvents + 1, s.sumValue + e.value))
          case Some(s) => // exact-gap tie splits (session_window semantics)
            out += close(s, user)
            cur = Some(OpenSession(e.ts_us, e.ts_us, 1L, e.value))
          case None =>
            cur = Some(OpenSession(e.ts_us, e.ts_us, 1L, e.value))
        }
      }
      cur.foreach { s =>
        open.update(s)
        // one timer per key: re-arm to the open session's close time
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(Math.floorDiv(s.lastUs, 1000L) + gapUs / 1000L)
      }
      out.iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSession] =
      if (open.exists()) {
        val s = open.get()
        open.clear()
        Iterator.single(close(s, user))
      } else Iterator.empty
  }

  /** Append-style session emission driven by event-time timers: the
    * staged (events, far-future sentinel) input pushes the watermark
    * past every real session's close time, so every session is emitted
    * exactly once — by a TIMER, not by a successor event — and the
    * total output equals the batch session_window answer
    * (w8_session_window's oracle). transformWithState requires the
    * RocksDB store; the sentinel user's own session is dropped.
    *
    * Scale: state is one OpenSession + one timer per ACTIVE user —
    * the bounded-state sessionization that emits immediately at
    * watermark passage instead of buffering whole sessions windows.
    */
  def streamSessionTimers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stageDir = stagedAppendDir(spark, sfDir)
      val src = normTs(spark.readStream
        .schema(rawSchema(rawTsType(spark, sfDir)))
        .option("maxFilesPerTrigger", "1")
        .parquet(stageDir))
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("value"))
        .as[TwsEvent]
      val out = src.groupByKey(_.user_id)
        .transformWithState(new SessionTimerProcessor(1800L * 1000000L),
          TimeMode.EventTime(), OutputMode.Append())
      dropStaleSinks(spark)
      val name = s"graft_stream_sesstimer_${counter.incrementAndGet()}"
      withStatePartitions(spark, 8) {
        val q = out.writeStream
          .outputMode(OutputMode.Append())
          .format("memory")
          .queryName(name)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      spark.table(name)
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "s_start")
        .limit(500)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Sessionization via Spark 4's transformWithState — the NEW
    * arbitrary-state API (typed ValueState/ListState/MapState cells,
    * timers, TTL) that supersedes mapGroupsWithState for custom
    * streaming state. Must produce exactly [[statefulSessions]]' /
    * w2_sessionize's answer, so it shares that DuckDB oracle.
    *
    * transformWithState REQUIRES the RocksDB state store provider —
    * state lives in per-partition RocksDB instances on local disk, the
    * backend whose working set is not bounded by executor heap. That is
    * the 100 TB posture: O(users) state cells spilled to disk, the
    * provider conf pinned at the first batch of the fresh checkpoint.
    */
  def statefulSessionsTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = eventsStream(spark, sfDir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
        .as[SessionEvent]
      val out = src.groupByKey(_.user_id)
        .transformWithState(new SessionProcessor, TimeMode.None(), OutputMode.Update())
      dropStaleSinks(spark)
      val name = s"graft_stream_tws_${counter.incrementAndGet()}"
      withStatePartitions(spark, 8) {
        val q = out.writeStream
          .outputMode(OutputMode.Update())
          .format("memory")
          .queryName(name)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      spark.table(name).orderBy("user_id").limit(200)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** W3 — as-of join composed from existing operators (the preference-
    * order (a) route: no custom SparkPlan needed): each 'click' event is
    * matched to the latest prior-or-equal 'view' event of the same user
    * via last(ignoreNulls) over a (ts, event_id)-ordered user window —
    * the union+window formulation of ASOF, one shuffle on user_id.
    * All comparisons run on µs integers on both engines so nanosecond
    * truncation can't skew the match.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = ev
      .withColumn("view_ts", when(col("event_type") === "view", col("ts_us")))
      .withColumn("last_view_ts", last("view_ts", ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
    matched.agg(
      count(lit(1)).as("n_clicks"),
      count(col("last_view_ts")).as("n_matched"),
      round(avg((col("ts_us") - col("last_view_ts")) / 1000000.0), 4).as("avg_gap_s"))
  }

  /** W13 — the SAME as-of semantics through the custom physical
    * operator ([[graft.plans.AsOfJoinExec]] — the preference-order (c)
    * route end to end: logical node, planner strategy, co-partitioned
    * merge exec). Clicks and views arrive as two SEPARATE frames (the
    * true binary-join shape the (a)-route union trick sidesteps); every
    * click picks the latest view of its user with `v_ts ≤ c_ts`,
    * deterministic under the (v_ts, v_id) tiebreak. The matched-view-id
    * SUM rides in the output, so the oracle certifies WHICH view each
    * click matched, not just how many matched.
    *
    * Scale: two hash-clustered exchanges + per-partition sorts (the
    * SortMergeJoin bill) and a single O(|L|+|R|) merge pass with O(1)
    * carry state — see the exec scaladoc for why a hot user never pays
    * a pair enumeration.
    */
  def asofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts_us").as("c_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("ts_us").as("v_ts"))
    graft.plans.AsOfJoin.asof(clicks, views,
      Seq(clicks("c_user")), Seq(views("v_user")),
      clicks("c_ts"), views("v_ts"), Seq(views("v_id")))
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("v_id")).as("n_matched"),
        sum(col("c_ts") - col("v_ts")).as("total_gap_us"),
        sum(col("v_id")).as("matched_view_id_sum"))
  }

  /** The clicks/views frames every as-of variant below shares. */
  private def asofSides(spark: SparkSession, sfDir: String) = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"),
        col("ts_us").as("c_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("ts_us").as("v_ts"))
    (clicks, views)
  }

  /** 24 hours in micros — the staleness bound a feature-store
    * point-in-time read enforces (a feature older than the SLA is no
    * feature). Sized to the fixture's inter-event gaps (~2 days mean)
    * so BOTH arms are non-vacuous at every sf: a visible share of
    * clicks match and a visible share are voided as stale.
    */
  private val AsofToleranceUs = 86400L * 1000000L

  /** W14 — BOUNDED-staleness as-of (round-11): [[asofNative]]'s
    * backward match, null-extended when the latest prior view is more
    * than [[AsofToleranceUs]] stale. Tolerance is evaluated INSIDE
    * [[graft.plans.AsOfJoinExec]]'s merge (one subtraction per left
    * row against the O(1) carry cell — the plan shape, exchanges and
    * sorts are identical to the unbounded form), not as a post-filter:
    * at 100 TB a post-filter would still attach and ship every stale
    * match. Oracle: the window twin's match, voided past the bound —
    * the latest-prior row is out of tolerance iff every prior row is.
    */
  def asofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val (clicks, views) = asofSides(spark, sfDir)
    graft.plans.AsOfJoin.asof(clicks, views,
      Seq(clicks("c_user")), Seq(views("v_user")),
      clicks("c_ts"), views("v_ts"), Seq(views("v_id")),
      toleranceMicros = AsofToleranceUs)
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("v_id")).as("n_matched"),
        sum(col("c_ts") - col("v_ts")).as("total_gap_us"),
        sum(col("v_id")).as("matched_view_id_sum"))
  }

  /** W15 — NEAREST as-of (round-11): each click attaches its closest
    * view in time, either direction, ties going backward (pandas
    * `merge_asof(direction='nearest')`). Same single merge pass: the
    * backward candidate is the exec's carry cell, the forward candidate
    * its lookahead head — direction costs no extra state, no second
    * sort, no second exchange. The n_forward/n_backward split proves
    * both arms fire on real data. Oracle: per-click argmin over the
    * user's views by (|Δt|, is_forward, side-specific tiebreak) — the
    * equi-join formulation a native engine would need a post-rank for.
    */
  def asofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val (clicks, views) = asofSides(spark, sfDir)
    graft.plans.AsOfJoin.asof(clicks, views,
      Seq(clicks("c_user")), Seq(views("v_user")),
      clicks("c_ts"), views("v_ts"), Seq(views("v_id")),
      direction = "nearest")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("v_id")).as("n_matched"),
        sum(when(col("v_ts") > col("c_ts"), 1L).otherwise(0L)).as("n_forward"),
        sum(when(col("v_ts") <= col("c_ts"), 1L).otherwise(0L)).as("n_backward"),
        sum(abs(col("c_ts") - col("v_ts"))).as("total_abs_gap_us"),
        sum(col("v_id")).as("matched_view_id_sum"))
  }

  /** W16 — FORWARD as-of (round-11): each click attaches the EARLIEST
    * view at-or-after it (next-event attribution — "which impression
    * did this click lead to"). The merge leaves boundary-equal rows in
    * the lookahead instead of consuming them into the carry, so the
    * match is the FIRST of an equal-time run in (time, tiebreak) order
    * — the mirror of backward's last-wins. Oracle: the mirrored window
    * (first_value over CURRENT ROW .. UNBOUNDED FOLLOWING).
    */
  def asofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val (clicks, views) = asofSides(spark, sfDir)
    graft.plans.AsOfJoin.asof(clicks, views,
      Seq(clicks("c_user")), Seq(views("v_user")),
      clicks("c_ts"), views("v_ts"), Seq(views("v_id")),
      direction = "forward")
      .agg(
        count(lit(1)).as("n_clicks"),
        count(col("v_id")).as("n_matched"),
        sum(col("v_ts") - col("c_ts")).as("total_gap_us"),
        sum(col("v_id")).as("matched_view_id_sum"))
  }

  /** Stream-static enrichment join + windowed aggregation — the
    * canonical streaming-ETL shape: an unbounded event stream joined to
    * a slowly-changing dimension, then aggregated per window.
    *
    * The dimension is COMPUTED (a per-user value tier from a batch
    * aggregate), not a toy literal map, and its tier thresholds compare
    * exact integer-cent sums (`sum(round(value·100))` vs `n·4500`) so
    * the classification is order-independent and bit-identical in the
    * DuckDB oracle — no float-mean boundary flakes.
    *
    * Plan/scale shape: a stream-static equi-join is STATELESS — Spark
    * re-plans the static side into each micro-batch (broadcast here,
    * since the dim is per-user-small; shuffle if it weren't), so no
    * join state accumulates; only the windowed agg holds state, bounded
    * by the watermark. At 100 TB the dim would be a compacted lake
    * table refreshed between micro-batches — same plan.
    */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(
        sum(expr("cast(round(value * 100) as bigint)")).as("cents"),
        count(lit(1)).as("n_ev"))
      .select(col("user_id"),
        when(col("cents") < col("n_ev") * 4500L, lit("low"))
          .when(col("cents") > col("n_ev") * 5500L, lit("high"))
          .otherwise(lit("mid")).as("tier"))
    val src = eventsStream(spark, sfDir)
    val agg = src.join(dim, "user_id")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("tier"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
    dropStaleSinks(spark)
    val name = s"graft_stream_sj_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("tier"), col("n"), col("sum_value"))
      .orderBy("bucket", "tier")
  }

  /** Streaming CDC ingest audit — the arriving v2 snapshot is consumed
    * as a FILE STREAM (each committed data file a micro-batch, exactly
    * how a lakehouse change feed lands), classified against the static
    * v1 base with a stream-static left-outer join, and reduced to the
    * per-status counts + key checksums of [[graft.operators.Curation
    * .snapshotDiff]] — whose oracle this query REUSES verbatim:
    * streaming ingest classification must equal the batch diff.
    *
    * An upsert FEED carries added/changed/unchanged; removals cannot
    * appear on the stream side of a stream-static join and ride
    * deletion vectors instead (x_positional_delete) — in this store
    * v2 removes nothing, so the batch diff agrees row-for-row.
    *
    * Scale: the static side is the base table — Spark re-plans it per
    * micro-batch, so at 100 TB the static side would be the
    * fingerprint-keyed postings/bucketed layout (the incremental-dedup
    * shape, Dedup.ensureBaseIndex), not a cold full scan; the
    * classification itself is a key equi-join + a 3-group aggregate,
    * complete-mode state of 3 rows.
    */
  def streamCdc(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.operators.Curation.snapshotDir(spark, sfDir)
    val v1 = spark.read.parquet(s"$dir/v1")
      .select(col("doc_id"), col("text").as("t1"))
    val v2Schema = spark.read.parquet(s"$dir/v2").schema
    val feed = spark.readStream.schema(v2Schema).parquet(s"$dir/v2")
      .select(col("doc_id"), col("text").as("t2"))
    val classified = feed.join(v1, Seq("doc_id"), "left_outer")
      .withColumn("status",
        when(col("t1").isNull, "added")
          .when(col("t1") =!= col("t2"), "changed")
          .otherwise("unchanged"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
    dropStaleSinks(spark)
    val name = s"graft_stream_cdc_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = classified.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name).orderBy("status")
  }

  /** Stream-STREAM interval join — view→click attribution: every click
    * joined to the views of the same user in the preceding 30 minutes,
    * both sides unbounded streams. This is the stateful-join shape
    * stream-static cannot express: BOTH sides buffer, and the time
    * bound + watermarks are what let Spark EVICT buffered rows (a
    * stream-stream join without them accumulates state forever — the
    * difference between a demo and something that survives an unbounded
    * stream). Inner-join matches emit eagerly per micro-batch, so
    * drive-to-completion needs no sentinel flush; the joined rows land
    * in the sink and the per-user attribution summary is a batch
    * aggregate over it, oracle-checked against the equivalent batch
    * interval join.
    *
    * Scale: state is O(events inside the watermark+interval horizon)
    * per side, shuffled on user_id — the join key must be in the
    * condition (it is) or Spark would buffer both streams in full.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def side(tp: String, pre: String) = eventsStream(spark, sfDir)
      .filter(col("event_type") === tp)
      .select(col("user_id").as(s"${pre}_user"), col("ts").as(s"${pre}_ts"),
        col("value").as(s"${pre}_value"))
      .withWatermark(s"${pre}_ts", "1 hour")
    val clicks = side("click", "c")
    val views = side("view", "v")
    val joined = clicks.join(views, expr(
      "c_user = v_user AND v_ts >= c_ts - interval 30 minutes AND v_ts <= c_ts"))
    dropStaleSinks(spark)
    val name = s"graft_stream_ssj_${counter.incrementAndGet()}"
    // same lever the outer twin measured (round-9 task 8): a
    // stream-stream join commits 4 state stores per shuffle partition
    // per batch, so at harness state sizes 2 partitions (8 stores)
    // beat 8 (32 stores; same-phase A/B medians 2.04 s vs 2.28 s)
    withStatePartitions(spark, 2) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("c_value") + col("v_value")), 2).as("pair_value"))
      .orderBy("user_id")
  }

  type Q = (SparkSession, String) => DataFrame

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Online ANN serving: a STREAM of query vectors retrieved against
    * the static LSH-bucketed corpus — the retrieval loop an embedding
    * store serves, expressed as Structured Streaming. Each micro-batch
    * bands its queries with the SAME plane literals as the corpus
    * ([[graft.operators.Similarity.bandedOf]]), equi-joins the banded
    * static side (stream-static join: stateless, no watermark, no
    * state store), and scores collisions inline; the append sink
    * collects candidates and the final exact top-5 re-rank runs over
    * the sink table. The result must be IDENTICAL to the batch LSH
    * path — it shares `x_sim_topk_lsh`'s hash-match oracle.
    *
    * Scale: per micro-batch cost is O(batch·bands + collisions); the
    * static side is the pre-built bucket layout
    * ([[graft.operators.Similarity.lshBucketedTopK]]'s partitioned
    * form), so each batch prunes to colliding buckets. Nothing about
    * the stream accumulates: this is the stateless serving shape.
    */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Online perplexity gating: a STREAM of documents scored against the
    * STATIC trained unigram model ([[graft.operators.TextOps.unigramModel]])
    * — the model-serving half of corpus filtering run at ingest time,
    * the text twin of [[streamAnn]]. Each micro-batch tokenizes its
    * documents and equi-joins the (token, micro_nats) model
    * (stream-static join: stateless, no watermark, no state store);
    * the append sink collects scored token occurrences and the per-doc
    * average + per-source rollup run over the sink table (the
    * downstream batch half, exactly as streamAnn re-ranks post-sink —
    * per-doc aggregation IN-stream would demand stateful aggregation
    * with no event time). Output must equal the batch scorer
    * bit-for-bit, so it shares `x_text_unigram_lm`'s oracle.
    *
    * Scale: per-batch cost is O(batch tokens); the model side is a
    * broadcast-sized (vocabulary) frame reused across batches. Nothing
    * accumulates in state — the stateless ingest-gating shape.
    */
  def streamPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.readStream
      .schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
    val model = graft.operators.TextOps.unigramModel(spark, sfDir)
    // r13-opt (guide §2.3 "aggregate before you shuffle", applied to
    // the sink boundary): the per-doc surprise aggregation runs IN the
    // streaming query (complete-mode keyed state), so the memory sink
    // receives one (doc, sum, cnt) row per document instead of every
    // scored TOKEN — at sf0.1 that is ~5k sink rows instead of ~500k
    // (the sink transfer+GC was the query's scale-dependent cost:
    // floor 0.86 s at sf0.001 vs 1.90 s at sf0.1). Exact integer sums
    // and counts commute with the old post-sink fold, so
    // avg = sum div cnt is bit-identical. Per-doc keyed state is a
    // HARNESS-scale shape like the memory sink itself (docs arrive
    // once, drive-to-completion); a production feed would score with
    // the same broadcast model but aggregate into watermarked windows
    // (streamDrift's shape) or an upsert sink (streamUpsert's).
    val scored = toks.join(model, "t")
      .groupBy("doc_id", "source")
      .agg(sum("micro_nats").as("sm"), count(lit(1)).as("cnt"))
    dropStaleSinks(spark)
    val name = s"graft_stream_ppx_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = scored.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(col("doc_id"), col("source"),
        expr("sm div cnt").as("avg_micro_nats"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("avg_micro_nats").as("sum_avg_micro_nats"),
        sum(when(col("avg_micro_nats") > graft.operators.TextOps.SurpriseMicroNats, 1L)
          .otherwise(0L)).as("n_high_surprise"))
      .orderBy("source")
  }

  def streamAnn(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorExpressions.dot_product
    import org.apache.spark.sql.expressions.Window
    val queries = spark.readStream
      .schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(sfDir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qBanded = graft.operators.Similarity.bandedOf(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("band"), col("bval"))
    val staticBanded = graft.operators.Similarity.bandedCorpus(spark, sfDir)
    val cand = qBanded.join(staticBanded, Seq("band", "bval"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot_product(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("sim"))
    dropStaleSinks(spark)
    val name = s"graft_stream_ann_${counter.incrementAndGet()}"
    withStatePartitions(spark, 8) {
      val q = cand.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // multi-band collisions duplicate a candidate with an identical
    // score; distinct + exact re-rank reproduces the batch LSH answer
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    spark.table(name).distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Watermarked stream-stream LEFT OUTER join — click-to-purchase
    * conversion where UNCONVERTED clicks must still be emitted. The
    * hard part of outer stream joins is that a null-padded row can
    * only be produced once the watermark proves no match can arrive,
    * i.e. rows are held in state until `c_ts + 30 min` passes BOTH
    * sides' watermarks, and flushing needs a later batch: the staged
    * source carries a far-future sentinel row that advances the
    * watermark past every click, and the watermark-advance NO-DATA
    * batch Structured Streaming runs after batch 0 evicts all pending
    * outer state deterministically (two batches total — the sentinel
    * does not need its own data batch). Without the sentinel the final
    * clicks would sit in state forever — the same bounded-input
    * subtlety the late-data query engineers away.
    *
    * Scale: state is bounded by (watermark delay + join interval) per
    * key on both sides — eviction is exactly why the interval bounds
    * and watermarks are mandatory for outer joins; an unbounded
    * condition would OOM state at 100 TB/day. Output equals the batch
    * left join (the oracle), which is the migration guarantee.
    *
    * Floor note (round-9 verdict task 8): the harness cost is
    * micro-batch fixed overhead — 2 batches × 4 join state stores ×
    * partitions of commit/offset-log cycles plus query start/stop —
    * not data volume. Measured levers: state partitions 8 → 2 (−0.1 s),
    * one data batch instead of two (−0.5 s); RocksDB state was tried
    * and is SLOWER here (~8 instance inits outweigh in-memory commit
    * savings at harness scale; it stays the right store for real state
    * sizes, as the tws queries use). Quiet median now ~2.3 s vs 2.73 s
    * before (inner-join twin: 1.86 s — the remaining delta is the
    * outer's eviction batch, inherent to append-mode outer semantics).
    */
  def streamStreamOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val stageDir = graft.Staged.dir(spark, "stream/events_outer",
        Seq(s"$sfDir/events.parquet")) { stageDir =>
      val tsT = rawTsType(spark, sfDir)
      writeOneFile(spark, spark.read.schema(rawSchema(tsT)).parquet(s"$sfDir/events.parquet"),
        s"$stageDir/0_events.parquet")
      writeOneFile(spark, syntheticEvent(spark, tsT, -1L, 4102444800L * 1000000000L,
        "__sentinel"), s"$stageDir/1_sentinel.parquet")
    }
    // both staged files land in ONE batch (no maxFilesPerTrigger):
    // the watermark computed from batch 0's max event time (the
    // sentinel) takes effect for batch 1, and Structured Streaming
    // runs that batch even with no new data precisely to evict state —
    // which emits every unmatched click. Two batches total instead of
    // three (events, sentinel, eviction), saving a full state-store
    // commit cycle per sweep.
    val src = normTs(spark.readStream
      .schema(rawSchema(rawTsType(spark, sfDir)))
      .parquet(stageDir))
    // the sentinel rides BOTH sides so both watermarks advance
    def side(tp: String, pre: String) = src
      .filter(col("event_type") === tp || col("event_type") === "__sentinel")
      .select(col("event_id").as(s"${pre}_id"), col("user_id").as(s"${pre}_user"),
        col("ts").as(s"${pre}_ts"))
      .withWatermark(s"${pre}_ts", "1 hour")
    val clicks = side("click", "c")
    val purchases = side("purchase", "p")
    val joined = clicks.join(purchases, expr(
      "p_user = c_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"),
      "left_outer")
    dropStaleSinks(spark)
    val name = s"graft_stream_sso_${counter.incrementAndGet()}"
    withStatePartitions(spark, 2) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .filter(col("c_user") >= 0)
      .groupBy(col("c_user").as("user_id"))
      .agg(
        countDistinct(col("c_id")).as("n_clicks"),
        countDistinct(when(col("p_id").isNotNull, col("c_id"))).as("n_converted"),
        count(col("p_id")).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Exactly-once UPSERT sink via `foreachBatch` — the lake-table
    * maintenance loop a streaming ingest pipeline runs: each
    * micro-batch is reduced to per-key partials (count + argmax-by
    * (event-time, event_id) latest state) and MERGED with the prior
    * snapshot into a NEW immutable version directory `v<batchId>`.
    * That versioning is what makes the sink exactly-once on top of
    * Spark's at-least-once `foreachBatch` contract: a batch replayed
    * after a failure recomputes `v<b>` deterministically from
    * `v<b-1>` + the same input batch (pure functions of both), so a
    * re-run OVERWRITES an identical version instead of
    * double-applying — the idempotent-writer pattern Delta/Iceberg
    * MERGE sinks use, reduced to its Spark-native core.
    *
    * Scale: state per version is one row per key (bounded by the key
    * space, not the stream length), the merge is a keyed shuffle of
    * snapshot + batch partials only, and old versions are droppable
    * after commit. The argmax rides a struct max ordered on
    * (micros, event_id) — a total order, so "latest" is deterministic
    * across retries and engines; counts/values are exact integers.
    * The final snapshot must equal the batch recompute over the whole
    * table (full DuckDB oracle): streaming-batch equivalence for a
    * stateful sink, the same Dataflow property the window queries pin.
    *
    * Input is the events table staged as TWO half-files (event_id
    * parity split) so every user's history genuinely spans
    * micro-batches and the merge path is exercised, not bypassed.
    */
  def streamUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val outDir = graft.Staged.dir(spark, "stream/events_upsert",
        Seq(s"$sfDir/events.parquet"))(upsertRun(spark, sfDir, _, _ => ()))
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(new Path(outDir)).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).max
    spark.read.parquet(s"$outDir/v$last")
      .select(col("user_id"), col("cnt").as("n_events"),
        col("m.etype").as("last_type"), col("m.v").as("last_v"))
      .orderBy("user_id")
  }

  /** The events table staged as the two half-files [[streamUpsert]]
    * streams (event_id parity split).
    */
  private def upsertStageDir(spark: SparkSession, sfDir: String): String =
    graft.Staged.dir(spark, "stream/events_upsert_stage",
        Seq(s"$sfDir/events.parquet")) { stageDir =>
      // stage from the RAW reader so ts keeps the file's layout and
      // the stream schema stays uniform across staged files
      Seq(0, 1).foreach { half =>
        writeOneFile(spark, spark.read.parquet(s"$sfDir/events.parquet")
          .filter(col("event_id") % 2 === half), s"$stageDir/${half}_half.parquet")
      }
    }

  /** The [[streamUpsert]] write pipeline against an arbitrary snapshot
    * directory. `afterApply` fires AFTER the sink write for a batch but
    * BEFORE Spark commits that batch to the checkpoint — throwing from
    * it is exactly the crash window the exactly-once claim must
    * survive, which the failure-injection spec exercises by crashing
    * batch 0 and restarting from the same checkpoint.
    */
  private[graft] def upsertRun(
      spark: SparkSession, sfDir: String, outDir: String,
      afterApply: Long => Unit): Unit = {
    val stageDir = upsertStageDir(spark, sfDir)
    val src = normTs(spark.readStream
      .schema(rawSchema(rawTsType(spark, sfDir)))
      .option("maxFilesPerTrigger", "1")
      .parquet(stageDir))
    withStatePartitions(spark, 8) {
      val q = src.writeStream
        .option("checkpointLocation", s"$outDir/chk")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          upsertApplyBatch(spark, outDir, batch, batchId)
          afterApply(batchId)
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
  }

  /** One MERGE step: snapshot v(b) = f(snapshot v(b-1), batch b).
    * Deterministic and therefore idempotent under batch replay.
    */
  private[graft] def upsertApplyBatch(
      spark: SparkSession, outDir: String, batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reduced = batch.groupBy("user_id").agg(
      count(lit(1)).as("cnt"),
      max(struct(
        expr("unix_micros(ts)").as("ts_us"),
        col("event_id").as("eid"),
        col("event_type").as("etype"),
        expr("cast(round(value * 1000000) as bigint)").as("v"))).as("m"))
    val prevPath = s"$outDir/v${batchId - 1}"
    val merged =
      if (batchId == 0 || !fs.exists(new Path(prevPath))) reduced
      else spark.read.parquet(prevPath).unionByName(reduced)
        .groupBy("user_id")
        .agg(sum("cnt").cast("long").as("cnt"), max("m").as("m"))
    merged.coalesce(1).write.mode("overwrite").parquet(s"$outDir/v$batchId")
  }

  val registry: Map[String, Q] = Map(
    "x_stream_upsert" -> streamUpsert _,
    "x_stream_ann" -> streamAnn _,
    "x_stream_perplexity" -> streamPerplexity _,
    "x_stream_stream_join" -> streamStreamJoin _,
    "x_stream_stream_outer" -> streamStreamOuter _,
    "w3_asof_join" -> asofJoin _,
    "w13_asof_native" -> asofNative _,
    "w14_asof_tolerance" -> asofTolerance _,
    "w15_asof_nearest" -> asofNearest _,
    "w16_asof_forward" -> asofForward _,
    "x_stream_join" -> streamStaticJoin _,
    "x_stream_asof" -> streamAsof _,
    "x_stream_cdc" -> streamCdc _,
    "x_stream_window" -> streamWindow _,
    "x_stream_drift" -> streamDrift _,
    "x_stream_window_sliding" -> streamWindowSliding _,
    "x_stream_window_append" -> streamWindowAppend _,
    "x_stream_file_sink" -> streamFileSink _,
    "x_stream_dedup" -> streamDedup _,
    "x_stream_late_data" -> streamLateData _,
    "x_stream_sessions" -> statefulSessions _,
    "x_stream_sessions_tws" -> statefulSessionsTws _,
    "x_stream_session_timers" -> streamSessionTimers _,
    "w2_sessionize" -> sessionize _,
    "w8_session_window" -> sessionWindow _,
  )

  private val AsofNativeOracle: String =
    """WITH u AS (
      | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
      | FROM events WHERE event_type IN ('click', 'view')),
      |m AS (
      | SELECT is_click, ts_us,
      |  last_value(CASE WHEN is_click = 0 THEN event_id END IGNORE NULLS) OVER w AS lv_id,
      |  last_value(CASE WHEN is_click = 0 THEN ts_us END IGNORE NULLS) OVER w AS lv_ts
      | FROM u
      | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_click, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT count(*)::BIGINT AS n_clicks, count(lv_id)::BIGINT AS n_matched,
      | sum(ts_us - lv_ts)::BIGINT AS total_gap_us,
      | sum(lv_id)::BIGINT AS matched_view_id_sum
      |FROM m WHERE is_click = 1""".stripMargin

  val oracles: Map[String, String] = Map(
    // the streaming retrieval path must reproduce the batch LSH answer
    // bit for bit, so it shares its oracle
    "x_stream_ann" -> graft.operators.Similarity.oracles("x_sim_topk_lsh"),
    // the streaming LM scorer must reproduce the batch scorer bit for
    // bit, so it shares its oracle
    "x_stream_perplexity" -> graft.operators.TextOps.oracles("x_text_unigram_lm"),
    // streaming ingest classification must equal the batch snapshot diff
    "x_stream_cdc" -> graft.operators.Curation.oracles("x_snapshot_diff"),
    // batch recompute of the final upsert snapshot: per-user event
    // count + argmax-latest state on the (micros, event_id) total order
    "x_stream_upsert" ->
      """WITH r AS (
        | SELECT user_id, event_type, round(value * 1000000)::BIGINT AS v,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        | FROM events),
        |c AS (SELECT user_id, count(*)::BIGINT AS n_events FROM events GROUP BY user_id)
        |SELECT c.user_id, c.n_events, r.event_type AS last_type, r.v AS last_v
        |FROM c JOIN r ON c.user_id = r.user_id AND r.rn = 1
        |ORDER BY c.user_id""".stripMargin,
    // window recomputation of the custom exec's merge: same-ts views
    // sort BEFORE their click (is_click 0 < 1, the ≤ bound) and ties
    // among views resolve to the largest event_id (the exec's tiebreak)
    // per-batch as-of over a static dimension unions to the batch
    // answer exactly — the streaming query shares w13's oracle verbatim
    "x_stream_asof" -> AsofNativeOracle,
    "w13_asof_native" -> AsofNativeOracle,
    // the window twin's match, voided past the staleness bound: the
    // latest-prior view is out of tolerance iff every prior one is
    "w14_asof_tolerance" ->
      """WITH u AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        | FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        | SELECT is_click, ts_us,
        |  last_value(CASE WHEN is_click = 0 THEN event_id END IGNORE NULLS) OVER w AS lv_id,
        |  last_value(CASE WHEN is_click = 0 THEN ts_us END IGNORE NULLS) OVER w AS lv_ts
        | FROM u
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_click, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        | SELECT ts_us,
        |  CASE WHEN ts_us - lv_ts <= 86400000000 THEN lv_id END AS lv_id,
        |  CASE WHEN ts_us - lv_ts <= 86400000000 THEN lv_ts END AS lv_ts
        | FROM m WHERE is_click = 1)
        |SELECT count(*)::BIGINT AS n_clicks, count(lv_id)::BIGINT AS n_matched,
        | sum(ts_us - lv_ts)::BIGINT AS total_gap_us,
        | sum(lv_id)::BIGINT AS matched_view_id_sum
        |FROM g""".stripMargin,
    // per-click argmin over the user's views by (|Δt|, side, tiebreak):
    // ties go backward; backward tiebreak is max v_id (last-wins),
    // forward is min v_id (first-wins) — the exec's carry/lookahead pair
    "w15_asof_nearest" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events),
        |c AS (SELECT user_id, event_id AS c_id, ts_us AS c_ts FROM ev WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id AS v_id, ts_us AS v_ts FROM ev WHERE event_type = 'view'),
        |j AS (
        | SELECT c.c_id, c.c_ts, v.v_id, v.v_ts,
        |  row_number() OVER (PARTITION BY c.c_id ORDER BY abs(v.v_ts - c.c_ts),
        |   (v.v_ts > c.c_ts),
        |   CASE WHEN v.v_ts <= c.c_ts THEN -v.v_id ELSE v.v_id END) AS rk
        | FROM c LEFT JOIN v USING (user_id))
        |SELECT count(*)::BIGINT AS n_clicks, count(v_id)::BIGINT AS n_matched,
        | sum(CASE WHEN v_ts > c_ts THEN 1 ELSE 0 END)::BIGINT AS n_forward,
        | sum(CASE WHEN v_ts <= c_ts THEN 1 ELSE 0 END)::BIGINT AS n_backward,
        | sum(abs(c_ts - v_ts))::BIGINT AS total_abs_gap_us,
        | sum(v_id)::BIGINT AS matched_view_id_sum
        |FROM j WHERE rk = 1""".stripMargin,
    // the mirrored window: first view at-or-after each click, same-ts
    // views eligible (clicks sort before them), min event_id on ties
    "w16_asof_forward" ->
      """WITH u AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        | FROM events WHERE event_type IN ('click', 'view')),
        |m AS (
        | SELECT is_click, ts_us,
        |  first_value(CASE WHEN is_click = 0 THEN event_id END IGNORE NULLS) OVER w AS nv_id,
        |  first_value(CASE WHEN is_click = 0 THEN ts_us END IGNORE NULLS) OVER w AS nv_ts
        | FROM u
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_click DESC, event_id
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT count(*)::BIGINT AS n_clicks, count(nv_id)::BIGINT AS n_matched,
        | sum(nv_ts - ts_us)::BIGINT AS total_gap_us,
        | sum(nv_id)::BIGINT AS matched_view_id_sum
        |FROM m WHERE is_click = 1""".stripMargin,
    "w3_asof_join" ->
      """WITH ev AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us FROM events),
        |m AS (SELECT event_type, ts_us,
        |  last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
        | FROM ev)
        |SELECT count(*) AS n_clicks, count(last_view_ts) AS n_matched,
        | round(avg((ts_us - last_view_ts) / 1000000.0), 4) AS avg_gap_s
        |FROM m WHERE event_type = 'click'""".stripMargin,
    "x_stream_window" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    // batch re-derivation of the streamed day×bucket grid + the exact
    // psiDrift fold (identical bucketing, smoothing, composite-ln
    // quantization; every term nonneg so truncating div agrees)
    "x_stream_drift" ->
      """WITH e AS (
        | SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
        |  length(bin(greatest(round(value * 1000000)::BIGINT, 1))) - 1 AS b
        | FROM events),
        |wb AS (SELECT day, b, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
        |g AS (SELECT b, sum(c)::BIGINT AS cnt_g FROM wb GROUP BY b),
        |nd AS (SELECT day, sum(c)::BIGINT AS n_w FROM wb GROUP BY day),
        |t AS (
        | SELECT nd.day, nd.n_w, g.b, g.cnt_g, coalesce(wb.c, 0) AS c_w,
        |  (SELECT count(*) FROM g)::BIGINT AS nb, (SELECT sum(c) FROM wb)::BIGINT AS n
        | FROM nd CROSS JOIN g LEFT JOIN wb ON wb.day = nd.day AND wb.b = g.b),
        |t2 AS (
        | SELECT day, n_w, nb, n, cnt_g, c_w,
        |  round((ln((c_w + 1)::DOUBLE) - ln((n_w + nb)::DOUBLE)
        |   - ln((cnt_g + 1)::DOUBLE) + ln((n + nb)::DOUBLE)) * 1000000)::BIGINT AS ln_micro
        | FROM t),
        |p AS (
        | SELECT day, max(n_w)::BIGINT AS n_events, count(*)::BIGINT AS n_buckets,
        |  (sum(((c_w + 1)::HUGEINT * (n + nb) - (cnt_g + 1)::HUGEINT * (n_w + nb)) * ln_micro)
        |   // (max(n_w + nb)::HUGEINT * max(n + nb)))::BIGINT AS psi_micro_nats
        | FROM t2 GROUP BY day)
        |SELECT day, n_events, n_buckets, psi_micro_nats,
        | CASE WHEN psi_micro_nats < 100000 THEN 'stable'
        |      WHEN psi_micro_nats < 200000 THEN 'minor'
        |      ELSE 'major' END AS band
        |FROM p ORDER BY day""".stripMargin,
    // batch twin of the watermark drop rule: a late row (event_id%5=0)
    // survives iff its 10-minute window was still open when it arrived,
    // i.e. window end > max(on-time ts) - 1h
    "x_stream_late_data" ->
      """WITH base AS (
        | SELECT ts, event_type, value, event_id % 5 = 0 AS is_late FROM events),
        |wm AS (
        | SELECT max(ts) - INTERVAL 1 HOUR AS w FROM base WHERE NOT is_late),
        |kept AS (
        | SELECT * FROM base
        | WHERE NOT is_late
        |    OR time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTE > (SELECT w FROM wm))
        |SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM kept GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "x_stream_window_sliding" ->
      """WITH e AS (
        | SELECT ts, event_type, value,
        |  time_bucket(INTERVAL '10 minutes', ts) AS b
        | FROM events),
        |w AS (
        | SELECT event_type, value,
        |  b - k * (INTERVAL '10 minutes') AS wstart
        | FROM e, (SELECT unnest([0, 1]) AS k) ks)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
        | count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    "x_stream_stream_join" ->
      """SELECT c.user_id AS user_id, count(*) AS n_pairs,
        | round(sum(c.value + v.value), 2) AS pair_value
        |FROM events c JOIN events v
        | ON v.user_id = c.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts >= c.ts - INTERVAL 30 MINUTE AND v.ts <= c.ts
        |GROUP BY c.user_id ORDER BY user_id""".stripMargin,
    "x_stream_stream_outer" ->
      """WITH c AS (
        | SELECT event_id AS cid, user_id AS u, ts FROM events
        | WHERE event_type = 'click'),
        |p AS (
        | SELECT event_id AS pid, user_id AS u, ts AS pts FROM events
        | WHERE event_type = 'purchase'),
        |j AS (
        | SELECT c.u, c.cid, p.pid FROM c LEFT JOIN p
        | ON p.u = c.u AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 30 MINUTE)
        |SELECT u AS user_id, count(DISTINCT cid)::BIGINT AS n_clicks,
        | count(DISTINCT CASE WHEN pid IS NOT NULL THEN cid END)::BIGINT AS n_converted,
        | count(pid)::BIGINT AS n_pairs
        |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin,
    "x_stream_join" ->
      """WITH dim AS (
        | SELECT user_id,
        |  CASE WHEN sum(round(value * 100)::BIGINT) < count(*) * 4500 THEN 'low'
        |       WHEN sum(round(value * 100)::BIGINT) > count(*) * 5500 THEN 'high'
        |       ELSE 'mid' END AS tier
        | FROM events GROUP BY user_id)
        |SELECT strftime(time_bucket(INTERVAL '10 minutes', e.ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | d.tier, count(*) AS n, round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1, 2 ORDER BY bucket, tier""".stripMargin,
    // the durable-sink path must read back exactly the append answer
    // (transactional file commits change WHERE rows land, not values)
    "x_stream_file_sink" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    // append mode emits each real window exactly once after the
    // watermark passes it — the total output equals the batch answer
    "x_stream_window_append" ->
      """SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,
    // timer-driven session emission must reproduce the batch
    // session_window answer — same oracle as w8 (exact-gap ties split)
    "x_stream_session_timers" ->
      """WITH g AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT user_id, ts, value,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM g)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start LIMIT 500""".stripMargin,
    // the transformWithState twin must reproduce the mapGroupsWithState
    // answer exactly — same oracle
    "x_stream_sessions_tws" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |s AS (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM g)
        |SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id LIMIT 200""".stripMargin,
    "x_stream_sessions" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |s AS (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM g)
        |SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id LIMIT 200""".stripMargin,
    // deduped double-stream re-aggregated == plain batch aggregate
    "x_stream_dedup" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB rebuilds gap sessions via lag + cumulative sum; session
    // end is last event + gap, matching Spark's session_window.end.
    // The gap test is >= because native session_window merges only on
    // strict overlap: an event arriving EXACTLY 30 minutes after the
    // previous one starts a new session ([prev, prev+gap) does not
    // overlap [prev+gap, ...)), so an exact-gap tie must split here too.
    "w8_session_window" ->
      """WITH g AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT user_id, ts, value,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM g)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS s_end,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start LIMIT 500""".stripMargin,
    "w2_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        | FROM events),
        |s AS (SELECT user_id,
        |  CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        | FROM g)
        |SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id LIMIT 200""".stripMargin,
  )
}
