package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque binary
  * columns with typed metadata, processed batch-wise per partition.
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A
  * STUB — `FakeCodec.decode` derives deterministic dimensions from a
  * hash of the bytes (clearly marked below). Everything around it is
  * the real engine surface: binary column schema, typed Dataset
  * mapPartitions (the JVM analog of batched pandas-UDF processing —
  * one codec init per partition, streaming iteration, no collect),
  * and downstream relational ops on the extracted features.
  *
  * Scale: decode is per-row CPU work with per-partition setup — the
  * classic mapPartitions shape; binary payloads never shuffle (features
  * are projected out before any wide operator).
  */
object Multimodal {

  /** Typed metadata extracted from a media blob. */
  final case class MediaMeta(
      doc_id: Long,
      format: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int)

  /** STUB codec — stands in for a real image/audio decoder, which this
    * container does not ship. Deterministic AND SQL-recomputable: the
    * fake dimensions derive from the first 60 bits of md5(payload), so
    * a second engine (the DuckDB oracle) reproduces them from the raw
    * bytes — the multimodal queries carry full hash-match oracles
    * despite the stubbed pixels. A real deployment swaps `decode`'s
    * body for the codec call; the mapPartitions plumbing (one codec
    * instance per partition, streaming iteration) is the real surface.
    */
  private object FakeCodec {
    /** One per partition — the "codec handle" of the stub. */
    def init(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")

    def decode(md: java.security.MessageDigest, format: String,
        bytes: Array[Byte]): (Int, Int, Int) = {
      md.reset()
      val hex = md.digest(bytes).take(8).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16) // 60 bits, nonneg
      val w = (64 + h % 1856).toInt             // 64..1919
      val ht = (64 + (h >> 11) % 1016).toInt    // 64..1079
      val frames = if (format == "video") (1 + (h >> 21) % 240).toInt else 1
      (w, ht, frames)
    }
  }

  /** Media table: documents' text re-encoded as the opaque binary
    * payload (the stand-in corpus), with a format tag derived from the
    * source id.
    */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"))

  /** Feature extraction: batched per-partition decode into typed rows. */
  def extractFeatures(spark: SparkSession, sfDir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .select("doc_id", "format", "media")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        val codec = FakeCodec.init() // one per task, not per row
        batch.map { case (id, fmt, bytes) =>
          val (w, h, f) = FakeCodec.decode(codec, fmt, bytes)
          MediaMeta(id, fmt, bytes.length.toLong, w, h, f)
        }
      }
  }

  /** Output row of a media transform (resize / frame sample). */
  final case class TransformedMedia(
      doc_id: Long,
      format: String,
      op: String,
      in_bytes: Long,
      out_bytes: Long,
      out_width: Int,
      out_height: Int,
      n_frames_kept: Int)

  /** Resize stub: real pipeline plumbing (binary in → binary out via
    * mapPartitions, one codec init per partition), fake pixels — the
    * "resized" payload is a deterministic truncation scaled by the
    * target/source area ratio.
    */
  def resize(spark: SparkSession, sfDir: String, w: Int, h: Int): Dataset[TransformedMedia] = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .select("doc_id", "format", "media")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        val codec = FakeCodec.init()
        batch.map { case (id, fmt, bytes) =>
          val (sw, sh, _) = FakeCodec.decode(codec, fmt, bytes)
          val ratio = math.min(1.0, (w.toLong * h).toDouble / (sw.toLong * sh))
          val outLen = math.max(1, (bytes.length * ratio).toInt)
          TransformedMedia(id, fmt, s"resize_${w}x$h", bytes.length.toLong,
            outLen.toLong, w, h, 1)
        }
      }
  }

  /** Frame-sample stub: keeps every k-th frame of "video" payloads
    * (others pass through with one frame).
    */
  def frameSample(spark: SparkSession, sfDir: String, everyK: Int): Dataset[TransformedMedia] = {
    import spark.implicits._
    mediaTable(spark, sfDir)
      .select("doc_id", "format", "media")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { batch =>
        val codec = FakeCodec.init()
        batch.map { case (id, fmt, bytes) =>
          val (w, h, frames) = FakeCodec.decode(codec, fmt, bytes)
          val kept = if (fmt == "video") math.max(1, frames / everyK) else 1
          val outLen = math.max(1, bytes.length * kept / math.max(1, frames))
          TransformedMedia(id, fmt, s"sample_every_$everyK", bytes.length.toLong,
            outLen.toLong, w, h, kept)
        }
      }
  }

  /** Registered query: both transforms rolled up per (format, op). */
  def transformRollup(spark: SparkSession, sfDir: String): DataFrame =
    resize(spark, sfDir, 224, 224).toDF()
      .unionByName(frameSample(spark, sfDir, 10).toDF())
      .groupBy("format", "op")
      .agg(
        count(lit(1)).as("n_media"),
        sum("in_bytes").as("total_in_bytes"),
        sum("out_bytes").as("total_out_bytes"),
        max("n_frames_kept").as("max_frames_kept"))
      .orderBy("format", "op")

  /** Registered query: per-format feature rollup. The stub codec is
    * md5-derived, so the DuckDB oracle re-decodes identical dimensions
    * from the raw payload bytes.
    */
  def featureRollup(spark: SparkSession, sfDir: String): DataFrame =
    extractFeatures(spark, sfDir)
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        round(avg("width"), 4).as("avg_width"),
        round(avg("height"), 4).as("avg_height"),
        max("n_frames").as("max_frames"))
      .orderBy("format")

  /** Byte-level stats on the binary column — SQL-expressible, so it
    * carries an oracle (octet_length on the original text equals the
    * UTF-8 payload size).
    */
  def byteStats(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_media"),
        sum(octet_length(col("media"))).as("total_bytes"),
        min(octet_length(col("media"))).as("min_bytes"),
        max(octet_length(col("media"))).as("max_bytes"))
      .orderBy("format")

  /** Content-hash dedup over the binary media column — the first pass
    * of any image/audio curation pipeline (identical bytes ⇒ identical
    * media, no decode needed). One md5 per payload, keeper = min doc_id
    * per fingerprint, per-format removal stats.
    *
    * Scale: the only shuffle is keyed on the 32-char fingerprint —
    * media bytes never move; at 100 TB the hash is computed where the
    * bytes were read and the keeper choice is a 16-byte-key aggregate.
    * (Perceptual near-dup needs a real decoder — out of scope for the
    * stub codec, whose "pixels" are themselves md5-derived.)
    */
  def mediaDedup(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir)
      .withColumn("fp", md5(col("media")))
      .groupBy("format", "fp")
      .agg(count(lit(1)).as("copies"), min("doc_id").as("keeper"))
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum("copies").as("n_media"),
        (sum("copies") - count(lit(1))).as("n_removed"),
        sum("keeper").as("keeper_id_sum"))
      .orderBy("format")

  /** File-based media ingestion — the path media actually arrives by
    * at lake scale: loose binary files on storage, read with Spark's
    * `binaryFile` source (path, mtime, length, content per file), ids
    * parsed from filenames, the stub codec's dimensions derived
    * natively from md5(content) — no UDF, no mapPartitions, whole
    * pipeline in codegen. Every 25th document's payload is
    * materialized ONCE as `media_<doc_id>.bin` under a
    * fingerprint-keyed dir (fixture construction, not the measured
    * path — real deployments read files that already exist).
    *
    * Scale: binaryFile parallelizes by file; tiny-file floods are the
    * known cost at 100 TB (per-file open dominates), which is why the
    * rollup reports per-format file counts and byte mass — the inputs
    * to the "pack small files into archives" decision every media lake
    * makes.
    */
  def ingestFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.Staged.dir(spark, s"media/ingest_${new java.io.File(sfDir).getName}",
        Seq(s"$sfDir/documents.parquet")) { dir =>
      // fixture materialization: ~4% of the corpus, written WHERE the
      // bytes are produced (executor-side foreachPartition — the scale
      // idiom; media bytes never visit the driver), through the session
      // conf shipped to the executors
      val shipped = graft.sources.FooterMeta.sessionConf(spark)
      mediaTable(spark, sfDir).filter(col("doc_id") % 25 === 0)
        .select("doc_id", "media")
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(shipped.value)
          rows.foreach { r =>
            val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/media_${r.getLong(0)}.bin"))
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
    }
    spark.read.format("binaryFile").load(s"$dir/media_*.bin")
      .select(
        regexp_extract(col("path"), "media_(\\d+)\\.bin", 1).cast("bigint").as("doc_id"),
        col("length"),
        expr("cast(conv(substr(md5(content), 1, 15), 16, 10) as bigint)").as("h"))
      .select(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        col("length"), col("h"))
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_files"),
        sum("length").as("total_bytes"),
        sum(expr("64 + h % 1856")).as("width_sum"),
        sum(expr("64 + (h >> 11) % 1016")).as("height_sum"))
      .orderBy("format")
  }

  private val CdcWindow = 16  // bytes hashed per boundary test
  private val CdcDivisor = 64 // boundary when h % divisor == 0 (~64 B chunks)

  /** Content-defined chunking dedup over the binary media column — the
    * sub-file storage dedup every blob lake runs (LBFS/Venti lineage):
    * chunk boundaries are cut where a hash of the TRAILING
    * [[CdcWindow]] bytes divides [[CdcDivisor]], so an insertion early
    * in a blob shifts only the chunk it lands in while every later
    * boundary re-synchronizes — the property fixed-size blocks lack
    * and whole-blob hashing ([[mediaDedup]]) can't see: two media
    * files sharing a long byte run dedup that run even when the
    * files differ elsewhere.
    *
    * Boundary rule here is the WINDOWED-HASH formulation — position i
    * ends a chunk iff md5(bytes[i-15..i]) ≡ 0 (mod 64) — which is
    * semantically identical to a gear/Rabin rolling hash CDC (the
    * boundary depends only on the local window content) but
    * SQL-recomputable, so the DuckDB oracle rebuilds byte-identical
    * chunks. A production kernel computes the same boundaries in O(1)
    * per byte with the gear recurrence inside a native Expression; the
    * per-position md5 is the oracle-checkable twin of that kernel, not
    * the 100 TB hot path.
    *
    * Scale: boundary detection is a per-blob projection (positions
    * explode locally; blob bytes never shuffle — only the 16-byte
    * chunk fingerprints and integer lengths reach the exchange); the
    * dedup aggregate is keyed on the chunk hash, map-side combined.
    */
  def cdcChunking(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val media = Tables.fanOut(spark, mediaTable(spark, sfDir), col("doc_id"))
      .withColumn("blen", octet_length(col("media")).cast("long"))
    // chunk-end positions: content-defined boundaries plus each blob's
    // final byte (sequence() descends when start > stop, so short blobs
    // are filtered out rather than guarded inside the lambda)
    val bounds = media.filter(col("blen") >= CdcWindow)
      .select(col("doc_id"), col("media"),
        explode(expr(s"sequence(${CdcWindow}L, blen)")).as("e"))
      .filter(expr(s"cast(conv(substr(md5(substr(media, cast(e - ${CdcWindow - 1} as int)," +
        s" $CdcWindow)), 1, 15), 16, 10) as bigint) % $CdcDivisor = 0"))
      .select(col("doc_id"), col("e"))
      .union(media.select(col("doc_id"), col("blen").as("e")))
      .distinct()
    val segs = bounds.withColumn("s",
      lag("e", 1, 0L).over(Window.partitionBy("doc_id").orderBy("e")) + 1L)
    val chunks = segs.join(media.select(col("doc_id"), col("media")), "doc_id")
      .select(col("doc_id"),
        md5(expr("substr(media, cast(s as int), cast(e - s + 1 as int))")).as("chash"),
        (col("e") - col("s") + 1L).as("clen"))
    val uniq = chunks.groupBy("chash")
      .agg(count(lit(1)).as("copies"), min("clen").as("clen"))
    val corpus = media.agg(
      count(lit(1)).as("n_docs"), sum("blen").as("total_bytes"))
    // 1-row scalar attach (broadcast), not a data cross join
    corpus.crossJoin(uniq.agg(
      sum("copies").as("n_chunks"),
      count(lit(1)).as("n_unique_chunks"),
      sum((col("copies") - 1L) * col("clen")).as("dup_bytes"),
      max("copies").as("max_copies")))
      .select(col("n_docs"), col("total_bytes"), col("n_chunks"),
        col("n_unique_chunks"), col("dup_bytes"), col("max_copies"))
  }

  type Q = (SparkSession, String) => DataFrame

  val registry: Map[String, Q] = Map(
    "x_multimodal_cdc" -> cdcChunking _,
    "x_multimodal_features" -> featureRollup _,
    "x_multimodal_bytes" -> byteStats _,
    "x_multimodal_transforms" -> transformRollup _,
    "x_multimodal_dedup" -> mediaDedup _,
    "x_multimodal_ingest" -> ingestFiles _,
  )

  /** DuckDB re-decode of [[FakeCodec]]: md5 of the varchar hashes its
    * UTF-8 bytes — exactly the payload `mediaTable` encodes — so the
    * 60-bit base hash and every derived dimension match the
    * mapPartitions stub bit for bit.
    */
  private val decodeCtes: String =
    """mm AS (
      | SELECT doc_id,
      |  ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS format,
      |  strlen(text)::BIGINT AS n_bytes,
      |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
      | FROM documents),
      |dec AS (
      | SELECT doc_id, format, n_bytes,
      |  (64 + h % 1856)::INT AS width,
      |  (64 + (h >> 11) % 1016)::INT AS height,
      |  (CASE WHEN format = 'video' THEN 1 + (h >> 21) % 240 ELSE 1 END)::INT AS n_frames
      | FROM mm)""".stripMargin

  val oracles: Map[String, String] = Map(
    // identical windowed-hash boundaries, segment reassembly and chunk
    // fingerprints (media bytes = UTF-8 of the ascii text, so DuckDB
    // recomputes on the varchar — the equivalence x_multimodal_bytes
    // already pins via strlen == octet_length)
    "x_multimodal_cdc" ->
      s"""WITH d AS (SELECT doc_id, text, strlen(text)::BIGINT AS blen FROM documents),
         |bpos AS (
         | SELECT doc_id, i AS e
         | FROM d, (SELECT unnest(range($CdcWindow, (SELECT max(blen) FROM d) + 1)) AS i) r
         | WHERE i <= blen
         |  AND ('0x' || substr(md5(substr(text, (i - ${CdcWindow - 1})::INT, $CdcWindow)), 1, 15))::BIGINT
         |      % $CdcDivisor = 0
         | UNION
         | SELECT doc_id, blen AS e FROM d),
         |segs AS (
         | SELECT doc_id, e,
         |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
         | FROM bpos),
         |ch AS (
         | SELECT seg.doc_id,
         |  md5(substr(d.text, seg.s::INT, (seg.e - seg.s + 1)::INT)) AS chash,
         |  (seg.e - seg.s + 1) AS clen
         | FROM segs seg JOIN d USING (doc_id)),
         |u AS (SELECT chash, count(*) AS copies, min(clen) AS clen FROM ch GROUP BY chash)
         |SELECT
         | (SELECT count(*) FROM d)::BIGINT AS n_docs,
         | (SELECT sum(blen) FROM d)::BIGINT AS total_bytes,
         | sum(copies)::BIGINT AS n_chunks,
         | count(*)::BIGINT AS n_unique_chunks,
         | sum((copies - 1) * clen)::BIGINT AS dup_bytes,
         | max(copies)::BIGINT AS max_copies
         |FROM u""".stripMargin,
    "x_multimodal_features" ->
      s"""WITH $decodeCtes
         |SELECT format, count(*) AS n_media, sum(n_bytes)::BIGINT AS total_bytes,
         | round(avg(width), 4) AS avg_width, round(avg(height), 4) AS avg_height,
         | max(n_frames) AS max_frames
         |FROM dec GROUP BY format ORDER BY format""".stripMargin,
    "x_multimodal_transforms" ->
      s"""WITH $decodeCtes,
         |t AS (
         | SELECT format, 'resize_224x224' AS op, n_bytes AS in_bytes,
         |  greatest(1, floor(n_bytes * least(1.0, 50176.0 / (width::BIGINT * height)))::BIGINT) AS out_bytes,
         |  1 AS n_frames_kept
         | FROM dec
         | UNION ALL
         | SELECT format, 'sample_every_10' AS op, n_bytes AS in_bytes,
         |  greatest(1, (n_bytes * kept) // greatest(1, n_frames)) AS out_bytes,
         |  kept AS n_frames_kept
         | FROM (SELECT *,
         |   (CASE WHEN format = 'video' THEN greatest(1, n_frames // 10) ELSE 1 END)::INT AS kept
         |  FROM dec))
         |SELECT format, op, count(*) AS n_media,
         | sum(in_bytes)::BIGINT AS total_in_bytes,
         | sum(out_bytes)::BIGINT AS total_out_bytes,
         | max(n_frames_kept)::INT AS max_frames_kept
         |FROM t GROUP BY format, op ORDER BY format, op""".stripMargin,
    "x_multimodal_ingest" ->
      """WITH m AS (
        | SELECT doc_id,
        |  ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS format,
        |  strlen(text)::BIGINT AS length,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        | FROM documents WHERE doc_id % 25 = 0)
        |SELECT format, count(*) AS n_files, sum(length)::BIGINT AS total_bytes,
        | sum(64 + h % 1856)::BIGINT AS width_sum,
        | sum(64 + (h >> 11) % 1016)::BIGINT AS height_sum
        |FROM m GROUP BY format ORDER BY format""".stripMargin,
    "x_multimodal_dedup" ->
      """WITH fp AS (
        | SELECT ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS format,
        |  md5(text) AS fp, count(*) AS copies, min(doc_id) AS keeper
        | FROM documents GROUP BY 1, 2)
        |SELECT format, count(*) AS n_distinct, sum(copies)::BIGINT AS n_media,
        | (sum(copies) - count(*))::BIGINT AS n_removed,
        | sum(keeper)::BIGINT AS keeper_id_sum
        |FROM fp GROUP BY format ORDER BY format""".stripMargin,
    "x_multimodal_bytes" ->
      """SELECT format, count(*) AS n_media,
        | sum(strlen(text))::BIGINT AS total_bytes,
        | min(strlen(text)) AS min_bytes,
        | max(strlen(text)) AS max_bytes
        |FROM (SELECT text, ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS format
        |      FROM documents)
        |GROUP BY format ORDER BY format""".stripMargin,
  )
}
