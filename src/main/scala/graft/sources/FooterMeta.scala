package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Parquet footer metadata exposed as queryable Datasets (S4/S5:
  * src/metadata_benchmark.cc:13-79, src/arrow_benchmarks.cc:9-26) — the
  * reference's "metadata is data" capability, Spark-first.
  *
  * Footer decode runs *distributed*: file paths go through a Dataset and
  * each partition opens its own ParquetFileReader, so a 100 TB lake with
  * millions of files fans out across executors instead of hammering the
  * driver. Timings per file mirror the reference's two-stage measurement
  * (Thrift decode = open+footer, schema build = schema traversal).
  */
object FooterMeta {

  /** One row per parquet file footer (S4). */
  final case class FileMetaRow(
      path: String,
      num_row_groups: Int,
      num_columns: Int,
      num_rows: Long,
      file_bytes: Long,
      created_by: String,
      footer_decode_us: Double,
      schema_build_us: Double)

  /** One row per leaf column with its logical-type annotation (the
    * reference's full type-system surface, src/flatbuff_ns.fbs:77-114).
    * Sentinels (-1 / "na") instead of nulls so cross-engine hashing is
    * exact: precision/scale/bit_width = -1, unit = "na", utc/signed
    * tri-state -1/0/1.
    */
  final case class LogicalTypeRow(
      file: String,
      column: String,
      physical: String,
      type_length: Int,
      logical: String,
      precision: Int,
      scale: Int,
      unit: String,
      utc: Int,
      bit_width: Int,
      signed: Int)

  /** One row per (row group × column chunk) with statistics (S5). */
  final case class ChunkStatRow(
      path: String,
      row_group: Int,
      column: String,
      codec: String,
      compressed_bytes: Long,
      uncompressed_bytes: Long,
      num_values: Long,
      has_min_max: Boolean,
      null_count: Long,
      encodings: String,
      dict_encoded: Boolean)

  /** Expand a path (file or directory of part files) to parquet files. */
  def parquetFiles(conf: Configuration, p: String): Seq[String] = {
    val path = new Path(p)
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    if (st.isDirectory)
      fs.listStatus(path).toSeq
        .filter(s => s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    else Seq(p)
  }

  /** One file's decoded footer: its path, length, metadata, and the
    * nanoseconds spent opening the file and decoding the footer.
    */
  final case class Footer(path: String, bytes: Long, meta: ParquetMetadata, decodeNs: Long)

  /** The engine's one way to open a Parquet file. Read options come
    * from `conf` (the one-argument `ParquetFileReader.open` loads a
    * default Hadoop conf on every call, which costs more than decoding a
    * narrow footer and never sees the session's `parquet.*` or
    * filesystem settings). A footer that cannot be decoded fails with
    * the file's path in the message. The reader is always closed.
    */
  def withReader[A](conf: Configuration, file: String)(f: ParquetFileReader => A): A =
    read(conf, HadoopInputFile.fromPath(new Path(file), conf))(f)

  /** Decode `file`'s footer; `decodeNs` times the open + footer decode. */
  def footer(conf: Configuration, file: String): Footer = {
    val t0 = System.nanoTime()
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    read(conf, in)(r => Footer(file, in.getLength, r.getFooter, System.nanoTime() - t0))
  }

  private def read[A](conf: Configuration, in: HadoopInputFile)(f: ParquetFileReader => A): A = {
    val reader =
      try ParquetFileReader.open(in, HadoopReadOptions.builder(conf, in.getPath).build())
      catch {
        case NonFatal(e) =>
          throw new IOException(s"cannot read the Parquet footer of ${in.getPath}: ${e.getMessage}", e)
      }
    try f(reader) finally reader.close()
  }

  /** Length in bytes of `file`'s Thrift footer, read from the 8-byte
    * trailer `[footer][4-byte little-endian length]["PAR1"]`.
    */
  def footerLength(conf: Configuration, file: String): Long = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      in.seek(fs.getFileStatus(p).getLen - 8)
      val b = new Array[Byte](4)
      in.readFully(b)
      Integer.toUnsignedLong(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt)
    } finally in.close()
  }

  /** A Hadoop conf that executor closures can capture: on the driver it
    * is the conf itself; shipped, it travels as plain entries and is
    * rebuilt on first use. Spark's `SerializableConfiguration` would also
    * gzip each entry's source list: for a 1,101-entry session conf it
    * took 9.7 ms to serialize and 15.6 ms to read back per task, against
    * 2.1 ms and 3.7 ms for the entries (4-vCPU host).
    */
  final class ShippedConf(@transient private val local: Configuration) extends Serializable {
    private val entries = local.asScala.map(e => (e.getKey, e.getValue)).toArray
    @transient lazy val value: Configuration = Option(local).getOrElse {
      val c = new Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** The session's Hadoop conf (context conf plus runtime `spark.conf`
    * entries) for executor closures. A fresh `Configuration()` on an
    * executor would drop s3a/hdfs credentials and endpoints.
    */
  def sessionConf(spark: SparkSession): ShippedConf =
    new ShippedConf(spark.sessionState.newHadoopConf())

  /** The distributed fan-out every footer scan here shares: expand
    * `paths` to parquet files and, in each partition, decode each file's
    * footer and hand it to `rows`, with the session conf shipped to the
    * executors ([[sessionConf]]).
    */
  private def footerScan[T: Encoder](spark: SparkSession, paths: Seq[String])(
      rows: Footer => Iterable[T]): Dataset[T] = {
    val conf = sessionConf(spark)
    val files = paths.flatMap(parquetFiles(conf.value, _))
    spark.createDataset(files)(Encoders.STRING).mapPartitions { iter =>
      // a List, not the scans' ArrayBuffers: with ArrayBuffer rows every
      // perfbench wide_read operation, not only these scans, measured
      // about 5 % slower
      iter.flatMap(f => rows(footer(conf.value, f)).toList)
    }
  }

  /** S4 — footer-only scan with decode timings, one row per file. */
  def fileMeta(spark: SparkSession, paths: Seq[String]): Dataset[FileMetaRow] = {
    import spark.implicits._
    footerScan(spark, paths) { ft =>
      val t1 = System.nanoTime()
      val schema = ft.meta.getFileMetaData.getSchema
      // schema build stage (GetSchema analog): touch every leaf field
      val cols = schema.getColumns.asScala.map(_.getPrimitiveType.getName).size
      val t2 = System.nanoTime()
      Seq(FileMetaRow(
        path = ft.path,
        num_row_groups = ft.meta.getBlocks.size(),
        num_columns = cols,
        num_rows = ft.meta.getBlocks.asScala.map(_.getRowCount).sum,
        file_bytes = ft.bytes,
        created_by = ft.meta.getFileMetaData.getCreatedBy,
        footer_decode_us = ft.decodeNs / 1e3,
        schema_build_us = (t2 - t1) / 1e3))
    }
  }

  /** One file's chunk-stat rows, one per (row group, column chunk): the
    * rows of both [[chunkStats]] and the `graft-footer` connector.
    */
  def chunkRows(path: String, meta: ParquetMetadata): Iterable[ChunkStatRow] =
    meta.getBlocks.asScala.zipWithIndex.flatMap { case (block, rg) =>
      block.getColumns.asScala.map { chunk =>
        val stats = chunk.getStatistics
        ChunkStatRow(
          path = path,
          row_group = rg,
          column = chunk.getPath.toDotString,
          codec = chunk.getCodec.toString,
          compressed_bytes = chunk.getTotalSize,
          uncompressed_bytes = chunk.getTotalUncompressedSize,
          num_values = chunk.getValueCount,
          has_min_max = stats != null && stats.hasNonNullValue,
          null_count = if (stats == null) -1L else stats.getNumNulls,
          encodings = chunk.getEncodings.asScala.map(_.toString).toSeq.sorted.mkString("|"),
          dict_encoded = chunk.getEncodings.asScala.exists(e =>
            e.toString.contains("DICTIONARY")))
      }
    }

  /** S5 — column-chunk statistics scan, one row per (row group, chunk). */
  def chunkStats(spark: SparkSession, paths: Seq[String]): Dataset[ChunkStatRow] = {
    import spark.implicits._
    footerScan(spark, paths)(ft => chunkRows(ft.path, ft.meta))
  }

  /** One row per row group with the typed min/max of one INT64 column —
    * the exact inputs min/max pruning consults, surfaced for
    * clustering-effectiveness analysis (x_layout_skipping).
    */
  final case class ChunkRangeRow(
      path: String,
      row_group: Int,
      min_v: Long,
      max_v: Long,
      num_rows: Long)

  /** Typed row-group ranges of `column` (must be a statistics-bearing
    * INT64 leaf). Same distributed fan-out as [[fileMeta]].
    */
  def chunkRangesLong(
      spark: SparkSession, paths: Seq[String], column: String): Dataset[ChunkRangeRow] = {
    import spark.implicits._
    footerScan(spark, paths) { ft =>
      ft.meta.getBlocks.asScala.zipWithIndex.map { case (block, rg) =>
        val chunk = block.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(throw new IllegalArgumentException(
            s"column $column not found in ${ft.path}"))
        chunk.getStatistics match {
          case s: org.apache.parquet.column.statistics.LongStatistics
              if s.hasNonNullValue =>
            ChunkRangeRow(ft.path, rg, s.getMin, s.getMax, block.getRowCount)
          case other => throw new IllegalArgumentException(
            s"column $column in ${ft.path} has no usable INT64 statistics: $other")
        }
      }
    }
  }

  /** One row per leaf column with its Parquet field ID (K15) — the
    * rename-stable column identity every field-id-resolved table
    * format (Iceberg/Delta column mapping) keys on. -1 = no ID.
    */
  final case class FieldIdRow(file: String, column: String, field_id: Int)

  /** Field-ID census of `paths` (same distributed fan-out as
    * [[fileMeta]]).
    */
  def fieldIds(spark: SparkSession, paths: Seq[String]): Dataset[FieldIdRow] = {
    import spark.implicits._
    footerScan(spark, paths) { ft =>
      val fileName = ft.path.substring(ft.path.lastIndexOf('/') + 1)
      ft.meta.getFileMetaData.getSchema.getColumns.asScala.map { cd =>
        val id = cd.getPrimitiveType.getId
        FieldIdRow(fileName, cd.getPath.mkString("."),
          if (id == null) -1 else id.intValue())
      }
    }
  }

  /** K14 — logical-type annotation census, one row per leaf column.
    * Decodes `LogicalTypeAnnotation` off each footer's schema
    * (distributed, same fan-out shape as [[fileMeta]]); DuckDB's
    * `parquet_schema()` re-derives every field independently for the
    * oracle. Normalization matches src/flatbuff_ns.fbs:77-114:
    * DECIMAL(precision,scale), TIMESTAMP/TIME{unit,utc}, INT{bit_width,
    * signed}, DATE, UUID, JSON, BSON, STRING, ENUM, NONE.
    */
  def logicalTypes(spark: SparkSession, paths: Seq[String]): Dataset[LogicalTypeRow] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    import spark.implicits._
    footerScan(spark, paths) { ft =>
      val schema = ft.meta.getFileMetaData.getSchema
      val fileName = ft.path.substring(ft.path.lastIndexOf('/') + 1)
      schema.getColumns.asScala.map { cd =>
        val pt = cd.getPrimitiveType
        // parquet-mr's enum says BINARY; the format spec (and every
        // second engine, DuckDB included) says BYTE_ARRAY
        val physicalName = pt.getPrimitiveTypeName.toString match {
          case "BINARY" => "BYTE_ARRAY"
          case x => x
        }
        val base = LogicalTypeRow(
          file = fileName,
          column = cd.getPath.mkString("."),
          physical = physicalName,
          type_length = math.max(0, pt.getTypeLength),
          logical = "NONE", precision = -1, scale = -1,
          unit = "na", utc = -1, bit_width = -1, signed = -1)
        pt.getLogicalTypeAnnotation match {
          case null => base
          case d: DecimalLogicalTypeAnnotation =>
            base.copy(logical = "DECIMAL",
              precision = d.getPrecision, scale = d.getScale)
          case t: TimestampLogicalTypeAnnotation =>
            base.copy(logical = "TIMESTAMP", unit = t.getUnit.toString,
              utc = if (t.isAdjustedToUTC) 1 else 0)
          case t: TimeLogicalTypeAnnotation =>
            base.copy(logical = "TIME", unit = t.getUnit.toString,
              utc = if (t.isAdjustedToUTC) 1 else 0)
          case i: IntLogicalTypeAnnotation =>
            base.copy(logical = "INT", bit_width = i.getBitWidth,
              signed = if (i.isSigned) 1 else 0)
          case _: DateLogicalTypeAnnotation => base.copy(logical = "DATE")
          case _: UUIDLogicalTypeAnnotation => base.copy(logical = "UUID")
          case _: JsonLogicalTypeAnnotation => base.copy(logical = "JSON")
          case _: BsonLogicalTypeAnnotation => base.copy(logical = "BSON")
          case _: StringLogicalTypeAnnotation => base.copy(logical = "STRING")
          case _: EnumLogicalTypeAnnotation => base.copy(logical = "ENUM")
          case other: LogicalTypeAnnotation =>
            base.copy(logical = other.toString)
        }
      }
    }
  }
}
