package graft.sources.v2

import graft.sources.FooterMeta
import graft.sources.FooterMeta.{ChunkStatRow, ShippedConf}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector exposing parquet FOOTER metadata as a
  * first-class Spark table: `spark.read.format("graft-footer").load(p)`
  * yields one row per (file, row group, column chunk) — the reference's
  * "metadata is data" capability (src/metadata_benchmark.cc:13-79)
  * surfaced through Spark's connector API rather than a Dataset helper.
  *
  * Connector mechanics, the parts that matter at 100 TB:
  *  - `planInputPartitions` returns one partition PER FILE, so a lake
  *    with millions of files decodes footers across the whole cluster;
  *  - `SupportsPushDownRequiredColumns` prunes the emitted columns at
  *    the source (verified in SourcesSpec: a 2-column projection reaches
  *    `Scan.readSchema`), so e.g. a size-histogram query never
  *    materializes the encodings strings;
  *  - readers open only the footer (ParquetFileReader reads the tail),
  *    never data pages.
  */
class FooterDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-footer"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FooterDataSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FooterTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object FooterDataSource {
  /** One row per column chunk: the fields of [[FooterMeta.ChunkStatRow]]. */
  val schema: StructType = Encoders.product[ChunkStatRow].schema
}

class FooterTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft-footer requires a path (use .load(path))")
  override def name(): String = s"graft_footer($path)"
  override def schema(): StructType = FooterDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FooterScanBuilder(path)
}

class FooterScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = FooterDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = {
    // capture the SESSION Hadoop conf at scan build (defaultFS, s3a
    // credentials, any spark.hadoop.* runtime setting)
    new FooterScan(path, required, FooterMeta.sessionConf(SparkSession.active))
  }
}

final case class FooterFilePartition(file: String) extends InputPartition

class FooterScan(path: String, required: StructType,
    private[graft] val conf: ShippedConf) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"graft-footer $path ${required.fieldNames.mkString(",")}"
  // driver-side: only FILE LISTING happens here; footer decode is on executors
  override def planInputPartitions(): Array[InputPartition] =
    FooterMeta.parquetFiles(conf.value, path)
      .map(FooterFilePartition(_)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new FooterReaderFactory(required, conf)
}

class FooterReaderFactory(required: StructType, conf: ShippedConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FooterPartitionReader(
      partition.asInstanceOf[FooterFilePartition].file, required, conf)
}

/** Executor-side reader: opens ONE footer, emits its chunk rows
  * ([[FooterMeta.chunkRows]]) projected to the required (pruned) schema.
  * The Hadoop conf arrives serialized from the driver's session — never
  * rebuilt from defaults on the executor.
  */
class FooterPartitionReader(file: String, required: StructType,
    conf: ShippedConf) extends PartitionReader[InternalRow] {

  private val fields = required.fieldNames.map(FooterDataSource.schema.fieldIndex)

  private lazy val rows: Iterator[ChunkStatRow] =
    FooterMeta.chunkRows(file, FooterMeta.footer(conf.value, file).meta).iterator

  private var current: ChunkStatRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow =
    new GenericInternalRow(fields.map { i =>
      current.productElement(i) match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
    })

  override def close(): Unit = ()
}
