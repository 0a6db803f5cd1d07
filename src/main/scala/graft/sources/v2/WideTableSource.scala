package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.SplittableRandom

/** DataSource V2 generator behind [[graft.sources.WideTableGen.wide]]:
  * `numCols` non-nullable float columns `col_<i>` × `numRows` rows,
  * uniform in `[lo, hi)`, in `numPartitions` input partitions. Loaded by
  * class name only; its options are the parameters of `wide`.
  *
  * The analyzed plan is one leaf with N attributes, so planning cost
  * does not grow with an expression per column. Each (seed, partition,
  * column) has its own `SplittableRandom` stream and row r of a
  * partition takes the r-th draw of every stream, so a pruned read
  * (`SupportsPushDownRequiredColumns`) returns the same values as the
  * full read.
  */
class WideTableSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WideSpec(options).schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WideTable(WideSpec(new CaseInsensitiveStringMap(properties)))
  override def supportsExternalMetadata(): Boolean = false
}

/** The generator's parameters, as `WideTableGen.wide` passes them. */
final case class WideSpec(numCols: Int, numRows: Long, seed: Long, lo: Double, hi: Double,
    numPartitions: Int) {
  require(numCols >= 0 && numRows >= 0 && numPartitions > 0,
    s"wide table needs numCols >= 0, numRows >= 0, numPartitions > 0: $this")

  def schema: StructType =
    StructType((0 until numCols).map(i => StructField(s"col_$i", FloatType, nullable = false)))

  def options: Map[String, String] = Map(
    "numCols" -> numCols.toString, "numRows" -> numRows.toString, "seed" -> seed.toString,
    "lo" -> lo.toString, "hi" -> hi.toString, "numPartitions" -> numPartitions.toString)
}

object WideSpec {
  def apply(o: CaseInsensitiveStringMap): WideSpec = {
    def get(k: String): String =
      Option(o.get(k)).getOrElse(throw new IllegalArgumentException(s"wide table: missing option $k"))
    WideSpec(get("numCols").toInt, get("numRows").toLong, get("seed").toLong,
      get("lo").toDouble, get("hi").toDouble, get("numPartitions").toInt)
  }

  /** Seed of the stream for one (seed, partition, column): SplitMix64's
    * finalizer applied per component, so neighbouring seeds, partitions
    * and columns get unrelated streams.
    */
  private[v2] def streamSeed(seed: Long, partition: Int, column: Int): Long =
    mix64(mix64(mix64(seed) + partition) + column)

  private def mix64(z0: Long): Long = {
    val z1 = (z0 ^ (z0 >>> 30)) * 0xbf58476d1ce4e5b9L
    val z2 = (z1 ^ (z1 >>> 27)) * 0x94d049bb133111ebL
    z2 ^ (z2 >>> 31)
  }
}

class WideTable(spec: WideSpec) extends Table with SupportsRead {
  override def name(): String = s"wide_table(${spec.numCols} cols, ${spec.numRows} rows)"
  override def schema(): StructType = spec.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WideScanBuilder(spec)
}

class WideScanBuilder(spec: WideSpec) extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = spec.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new WideScan(spec, required)
}

/** Partition `index` generates `count` rows. */
final case class WidePartition(index: Int, count: Long) extends InputPartition

class WideScan(spec: WideSpec, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"wide_table ${spec.numCols} cols, ${spec.numRows} rows, seed ${spec.seed}, " +
      s"${required.length} read"
  /** The same split as `spark.range(0, numRows, 1, numPartitions)`. */
  override def planInputPartitions(): Array[InputPartition] = {
    def bound(i: Int): Long = (BigInt(i) * spec.numRows / spec.numPartitions).toLong
    Array.tabulate[InputPartition](spec.numPartitions)(i =>
      WidePartition(i, bound(i + 1) - bound(i)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WideReaderFactory(spec, required.fieldNames.map(spec.schema.fieldIndex))
}

class WideReaderFactory(spec: WideSpec, columns: Array[Int]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WidePartitionReader(spec, partition.asInstanceOf[WidePartition], columns)
}

/** Fills one reused row per `next()`: column j takes the next draw of
  * its column's stream, scaled to `[lo, hi)` and narrowed to float.
  */
class WidePartitionReader(spec: WideSpec, part: WidePartition, columns: Array[Int])
    extends PartitionReader[InternalRow] {
  private val streams =
    columns.map(c => new SplittableRandom(WideSpec.streamSeed(spec.seed, part.index, c)))
  private val row = new SpecificInternalRow(columns.toSeq.map(_ => FloatType))
  private val span = spec.hi - spec.lo
  private var left = part.count

  override def next(): Boolean = left > 0 && {
    left -= 1
    var j = 0
    while (j < streams.length) {
      row.setFloat(j, (streams(j).nextDouble() * span + spec.lo).toFloat)
      j += 1
    }
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
