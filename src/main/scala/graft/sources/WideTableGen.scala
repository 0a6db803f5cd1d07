package graft.sources

import graft.sources.v2.{WideSpec, WideTableSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Wide random-float table generator — the reference's table-valued
  * source (G1: src/data_generator.cc:6-55, src/test_data_generator.cc:8-45;
  * columns `col_<i>`, float32, uniform random).
  *
  * Spark-first: the table is one DataSource V2 leaf
  * ([[graft.sources.v2.WideTableSource]]) with no input scan, so
  * generation distributes across the cluster with zero shuffle, and its
  * plan stays one node with N attributes however wide the table is.
  *
  * Determinism: a value depends on (seed, partition, column, row offset
  * within the partition) only. The same (seed, numRows, numPartitions)
  * gives the same table, and reading a subset of the columns gives those
  * columns of the full read. The reference seeds nothing
  * (src/data_generator.cc:16-21 uses an unseeded mt19937); ours is more
  * reproducible, not less.
  */
object WideTableGen {

  /** N cols × M rows of uniform floats in [lo, hi), columns col_0..col_{n-1},
    * non-nullable (Parquet writes them REQUIRED).
    *
    * `numPartitions` ≤ 0 keeps the session default (the historical
    * behavior — at local[32] a 100-row frame writes as 32 tiny files).
    * The very-wide write-once fixtures pass 1 (r14): at 10,000 columns
    * each output FILE pays 10k column-writer initializations and a 10k-
    * entry footer, so 32 three-row files cost ~32× the writer/footer
    * overhead of one file for the same data — a cold 10k-col fixture
    * build measured ~110 s multi-file. Content differs with the
    * partition count, which is fine because every oracle re-derives its
    * expectations from the produced file itself.
    */
  def wide(
      spark: SparkSession,
      numCols: Int,
      numRows: Long,
      seed: Long = 42L,
      lo: Double = -1000.0,
      hi: Double = 1000.0,
      numPartitions: Int = 0): DataFrame = {
    // as many partitions as `spark.range(numRows)` would have
    val parts = if (numPartitions > 0) numPartitions
                else spark.sessionState.conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
                  .getOrElse(spark.sparkContext.defaultParallelism)
    spark.read.format(classOf[WideTableSource].getName)
      .options(WideSpec(numCols, numRows, seed, lo, hi, parts).options)
      .load()
  }
}
