package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by the graft mains, perfbench
  * and tests.
  *
  * Scale rationale: shuffle partitions sized to local cores (the driver
  * runs local[32]); AQE on so skewed shuffles re-plan at runtime — the
  * same knobs that matter on a 1000-executor cluster, just smaller.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet's ts column has varied across testdata
      // generations: TIMESTAMP(NANOS) and TIMESTAMP(MICROS,
      // isAdjustedToUTC=false). Handle both without caring which one
      // this round's data carries: nanos arrive as Long (Tables.events
      // converts to TimestampType micros), and NTZ-annotated micros
      // read directly as TimestampType — under the UTC session zone the
      // stored integer is the same instant DuckDB's naive TIMESTAMP
      // sees, so oracles agree bit-for-bit.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def local(cpus: String): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
