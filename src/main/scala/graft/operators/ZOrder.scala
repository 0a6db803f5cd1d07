package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout — multi-dimensional sort-on-write.
  *
  * [[BenchOps.k6SortedWrite]] shows single-key sort-on-write: row-group
  * min/max stats become tight on THAT key and prune ~99% of a selective
  * scan, but a predicate on any other column prunes nothing. The
  * Z-curve interleaves the bits of two keys (customer, order day) into
  * one sort value, so runs of the sorted file stay clustered in BOTH
  * dimensions and predicates on EITHER column skip row groups — the
  * layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
  *
  * Both dimensions are first QUANTIZED to 256 equal-width buckets over
  * their observed range. This is not an optimization detail but what
  * makes the curve work at all: interleaving raw values whose
  * cardinalities differ by orders of magnitude degenerates to a sort on
  * the wide dimension (the narrow one only occupies low bits), and
  * predicates on the narrow dimension prune nothing. The bucket scale
  * constants are extracted from the data at plan time (two max
  * aggregates — model-sized extraction, like IVF's centroids); a lake
  * deployment would rank-quantize per partition statistics instead of
  * global max.
  *
  * The quantize+interleave mapping is plain integer arithmetic,
  * expressible identically in Spark and DuckDB (scale constants become
  * scalar subqueries there) — so unlike most layout machinery the
  * mapping carries a full hash-match oracle, and the two-dimensional
  * skipping behavior is asserted on real parquet in ZOrderSpec.
  *
  * Scale: the write is `repartitionByRange(zval)` + in-partition sort —
  * one range shuffle, the same cost as any sort-on-write.
  */
object ZOrder {

  type Q = (SparkSession, String) => DataFrame

  private val Epoch = "1995-01-01" // min(o_orderdate) in the testdata
  private val Buckets = 256L // 8 bits per dimension -> 16-bit z-value

  /** Spark-side 16-bit Morton interleave of `ckq` and `dyq` (8 bits each). */
  private val zSparkExpr: String =
    (0 until 8).map { i =>
      s"shiftleft(shiftright(ckq, $i) & 1, ${2 * i + 1}) | shiftleft(shiftright(dyq, $i) & 1, ${2 * i})"
    }.mkString(" | ")

  /** DuckDB twin of [[zSparkExpr]]. */
  private val zDuckExpr: String =
    (0 until 8).map { i =>
      s"(((ckq >> $i) & 1) << ${2 * i + 1}) | (((dyq >> $i) & 1) << ${2 * i})"
    }.mkString(" | ")

  /** Orders with both curve dimensions quantized and z-mapped. */
  private def zMapped(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        datediff(to_date(col("o_orderdate")), to_date(lit(Epoch)))
          .cast("bigint").as("dy"))
    // plan-time scale constants (two scalars — layout planning, not a
    // data collect); the oracle recomputes them as scalar subqueries
    val mx = base.agg(max("o_custkey"), max("dy")).collect()(0)
    val (mxCk, mxDy) = (mx.getLong(0), mx.getLong(1))
    base
      .withColumn("ckq", expr(s"(o_custkey * $Buckets) div ${mxCk + 1}"))
      .withColumn("dyq", expr(s"(dy * $Buckets) div ${mxDy + 1}"))
      .withColumn("zval", expr(zSparkExpr))
  }

  /** K7 — the curve mapping itself, oracle-checked: the lowest z-value
    * run of the orders table (what the first row groups of the z-sorted
    * layout contain).
    */
  def zOrderMap(spark: SparkSession, sfDir: String): DataFrame =
    zMapped(spark, sfDir)
      .select(col("o_orderkey"), col("ckq"), col("dyq"), col("zval"))
      .orderBy(col("zval"), col("o_orderkey"))
      .limit(500)

  /** Writes (once per source version) the z-sorted orders copy used by
    * the two-dimensional skipping spec; path keyed on the source
    * fingerprint so regenerated testdata forces a rewrite. Small row
    * groups (64 KiB) stand in for the 128 MiB groups a lake write would
    * use — what matters is groups ≫ 1 so stats have pruning power.
    */
  def zOrderedOrdersPath(spark: SparkSession, sfDir: String): String =
    graft.Staged.dir(spark, s"zorder/orders_${new java.io.File(sfDir).getName}",
        Seq(s"$sfDir/orders.parquet")) { out =>
      zMapped(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"), col("zval"))
        .repartitionByRange(16, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .option("parquet.block.size", (64 * 1024).toString)
        .parquet(out)
    }

  // ---- Hilbert curve (round-11) ----
  //
  // The Z-curve's weakness is its "seams": consecutive z-values can sit
  // a whole quadrant apart (the jump at every power-of-two boundary),
  // so a range of z-values covers rectangles plus stray corners. The
  // Hilbert curve has NO seams — consecutive d-values are always
  // xy-adjacent (manhattan distance exactly 1, spec-asserted as a
  // bijection + adjacency proof over the full 256×256 grid), which is
  // why Delta's liquid clustering moved from Z-order to Hilbert. The
  // xy2d transform is 8 integer rotate/reflect steps, generated for
  // BOTH engines from the same loop (the affine-constants discipline),
  // so the mapping carries a full hash-match oracle like the Z-curve.

  private val HilbertOrder = 8 // 8 bits per dim — matches Buckets=256

  /** One xy2d step at scale s, applied to running (hx, hy, hd). */
  private def hilbertSparkStep(df: DataFrame, s: Long): DataFrame = df
    .withColumn("rx", expr(s"CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END"))
    .withColumn("ry", expr(s"CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END"))
    .withColumn("hd", expr(s"hd + $s * $s * cast(((3 * rx) ^ ry) as bigint)"))
    .withColumn("hx2", expr(s"CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN $s - 1 - hy ELSE hy END"))
    .withColumn("hy2", expr(s"CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN $s - 1 - hx ELSE hx END"))
    .withColumn("hx", col("hx2")).withColumn("hy", col("hy2"))
    .drop("rx", "ry", "hx2", "hy2")

  /** Hilbert d-value appended to a frame carrying (x, y) columns —
    * the NATIVE codegen expression
    * ([[graft.functions.CurveExpressions.hilbert_d]]): one generated
    * static call per row instead of the 24 chained CASE projections of
    * [[hilbertMappedFold]], which is retained as the oracle-parity
    * twin (DuckDB runs the fold) and spec-pinned bit-identical over
    * the curve's full domain.
    */
  private[graft] def hilbertMapped(df: DataFrame, x: String, y: String): DataFrame =
    df.withColumn("hval", graft.functions.CurveExpressions
      .hilbert_d(col(x).cast("bigint"), col(y).cast("bigint"), HilbertOrder))

  /** The 8-step expression-fold formulation — the cross-engine twin of
    * the native expression (both generated from the same step logic).
    */
  private[graft] def hilbertMappedFold(df: DataFrame, x: String, y: String): DataFrame = {
    val init = df
      .withColumn("hx", col(x).cast("bigint"))
      .withColumn("hy", col(y).cast("bigint"))
      .withColumn("hd", lit(0L))
    val stepped = ((HilbertOrder - 1) to 0 by -1)
      .foldLeft(init)((d, i) => hilbertSparkStep(d, 1L << i))
    stepped.withColumnRenamed("hd", "hval").drop("hx", "hy")
  }

  /** DuckDB twin: the same 8 steps as nested SELECT layers. */
  private def hilbertDuckSql(innerRelation: String, carried: String): String = {
    var inner =
      s"SELECT $carried, ckq AS hx, dyq AS hy, 0::BIGINT AS hd FROM $innerRelation"
    for (i <- (HilbertOrder - 1) to 0 by -1) {
      val s = 1L << i
      inner =
        s"""SELECT $carried,
           | CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN $s - 1 - hy ELSE hy END AS hx,
           | CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN $s - 1 - hx ELSE hx END AS hy,
           | (hd + $s * $s * xor(3 * rx, ry))::BIGINT AS hd
           |FROM (SELECT *,
           |  CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
           |  CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM ($inner))""".stripMargin
    }
    inner
  }

  /** K13 — the Hilbert mapping on the same quantized (customer, day)
    * dimensions as [[zOrderMap]]: the lowest-d run of the orders table
    * (what the first row groups of a Hilbert-clustered layout hold).
    */
  def hilbertMap(spark: SparkSession, sfDir: String): DataFrame =
    hilbertMapped(zMapped(spark, sfDir), "ckq", "dyq")
      .select(col("o_orderkey"), col("ckq"), col("dyq"), col("hval"))
      .orderBy(col("hval"), col("o_orderkey"))
      .limit(500)

  val registry: Map[String, Q] = Map(
    "k7_zorder" -> zOrderMap _,
    "k13_hilbert" -> hilbertMap _,
  )

  val oracles: Map[String, String] = Map(
    "k7_zorder" ->
      s"""WITH mx AS (
         | SELECT max(o_custkey)::BIGINT AS mck,
         |  max(date_diff('day', DATE '$Epoch', o_orderdate::DATE))::BIGINT AS mdy
         | FROM orders),
         |m AS (
         | SELECT o_orderkey,
         |  (o_custkey * $Buckets) // (mck + 1) AS ckq,
         |  (date_diff('day', DATE '$Epoch', o_orderdate::DATE)::BIGINT * $Buckets) // (mdy + 1) AS dyq
         | FROM orders, mx)
         |SELECT o_orderkey, ckq, dyq, ($zDuckExpr) AS zval
         |FROM m ORDER BY zval, o_orderkey LIMIT 500""".stripMargin,
    "k13_hilbert" -> {
      val stepped = hilbertDuckSql("m", "o_orderkey, ckq, dyq")
      s"""WITH mx AS (
         | SELECT max(o_custkey)::BIGINT AS mck,
         |  max(date_diff('day', DATE '$Epoch', o_orderdate::DATE))::BIGINT AS mdy
         | FROM orders),
         |m AS (
         | SELECT o_orderkey,
         |  (o_custkey * $Buckets) // (mck + 1) AS ckq,
         |  (date_diff('day', DATE '$Epoch', o_orderdate::DATE)::BIGINT * $Buckets) // (mdy + 1) AS dyq
         | FROM orders, mx)
         |SELECT o_orderkey, ckq, dyq, hd AS hval
         |FROM ($stepped) ORDER BY hval, o_orderkey LIMIT 500""".stripMargin
    },
  )
}
