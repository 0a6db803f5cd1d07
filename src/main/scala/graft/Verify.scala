package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 runs a subset
    // (unset on the driver → full sweep)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // SORTED execution order (not Map iteration order): adding a query
    // must never reshuffle who runs before whom — the round-9 sf0.01
    // sweep caught m3_rowgroup_grid's timed rewrite landing AFTER
    // m3_rowgroup_layout's byte dump purely because the HashMap order
    // moved. Benchmark writers now also use scratch dirs, but the
    // sweep itself stays order-deterministic.
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }.toSeq.sortBy(_._1)
    // mechanical registry census (stderr, greppable): the single source
    // for doc-of-record counts — COVERAGE.md / PLANS.md quote this
    System.err.println(s"[verify] registry: total=${SparkEntry.queries.size} " +
      s"oracled=${SparkEntry.oracleSql.size} " +
      s"rows_only=${SparkEntry.queries.size - SparkEntry.oracleSql.size} " +
      s"selected=${selected.size}")
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // determinism audit support (round-12): SPARK_GRAFT_REPEAT=1 runs
    // every selected query a SECOND time in this same JVM into
    // __repeat__/ — tools/determinism.py then hash-compares the two
    // passes (same-JVM order/seed instability), and comparing two
    // separate Verify invocations covers the cross-JVM axis.
    if (sys.env.contains("SPARK_GRAFT_REPEAT")) {
      selected.foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/__repeat__/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] repeat $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SFDIR} lets oracles address parquet files directly (DuckDB
    // parquet_metadata) — substituted here so the dumped oracle_sql.json
    // always targets the exact data directory this run read.
    // filtered by the same `only` set as the parquet dump, so a subset
    // outDir never claims oracle entries it has no outputs for
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SFDIR}", sfDir))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
