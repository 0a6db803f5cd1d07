package graft

import org.apache.spark.sql.SparkSession

/** Single conf-backed root for every on-disk artifact the engine
  * stages: write-once bench fixtures, fingerprint-keyed ANN/dedup
  * model parquet, streaming stage/sink/checkpoint dirs, lake-op table
  * dirs. Write-once layers under it go through [[Staged]], which
  * decides when one is still valid; this object only resolves the
  * root. Before r13 these were 30 hardcoded absolute-checkout-path
  * literals — engine code that could not run from any other checkout
  * or on a cluster (the same recurring-defect shape as the
  * executor-side `new Configuration()` sweep; [[WorkDirsLintSpec]]
  * greps src/main so the class cannot recur).
  *
  * Resolution order:
  *  1. the `graft.work.dir` Spark conf — cluster deployments point
  *     this at a shared scratch volume or DFS path (the value is a
  *     Hadoop-FS URI: everything written under it goes through the
  *     FileSystem API already);
  *  2. the `GRAFT_WORK_DIR` environment variable (driver-side staging
  *     without touching session conf);
  *  3. `<user.dir>/target/graft-work` — the sbt-checkout default,
  *     byte-identical to the pre-r13 paths when run from the repo
  *     root, so every fingerprint-keyed write-once fixture stays
  *     warm across the migration.
  */
object WorkDirs {
  def root(spark: SparkSession): String =
    spark.conf.getOption("graft.work.dir")
      .orElse(sys.env.get("GRAFT_WORK_DIR"))
      .getOrElse(defaultRoot)

  /** For call sites without a session in scope (object-level bench
    * fixtures): the active session's conf, or the checkout default
    * when no session is up yet.
    */
  def rootActive: String =
    SparkSession.getActiveSession.map(root)
      .getOrElse(defaultRoot)

  private def defaultRoot: String =
    s"${System.getProperty("user.dir")}/target/graft-work"
}
