package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.LayoutCache
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way the engine stages a write-once layer under [[WorkDirs]]:
  * a derived table, trained model, bench fixture or stream directory
  * that later calls reuse instead of recomputing.
  *
  * A layer is reused only while its marker still says three things:
  *  - the absolute directory it was built in. Some layers hold absolute
  *    paths (a deletion-vector sidecar's file paths, a file sink's
  *    `_spark_metadata` log, a stream checkpoint), so a moved or copied
  *    work dir rebuilds them instead of serving paths into the old one;
  *  - the relative name and length of every file the build wrote, all
  *    still present. Files added later (vacuum orphans, layers nested
  *    inside this one) do not count;
  *  - the [[LayoutCache.fingerprint]] of every input. A layer built from
  *    another layer names a path inside it (`snapshots_…/v1`, not the
  *    whole directory, which nested layers and vacuum orphans change),
  *    so a rebuilt input rebuilds this layer too.
  *
  * Otherwise the directory is deleted and `build` runs again in place,
  * with the marker written last. Never into a temp dir renamed over the
  * old one: checkpoints and sink logs record absolute paths, which a
  * rename would break. A `build` that throws leaves no marker, so the
  * next call rebuilds. The marker's name starts with `_`, so Parquet,
  * `binaryFile` and stream readers skip it. Everything goes through the
  * Hadoop `FileSystem` under the session's Hadoop conf (runtime
  * `spark.conf` entries included, as the layer writes see them), so a
  * work dir on a DFS behaves like a local one.
  */
object Staged {
  private val Marker = "_STAGED"

  /** `<work root>/<name>_<fingerprint of inputs>` (`<work root>/<name>`
    * without inputs): where [[dir]] stages the layer, for callers that
    * need only the location.
    */
  def path(spark: SparkSession, name: String, inputs: Seq[String]): String = {
    val conf = spark.sessionState.newHadoopConf()
    keyed(spark, name, inputs.map(LayoutCache.fingerprint(conf, _)))
  }

  /** Stages the layer at [[path]] (building it if absent or stale, or
    * always when `rebuild`: for a query whose job is the build itself,
    * so that later readers reuse what it wrote) and returns that
    * directory.
    */
  def dir(spark: SparkSession, name: String, inputs: Seq[String], rebuild: Boolean = false)(
      build: String => Unit): String = {
    val conf = spark.sessionState.newHadoopConf()
    val fps = inputs.map(LayoutCache.fingerprint(conf, _))
    stage(conf, keyed(spark, name, fps), inputs.zip(fps), build, rebuild)
  }

  /** Stages a layer at a fixed directory: one nested inside another
    * layer, or a fixture under a directory its caller chose. Its inputs
    * key only the marker, not the path.
    */
  def at(spark: SparkSession, dir: String, inputs: Seq[String])(
      build: String => Unit): String = {
    val conf = spark.sessionState.newHadoopConf()
    stage(conf, dir, inputs.map(i => i -> LayoutCache.fingerprint(conf, i)), build, force = false)
  }

  private def keyed(spark: SparkSession, name: String, fps: Seq[String]): String =
    if (fps.isEmpty) s"${WorkDirs.root(spark)}/$name"
    else s"${WorkDirs.root(spark)}/${name}_${fps.mkString("_")}"

  private def stage(conf: Configuration, dir: String, inputs: Seq[(String, String)],
      build: String => Unit, force: Boolean): String = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val qdir = fs.makeQualified(root)
    val head = s"dir\t$qdir" +: inputs.map { case (p, fp) => s"input\t$p\t$fp" }
    if (force || !intact(fs, qdir, head)) {
      fs.delete(qdir, true)
      build(dir)
      val files = listFiles(fs, qdir).map { case (rel, len) => s"file\t$rel\t$len" }
      val out = fs.create(new Path(qdir, Marker), true)
      try out.write((head ++ files :+ "end").mkString("", "\n", "\n").getBytes(UTF_8))
      finally out.close()
    }
    dir
  }

  /** The marker holds `head` exactly, ends complete, and every file it
    * lists is still there at its recorded length.
    */
  private def intact(fs: FileSystem, dir: Path, head: Seq[String]): Boolean = {
    val marker = new Path(dir, Marker)
    fs.exists(marker) && {
      val in = fs.open(marker)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      lines.lastOption.contains("end") && {
        val (h, files) = lines.init.span(!_.startsWith("file\t"))
        lazy val now = listFiles(fs, dir).toMap
        h == head && files.forall(_.split('\t') match {
          case Array(_, rel, len) => now.get(rel).map(_.toString).contains(len)
          case _ => false
        })
      }
    }
  }

  /** (path relative to `dir`, length) of every file below it. */
  private def listFiles(fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    val prefix = dir.toUri.getPath.stripSuffix("/") + "/"
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += f.getPath.toUri.getPath.stripPrefix(prefix) -> f.getLen
    }
    out.result()
  }
}
