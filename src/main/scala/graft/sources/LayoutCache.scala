package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Content fingerprints of the inputs of derived layouts: the key of
  * every [[graft.Staged]] layer's path and the input record in its
  * marker, of the bucketed join tables, and of the in-memory trained
  * models.
  *
  * Round-3 defect this closes: layouts were keyed only by a marker file
  * + the source directory's basename, so regenerating testdata under
  * the same path silently served candidates from STALE buckets — a
  * wrong-answer class that rows-only checks can't catch. The
  * fingerprint is (total length, max modification time) of the source
  * file or directory tree; any rewrite of the source changes it, which
  * changes the derived layout's path, which forces regeneration. Stale
  * layouts are left behind in the scratch dir (gitignored, bounded by
  * testdata generations) — at lake scale the same key would live in a
  * catalog's table-version property instead of a path suffix.
  */
object LayoutCache {

  /** `<len>-<mtime>` of the source path (directory: summed length, max
    * child mtime — covers part-file rewrites that keep the dir mtime).
    */
  def fingerprint(conf: Configuration, src: String): String = {
    val p = new Path(src)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      val children = fs.listStatus(p)
      val len = fs.getContentSummary(p).getLength
      val mtime = (st.getModificationTime +: children.map(_.getModificationTime).toSeq).max
      s"$len-$mtime"
    } else s"${st.getLen}-${st.getModificationTime}"
  }

  /** Fingerprint over several sources (e.g. both sides of a join). */
  def fingerprint(conf: Configuration, srcs: Seq[String]): String =
    srcs.map(fingerprint(conf, _)).mkString("_")
}
