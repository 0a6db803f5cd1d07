package graft

import graft.operators.Curation
import graft.streaming.EventStreams
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** [[Staged]]: when a write-once layer is reused and when it is built
  * again. The unit cases stage tiny text layers at fixed directories;
  * the end-to-end cases stage real engine layers under a private work
  * dir (`graft.work.dir`) from the sf0.001 tables or one-table copies.
  */
class StagedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf
  private val work = s"${System.getProperty("user.dir")}/target/graft-test/staged"
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private lazy val fs = new Path(work).getFileSystem(conf)

  private def fresh(name: String): String = {
    val d = s"$work/$name"
    fs.delete(new Path(d), true)
    d
  }

  private def writeText(file: String, text: String): Unit = {
    val out = fs.create(new Path(file), true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Stages a two-file text layer at `dir` from `inputs`; returns how
    * many times the build ran so far.
    */
  private class Layer(dir: String, inputs: Seq[String] = Nil) {
    var builds = 0
    def stage(): Int = {
      Staged.at(spark, dir, inputs) { d =>
        builds += 1
        writeText(s"$d/a.txt", "alpha")
        writeText(s"$d/sub/b.txt", "beta")
      }
      builds
    }
  }

  /** Runs `f` with the session's work dir pointed at `dir`. */
  private def withWorkDir[A](dir: String)(f: => A): A = {
    spark.conf.set("graft.work.dir", dir)
    try f finally spark.conf.unset("graft.work.dir")
  }

  /** Replaces `file` with `df` written as one parquet file. */
  private def overwriteWith(df: org.apache.spark.sql.DataFrame, file: String): Unit = {
    val tmp = s"$file-rewrite"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    FileUtil.copy(fs, part, fs, new Path(file), true, true, conf)
    fs.delete(new Path(tmp), true)
  }

  private def copyTable(table: String, sfCopy: String): Unit =
    FileUtil.copy(fs, new Path(s"$sf/$table.parquet"),
      fs, new Path(s"$sfCopy/$table.parquet"), false, true, conf)

  test("a staged layer is reused; an added file does not force a rebuild") {
    val dir = fresh("unit-extra")
    val layer = new Layer(dir)
    assert(layer.stage() === 1)
    assert(layer.stage() === 1, "an intact layer must be reused")
    writeText(s"$dir/orphan.txt", "added after the build")
    fs.mkdirs(new Path(s"$dir/nested"))
    writeText(s"$dir/nested/x.txt", "a layer nested inside")
    assert(layer.stage() === 1, "files added after the build must not force a rebuild")
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    val dir = fresh("unit-throw")
    val boom = intercept[IllegalStateException] {
      Staged.at(spark, dir, Nil) { d =>
        writeText(s"$d/a.txt", "half a layer")
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage === "build failed")
    assert(fs.exists(new Path(s"$dir/a.txt")), "fixture: the build got as far as one file")
    assert(!fs.exists(new Path(s"$dir/_STAGED")), "a failed build must leave no marker")
    val layer = new Layer(dir)
    assert(layer.stage() === 1, "the next call must rebuild")
    assert(layer.stage() === 1)
  }

  test("a missing or resized file forces a rebuild") {
    val dir = fresh("unit-missing")
    val layer = new Layer(dir)
    assert(layer.stage() === 1)
    fs.delete(new Path(s"$dir/sub/b.txt"), false)
    assert(layer.stage() === 2, "a deleted file must force a rebuild")
    writeText(s"$dir/a.txt", "alpha, rewritten longer")
    assert(layer.stage() === 3, "a file of another length must force a rebuild")
    assert(layer.stage() === 3)
  }

  test("a copied layer rebuilds at its new directory; the original stays valid") {
    val a = fresh("unit-copy-a")
    val b = fresh("unit-copy-b")
    val atA = new Layer(a)
    assert(atA.stage() === 1)
    FileUtil.copy(fs, new Path(a), fs, new Path(b), false, conf)
    val atB = new Layer(b)
    assert(atB.stage() === 1, "a layer copied to another directory must rebuild")
    assert(atB.stage() === 1)
    assert(atA.stage() === 1, "the original directory is still valid")
  }

  test("a rewritten input rebuilds the layer; the keyed path follows the fingerprint") {
    val root = fresh("unit-input")
    val input = s"$root/input.txt"
    writeText(input, "v1")
    val layer = new Layer(s"$root/layer", Seq(input))
    assert(layer.stage() === 1)
    assert(layer.stage() === 1)
    writeText(input, "version 2")
    assert(layer.stage() === 2, "a rewritten input must rebuild the layer")
    withWorkDir(root) {
      val p1 = Staged.path(spark, "keyed", Seq(input))
      assert(p1 === s"$root/keyed_${graft.sources.LayoutCache.fingerprint(conf, input)}")
      assert(Staged.path(spark, "plain", Nil) === s"$root/plain")
      writeText(input, "version three")
      assert(Staged.path(spark, "keyed", Seq(input)) !== p1)
    }
  }

  test("a file system set at runtime reaches Staged through the session conf") {
    val dir = fresh("session-conf")
    val layer = new Layer(dir)
    // only the session conf carries runtime keys; an uncached scheme
    // makes every FileSystem opened through it a fresh StagedProbeFs
    spark.conf.set("fs.file.impl", classOf[StagedProbeFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      assert(layer.stage() === 1)
      assert(layer.stage() === 1)
    } finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    assert(StagedProbeFs.seen.contains(s"$dir/_STAGED"),
      "Staged must check the layer through the file system the session sets at runtime")
  }

  test("a moved work dir rebuilds merge-on-read and file-sink layers that hold absolute paths") {
    val a = fresh("moved-a")
    val b = fresh("moved-b")
    withWorkDir(a) {
      Curation.mergeOnReadFrame(spark, sf).count()
      EventStreams.streamFileSink(spark, sf).count()
    }
    // copy A to B and delete A: every path recorded under A is gone
    assert(FileUtil.copy(fs, new Path(a), fs, new Path(b), true, conf))
    assert(!fs.exists(new Path(a)))
    withWorkDir(b) {
      val dir = Curation.snapshotDir(spark, sf)
      assert(dir.startsWith(b))
      val mor = Curation.mergeOnReadFrame(spark, sf)
      val v2 = spark.read.parquet(s"$dir/v2")
      assert(mor.exceptAll(v2).isEmpty && v2.exceptAll(mor).isEmpty,
        "merge-on-read must reconstruct v2 row for row after the move")
      val fromFiles = EventStreams.streamFileSink(spark, sf).collect().map(_.toString).toSeq
      val fromMemory = EventStreams.streamWindowAppend(spark, sf).collect().map(_.toString).toSeq
      assert(fromFiles.nonEmpty && fromFiles === fromMemory,
        "the moved file sink must hold exactly the append-mode rows")
    }
    fs.delete(new Path(b), true)
  }

  test("a documents rewrite under the same path re-stages snapshot and merge-on-read layers") {
    val root = fresh("rewrite")
    val sfCopy = s"$root/sf"
    copyTable("documents", sfCopy)
    withWorkDir(s"$root/work") {
      val before = Curation.snapshotDir(spark, sfCopy)
      assert(spark.read.parquet(s"$before/v1").count() ===
        Tables.documents(spark, sf).count())
      Curation.mergeOnReadFrame(spark, sfCopy).count()
      val subset = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
      overwriteWith(subset, s"$sfCopy/documents.parquet")
      val dir = Curation.snapshotDir(spark, sfCopy)
      assert(dir !== before, "a rewritten input must stage a fresh snapshot")
      val v1 = spark.read.parquet(s"$dir/v1")
      val expected = subset.select("doc_id", "text")
      assert(v1.exceptAll(expected).isEmpty && expected.exceptAll(v1).isEmpty,
        "the snapshot must follow the rewritten rows")
      val mor = Curation.mergeOnReadFrame(spark, sfCopy)
      val v2 = spark.read.parquet(s"$dir/v2")
      assert(mor.exceptAll(v2).isEmpty && v2.exceptAll(mor).isEmpty)
      assert(mor.filter(col("doc_id") % 2 =!= 0 && col("doc_id") < 10000000L).isEmpty,
        "merge-on-read must serve only the rewritten rows")
    }
    fs.delete(new Path(root), true)
  }

  test("rawTsType follows a rewrite of events.parquet under the same path") {
    val root = fresh("tstype")
    copyTable("events", root)
    val before = EventStreams.rawTsType(spark, root)
    val raw = spark.read.parquet(s"$root/events.parquet")
    // rewrite ts in the other on-disk layout the engine accepts
    val (rewritten, after) =
      if (before == LongType) (raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))),
        TimestampType)
      else (raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L), LongType)
    overwriteWith(rewritten, s"$root/events.parquet")
    assert(spark.read.parquet(s"$root/events.parquet").schema("ts").dataType === after,
      "fixture: the copy now holds the other ts layout")
    assert(EventStreams.rawTsType(spark, root) === after,
      "the stream schema must follow the rewritten file")
    fs.delete(new Path(root), true)
  }
}

/** The local file system, recording every path it is asked about. */
class StagedProbeFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def exists(f: Path): Boolean = {
    StagedProbeFs.seen.add(f.toUri.getPath)
    super.exists(f)
  }
}

object StagedProbeFs {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
