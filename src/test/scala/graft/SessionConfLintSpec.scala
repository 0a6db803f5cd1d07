package graft

import graft.sources.FooterMeta
import org.scalatest.funsuite.AnyFunSuite

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source lint for the executor-conf defect class (round-11 verdict
  * finding 1): a zero-arg `new Configuration()` anywhere in src/main
  * silently drops every s3a/hdfs credential the session carries, so
  * code that passes on local FS breaks on the remote object stores a
  * real deployment reads. The pattern was fixed one flagged site at a
  * time across rounds 10–11 (lakeVacuum, m7PageIndex) and kept
  * reappearing; this spec makes the whole class unlandable: executor
  * closures capture [[graft.sources.FooterMeta.sessionConf]] on the
  * driver, and other driver-side code uses
  * `spark.sparkContext.hadoopConfiguration`. The same defect hides
  * inside the one-argument `ParquetFileReader.open`, which builds a
  * default conf per call, so Parquet files are opened only through
  * `FooterMeta`. The driver-side footer entries take the session conf
  * too: the context conf lacks runtime `spark.conf.set` entries, so a
  * `parquet.*` or filesystem setting made at runtime would reach the
  * scans but not the footer reads beside them.
  */
class SessionConfLintSpec extends AnyFunSuite {

  private val banned =
    raw"""new\s+(org\.apache\.hadoop\.conf\.)?Configuration\s*\(\s*\)""".r

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  private def mainRoot: Path = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"expected to run from repo root, cwd=${Paths.get("").toAbsolutePath}")
    root
  }

  test("src/main has no zero-arg new Configuration()") {
    val hits = for {
      f <- scalaFiles(mainRoot)
      (line, idx) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
      // comment lines that merely describe the anti-pattern are fine
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
    } yield s"$f:${idx + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "zero-arg new Configuration() drops session s3a/hdfs credentials — " +
        "capture FooterMeta.sessionConf(spark) on the driver (executor closures) or use " +
        "spark.sparkContext.hadoopConfiguration (driver):\n  " +
        hits.mkString("\n  "))
  }

  test("src/main opens Parquet files only through FooterMeta") {
    val opener = raw"""ParquetFileReader\.(open\(|readFooter)|new\s+ParquetFileReader\s*\(""".r
    val hits = for {
      f <- scalaFiles(mainRoot)
      if f.getFileName.toString != "FooterMeta.scala"
      (line, idx) <- Files.readAllLines(f).asScala.zipWithIndex
      if opener.findFirstIn(line).isDefined
    } yield s"$f:${idx + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "open Parquet files with FooterMeta.footer or FooterMeta.withReader, which build " +
        "read options from the given conf (the one-argument ParquetFileReader.open " +
        "loads a default Hadoop conf on every call):\n  " + hits.mkString("\n  "))
  }

  test("driver-side FooterMeta entries take the session conf, not hadoopConfiguration") {
    // the conf argument of an entry call, and for a plain name the
    // nearest binding of that name above the call (a val or a parameter)
    val entry = raw"""FooterMeta\.(footer|withReader|footerLength|parquetFiles)\(\s*([^,]+),""".r
    def binding(lines: IndexedSeq[String], at: Int, name: String): Option[String] =
      if (!name.matches("[A-Za-z_][A-Za-z0-9_]*")) None
      else {
        val bound = raw"""\b(val|var)\s+$name\b|\b$name\s*:""".r
        (at to 0 by -1).map(lines).find(bound.findFirstIn(_).isDefined)
      }
    val hits = for {
      f <- scalaFiles(mainRoot)
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, idx) <- lines.zipWithIndex
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
      m <- entry.findAllMatchIn(line)
      arg = m.group(2).trim
      if (arg +: binding(lines, idx, arg).toSeq).exists(_.contains("hadoopConfiguration"))
    } yield s"$f:${idx + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "pass FooterMeta.sessionConf(spark).value to FooterMeta.footer/withReader/" +
        "footerLength/parquetFiles; the context hadoopConfiguration lacks runtime " +
        "spark.conf settings:\n  " + hits.mkString("\n  "))
  }

  test("a runtime parquet.* setting reaches the driver-side footer read options") {
    // a decryption factory that does not exist: the read options are
    // built from the conf, so only a conf that carries the runtime
    // setting makes the footer read fail
    val file = s"${TestSpark.sf}/region.parquet"
    val spark = TestSpark.spark
    val missing = "graft.lint.NoSuchDecryptionFactory"
    def mentionsMissing(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(missing))
    spark.conf.set("parquet.crypto.factory.class", missing)
    try {
      // the context conf never sees the runtime entry
      assert(FooterMeta.footer(spark.sparkContext.hadoopConfiguration, file).meta != null)
      val direct = intercept[IOException](FooterMeta.footer(FooterMeta.sessionConf(spark).value, file))
      assert(mentionsMissing(direct), direct.toString)
      // a driver-side reader in the engine
      val viaEngine = intercept[IOException](graft.operators.BenchOps.bloomFlags(spark, file))
      assert(mentionsMissing(viaEngine), viaEngine.toString)
    } finally spark.conf.unset("parquet.crypto.factory.class")
    assert(FooterMeta.footer(FooterMeta.sessionConf(spark).value, file).meta != null)
  }

  test("FooterMeta.sessionConf ships context and runtime entries") {
    import java.io._
    val spark = TestSpark.spark
    spark.sparkContext.hadoopConfiguration.set("graft.lint.probe", "v-17")
    spark.conf.set("graft.lint.runtime", "r-5")
    try {
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(graft.sources.FooterMeta.sessionConf(spark))
      out.close()
      val shipped = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[graft.sources.FooterMeta.ShippedConf].value
      assert(shipped.get("graft.lint.probe") === "v-17")
      assert(shipped.get("graft.lint.runtime") === "r-5")
    } finally {
      spark.sparkContext.hadoopConfiguration.unset("graft.lint.probe")
      spark.conf.unset("graft.lint.runtime")
    }
  }

  test("footer scans work through a rebuilt session conf (S4/S5 executor path)") {
    val spark = TestSpark.spark
    // marker entry visible on the session conf; fileMeta's executor
    // closure carries it (FooterMeta.sessionConf) — and the scan must
    // still decode real footers through that conf
    spark.sparkContext.hadoopConfiguration.set("graft.lint.footer", "on")
    try {
      val rows = graft.sources.FooterMeta
        .fileMeta(spark, Seq(s"${TestSpark.sf}/region.parquet")).collect()
      assert(rows.nonEmpty && rows.forall(_.num_rows > 0))
      val chunks = graft.sources.FooterMeta
        .chunkStats(spark, Seq(s"${TestSpark.sf}/region.parquet")).collect()
      assert(chunks.nonEmpty)
    } finally spark.sparkContext.hadoopConfiguration.unset("graft.lint.footer")
  }
}
