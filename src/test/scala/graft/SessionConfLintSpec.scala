package graft

import org.scalatest.funsuite.AnyFunSuite

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
  * driver, and driver-side code uses `spark.sparkContext.hadoopConfiguration`.
  * The same defect hides inside the one-argument
  * `ParquetFileReader.open`, which builds a default conf per call, so
  * Parquet files are opened only through `FooterMeta`.
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
