package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source lint for the hardcoded-work-dir defect class (round-12
  * verdict finding 3): an absolute checkout path (`/root/repo/...`)
  * baked into engine code runs nowhere but this exact container — not
  * from another checkout, not on a cluster scratch volume, not on DFS.
  * Like the executor-conf class before it, it was accreting one site
  * at a time (30 by round 12); [[graft.WorkDirs]] is now the one
  * sanctioned root (conf `graft.work.dir` → env `GRAFT_WORK_DIR` →
  * `<user.dir>/target/graft-work`), and this spec makes the class
  * unlandable.
  */
class WorkDirsLintSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  test("src/main has no absolute checkout paths — all work dirs go through WorkDirs") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected to run from repo root, cwd=${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- scalaFiles(root)
      (line, idx) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("/root/repo")
    } yield s"$f:${idx + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "absolute checkout paths tie engine code to one container — " +
        "route staging through graft.WorkDirs:\n  " + hits.mkString("\n  "))
  }

  // the whole environment surface of the engine: the local-run core
  // count, Verify's subset filter and repeat pass, and the work-dir root
  private val allowedEnv =
    Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_REPEAT", "GRAFT_WORK_DIR")
  private val envRead = raw"""sys\.env|System\.getenv""".r
  private val envName =
    raw"""(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\s*\(\s*"([^"]*)"""".r

  test("src/main reads no environment variable outside the fixed set") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected to run from repo root, cwd=${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- scalaFiles(root)
      (line, idx) <- Files.readAllLines(f).asScala.zipWithIndex
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
      reads = envRead.findAllIn(line).size
      if reads > 0
      names = envName.findAllMatchIn(line).map(_.group(1)).toSeq
      // a read whose name is not a literal on the same line cannot be checked
      if names.size < reads || names.exists(n => !allowedEnv.contains(n))
    } yield s"$f:${idx + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"environment variables outside ${allowedEnv.toSeq.sorted.mkString(", ")} — " +
        "make it an argument or a session conf key instead:\n  " + hits.mkString("\n  "))
  }

  // a marker-file name (`_` then upper case) at the start of a string
  // literal or after a `/` in it: `s"$dir/_SUCCESS"`, `"_DONE"`
  private val markerLiteral = raw""""(?:[^"]*/)?_[A-Z][A-Z_]*""".r

  test("src/main names no staging marker outside Staged — every layer goes through it") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"expected to run from repo root, cwd=${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- scalaFiles(root)
      if f.getFileName.toString != "Staged.scala"
      (line, idx) <- Files.readAllLines(f).asScala.zipWithIndex
      if !line.trim.startsWith("//") && !line.trim.startsWith("*")
      if markerLiteral.findFirstIn(line).isDefined
    } yield s"$f:${idx + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "a per-site marker decides on its own when a layer is still good — " +
        "stage the layer with graft.Staged.dir/at instead:\n  " + hits.mkString("\n  "))
  }

  test("WorkDirs resolution: conf overrides env overrides the checkout default") {
    val spark = TestSpark.spark
    val dflt = WorkDirs.root(spark)
    assert(dflt.endsWith("/target/graft-work"),
      s"checkout default must preserve the pre-r13 layout, got $dflt")
    assert(!dflt.startsWith("/root/repo") ||
      System.getProperty("user.dir") == "/root/repo",
      "default must derive from user.dir, not a literal")
    spark.conf.set("graft.work.dir", "/mnt/scratch/graft")
    try {
      assert(WorkDirs.root(spark) === "/mnt/scratch/graft")
      assert(WorkDirs.rootActive === "/mnt/scratch/graft",
        "rootActive must read the active session's conf")
    } finally spark.conf.unset("graft.work.dir")
    assert(WorkDirs.root(spark) === dflt)
  }
}
