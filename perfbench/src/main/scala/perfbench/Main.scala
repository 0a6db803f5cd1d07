package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.operators.{Analytics, Dedup, Similarity, TextOps}
import graft.sources.{FooterMeta, ParquetKnobs, WideTableGen}

/** Benchmark runner: sets a workload up several times, runs its seeded
  * operation sequence in a closed loop for a fixed time, and writes one
  * JSON record of every sample, every operation output and (when traced)
  * every span and engine counter. `run.py` checks the outputs and turns
  * the record into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --data DIR --cpus C --out FILE
  *
  * `--data` holds the pipeline's tables: one Parquet file per table.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cpus: Int, out: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("data"), need("cpus").toInt, need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val record = new Runner(args).run()
    Files.writeString(Paths.get(args.out), Json.render(record))
  }
}

/** One operation of a workload: `body` gets the operation id and returns
  * the operation's checkable output.
  */
final case class Op(kind: String, target: String, params: Map[String, Any],
    body: String => Map[String, Any])

final class Runner(args: Main.Args) {
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var opSeq = 0

  private val setupRecords = ArrayBuffer[Map[String, Any]]()
  private val rewrites = ArrayBuffer[Map[String, Any]]()
  private val opRecords = ArrayBuffer[Map[String, Any]]()
  private val passRecords = ArrayBuffer[Map[String, Any]]()

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A span around a call into `layer`, when tracing. */
  private def sp[A](name: String, layer: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name, layer)(f)
    case None => f
  }

  // ---------------------------------------------------------------- ops

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def read(path: String): DataFrame =
    sp("spark.read.parquet", "scan")(spark.read.parquet(path))

  /** Execute `df` and fold every row into its count and the min/max of
    * each numeric column — a sink that consumes every row and column like
    * the noop sink, and leaves an output that can be checked.
    */
  private def fold(id: String, df: DataFrame): Map[String, Any] = {
    val fields = df.schema.fields
    val numeric = fields.indices.filter(i => fields(i).dataType match {
      case FloatType | DoubleType | IntegerType | LongType => true
      case _ => false
    }).toArray
    val kinds = numeric.map(i => fields(i).dataType match {
      case FloatType => 0
      case DoubleType => 1
      case IntegerType => 2
      case _ => 3
    })
    val parts = sp("execute", "scan") {
      df.queryExecution.toRdd.mapPartitions { it =>
        val lo = Array.fill(numeric.length)(Double.PositiveInfinity)
        val hi = Array.fill(numeric.length)(Double.NegativeInfinity)
        var n = 0L
        it.foreach { row =>
          n += 1
          var j = 0
          while (j < numeric.length) {
            val i = numeric(j)
            if (!row.isNullAt(i)) {
              val v = kinds(j) match {
                case 0 => row.getFloat(i).toDouble
                case 1 => row.getDouble(i)
                case 2 => row.getInt(i).toDouble
                case _ => row.getLong(i).toDouble
              }
              if (v < lo(j)) lo(j) = v
              if (v > hi(j)) hi(j) = v
            }
            j += 1
          }
        }
        Iterator((n, lo, hi))
      }.collect()
    }
    tracer.foreach(_.recordQueryExecution(id, df.queryExecution))
    val lo = Array.fill(numeric.length)(Double.PositiveInfinity)
    val hi = Array.fill(numeric.length)(Double.NegativeInfinity)
    parts.foreach { case (_, l, h) =>
      numeric.indices.foreach { j => lo(j) = math.min(lo(j), l(j)); hi(j) = math.max(hi(j), h(j)) }
    }
    Map("rows" -> parts.map(_._1).sum, "row_width" -> rowWidth(df.schema),
      "columns" -> numeric.map(i => fields(i).name).toSeq,
      "min" -> lo.toSeq, "max" -> hi.toSeq)
  }

  private def openOp(target: String, path: String): Op =
    Op("open", target, Map("path" -> path), _ => {
      val schema = read(path).schema
      Map("ncols" -> schema.size, "names_md5" -> md5(schema.fieldNames.mkString(",")))
    })

  private def statsOp(target: String, path: String): Op =
    Op("stats", target, Map("path" -> path), _ => {
      val rows = sp("FooterMeta.chunkStats", "FooterMeta") {
        FooterMeta.chunkStats(spark, Seq(path)).collect()
      }
      Map("chunks" -> rows.length, "compressed_bytes" -> rows.map(_.compressed_bytes).sum,
        "row_groups" -> rows.map(r => (r.path, r.row_group)).distinct.length)
    })

  private def subsetOp(target: String, path: String, cols: Seq[String]): Op =
    Op("subset", target, Map("path" -> path, "columns" -> cols),
      id => fold(id, read(path).select(cols.map(col): _*)))

  private def lookupOp(target: String, path: String, key: String, lo: Long, hi: Long,
      cols: Seq[String]): Op =
    Op("lookup", target,
      Map("path" -> path, "key" -> key, "lo" -> lo, "hi" -> hi, "columns" -> cols),
      id => fold(id, read(path).filter(col(key).between(lo, hi)).select(cols.map(col): _*)))

  private def fullOp(target: String, path: String): Op =
    Op("full", target, Map("path" -> path), id => fold(id, read(path)))

  /** The Parquet files of a table: the file itself, or the files of its
    * directory.
    */
  private def parquetFiles(path: String): Array[File] = {
    val f = new File(path)
    if (f.isFile) Array(f)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
  }

  private def parquetBytes(path: String): (Long, Int) = {
    val files = parquetFiles(path)
    (files.map(_.length).sum, files.length)
  }

  private def rowWidth(schema: StructType): Int = schema.fields.map(_.dataType.defaultSize).sum

  private def writeOp(target: String, df: DataFrame, rows: Long, codec: String,
      outRoot: String): Op =
    Op("write", target, Map("codec" -> codec), id => {
      val path = s"$outRoot/$id"
      sp("ParquetKnobs.write", "ParquetKnobs")(
        ParquetKnobs.write(df, path, ParquetKnobs.WriteConfig(codec = codec)))
      val (stored, files) = parquetBytes(path)
      Map("path" -> path, "rows" -> rows, "user_bytes" -> rows * rowWidth(df.schema),
        "stored_bytes" -> stored, "files" -> files)
    })

  private val layerOf: Map[String, String] =
    Seq("Analytics" -> Analytics.registry, "Dedup" -> Dedup.registry,
      "Similarity" -> Similarity.registry, "TextOps" -> TextOps.registry)
      .flatMap { case (layer, reg) => reg.keys.map(_ -> layer) }.toMap

  private def cell(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(cell)
    case s: scala.collection.Seq[_] => s.map(cell)
    case t: java.sql.Timestamp => t.toString
    case d: java.sql.Date => d.toString
    case x => x
  }

  private def queryOp(name: String, dir: String): Op = {
    val layer = layerOf.getOrElse(name, "Analytics")
    Op("query", name, Map("layer" -> layer), _ => {
      val rows = sp(s"$layer.$name", layer) {
        val df = SparkEntry.queries(name)(spark, dir)
        (df.schema.fieldNames.toSeq, df.collect())
      }
      val body = rows._2.map(r => r.toSeq.map(cell))
      Map("columns" -> rows._1, "rows" -> body.toSeq,
        "hash" -> md5(body.map(Json.render).sorted.mkString("\n")))
    })
  }

  // ---------------------------------------------------------- workloads

  private trait Workload {
    /** Build the fixture into `dir` (part of set-up). */
    def build(dir: String, seed: Long): Unit
    /** One pass of the operation sequence, drawn from `rnd`. */
    def pass(rnd: SplittableRandom): Seq[Op]
    /** The set-up's warmup: one operation of every kind. */
    def warmup(rnd: SplittableRandom): Seq[Op] =
      pass(rnd).groupBy(_.kind).values.map(_.head).toSeq.sortBy(_.kind)
    /** Minimum passes per measured phase, so that the per-kind sample
      * counts the tail percentiles are defined at are always reached.
      */
    def minPasses: Int
    /** Set-ups per run; `setup_s` takes their median. */
    def setups: Int
    /** Passes run after the last set-up and before timing, part of the
      * set-up time: after the set-up's warmup alone the operations still
      * got 15-25 % faster over the first measured passes.
      */
    def settlePasses: Int
    /** Timed writes after the set-ups, for a workload whose loop does not
      * write; not part of the set-up time.
      */
    def rewrite(dir: String): Unit = ()
    /** What `run.py` needs to check the outputs. */
    def describe: Map[String, Any]
    /** The table the footer probes of a traced run read. */
    def footerTarget: String
  }

  private def shuffle[A](xs: Seq[A], rnd: SplittableRandom): Seq[A] = {
    val a = ArrayBuffer.from(xs)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def pick(names: IndexedSeq[String], k: Int, rnd: SplittableRandom): Seq[String] =
    shuffle(names, rnd).take(k)

  private def writeRecord(target: String, codec: String, path: String, rows: Long,
      schema: StructType, t0: Long): Map[String, Any] = {
    val (stored, files) = parquetBytes(path)
    Map("target" -> target, "codec" -> codec, "ms" -> ms(t0), "path" -> path,
      "rows" -> rows, "user_bytes" -> rows * rowWidth(schema), "stored_bytes" -> stored,
      "files" -> files)
  }

  /** Wide ML-loader table, read five ways. */
  private final class WideRead extends Workload {
    val cols = 2000
    val files: Int = args.cpus
    val rowGroupsPerFile = 2
    val rowsPerGroup = 150
    // with minPasses these give 40 open and 28 subset samples, so the
    // tails are p75 and p64
    val opensPerPass = 10
    val subsetsPerPass = 7
    val statsPerPass = 4
    val lookupsPerPass = 4
    def rows: Long = files.toLong * rowGroupsPerFile * rowsPerGroup
    var path = ""
    var ranges: Seq[(Long, Long)] = Nil
    val names: IndexedSeq[String] = (0 until cols).map(i => s"col_$i")

    /** The reference's generator flow: `WideTableGen.wide`, one
      * partition (and so one file) per core, plus an id that rises
      * through each file, written to `to` through `ParquetKnobs.write`.
      */
    private def generate(to: String, seed: Long): Map[String, Any] = {
      val df = WideTableGen.wide(spark, cols, rows, seed, numPartitions = files)
        .select(monotonically_increasing_id().as("row_id") +: names.map(col): _*)
      val t0 = System.nanoTime()
      // a little over one group's bytes so each group closes at ~rowsPerGroup rows
      ParquetKnobs.write(df, to, ParquetKnobs.WriteConfig(
        rowGroupBytes = ParquetKnobs.rowGroupBytesFor(rowsPerGroup, cols) * 21 / 20))
      writeRecord("wide_read", "snappy", to, rows, df.schema, t0)
    }

    def build(dir: String, seed: Long): Unit = {
      path = s"$dir/wide_read"
      generate(path, seed)
      ranges = FooterMeta.chunkRangesLong(spark, Seq(path), "row_id").collect()
        .map(r => (r.min_v, r.max_v)).sortBy(_._1).toSeq
    }

    def pass(rnd: SplittableRandom): Seq[Op] = shuffle(
      Seq.fill(opensPerPass)(openOp("wide_read", path)) ++
        Seq.fill(subsetsPerPass)(subsetOp("wide_read", path, pick(names, 10, rnd))) ++
        Seq.fill(statsPerPass)(statsOp("wide_read", path)) ++
        Seq.fill(lookupsPerPass)(lookup(rnd)) :+ fullOp("wide_read", path), rnd)

    private def lookup(rnd: SplittableRandom): Op = {
      val (lo, hi) = ranges(rnd.nextInt(ranges.size))
      val a = lo + rnd.nextLong(hi - lo + 1)
      val b = math.min(hi, a + 1 + rnd.nextLong(50))
      lookupOp("wide_read", path, "row_id", a, b, pick(names, 10, rnd))
    }

    def minPasses: Int = 4
    def setups: Int = 2
    // the set-up writes ran on code still warming (each was faster than
    // the one before), so write_mb_s takes the median of these rewrites
    override def rewrite(dir: String): Unit =
      (1 to 4).foreach(k => rewrites += generate(s"$dir/rewrite$k", args.seed))
    def settlePasses: Int = 1
    def describe: Map[String, Any] = Map("path" -> path,
      "tail_counts" -> Map("open" -> opensPerPass * minPasses, "subset" -> subsetsPerPass * minPasses))
    def footerTarget: String = path
  }

  /** The query mix over the small TPC-H-style tables under `--data`. */
  private final class Pipeline extends Workload {
    val mix: Seq[String] = Seq(
      "p1_unit_conversion", "q9_product_profit", "q18_large_orders",
      "x_dedup_exact", "x_sim_topk_bruteforce", "x_text_tokens")
    val lineitemCols: IndexedSeq[String] = IndexedSeq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val codecs = Seq("uncompressed", "snappy", "zstd")
    // with minPasses these give 24 open and 24 subset samples, so both
    // tails are p58
    val opensPerTablePerPass = 3
    val subsetsPerPass = 6
    // stats of one table only: the median of two tables' mixed samples
    // falls in the gap between them
    val statsPerPass = 4
    val lookupsPerPass = 4
    val fullsPerPass = 4
    var dir = ""
    var outRoot = ""
    var lineitem: DataFrame = _
    var lineitemRows = 0L
    var keyRange = (0L, 0L)
    var source: Map[String, Any] = Map.empty

    def build(root: String, seed: Long): Unit = {
      dir = s"$root/tables"
      outRoot = s"$root/out"
      // a private copy of the tables, so no operation can touch the inputs
      Files.createDirectories(Paths.get(dir))
      parquetFiles(args.data).foreach(f => Files.copy(f.toPath, Paths.get(dir, f.getName)))
      // the output writes copy lineitem from memory: a checkpoint, not a
      // cache, so that reads of lineitem.parquet still scan the file
      lineitem = spark.read.parquet(path("lineitem")).localCheckpoint(eager = true)
      source = fold("", lineitem) + ("ncols" -> lineitem.schema.size)
      lineitemRows = source("rows").asInstanceOf[Long]
      val k = source("columns").asInstanceOf[Seq[String]].indexOf("l_orderkey")
      keyRange = (source("min").asInstanceOf[Seq[Double]](k).toLong,
        source("max").asInstanceOf[Seq[Double]](k).toLong)
    }

    private def path(t: String) = s"$dir/$t.parquet"

    private def range(rnd: SplittableRandom, width: Int): (Long, Long) = {
      val a = keyRange._1 + rnd.nextLong(keyRange._2 - keyRange._1 - width)
      (a, a + 1 + rnd.nextLong(width))
    }

    private def lookup(rnd: SplittableRandom): Op = {
      val (a, b) = range(rnd, 20)
      lookupOp("lineitem", path("lineitem"), "l_orderkey", a, b, pick(lineitemCols, 3, rnd))
    }

    def pass(rnd: SplittableRandom): Seq[Op] =
      shuffle(mix.map(queryOp(_, dir)) ++
        Seq("lineitem", "orders").flatMap(t => Seq.fill(opensPerTablePerPass)(openOp(t, path(t)))) ++
        Seq.fill(subsetsPerPass)(subsetOp("lineitem", path("lineitem"), pick(lineitemCols, 3, rnd))) ++
        Seq.fill(statsPerPass)(statsOp("lineitem", path("lineitem"))) ++
        Seq.fill(lookupsPerPass)(lookup(rnd)) ++
        Seq.fill(fullsPerPass)(fullOp("lineitem", path("lineitem"))) ++
        codecs.map(writeOp("lineitem", lineitem, lineitemRows, _, outRoot)), rnd)

    // every query of the mix, whose generated code keeps compiling for a
    // while, then one operation of every kind
    override def warmup(rnd: SplittableRandom): Seq[Op] =
      pass(rnd).filter(_.kind == "query") ++ super.warmup(rnd)

    def minPasses: Int = 4
    def setups: Int = 3
    def settlePasses: Int = 1
    def describe: Map[String, Any] = Map("tables" -> dir, "source" -> source,
      "tail_counts" -> Map("open" -> 2 * opensPerTablePerPass * minPasses,
        "subset" -> subsetsPerPass * minPasses),
      "oracles" -> mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _.replace("{SFDIR}", dir))).toMap)
    def footerTarget: String = path("lineitem")
  }

  // ------------------------------------------------------------- runner

  private def execute(op: Op, phase: String, pass: Int): Unit = {
    opSeq += 1
    val id = s"op$opSeq"
    val t0 = System.nanoTime()
    val result =
      try Right(tracer match {
        case Some(t) => t.op(id, op.kind)(op.body(id))
        case None => op.body(id)
      })
      catch { case e: Throwable => Left(e) }
    val took = ms(t0)
    opRecords += Map("id" -> id, "phase" -> phase, "pass" -> pass, "kind" -> op.kind,
      "target" -> op.target, "params" -> op.params, "ms" -> took, "ok" -> result.isRight,
      "error" -> result.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)),
      "result" -> result.toOption,
      "counters" -> tracer.map(_.counters(id)))
  }

  private def startSession(dir: String): Unit = {
    spark = GraftSession.builder(s"local[${args.cpus}]", args.cpus.toString)
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }


  /** Heap in use right after a full collection: the data the process
    * holds. Raw usage, and its peaks, follow the collector's sizing of
    * the young generation and the timing of its old-generation cycles.
    * The second collection frees what Spark's context cleaner released
    * (broadcast blocks, shuffle state) when the first one found it
    * unreachable.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  private def percentile50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(): Map[String, Any] = {
    val mk: () => Workload = args.workload match {
      case "wide_read" => () => new WideRead
      case "pipeline" => () => new Pipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val root = new File(args.work).getAbsoluteFile
    val t0 = System.nanoTime()
    startSession(root.getPath)
    val sessionMs = ms(t0)
    // each set-up builds its fixture and warms up from an empty work dir;
    // the session is started once, as a user's process starts it once
    var wl: Workload = mk()
    var prevDir: File = null
    (1 to wl.setups).foreach { k =>
      val dir = new File(root, s"setup$k")
      dir.mkdirs()
      if (prevDir != null) deleteTree(prevDir)
      prevDir = dir
      spark.conf.set("graft.work.dir", new File(dir, "graft").getPath)
      val t1 = System.nanoTime()
      wl = mk()
      wl.build(dir.getPath, args.seed)
      val fixtureMs = ms(t1)
      val t2 = System.nanoTime()
      wl.warmup(new SplittableRandom(args.seed ^ 0x5eedL)).foreach(execute(_, "warmup", 0))
      val warmupMs = ms(t2)
      setupRecords += Map("setup" -> k, "total_s" -> (sessionMs + fixtureMs + warmupMs) / 1e3,
        "session_ms" -> sessionMs, "fixture_ms" -> fixtureMs, "warmup_ms" -> warmupMs)
    }

    wl.rewrite(prevDir.getPath)

    // the live heap is taken before the settle passes and after the timed
    // loop: the first pass after a forced collection ran ~20 % slower
    val liveBeforeMb = liveHeapMb()
    val t3 = System.nanoTime()
    val settleRnd = new SplittableRandom(args.seed ^ 0x5e771eL)
    (1 to wl.settlePasses).foreach(_ => wl.pass(settleRnd).foreach(execute(_, "warmup", 0)))
    val settleMs = ms(t3)

    val rnd = new SplittableRandom(args.seed * 31L + 7L)
    // a traced run alternates plain and traced passes, so both kinds see
    // the same warmth and their difference is the tracing overhead
    val traceOn = if (args.trace) Some(new Tracer(spark)) else None
    val wallMs = mutable.LinkedHashMap("plain" -> 0.0)
    if (args.trace) wallMs("traced") = 0.0
    val minPasses = if (args.trace) 2 * ((wl.minPasses + 1) / 2) else wl.minPasses
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline || pass < minPasses) {
      pass += 1
      val phase = if (args.trace && pass % 2 == 0) "traced" else "plain"
      tracer = if (phase == "traced") traceOn else None
      tracer.foreach(_.start())
      val p0 = System.nanoTime()
      wl.pass(rnd).foreach(execute(_, phase, pass))
      val took = ms(p0)
      tracer.foreach(_.stop())
      tracer = None
      passRecords += Map("phase" -> phase, "pass" -> pass, "ms" -> took)
      wallMs(phase) += took
    }
    val phaseRecords = wallMs.toSeq.map { case (phase, wall) =>
      Map("phase" -> phase, "wall_ms" -> wall,
        "passes" -> passRecords.count(_("phase") == phase))
    }
    val allSpans = traceOn.toSeq.flatMap(_.spans).map(s => Map("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "op" -> s.op,
      "start_us" -> s.startUs, "end_us" -> s.endUs))
    val peakHeapMb = math.max(liveBeforeMb, liveHeapMb())

    // traced runs: layer probes that the timed loop does not call
    val probes = mutable.LinkedHashMap[String, Any]()
    if (args.trace) {
      val metas = (1 to 3).map(_ => FooterMeta.fileMeta(spark, Seq(wl.footerTarget)).collect())
      probes("footer_decode_us") = percentile50(metas.map(m => m.map(_.footer_decode_us).sum / m.length))
      probes("schema_build_us") = percentile50(metas.map(m => m.map(_.schema_build_us).sum / m.length))
      probes("row_groups") = metas.head.map(_.num_row_groups).sum
      probes("footer_bytes") = parquetFiles(wl.footerTarget).map(footerLength).sum
      if (args.workload == "wide_read") {
        // the reference's generator flow at the fixture's width
        val wr = wl.asInstanceOf[WideRead]
        probes("gen_wide_ms") = percentile50((1 to 3).map { _ =>
          val t0 = System.nanoTime()
          WideTableGen.wide(spark, wr.cols, wr.rows, args.seed, numPartitions = args.cpus)
            .write.format("noop").mode("overwrite").save()
          ms(t0)
        })
      }
    }

    val out = Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cpus" -> args.cpus, "setups" -> setupRecords.toSeq,
      "settle_ms" -> settleMs,
      "rewrites" -> rewrites.toSeq, "phases" -> phaseRecords.toSeq,
      "passes" -> passRecords.toSeq, "ops" -> opRecords.toSeq, "peak_heap_mb" -> peakHeapMb,
      "describe" -> wl.describe, "probes" -> probes, "spans" -> allSpans)
    spark.stop()
    out
  }

  /** Footer length as stored in the last eight bytes of a Parquet file. */
  private def footerLength(f: File): Long = {
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      raf.seek(f.length - 8)
      val b = new Array[Byte](4)
      raf.readFully(b)
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong
    } finally raf.close()
  }
}
