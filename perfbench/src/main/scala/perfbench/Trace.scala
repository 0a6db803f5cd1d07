package perfbench

import scala.collection.mutable

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter store for a traced run.
  *
  * The runner opens a span around every call it makes into a layer; the
  * Spark engine is observed through a [[SparkListener]] (jobs, tasks)
  * and a [[QueryExecutionListener]] (planning phases, scan metrics),
  * both keyed by the operation id the runner sets as the Spark job
  * group. Nothing is written until [[spans]] and [[counters]] are read
  * at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.Span

  // wall-clock anchor so nanoTime spans and listener epoch-ms times share
  // one microsecond timeline
  private val nanoAnchor = System.nanoTime()
  private val epochUsAnchor = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochUsAnchor + (System.nanoTime() - nanoAnchor) / 1000L

  private val spanBuf = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private val stack = mutable.Stack[Int]()
  @volatile private var currentOp: String = ""

  private def add(parent: Int, name: String, layer: String, op: String, s: Long, e: Long): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spanBuf += Span(id, parent, name, layer, op, s, e)
      id
    }

  /** Time `f` as a span of `layer`, nested under the innermost open span. */
  def span[A](name: String, layer: String)(f: => A): A = {
    val parent = if (stack.isEmpty) 0 else stack.top
    val s = nowUs()
    val id = add(parent, name, layer, currentOp, s, s)
    stack.push(id)
    try f
    finally {
      stack.pop()
      val e = nowUs()
      synchronized {
        val i = spanBuf.lastIndexWhere(_.id == id)
        spanBuf(i) = spanBuf(i).copy(endUs = e)
      }
    }
  }

  // ---- per-operation engine counters ----
  private val counterBuf = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]]()
  private def bump(op: String, key: String, v: Double): Unit = synchronized {
    if (op.nonEmpty) {
      val m = counterBuf.getOrElseUpdate(op, mutable.LinkedHashMap())
      m(key) = m.getOrElse(key, 0.0) + v
    }
  }
  private val jobOp = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageOp = mutable.Map[Int, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      Tracer.this.synchronized {
        jobOp(e.jobId) = op
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageOp(_) = op)
      }
      bump(op, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (op, s) = Tracer.this.synchronized {
        (jobOp.getOrElse(e.jobId, ""), jobStart.getOrElse(e.jobId, e.time))
      }
      if (op.nonEmpty) add(-1, s"job ${e.jobId}", "engine", op, s * 1000L, e.time * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Tracer.this.synchronized(stageOp.getOrElse(e.stageId, ""))
      val m = e.taskMetrics
      if (op.nonEmpty && m != null) {
        bump(op, "tasks", 1)
        bump(op, "executor_run_ms", m.executorRunTime.toDouble)
        bump(op, "executor_cpu_ms", m.executorCpuTime / 1e6)
        bump(op, "gc_ms", m.jvmGCTime.toDouble)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        bump(op, "scheduler_delay_ms", math.max(0L, delay).toDouble)
        bump(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump(op, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        bump(op, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        bump(op, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQueryExecution(currentOp, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Planning phases and scan metrics of one executed query. Called by
    * the listener for Dataset actions, and directly for plans the runner
    * executes itself.
    */
  def recordQueryExecution(op: String, qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, p) =>
      bump(op, "plan_ms", (p.endTimeMs - p.startTimeMs).toDouble)
      add(-1, s"plan.$phase", "engine", op, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }
    qe.executedPlan.foreach {
      case s: FileSourceScanExec =>
        s.metrics.get("numOutputRows").foreach(x => bump(op, "scan_rows", x.value.toDouble))
      case _ =>
    }
    bump(op, "queries", 1)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    GraftListenerBridge.flushListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Run one operation under its own job group and top-level span. */
  def op[A](id: String, name: String)(f: => A): A = {
    currentOp = id
    spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
    try span(name, "bench")(f)
    finally {
      spark.sparkContext.clearJobGroup()
      // listener deliveries are asynchronous: drain them so every job and
      // task event of this operation is attributed before the next starts
      GraftListenerBridge.flushListenerBus(spark.sparkContext)
      currentOp = ""
    }
  }

  def counters(op: String): Map[String, Double] =
    synchronized(counterBuf.get(op).map(_.toMap).getOrElse(Map.empty))

  def spans: Seq[Span] = synchronized(spanBuf.toList)
}

object Tracer {
  /** One timed call: `parent` is 0 for an operation's top-level span and
    * -1 for engine spans, whose parent is resolved by time containment.
    */
  final case class Span(id: Int, parent: Int, name: String, layer: String, op: String,
      startUs: Long, endUs: Long)
}
