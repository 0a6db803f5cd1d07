package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}

/** Session-wide lifecycle registry for `localCheckpoint` pins (r14).
  *
  * Round 13 introduced several checkpointed "spine" frames (banded
  * dedup candidates, eval pair postings, triangle census frames) that
  * were never unpersisted: every invocation pinned fresh RDD blocks for
  * the life of the session (guide §5: bound your cached footprint), and
  * the repo's own memory-contract guards caught it (3 red tests at the
  * r13 snapshot). This object is the single release discipline the r13
  * verdict asked for:
  *
  *  - [[pin]] replaces every bare `.localCheckpoint()` in the operator
  *    code. Each call site carries a stable `site` key; pinning a new
  *    generation for a site releases the PREVIOUS generation's blocks
  *    (after the new one is materialized, so a frame derived from the
  *    old generation is always computed first). Steady-state footprint
  *    is therefore ≤ one generation per call site — bounded however
  *    many queries a session runs — instead of growing per invocation.
  *    Safe because every consumer (perfbench passes, Verify, the oracle
  *    dump, the specs) rebuilds a query's DataFrame from its builder
  *    function before executing it; a superseded generation is never
  *    re-executed. Iterative loops whose FINAL plan reads every round
  *    (kCore's census union) use round-distinct sites so no round is
  *    released while still reachable.
  *  - [[scoped]] wraps builders that fully materialize their result
  *    inside the call (the cluster-model artifact write): every pin
  *    created in the dynamic extent is released at exit, so nothing
  *    outlives the build — the `buildClusterModel` cache/unpersist
  *    discipline, generalized.
  *
  * The registry also keeps each pin's PRE-checkpoint [[QueryExecution]]
  * so the plan-evidence layer stays sighted: a localCheckpoint
  * truncates lineage to a [[LogicalRDD]], which blinded both the
  * LeftSemi scale-contract spec and the lint's `hasAggBelow` (two r13
  * allowlist entries existed only because of that). [[lineage]] expands
  * a DataFrame's plan through every registered checkpoint it scans, and
  * [[preCheckpointPlan]] lets the physical-plan lint keep walking below
  * an RDD scan.
  *
  * Releasing a local checkpoint's blocks makes the superseded frame
  * unrecomputable BY DESIGN — any late access fails loudly with
  * "Checkpoint block not found" rather than silently recomputing, so a
  * lifecycle bug here can never change query results.
  */
object Ckpt {

  final case class Pin(site: String, rdd: RDD[_], pre: QueryExecution)

  private val bySite = new java.util.concurrent.ConcurrentHashMap[String, Pin]()
  private val byRddId = new java.util.concurrent.ConcurrentHashMap[Int, Pin]()
  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.ListBuffer[Pin]]] {
      override def initialValue(): List[scala.collection.mutable.ListBuffer[Pin]] = Nil
    }

  private def releaseBlocks(p: Pin): Unit = {
    byRddId.remove(p.rdd.id)
    p.rdd.unpersist(blocking = false)
  }

  /** Eagerly localCheckpoint `df` under `site`, releasing the site's
    * previous generation. Curried so call sites read
    * `df.transform(Ckpt.pin("Dedup.bandedCandidates.pairs"))`.
    */
  def pin(site: String)(df: DataFrame): DataFrame = {
    val pre = df.queryExecution
    val cp = df.localCheckpoint()
    val rdd = cp.queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l.rdd }
      .getOrElse(throw new IllegalStateException(
        s"localCheckpoint of $site did not produce a LogicalRDD plan"))
    val p = Pin(site, rdd, pre)
    val prev = bySite.put(site, p)
    byRddId.put(rdd.id, p)
    if (prev != null && !(prev.rdd eq rdd)) releaseBlocks(prev)
    scopes.get() match {
      case buf :: _ => buf += p
      case Nil =>
    }
    cp
  }

  /** Run `f`, releasing every pin created in its dynamic extent at
    * exit — for builders that fully materialize their result inside
    * the call (artifact writes), so no checkpoint outlives the build.
    */
  def scoped[A](f: => A): A = {
    val buf = scala.collection.mutable.ListBuffer.empty[Pin]
    scopes.set(buf :: scopes.get())
    try f
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach { p =>
        bySite.remove(p.site, p)
        releaseBlocks(p)
      }
    }
  }

  /** The pre-checkpoint executed physical plan of a registered
    * checkpoint RDD — lets the scale lint keep walking below an
    * `RDDScanExec` leaf (e.g. `hasAggBelow` seeing the aggregate a
    * model-frame checkpoint hides).
    */
  def preCheckpointPlan(rddId: Int): Option[SparkPlan] =
    Option(byRddId.get(rddId)).map(_.pre.executedPlan)

  /** `df`'s own QueryExecution plus, recursively, the pre-checkpoint
    * QueryExecutions of every registered checkpoint its optimized plan
    * scans — the lineage a plan-contract spec walks so a checkpoint
    * can't blind it (the corpus semi-join of the dedup verify runs at
    * checkpoint materialization; this surfaces its plan).
    */
  def lineage(df: DataFrame): Seq[QueryExecution] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def expand(qe: QueryExecution): Seq[QueryExecution] = {
      val kids = qe.optimizedPlan.collect {
        case l: LogicalRDD if !seen(l.rdd.id) && byRddId.containsKey(l.rdd.id) =>
          seen += l.rdd.id
          byRddId.get(l.rdd.id).pre
      }
      qe +: kids.flatMap(expand)
    }
    expand(df.queryExecution)
  }

  /** Test/lint visibility: the number of currently pinned generations
    * (≤ number of distinct call sites ever pinned this session).
    */
  def pinnedCount: Int = byRddId.size
}
