package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Lineage-cut materialization with a cluster-grade fallback.
  *
  * `localCheckpoint(true)` stores blocks on executors — fast, but on a
  * real cluster a lost executor loses the blocks and kills the job
  * (acceptable single-JVM, not at 1000 executors). When the session
  * has a RELIABLE checkpoint directory configured
  * (`sparkContext.setCheckpointDir` → HDFS/object store in a real
  * deployment), `stable` uses `checkpoint(eager = true)` instead:
  * blocks are written to fault-tolerant storage and survive executor
  * loss, at the cost of one write+read round trip.
  *
  * Every iterative operator (BFS levels, dedup pair tables, IVF
  * training) routes its lineage cuts through this helper, so flipping
  * one deployment knob upgrades the whole engine's fault story —
  * no operator code changes.
  */
object Materialize {

  // Checkpoint blocks live in executor storage until the driver GC
  // happens to collect the RDD handle — across an N-query batch that
  // lag accumulates N queries' worth of blocks and degrades the tail
  // of the batch (GC pressure + storage eviction churn). Batch runners
  // (Bench/Verify) release deterministically between queries instead.
  //
  // Tracking is PER CONSTRUCTING THREAD: a DataFrame's stable() calls
  // all happen on the driver thread that builds the query, so a
  // concurrent batch (Bench phase 3: 4 pool threads) can release one
  // finished query's blocks without touching the checkpoints of
  // queries still in flight on other threads — a global release there
  // would unpersist frames whose lineage was already cut (fatal), and
  // NOT releasing lets ~150 queries' blocks pile up across the whole
  // concurrent phase (the round-7 throughput collapse).
  private val live = new java.util.concurrent.ConcurrentHashMap[
    Long, java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]]()

  /** Cut lineage: reliable checkpoint when a checkpoint dir is set,
    * executor-local otherwise.
    */
  def stable(df: DataFrame): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(true)
    track(out)
  }

  /** Cut lineage unless the frame already reads stored rows: below its
    * projections and filters, the analyzed plan is a file or cached
    * relation, a checkpoint or a local relation, which a re-scan costs
    * no more than a copy would. An operator that reads an input several
    * times (a BFS level per hop, both sides of a self-join) cuts it
    * through here, so a derived input is computed once and a prebuilt
    * table is never copied.
    */
  def unlessScan(df: DataFrame): DataFrame = {
    @annotation.tailrec
    def scan(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => scan(child)
      case Filter(_, child) => scan(child)
      case SubqueryAlias(_, child) => scan(child)
      case l: LogicalRDD => l.rdd.isCheckpointed
      case _: LogicalRelation | _: InMemoryRelation | _: LocalRelation => true
      case _ => false
    }
    if (scan(df.queryExecution.analyzed)) df else stable(df)
  }

  /** Cut lineage AND count in ONE Spark job: the checkpoint is marked
    * lazily and the count() action materializes it, so an iterative
    * operator that needs both (the capped BFS levels: materialize the
    * frontier, then count it for the cap) pays one job per level
    * instead of two. Falls back to eager checkpoint + count on the
    * reliable-checkpoint path (Dataset.checkpoint(eager=false) defers
    * the fault-tolerant write the same way, but the two-job cost is
    * the price of the durability knob, not the default).
    */
  def stableCounted(df: DataFrame): (DataFrame, Long) = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(false)
    val n = out.count()
    (track(out), n)
  }

  /** Register a cut frame's checkpoint RDDs with this thread's queue. */
  private def track(out: DataFrame): DataFrame = {
    val q = live.computeIfAbsent(Thread.currentThread().getId,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]())
    out.queryExecution.analyzed.foreach {
      case l: LogicalRDD => q.add(l.rdd)
      case _ =>
    }
    out
  }

  private def drain(
      q: java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]): Unit = {
    var r = q.poll()
    while (r != null) { r.unpersist(blocking = false); r = q.poll() }
  }

  /** Unpersist every checkpoint block created by THIS thread since its
    * last release — safe between queries of a concurrent batch where
    * each pool thread owns its queries end-to-end.
    */
  def releaseThread(): Unit = {
    val q = live.remove(Thread.currentThread().getId)
    if (q != null) drain(q)
  }

  /** Unpersist every checkpoint block created by ANY thread since the
    * last release. ONLY safe between fully-materialized independent
    * queries with no other query in flight — a released frame cannot
    * be recomputed (its lineage was cut).
    */
  def releaseAll(): Unit = {
    val it = live.keySet().iterator()
    while (it.hasNext) {
      val q = live.remove(it.next())
      if (q != null) drain(q)
    }
  }
}
