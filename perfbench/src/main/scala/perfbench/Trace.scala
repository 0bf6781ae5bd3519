package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters the listeners add up for one span name. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var rowsWritten = 0L
}

/** One closed span: the harness opened it around one public call. `op`
  * is the operation it belongs to (spans of one operation share it);
  * negative for set-up work and end-of-run checks.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Spans and Spark counters, attributed by span.
  *
  * The harness opens a span around each call into the engine. The
  * innermost open span's name goes into the SparkContext local property
  * `Trace.Prop`; Spark copies local properties into every job the
  * calling thread submits (broadcast and subquery threads included), so
  * the listener attributes each job, stage and task to that span by
  * name. Listener events arrive asynchronously; stopping the session
  * drains them, so counters are read only after `SparkSession.stop`.
  *
  * With tracing off, no listener is registered and `span` only runs its
  * body: the timed run pays nothing for the per-layer numbers.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Prop

  private val counters = mutable.HashMap[String, Counters]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String)] = Nil
  private var nextId = 0
  var op: Int = -1

  def countersOf(name: String): Counters = synchronized {
    counters.getOrElseUpdate(name, new Counters)
  }

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(Prop))).getOrElse("unattributed")

    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val s = spanOf(e.properties)
      countersOf(s).jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        countersOf(stageSpan.getOrElse(e.stageInfo.stageId, "unattributed")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val c = countersOf(stageSpan.getOrElse(e.stageId, "unattributed"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  def attach(spark: SparkSession): Unit =
    if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `name` (a `layer.span` pair); outside
    * the timed loop (`op` < 0) the name gets a `setup/` prefix, so set-up
    * work never counts towards the per-operation layer metrics.
    */
  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val key = if (op < 0) s"setup/$name" else name
      open = (id, key) :: open
      sc.setLocalProperty(Prop, key)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_._2).orNull)
        spans += Span(id, parent, op, key, t0, t1)
      }
    }

  /** Summed self wall time of the closed spans called `name`, seconds. */
  def wallOf(name: String): Double = {
    val mine = spans.filter(_.name == name)
    val ids = mine.map(_.id).toSet
    val childNs = spans.filter(s => ids(s.parent)).map(s => s.endNs - s.startNs).sum
    (mine.map(s => s.endNs - s.startNs).sum - childNs) / 1e9
  }

  /** The side file: every span and every counter, as JSON. */
  def toJson: String = {
    val sb = new StringBuilder
    sb ++= "{\"spans\": ["
    sb ++= spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(",\n")
    sb ++= "],\n\"counters\": {"
    sb ++= counters.toSeq.sortBy(_._1).map { case (n, c) =>
      s""""$n": {"jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, """ +
        s""""cpu_ns": ${c.cpuNs}, "run_ms": ${c.runMs}, "gc_ms": ${c.gcMs}, """ +
        s""""shuffle_bytes": ${c.shuffleBytes}, "spill_bytes": ${c.spillBytes}, """ +
        s""""bytes_written": ${c.bytesWritten}, "rows_written": ${c.rowsWritten}}"""
    }.mkString(",\n")
    sb ++= "}}\n"
    sb.toString
  }
}

object Trace {
  val Prop = "perfbench.span"
}
