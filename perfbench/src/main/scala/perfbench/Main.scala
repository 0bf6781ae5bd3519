package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1>`.
  *
  * Each workload is a closed loop with one client: the next operation
  * starts when the previous one has returned, as the indexer and the
  * agents that call the engine wait for each reply. `setup_s` runs
  * from JVM `main` entry to the first timed operation: session start,
  * corpus check, the workload's inputs and one untimed warm-up
  * operation. It is measured once per run; a second set-up would cost
  * a third of a run's time budget.
  *
  * `latency_p50_s` is the median time of the operations and
  * `throughput_per_s` their units per second. In a sized workload a pass
  * holds small and large operations: latency then comes from the small
  * ones and throughput from the large ones, so the small ones show fixed
  * per-call cost (Spark's job floor) and the large ones the cost that
  * grows with the work.
  *
  * The last stdout line is the result object; lines before it give every
  * end-to-end metric with its unit, the error rate and, in a traced run,
  * the tracing overhead against the untraced run of the same workload
  * and seed when one exists in `Main.WorkDir`.
  */
object Main {
  val WorkDir = ".bench_build/perfbench"

  /** One timed operation: seconds, units of work (chunks or queries),
    * the output checks it failed, and whether it is a large operation.
    */
  final case class Op(seconds: Double, units: Long, failures: Seq[String],
                      large: Boolean = false)

  trait Workload {
    /** Prepares inputs and warms the engine; runs in the set-up window. */
    def setUp(): Unit
    /** The timed part of operation `i`. */
    def run(i: Int): Op
    /** Checks that need the whole run (determinism); empty when all hold. */
    def endChecks(): Seq[String] = Nil
    /** Whether a pass mixes small and large operations. */
    def sized: Boolean = false
    /** A run ends at a multiple of this many operations. */
    def passLength: Int = 1
    /** Name of the work unit in `throughput_per_s`. */
    def unit: String
    /** Per-layer metrics of a traced run, from its spans and counters. */
    def layerMetrics(t: Trace, ops: Int): Seq[(String, Double, String)]
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    new File(WorkDir).mkdirs()
    if (opts.contains("prepare")) {
      val spark = Session.create()
      SearchBatch.prepare(spark)
      Session.stop(spark)
      return
    }
    if (!Workloads.names.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.names.mkString(", ")}")
      sys.exit(2)
    }
    val trace = new Trace(traced)

    val spark = Session.create()
    trace.attach(spark)
    val w = Workloads.make(workload, spark, trace, seed)
    w.setUp()
    val setup = (System.nanoTime() - t0) / 1e9

    // the timed closed loop
    val ops = mutable.ArrayBuffer[Op]()
    val loopStart = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loopStart) / 1e9 < seconds || i % w.passLength != 0) {
      trace.op = i
      val op =
        try w.run(i)
        catch { case e: Exception =>
          Op(Double.NaN, 0L, Seq(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      op.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      ops += op
      i += 1
    }
    trace.op = -2
    val endFailures = w.endChecks()
    endFailures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    Session.stop(spark) // drains the listener bus: counters are final now

    val failed = ops.count(_.failures.nonEmpty)
    val good = ops.filter(_.failures.isEmpty)
    val (large, small) = if (w.sized) good.partition(_.large) else (good, good)
    val largeBusy = large.map(_.seconds).sum
    val busy = ops.filter(!_.seconds.isNaN).map(_.seconds).sum
    val e2e = Seq(
      ("setup_s", setup, "s"),
      ("throughput_per_s", if (largeBusy > 0) large.map(_.units).sum / largeBusy else 0.0, "1/s"),
      ("latency_p50_s", median(small.map(_.seconds).toSeq), "s"))
    val errorRate = failed.toDouble / math.max(1, ops.size)
    val correct = failed == 0 && endFailures.isEmpty && ops.nonEmpty

    println(f"workload $workload seed $seed: ${ops.size} operations in $busy%.2f s, " +
      s"unit = ${w.unit}")
    e2e.foreach { case (n, v, u) => println(f"  $n%-18s $v%.6f $u") }
    println(f"  ${"error_rate"}%-18s $errorRate%.6f ratio")

    val resultFile = s"$WorkDir/result-$workload-seed$seed-trace${if (traced) 1 else 0}.json"
    writeFile(resultFile, Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) }))
    val metrics =
      if (!traced) e2e
      else {
        val layers = w.layerMetrics(trace, ops.size)
        val overhead = readUntraced(s"$WorkDir/result-$workload-seed$seed-trace0.json")
          .map(u => e2e.map { case (n, v, unit) => (n, v - u.getOrElse(n, v), unit) })
          .getOrElse(Nil)
        if (overhead.isEmpty) println("  tracing overhead: no untraced run of this workload and seed yet")
        overhead.foreach { case (n, d, u) => println(f"  tracing overhead $n%-18s $d%+.6f $u") }
        val side = s"$WorkDir/trace-$workload-seed$seed.json"
        writeFile(side, Json.obj(Seq(
          "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
          "end_to_end" -> Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) }),
          "tracing_overhead" -> Json.obj(overhead.map { case (n, d, _) => n -> Json.num(d) }),
          "per_layer" -> Json.obj(layers.map { case (n, v, _) => n -> Json.num(v) }),
          "trace" -> trace.toJson)))
        println(s"  spans and counters written to $side")
        layers
      }
    println(Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(ops.size.toDouble),
      "failed" -> Json.num(math.max(failed, if (endFailures.nonEmpty) 1 else 0).toDouble),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    sys.exit(if (correct) 0 else 1)
  }

  /** Median, interpolating between the middle two; NaN for no samples. */
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  private def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))

  private def readUntraced(path: String): Option[Map[String, Double]] =
    if (!new File(path).exists) None
    else Some("\"([A-Za-z0-9_.]+)\": ([-0-9.eE]+)".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap)
}

/** The session every workload runs on: `local[N]` with N = the host's
  * cores and N shuffle partitions, scratch space inside the checkout.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors

  def create(): SparkSession = {
    val n = cores
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(s"${Main.WorkDir}/spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(s"${Main.WorkDir}/warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(s"${Main.WorkDir}/tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    graft.operators.Materialize.releaseAll()
    s.stop()
  }
}

/** Just enough JSON for flat result objects. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
