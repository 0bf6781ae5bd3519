package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.search.BatchRetrieval
import graft.sources.{FileWalk, Indexes}

object Workloads {
  val names: Seq[String] = Seq("index_build", "search_batch")

  def make(name: String, spark: SparkSession, trace: Trace, seed: Long): Main.Workload =
    name match {
      case "index_build"  => new IndexBuild(spark, trace, seed)
      case "search_batch" => new SearchBatch(spark, trace, seed)
    }

  /** The code-index phases of `Indexes.buildPhases`: those after
    * `code_files`, without the document-corpus `sparse_encode`. They read
    * only earlier artifacts in `out`, so the data directory and fixture
    * replica count go unused. Taken from the engine's own list, so a
    * phase that is added, renamed or fused is measured as it is.
    */
  def codePhases(spark: SparkSession, out: String): Seq[(String, () => DataFrame)] = {
    val phases = Indexes.buildPhases(spark, "", out, 0)
      .dropWhile(_._1 != "code_files").drop(1).filterNot(_._1 == "sparse_encode")
    if (phases.isEmpty) sys.error("Indexes.buildPhases has no phases after code_files")
    phases
  }

  /** Span of phases that match no layer below. */
  val OtherPhases = "index_build.other_phases"

  /** The layer whose span a code phase runs in, by its name. */
  def layerOf(phase: String): String = phase match {
    case "chunks" => "parser.chunk"
    case p if p.startsWith("hp_") => "search.fts_build"
    case p if p.startsWith("resolved_") => "operators.resolve"
    case p if p.endsWith("_edges") => "parser.edges"
    case p if p.startsWith("code_posting") => "operators.postings"
    case p if p.startsWith("nl_") => "operators.nl"
    case _ => OtherPhases
  }

  /** Spans of one indexed repo other than the walk. */
  val PhaseLayers: Seq[String] = Seq("parser.chunk", "parser.edges", "operators.postings",
    "operators.nl", "operators.resolve", "search.fts_build", OtherPhases)

  /** Index `repos` into `out` as `Indexes.build` writes its code tables:
    * the walk and read (`code_files`), then every code phase, each
    * written as parquet. Several repos are read into one index, their
    * paths prefixed with the repo name.
    */
  def indexRepos(spark: SparkSession, trace: Trace, repos: Seq[Corpus.Repo], out: String): Unit = {
    val sc = spark.sparkContext
    trace.span(sc, "sources.walk") {
      val files = repos.map { r =>
        val df = FileWalk.readFiles(spark, r.root, Corpus.walkOptions)
        if (repos.size == 1) df
        else df.withColumn("origin", concat(lit(r.name + "/"), col("origin")))
      }.reduce(_ unionByName _)
      files.write.mode("overwrite").parquet(s"$out/code_files.parquet")
    }
    codePhases(spark, out).foreach { case (name, derive) =>
      trace.span(sc, layerOf(name)) {
        derive().write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Per-operation means of a span's counters, named `<span>.<counter>`. */
  def spanMetrics(t: Trace, span: String, ops: Int,
                  counters: Seq[String]): Seq[(String, Double, String)] = {
    val c = t.countersOf(span)
    val n = math.max(1, ops).toDouble
    val wall = t.wallOf(span)
    counters.map {
      case "wall_s" => (s"$span.wall_s", wall / n, "s")
      case "jobs" => (s"$span.jobs", c.jobs / n, "count")
      case "stages" => (s"$span.stages", c.stages / n, "count")
      case "tasks" => (s"$span.tasks", c.tasks / n, "count")
      case "cpu_s" => (s"$span.cpu_s", c.cpuNs / 1e9 / n, "s")
      case "shuffle_bytes" => (s"$span.shuffle_bytes", c.shuffleBytes / n, "bytes")
      case "rows_out" => (s"$span.rows_out", c.rowsWritten / n, "count")
      case "bytes_written" => (s"$span.bytes_written", c.bytesWritten / n, "bytes")
      case "busy_ratio" =>
        (s"$span.busy_ratio",
          if (wall > 0) c.runMs / 1e3 / (wall * Session.cores) else 0.0, "ratio")
    }
  }

  /** Every per-layer metric, in one fixed order, so both workloads print
    * the same names; a layer a workload does not reach reads 0.
    */
  def layerMetrics(t: Trace, ops: Int, walk: (Double, Double),
                   plan: Map[String, Double]): Seq[(String, Double, String)] = {
    val n = math.max(1, ops).toDouble
    val repoSpans = "sources.walk" +: PhaseLayers
    val perRepo = repoSpans.map(t.countersOf)
    val repoWall = t.wallOf("index_build.repo") + repoSpans.map(t.wallOf).sum
    spanMetrics(t, "sources.walk", ops, Seq("wall_s")) ++ Seq(
      ("sources.walk.files", walk._1, "count"),
      ("sources.walk.bytes", walk._2, "bytes")) ++
      spanMetrics(t, "parser.chunk", ops, Seq("wall_s", "jobs", "cpu_s", "rows_out")) ++
      spanMetrics(t, "parser.edges", ops, Seq("wall_s", "jobs", "rows_out")) ++
      spanMetrics(t, "operators.postings", ops, Seq("wall_s", "jobs", "cpu_s", "shuffle_bytes")) ++
      spanMetrics(t, "operators.nl", ops, Seq("wall_s", "jobs", "cpu_s")) ++
      spanMetrics(t, "operators.resolve", ops, Seq("wall_s", "jobs", "shuffle_bytes")) ++
      spanMetrics(t, "search.fts_build", ops,
        Seq("wall_s", "jobs", "shuffle_bytes", "bytes_written")) ++
      spanMetrics(t, OtherPhases, ops, Seq("wall_s", "jobs")) ++ Seq(
      ("index_build.jobs_per_repo", perRepo.map(_.jobs).sum / n, "count"),
      ("index_build.busy_ratio",
        if (repoWall > 0) perRepo.map(_.runMs).sum / 1e3 / (repoWall * Session.cores) else 0.0,
        "ratio"),
      ("index_build.gc_s", perRepo.map(_.gcMs).sum / 1e3 / n, "s")) ++
      spanMetrics(t, "search.route", ops, Seq("wall_s")) ++
      spanMetrics(t, "search.plan", ops, Seq("wall_s", "jobs")) ++
      spanMetrics(t, "search.execute", ops,
        Seq("wall_s", "jobs", "stages", "tasks", "cpu_s", "shuffle_bytes", "busy_ratio")) ++
      Seq("exchanges", "joins", "sorts", "broadcasts").map(k =>
        (s"search.plan.$k", plan.getOrElse(k, 0.0), "count"))
  }

  /** Operator counts of an executed plan, final adaptive plan included. */
  def planShape(df: DataFrame): Map[String, Double] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    Map(
      "exchanges" -> all.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble,
      "joins" -> all.count(_.isInstanceOf[BaseJoinExec]).toDouble,
      "sorts" -> all.count(_.isInstanceOf[SortExec]).toDouble)
  }
}

/** `index_build`: one operation indexes one repo from scratch into a
  * fresh directory. A pass indexes a small repo, then the large one; the
  * seed picks the small repo. The small repos have nearly equal chunk
  * counts, so every seed indexes about the same amount of code.
  * `latency_p50_s` is the time of the small repos (the per-build job
  * floor), `throughput_per_s` the chunks per second of the large one.
  */
final class IndexBuild(spark: SparkSession, trace: Trace, seed: Long) extends Main.Workload {
  import Workloads._
  import IndexBuild._
  val unit = "chunks"
  override val sized = true
  override val passLength: Int = Classes.size
  private val sc = spark.sparkContext
  private val dir = s"${Main.WorkDir}/index-op"
  private val pick = new Random(seed)
  private var walked = (0.0, 0.0)

  def setUp(): Unit = {
    Classes.flatten.foreach(c => Corpus.repo(c._1))
    // untimed warm-up: class loading, codegen and first JIT of every phase
    deleteTree(new File(dir))
    indexRepos(spark, trace, Seq(Corpus.repo(WarmUp)), dir)
    deleteTree(new File(dir))
  }

  def run(i: Int): Main.Op = {
    val large = i % passLength == passLength - 1
    val cls = Classes(i % passLength)
    val (name, want) = cls(pick.nextInt(cls.size))
    val repo = Corpus.repo(name)
    val t0 = System.nanoTime()
    trace.span(sc, "index_build.repo")(indexRepos(spark, trace, Seq(repo), dir))
    val dt = (System.nanoTime() - t0) / 1e9
    walked = (walked._1 + repo.files.size, walked._2 + repo.bytes)
    val (chunks, failures) = check(repo, want)
    println(f"  op $i: ${repo.name} $chunks chunks $dt%.3f s")
    deleteTree(new File(dir))
    Main.Op(dt, chunks, failures, large)
  }

  /** Output checks of one indexed repo, outside the timed window: the
    * recorded chunk count, a chunk for every non-empty file, and one
    * `hp_meta` row per `doc_key`.
    */
  private def check(repo: Corpus.Repo, want: Long): (Long, Seq[String]) = {
    val files = spark.read.parquet(s"$dir/code_files.parquet")
    val chunks = spark.read.parquet(s"$dir/chunks.parquet")
    val meta = spark.read.parquet(s"$dir/hp_meta.parquet")
    val n = chunks.count()
    val unchunked = files.filter(trim(col("content")) =!= "").select("origin")
      .except(chunks.select("origin")).count()
    val m = meta.agg(count(lit(1)), countDistinct(col("doc_key"))).head()
    val failures = Seq(
      (unchunked > 0) -> s"${repo.name}: $unchunked non-empty files gave no chunk",
      (n != want) -> s"${repo.name}: $n chunks, recorded $want",
      (m.getLong(0) != m.getLong(1)) ->
        s"${repo.name}: hp_meta has ${m.getLong(0)} rows for ${m.getLong(1)} doc_keys"
    ).collect { case (true, msg) => msg }
    (n, failures)
  }

  def layerMetrics(t: Trace, ops: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, ops).toDouble
    Workloads.layerMetrics(t, ops, (walked._1 / n, walked._2 / n), Map.empty)
  }
}

object IndexBuild {
  /** Size classes of repos, small then large, each repo with its
    * recorded chunk count. Chunk counts span 40-60x.
    */
  val Classes: Seq[Seq[(String, Long)]] = Seq(
    Seq("json" -> 47L, "sysconfig" -> 47L, "dbm" -> 51L, "include/curl" -> 59L,
      "tomllib" -> 64L, "zoneinfo" -> 68L),
    Seq("idlelib" -> 2801L))
  val WarmUp = "ensurepip"
}

/** `search_batch`: one operation is one `lexicalHotPath` call with a
  * 16-query batch, k = 20, served from the prebuilt `hp_*` artifacts.
  * Queries come from the built index by seed, in a fixed category mix.
  */
final class SearchBatch(spark: SparkSession, trace: Trace, seed: Long) extends Main.Workload {
  import Workloads._
  import SearchBatch._
  val unit = "queries"
  override val passLength = 2
  private val sc = spark.sparkContext
  private var chunks: DataFrame = _
  private var index: BatchRetrieval.FtsIndex = _
  private var gen: QueryGen = _
  private var checkDigest = ""
  private var known = 0
  private var found = 0
  private var shape = Map.empty[String, Double]

  def setUp(): Unit = {
    if (!new File(IndexDone).exists)
      sys.error(s"no prepared search index at $IndexDir; run perfbench/run.py, which prepares it")
    Corpus.repos
    Indexes.setRoot(Some(IndexDir))
    chunks = Indexes.codeChunks(spark)
    index = Indexes.hpFtsIndex(spark)
    requirePrebuilt()
    gen = new QueryGen(chunks.filter(col("chunk_type").isin("function", "class"))
      .select("origin", "name", "chunk_type", "doc").collect()
      .map(r => Doc(r.getString(0), r.getString(1), r.getString(2), r.getString(3))))
    // untimed warm-up: the fixed check batch, for determinism and recall
    val check = gen.batch(new Random(CheckSeed), extraExact = 48)
    val rows = search(check.map(_._1))
    checkDigest = digest(rows)
    known = check.count(_._2.nonEmpty)
    found = check.count { case (q, target) => target.exists(d => rows.exists(r =>
      r.getString(0) == q && r.getString(2) == d.origin && r.getString(3) == d.name)) }
  }

  /** Fails the run unless every `hp_*` artifact of the build is in the
    * index directory and `hpFtsIndex` reads only them: it would otherwise
    * fall back to building the FTS index from the chunks at query time.
    */
  private def requirePrebuilt(): Unit = {
    val missing = codePhases(spark, IndexDir).map(_._1).filter(_.startsWith("hp_"))
      .filterNot(n => new File(s"$IndexDir/$n.parquet").exists)
    val frames = Seq(index.body, index.name, index.doc).flatMap(f => Seq(f.postings, f.dl, f.idf)) ++
      Seq(index.parents, index.meta)
    val files = frames.map(_.inputFiles.toSeq)
    if (missing.nonEmpty || files.exists(fs => fs.isEmpty || fs.exists(!_.contains("/hp_"))))
      sys.error(s"the search index at $IndexDir is not served from prebuilt hp_* artifacts " +
        s"(missing: ${missing.mkString(", ")}; read: ${files.flatten.distinct.mkString(", ")})")
  }

  private def search(qs: Seq[String]): Seq[Row] =
    BatchRetrieval.lexicalHotPath(spark, chunks, qs, K, index = Some(index)).collect()
      .toSeq.sortBy(r => (r.getString(0), r.getInt(1)))

  def run(i: Int): Main.Op = {
    val batch = gen.batch(new Random(seed * 1000003L + i))
    val qs = batch.map(_._1)
    if (trace.enabled) trace.span(sc, "search.route")(BatchRetrieval.routeAll(qs))
    val t0 = System.nanoTime()
    val df = trace.span(sc, "search.plan")(
      BatchRetrieval.lexicalHotPath(spark, chunks, qs, K, index = Some(index)))
    val rows = trace.span(sc, "search.execute")(df.collect())
    val dt = (System.nanoTime() - t0) / 1e9
    if (trace.enabled && i == 0) shape = planShape(df)
    println(f"  op $i: ${qs.size} queries ${rows.length} rows $dt%.3f s")
    Main.Op(dt, qs.size, check(rows))
  }

  /** Ranks 1..n without gaps or repeated documents for every query. */
  private def check(rows: Array[Row]): Seq[String] =
    rows.groupBy(_.getString(0)).toSeq.flatMap { case (q, rs) =>
      val ranks = rs.map(_.getInt(1)).sorted.toSeq
      val docs = rs.map(r => (r.getString(2), r.getString(3))).distinct
      if (ranks != (1 to rs.length) || rs.length > K || docs.length != rs.length)
        Seq(s"query '$q': ranks ${ranks.mkString(",")} over ${docs.length} documents")
      else Nil
    }

  override def endChecks(): Seq[String] = {
    println(s"  identifier known-item recall@$K of the check batch: $found/$known " +
      s"(floor $KnownFloor)")
    Seq(
      (checkDigest != CheckDigest) ->
        s"check batch ranked rows digest $checkDigest, recorded $CheckDigest",
      (found < KnownFloor) ->
        s"identifier recall@$K of the check batch $found/$known is below the floor $KnownFloor"
    ).collect { case (true, msg) => msg }
  }

  def layerMetrics(t: Trace, ops: Int): Seq[(String, Double, String)] =
    Workloads.layerMetrics(t, ops, (0.0, 0.0), shape)
}

object SearchBatch {
  val K = 20
  /** The check batch, the same for every seed: the mixed 16 of
    * `CheckSeed` and 48 more exact identifiers, 51 known items in all.
    */
  val CheckSeed = 20221L
  /** Known items of the check batch found in the top `K` on the pinned corpus. */
  val KnownFloor = 51
  /** SHA-256 of the check batch's ranked rows on the pinned corpus. */
  val CheckDigest = "a1b90f1d0818684e234a035775b47f5090fbb52d4cc7e29b551c89e5209c5d71"

  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(s"${r.getString(0)}\t${r.getInt(1)}\t${r.getString(2)}\t${r.getString(3)}\n"
      .getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
  val IndexDir = s"${Main.WorkDir}/search-index"
  private val IndexDone = s"$IndexDir/DONE"

  /** The searched code: Python packages and C/C++ header trees. */
  val Repos: Set[String] = Set("asyncio", "email", "idlelib", "include/curl", "include/openssl")

  /** Builds the searched index once per build of the program: every code
    * phase over `Repos`, through the same path `index_build` times.
    * `index_build` measures this code path; `search_batch` measures only
    * what reads its output.
    */
  def prepare(spark: SparkSession): Unit = {
    Workloads.deleteTree(new File(IndexDir))
    Workloads.indexRepos(spark, new Trace(false), Corpus.repos.filter(r => Repos(r.name)), IndexDir)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(IndexDone))
  }

  final case class Doc(origin: String, name: String, chunkType: String, doc: String)

  /** Seeded queries over the indexed documents, 16 per batch in a fixed
    * mix: exact identifier, partial identifier, docstring phrase,
    * negation, type-filtered and multi-identifier. Exact-identifier
    * queries carry their known item, a name defined exactly once.
    */
  final class QueryGen(docs: Array[Doc]) {
    private val byName = docs.groupBy(_.name)
    private val unique: Array[Doc] = docs
      .filter(d => d.chunkType == "function" && byName(d.name).length == 1 &&
        d.name.length >= 6 && d.name.matches("[A-Za-z_][A-Za-z0-9_]*") &&
        (d.name.contains("_") || d.name.exists(_.isUpper)))
      .sortBy(d => (d.origin, d.name))
    private val parts: Array[Array[String]] = unique.map(_.name.toLowerCase.split("_")
      .filter(_.length >= 3)).filter(_.length >= 2)
    private val phrases: Array[Array[String]] = docs.map(_.doc.toLowerCase.split("[^a-z]+")
      .filter(_.length >= 3)).filter(_.length >= 4).sortBy(_.mkString(" "))
    private val words: Array[String] = parts.flatten.distinct.sorted

    /** The 16 queries of the mix, then `extraExact` more exact identifiers. */
    def batch(r: Random, extraExact: Int = 0): Seq[(String, Option[Doc])] = {
      def pick[T](xs: Array[T]): T = xs(r.nextInt(xs.length))
      def exact() = { val d = pick(unique); (d.name, Some(d)) }
      def partial() = (pick(parts).take(2).mkString("_"), None)
      def phrase() = {
        val p = pick(phrases); val s = r.nextInt(p.length - 3)
        (p.slice(s, s + 4).mkString(" "), None)
      }
      def negation() = (s"${pick(words)} ${pick(words)} without ${pick(words)}", None)
      def typed() = (s"${pick(Array("classes", "functions", "methods"))} for ${pick(words)}", None)
      def multi() = (s"${pick(unique).name} ${pick(unique).name}", None)
      val mix = Seq.fill(3)(exact _) ++ Seq.fill(3)(partial _) ++ Seq.fill(3)(phrase _) ++
        Seq.fill(2)(negation _) ++ Seq.fill(3)(typed _) ++ Seq.fill(2)(multi _)
      // query text is the batch key: draw again until it is new
      (mix ++ Seq.fill(extraExact)(exact _)).foldLeft(Vector.empty[(String, Option[Doc])]) { (acc, g) =>
        acc :+ Iterator.continually(g()).find(q => !acc.exists(_._1 == q._1)).get
      }
    }
  }
}
