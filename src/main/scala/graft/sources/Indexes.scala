package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps, Materialize, Postings, Similarity, TextAnalysis}
import graft.parser.{Chunker, CodeFixtures}
import graft.search.BatchRetrieval
import graft.search.BatchRetrieval.{FieldIndex, FtsIndex}

/** The persisted-index layer — the Spark analogue of `cqs index`
  * (/root/reference/src/cli/commands/index/build.rs:102): derived
  * tables the query batch shares (posting lists, graph edges + degrees,
  * winnowing fingerprints, IVF centroids + assignments) are built ONCE
  * and written as parquet; queries then read the built tables instead
  * of re-deriving them per query.
  *
  * One ordered table (`artifacts`) declares every artifact once: its
  * name (also its parquet file and build-phase name), its derivation
  * written against the artifacts it reads, whether it is pinned, and
  * whether derived mode cuts its lineage. Both modes run that one
  * derivation:
  *  - build mode (`buildPhases`, `build`): inputs are the on-disk
  *    artifacts of earlier phases;
  *  - derived mode (the typed accessors): the prebuilt artifact when an
  *    index root is active and holds it, else the derivation with every
  *    input resolved through the accessors again.
  *
  * The CORRECTNESS gate (graft.Verify) runs with no active root, so
  * oracle semantics never depend on a build having happened. graft.Bench
  * activates the root after its build phase, giving the honest two-phase
  * shape BASELINE.md's batch throughput number assumes (the reference's
  * 2.0 ops/s is measured against prebuilt indexes, never rebuilding per
  * op).
  *
  * At 100 TB these writes would be bucketed Delta tables (postings
  * bucketed BY token, edges BY src) so query joins are shuffle-free on
  * the index side; the accessor surface stays identical.
  */
object Indexes {

  @volatile private var rootOpt: Option[String] = None

  /** Activate (or deactivate) a built index directory. */
  def setRoot(path: Option[String]): Unit = rootOpt = path

  def activeRoot: Option[String] = rootOpt

  /** Artifact paths pinned into executor memory (storage level
    * MEMORY_AND_DISK via Dataset.cache — spill-safe, never OOMs the
    * batch). The reference serves its 2.0 ops/s batch from a
    * memory-mapped prebuilt store (store/mod.rs holds the sqlite pages
    * hot across the whole run); the Spark-native equivalent of that
    * residency is caching the built index tables once at activation
    * instead of re-scanning + re-decoding the same parquet for every
    * one of the ~200 batch queries. Spark's CacheManager lives in the
    * context-shared SharedState, so child sessions (the streaming
    * frames) transparently plan against the same InMemoryRelation.
    * Correctness is untouched: the gate (graft.Verify) runs with no
    * active root, so its plans never see a cache.
    */
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Residency is opt-in (graft.Bench turns it on after its build
    * phase): specs that assert exact plan shapes — and the Verify
    * gate, which never activates a root at all — keep parquet-scan
    * plans.
    */
  @volatile var pinArtifacts: Boolean = false

  // Residency is bench-batch-lifetime by design: pinning is enabled
  // AFTER the build (and its stall re-measure rebuilds) completes, and
  // Spark recaches by path on any overwrite of a cached location, so
  // no unpin hook is needed — the JVM exits with the batch.

  /** What a derivation reads. `codeReplicas` is Some(n) in build mode
    * (inputs are the artifacts already in the build directory, the code
    * corpus is n scaled fixture replicas) and None in derived mode
    * (inputs resolve through the accessors, the code corpus is the
    * fixture files).
    */
  private final class Inputs(val s: SparkSession, val dir: String,
                             val codeReplicas: Option[Int],
                             read: String => DataFrame) {
    def apply(name: String): DataFrame = read(name)
    /** An input the derivation scans several times: derived mode cuts
      * its lineage first; build mode reads the on-disk artifact, which
      * needs no copy.
      */
    def cut(name: String): DataFrame =
      if (codeReplicas.isEmpty) Materialize.stable(read(name)) else read(name)
    def documents: DataFrame = Tables.documents(s, dir)
    /** The hot-path FTS index over the chunk input, built once for the
      * hp_* phases that project it (built per phase, it cost each phase
      * about 0.1 s of plan analysis).
      */
    lazy val hp: FtsIndex = hpIndex(read("chunks"))
  }

  /** One index artifact. `pinned`: served from executor memory under
    * `pinArtifacts`. `cutDerived`: derived mode materializes the frame
    * (its consumers scan it more than once).
    */
  private final case class Artifact(name: String, derive: Inputs => DataFrame,
                                    pinned: Boolean = false,
                                    cutDerived: Boolean = false)

  /** The hot-path FTS index over a chunk table; the seven hp_* artifacts
    * are its projections.
    */
  private def hpIndex(chunks: DataFrame): FtsIndex =
    BatchRetrieval.buildFtsIndex(BatchRetrieval.docsOf(chunks))

  /** One BM25 statistic (dl or idf) of each on-disk field posting
    * table, tagged by field — never re-tokenizing the chunks.
    */
  private def hpStats(in: Inputs)(stat: FieldIndex => DataFrame): DataFrame =
    Seq("body", "name", "doc").map { f =>
      stat(FieldIndex.from(in(s"hp_${f}_postings"))).withColumn("field", lit(f))
    }.reduce(_ unionByName _)

  // Only artifacts every consumer scans IN FULL are worth residency —
  // the iterative graph frames (re-joined once per PageRank/LPA/PPR
  // round), the per-doc signature/sketch tables, and the IVF index.
  // Measured A/B (same host, same 13-query subset): pinning these cut
  // q169 2.9→2.1 s and q134 1.7→1.5 s, while pinning the SELECTIVELY
  // read artifacts regressed their consumers 2-3x — postings and the
  // text-wide chunk/file tables win with parquet predicate pushdown +
  // column pruning (a token-filtered posting probe reads a few row
  // groups; the in-memory fill materializes the whole table including
  // content strings), so those stay parquet-served. (r14 measured,
  // rejected: pinning the 7 hp_* artifacts — scanned in full by every
  // hot-path execution — DOUBLED q205/q206 in a back-to-back A/B
  // (3.9→12.4 / 3.9→9.6 s): the InMemoryRelation boundary pins the
  // pre-cache plan and blocks AQE's runtime broadcast/reuse decisions
  // over those subtrees. hp_* stays parquet-served.)
  private val artifacts: Seq[Artifact] = Seq(
    // FTS/SPLADE posting list over documents
    Artifact("postings", in => Postings.build(in.documents)),
    // co-purchase edge set (symmetric, distinct) — the graph-query edge
    // table (see graft.queries.Graph.edgesSql for the SQL mirror). Dedup
    // the src < dst HALF of the symmetric pair set, then emit both
    // orientations with a row-local explode: the distinct — the one
    // wide shuffle here — carries half the bytes, and the flip costs no
    // pass (guide §2.3, shuffle fewer bytes). Same row set as
    // dedup-over-both-orientations: the halves are disjoint and each
    // unordered pair appears exactly once per direction.
    Artifact("copurchase_edges", { in =>
      val li = Tables.lineitem(in.s, in.dir).select(col("l_orderkey"), col("l_partkey"))
      li.select(col("l_orderkey"), col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("dst")), Seq("l_orderkey"))
        .filter(col("src") < col("dst"))
        .select(col("src"), col("dst"))
        .distinct()
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
    }, pinned = true),
    // in-degree per node (derived mode feeds both q43's threshold
    // scalar and its filter from one materialized frame)
    Artifact("degrees", in => in("copurchase_edges")
      .groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_degree")),
      pinned = true, cutDerived = true),
    // degree-joined edges (src, dst, outdeg) — PageRank's per-round join
    // input (q134), rescanned once per round; per-run recompute was the
    // round-7 perf flag
    Artifact("edges_outdeg", in => GraphOps.degreeJoinedEdges(in("copurchase_edges")),
      pinned = true, cutDerived = true),
    // degree-oriented edges (a, b, db) — the triangle query's wedge-join
    // input (q153), scanned three times by the wedge join + close. The
    // edge table is symmetric and distinct by construction, so the
    // undirected dedup is a src < dst filter, not a shuffle; the
    // orientation re-scans its input three times (degrees + two degree
    // joins), so derived mode cuts that input too.
    Artifact("oriented_edges",
      in => GraphOps.orientEdgesFromSymmetric(in.cut("copurchase_edges")),
      pinned = true, cutDerived = true),
    // per-node triangle counts — the wedge join is the O(m^1.5) half of
    // q153 and run-invariant; the query itself is the top-k consumer
    Artifact("triangle_counts",
      in => GraphOps.triangleCountsFromOriented(in("oriented_edges")), pinned = true),
    // winnowing fingerprints at the q34 parameters (k = 12, w = 16)
    Artifact("winnow_fps", in => TextAnalysis.winnowFingerprints(in.documents,
      "doc_id", "text", 12, 16), pinned = true, cutDerived = true),
    // winnowing shared-fingerprint pair counts with a floor of 2 shared
    // fingerprints (single-shared pairs are n-gram noise and dominate
    // row count; every consumer threshold is >= 2)
    Artifact("winnow_pairs", in => TextAnalysis.winnowSharedPairsFromFps(
      in("winnow_fps"), "doc_id", minShared = 2L), pinned = true),
    // MinHash+LSH near-dup pairs at the q28 parameters. Dedup is
    // pipeline work, not query work: at 100 TB the verified pair table
    // is materialized once per corpus generation and every consumer
    // (canonicalization, filtering, reporting) reads it.
    Artifact("neardup_pairs", in => Dedup.minhashLsh(in.documents, "doc_id", "text",
      numHashes = 64, numBands = 16, threshold = 0.5), pinned = true),
    // per-doc 16-bit simhash signatures at the q29 parameters; the pair
    // scan self-joins them, so an unmaterialized derivation would
    // tokenize the corpus twice
    Artifact("simhash_sigs", in => Dedup.simhash16(in.documents, "doc_id", "text",
      carryCols = Seq("lang")), pinned = true, cutDerived = true),
    // distinct sliding 8-word grams per document (doc_id, source, gram)
    // — the shared shingle stream under novelty scoring (q128), the
    // KMV/HLL sketches (q130/q142 via source_grams8) and the set-algebra
    // audit (q164), tokenized and exploded once instead of per consumer
    // query; doc_id determines source, so a (doc_id, gram) projection
    // needs no re-distinct
    Artifact("doc_grams8", in => in.documents
      .select(col("doc_id"), col("source"),
        graft.functions.TextFns.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(ws)-8), i -> array_join(slice(ws, i+1, 8), ' '))"))
        .as("gram"))
      .distinct(), cutDerived = true),
    // distinct (source, gram) — q130 KMV and q142 HLL each read it
    // twice (sketch branch + exact-audit branch)
    Artifact("source_grams8", in => in("doc_grams8")
      .select(col("source"), col("gram")).distinct(), cutDerived = true),
    // tumbling 8-word spans per document (doc_id, win_idx, span),
    // including the short tail span — q117's exact-substring span table
    // (Lee et al. ExactSubstr in tumbling form). NOT derivable from the
    // sliding table: tail spans shorter than 8 words and sub-8-word
    // documents exist only here.
    Artifact("doc_spans8", in => in.documents
      .select(col("doc_id"), graft.functions.TextFns.words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(ws) / 8.0) as int) - 1), " +
          "i -> array_join(slice(ws, i * 8 + 1, 8), ' '))")))
      .select(col("doc_id"), col("pos").as("win_idx"), col("col").as("span")),
      pinned = true),
    // novelty-marked grams (doc_id, gram, first_doc) — q128's window
    // (min doc_id per gram) at index time; in production the "already
    // seen" gram set IS an incrementally-maintained index
    Artifact("gram8_novelty", in => in("doc_grams8")
      .select(col("doc_id"), col("gram"))
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("gram")))), pinned = true),
    // canonical-occurrence-ranked spans (doc_id, win_idx, span, rn) —
    // q117's row_number over (span → doc_id, win_idx) at index time;
    // rn = 1 marks the occurrence every later dedup pass keeps. The rank
    // partitions by the span itself, never a hash of it (a colliding
    // pair would share one row_number sequence)
    Artifact("span8_rn", in => in("doc_spans8")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("span")).orderBy(col("doc_id"), col("win_idx")))),
      pinned = true),
    // per-source KMV sketches (source, hx) — the k=64 minimum md5 values
    // of each source's distinct 8-gram set. KMV sketches merge
    // associatively, so any source grouping's sketch derives from these
    // 64-row-per-source tables without rescanning the gram stream
    // (q164's sketch branch; its exact-audit branch scans source_grams8)
    Artifact("source_gram8_kmv", in => in("source_grams8")
      .select(col("source"), md5(col("gram")).as("hx"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("hx").asc)))
      .filter(col("rn") <= 64)
      .select(col("source"), col("hx")), pinned = true),
    // IVF (build only: ivfIndex has no derived fallback): cell count
    // scaled to corpus (~50 vectors/cell, the same sizing knob as the
    // every-50th placeholder), 3 Lloyd iterations
    Artifact("ivf_centroids", { in =>
      val emb = Tables.embeddings(in.s, in.dir)
      Similarity.trainCentroids(emb, math.max(4L, emb.count() / 50L).toInt, iters = 3)
    }, pinned = true),
    Artifact("ivf_assigned", in =>
      Similarity.ivfAssign(Tables.embeddings(in.s, in.dir), in("ivf_centroids")),
      pinned = true),
    // Code-intelligence tables (the reference's store, src/store/mod.rs;
    // schema.sql:71-105,159-214): corpus → chunks → call/type edges, each
    // read by every graph query, never re-parsed per query. The one
    // artifact whose two sources differ: build mode writes the scaled
    // bench corpus, derived mode serves the fixture files.
    Artifact("code_files", in => in.codeReplicas.fold(CodeFixtures.filesDf(in.s))(
      CodeFixtures.scaledFilesDf(in.s, _))),
    // web-help sites merge to one doc per site BEFORE the parse (the
    // reference converts the site dir, then chunks the markdown);
    // derived mode materializes the chunks once so a multi-branch
    // consumer (q63's six metrics) cannot re-run the parse per branch
    Artifact("chunks", in => Chunker.chunkDataset(
      graft.parser.WebhelpConvert.mergeSites(in("code_files"))).toDF(),
      cutDerived = true),
    Artifact("call_edges", in => Chunker.callSitesFromChunks(in("chunks")).toDF()),
    Artifact("type_edges", in => Chunker.typeRefsFromChunks(in("chunks")).toDF()),
    // posting lists over FUNCTION-chunk contents — the FTS side of the
    // code-search composites (q51/q66-q72), which would otherwise each
    // re-tokenize the chunk table per query
    Artifact("code_postings", in => Postings.build(
      in("chunks").filter(col("chunk_type") === "function"), "name", "content")),
    // NL descriptions are a STORE artifact in the reference (the
    // nl/mod.rs output is what gets embedded and persisted; no query
    // re-derives it): served to q108 and the enrichment pass
    Artifact("nl_describe", in => graft.operators.NlGen.describe(in("chunks"))),
    // chunk-resolved calls with ALL site columns (origin, line,
    // edge_kind …) — the reference's `calls` table, resolved at index
    // time (schema.sql:159-168); the trust/kind-aware consumers (q49,
    // q57, q63, q79, q110) read it — plus the distinct pair view the BFS
    // family traverses
    Artifact("resolved_calls", { in =>
      val fns = in("chunks").filter(col("chunk_type") === "function")
        .select(col("name").as("callee")).distinct()
      in("call_edges").join(fns, Seq("callee"))
    }, pinned = true),
    Artifact("resolved_edges", in => in("resolved_calls")
      .select(col("caller"), col("callee")).distinct(), pinned = true),
    // per-function posting norms (sum tf² — the index metadata every
    // cosine consumer needs; HNSW/SPLADE indexes store norms the same
    // way)
    Artifact("code_posting_norms", in => in("code_postings")
      .groupBy(col("name")).agg(sum(col("tf") * col("tf")).as("nb2")), pinned = true),
    // hot-path FTS artifacts: the reference's chunks_fts columns
    // (content/name/doc, schema.sql:149-156) plus the FTS5 shadow-table
    // statistics (dl/idf), the containment parents and one metadata row
    // per doc_key. FULL-profile, the reference's way: chunks_fts indexes
    // EVERY chunk and chunk-type/language restriction is a query-time
    // WHERE (scoring/filter.rs) — an index-time profile filter would
    // silently drop the sql/markdown/constant gold categories (r12
    // verdict wrong #1)
    Artifact("hp_body_postings", in => in.hp.body.postings),
    Artifact("hp_name_postings", in => in.hp.name.postings),
    Artifact("hp_doc_postings", in => in.hp.doc.postings),
    Artifact("hp_dl", in => hpStats(in)(_.dl)),
    Artifact("hp_idf", in => hpStats(in)(_.idf)),
    Artifact("hp_parents", in => in.hp.parents),
    Artifact("hp_meta", in => in.hp.meta),
    // model-encode pass over the document corpus THROUGH the adaptive
    // session lifecycle (the SPLADE-encode build step's shape): the
    // 1 MiB arena budget is deliberately smaller than initialBatch's
    // workspace, so exhaustion → halve → reset → recover runs at corpus
    // scale on every build, not just in unit tests. Output is the toy
    // sparse posting table.
    Artifact("sparse_encode", in =>
      graft.operators.AdaptiveBatch.encodeSparse(
        in.documents.select(col("doc_id").as("id"), col("text")),
        () => new graft.operators.ToyQuantEncoder(1L << 20),
        initialBatch = 64, resetEvery = 4)
        .toDF("id", "terms")
        .select(col("id"), explode(col("terms")).as(Seq("term", "w")))))

  private val byName: Map[String, Artifact] = artifacts.map(a => a.name -> a).toMap

  private def prebuilt(s: SparkSession, name: String): Option[DataFrame] =
    rootOpt.flatMap { r =>
      val p = s"$r/$name.parquet"
      if (!new java.io.File(p).exists) None
      else {
        val df = s.read.parquet(p)
        if (pinArtifacts && byName(name).pinned && pinned.add(p)) df.cache()
        Some(df)
      }
    }

  /** Derived mode: the prebuilt artifact, else its derivation with every
    * input resolved the same way.
    */
  private def resolve(s: SparkSession, dir: String, name: String): DataFrame =
    prebuilt(s, name).getOrElse {
      val a = byName(name)
      val df = a.derive(new Inputs(s, dir, None, resolve(s, dir, _)))
      if (a.cutDerived) Materialize.stable(df) else df
    }

  // ---- accessors (prebuilt if active, else derived) ----

  def postings(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "postings")
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    resolve(s, dir, "copurchase_edges")
  def degrees(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "degrees")
  def edgesOutdeg(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "edges_outdeg")
  def triangleCounts(s: SparkSession, dir: String): DataFrame =
    resolve(s, dir, "triangle_counts")
  def winnowFps(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "winnow_fps")
  def winnowPairs(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "winnow_pairs")
  def neardupPairs(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "neardup_pairs")
  def simhashSigs(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "simhash_sigs")
  def docGrams8(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "doc_grams8")
  def sourceGrams8(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "source_grams8")
  def gram8Novelty(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "gram8_novelty")
  def span8Rn(s: SparkSession, dir: String): DataFrame = resolve(s, dir, "span8_rn")
  def sourceGram8Kmv(s: SparkSession, dir: String): DataFrame =
    resolve(s, dir, "source_gram8_kmv")

  // The code family reads no document table, hence no `dir`.
  def codeFiles(s: SparkSession): DataFrame = resolve(s, "", "code_files")
  def codeChunks(s: SparkSession): DataFrame = resolve(s, "", "chunks")
  def callEdges(s: SparkSession): DataFrame = resolve(s, "", "call_edges")
  def typeEdges(s: SparkSession): DataFrame = resolve(s, "", "type_edges")
  def codePostings(s: SparkSession): DataFrame = resolve(s, "", "code_postings")
  def nlDescribe(s: SparkSession): DataFrame = resolve(s, "", "nl_describe")
  def resolvedCallsFull(s: SparkSession): DataFrame = resolve(s, "", "resolved_calls")
  def resolvedCallEdges(s: SparkSession): DataFrame = resolve(s, "", "resolved_edges")
  def codePostingNorms(s: SparkSession): DataFrame = resolve(s, "", "code_posting_norms")

  /** The hot-path FTS index: the seven prebuilt hp_* artifacts, else
    * the derivation they project, over the chunk table.
    */
  def hpFtsIndex(s: SparkSession): FtsIndex =
    artifacts.map(_.name).filter(_.startsWith("hp_")).flatMap(prebuilt(s, _)) match {
      case Seq(b, n, d, dl, idf, par, meta) =>
        def fi(f: String, p: DataFrame) = FieldIndex(p,
          dl.filter(col("field") === f).drop("field"),
          idf.filter(col("field") === f).drop("field"))
        FtsIndex(fi("body", b), fi("name", n), fi("doc", d), par, meta)
      case _ => hpIndex(codeChunks(s))
    }

  /** Trained IVF index (centroids + assignments) — bench/serving path
    * only; there is deliberately NO derived fallback (the oracle-gated
    * q35 pins the deterministic every-Nth-centroid mechanics instead,
    * since k-means is not ANSI-SQL-mirrorable).
    */
  def ivfIndex(s: SparkSession): Option[(DataFrame, DataFrame)] =
    for {
      c <- prebuilt(s, "ivf_centroids")
      a <- prebuilt(s, "ivf_assigned")
    } yield (c, a)

  // ---- build phase ----

  /** Bench code-corpus scale: SPARK_GRAFT_CODE_REPLICAS, else 250
    * replicas × 82 chunks ≈ 20.5k chunks — the reference's own
    * perf-snapshot scale (562 files → 15,516 chunks, the reference's
    * evals/performance-v1.27.0.json).
    */
  val DefaultCodeReplicas: Int =
    sys.env.get("SPARK_GRAFT_CODE_REPLICAS").fold(250)(_.toInt)

  /** The build as an ordered (name, derivation-thunk) list. Each thunk
    * reads its inputs from the ON-DISK artifacts of earlier phases
    * (resolved lazily inside the thunk), so any single phase can be
    * re-run in isolation once the phases before it have been written —
    * the hook the bench's build-phase stall re-measure protocol needs
    * (a query-phase stall is caught by median-of-3; the build ran each
    * phase exactly once and was the one unprotected number left in the
    * r9 report).
    */
  def buildPhases(s: SparkSession, dir: String, out: String,
                  codeReplicas: Int): Seq[(String, () => DataFrame)] = {
    // one read per input artifact per call (each read is a Parquet
    // schema-inference job, and `chunks` alone feeds six phases): within
    // one call every artifact is written once, before any phase reads it
    val reads = scala.collection.concurrent.TrieMap[String, DataFrame]()
    val in = new Inputs(s, dir, Some(codeReplicas),
      n => reads.getOrElseUpdate(n, s.read.parquet(s"$out/$n.parquet")))
    artifacts.map(a => a.name -> (() => a.derive(in)))
  }

  private def timedWrite(out: String)(name: String)(
      df: => DataFrame): (String, Double) = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    name -> (System.nanoTime() - t0) / 1e9
  }

  /** Build every index table into `out`, returning (table, seconds)
    * per table. Does NOT activate the root — callers opt in via setRoot
    * once the build is complete.
    */
  def build(s: SparkSession, dir: String, out: String,
            codeReplicas: Int = DefaultCodeReplicas): Seq[(String, Double)] = {
    new java.io.File(out).mkdirs()
    buildPhases(s, dir, out, codeReplicas).map { case (n, th) =>
      timedWrite(out)(n)(th())
    }
  }

  /** Re-run ONE named build phase (its on-disk inputs must already
    * exist — i.e. a full build has completed) and return the fresh
    * wall-clock. The derivations are deterministic, so the overwrite
    * is value-identical; only the timing is new.
    */
  def rebuildPhase(s: SparkSession, dir: String, out: String, name: String,
                   codeReplicas: Int = DefaultCodeReplicas): Double =
    buildPhases(s, dir, out, codeReplicas)
      .collectFirst { case (n, th) if n == name =>
        timedWrite(out)(n)(th())._2 }
      .getOrElse(sys.error(s"rebuildPhase: unknown phase $name"))

  /** Timed dedup-family build phases at an arbitrary sf dir — the
    * bench's scale-growth probe: run at two sf points (10× the
    * documents), sub-quadratic growth is evident from the wall-clock
    * ratio (an all-pairs formulation would grow ~100×; the bucketed
    * LSH/banding shapes grow with data + candidate mass). Writes to a
    * throwaway dir so the probe times the same write path as the build.
    */
  def dedupProbe(s: SparkSession, dir: String, out: String): Seq[(String, Double)] = {
    new java.io.File(out).mkdirs()
    val dedup = Set("winnow_fps", "winnow_pairs", "neardup_pairs", "simhash_sigs")
    buildPhases(s, dir, out, 0).collect { case (n, th) if dedup(n) =>
      timedWrite(out)(n)(th())
    }
  }
}
