package graft

import org.apache.spark.sql.functions._

import graft.sources.Indexes

/** The two-phase bench contract: with a built index root active, every
  * index-consuming registry query must return EXACTLY what it returns
  * when deriving from the raw tables (except q35, which deliberately
  * upgrades to the trained IVF index in bench mode — its oracle runs
  * index-less).
  */
class IndexesSpec extends SparkTestBase {

  private val indexConsumers = Seq(
    "q14_fts_keyword_topk", "q16_sparse_dot_topk", "q22_graph_bfs_closure",
    "q23_graph_related_cooccur", "q25_graph_impact_reach",
    "q169_graph_lpa_communities", "q180_graph_kcore",
    "q28_dedup_minhash_lsh", "q34_text_winnow_pairs",
    "q42_hybrid_search_e2e", "q43_graph_hotspots_scaled",
    "q45_dedup_canonical_groups",
    // the shared 8-gram/8-span artifacts (r9): sliding gram stream +
    // per-source projection + tumbling span table
    "q117_exact_substr_dedup", "q128_gram_novelty", "q130_kmv_cardinality",
    "q142_hll_cardinality", "q164_kmv_set_algebra")
  // (the code-family consumers canNOT join this parity list: the test
  // builds at codeReplicas=3, which SCALES and renames the code corpus,
  // so index-mode results differ legitimately — their parity test below
  // builds over the fixture files instead)

  /** The build's phase names in order: Bench's build priors and stdout
    * line and the perfbench harness key on them (the code phases are
    * those after `code_files`).
    */
  private val phaseNames = Seq(
    "postings", "copurchase_edges", "degrees", "edges_outdeg",
    "oriented_edges", "triangle_counts", "winnow_fps", "winnow_pairs",
    "neardup_pairs", "simhash_sigs", "doc_grams8", "source_grams8",
    "doc_spans8", "gram8_novelty", "span8_rn", "source_gram8_kmv",
    "ivf_centroids", "ivf_assigned", "code_files", "chunks", "call_edges",
    "type_edges", "code_postings", "nl_describe", "resolved_calls",
    "resolved_edges", "code_posting_norms", "hp_body_postings",
    "hp_name_postings", "hp_doc_postings", "hp_dl", "hp_idf", "hp_parents",
    "hp_meta", "sparse_encode")

  test("buildPhases: the recorded phase names, in build order") {
    assert(Indexes.buildPhases(spark, "", "", 0).map(_._1) == phaseNames)
  }

  test("code-family build phases over the fixture files serve the derived-mode rows") {
    // the BFS consumers are here because each edge cut is decided from
    // the plan, and the two modes plan differently
    val consumers = Seq("q205_lexical_hotpath_e2e", "q206_negation_hotpath",
      "q49_callgraph_tiers", "q63_health_report",
      "q50_impact_diff", "q53_trace_paths", "q70_onboard_tour", "q71_task_brief",
      "q79_suggest_notes", "q100_focused_read", "q110_explain_card",
      "q111_file_brief", "q157_cross_project_impact", "q158_cross_project_trace")
    def rows(n: String) =
      SparkEntry.queries(n)(spark, sf).collect().toSeq.sortBy(_.toString)
    val derived = consumers.map(n => n -> rows(n)).toMap
    val ixDir = java.nio.file.Files.createTempDirectory("graft_ix_code_parity").toString
    graft.parser.CodeFixtures.filesDf(spark).write.parquet(s"$ixDir/code_files.parquet")
    Indexes.buildPhases(spark, sf, ixDir, 0)
      .dropWhile(_._1 != "code_files").drop(1).filterNot(_._1 == "sparse_encode")
      .foreach { case (n, derive) => derive().write.parquet(s"$ixDir/$n.parquet") }
    Indexes.setRoot(Some(ixDir))
    try {
      assert(Indexes.codeChunks(spark).inputFiles.exists(_.contains(ixDir)))
      assert(Indexes.hpFtsIndex(spark).meta.inputFiles.exists(_.contains(ixDir)))
      consumers.foreach { n =>
        val indexed = rows(n)
        assert(indexed == derived(n), s"$n differs between index and derived mode")
        assert(indexed.nonEmpty, s"$n returned no rows")
      }
    } finally Indexes.setRoot(None)
  }

  test("hp_parents and hp_meta hold one row per doc_key") {
    // the hot path joins both onto its one-row-per-(query, doc) fused
    // pool with no dedup after, so neither may repeat a doc_key — also
    // where one file has several chunks of one name
    val chunks = Indexes.codeChunks(spark)
    val sameNamed = chunks.groupBy(col("origin"), col("name")).count()
      .filter(col("count") > 1)
    assert(sameNamed.count() > 0, "no same-named chunks in one fixture file")
    val ix = Indexes.hpFtsIndex(spark)
    Seq("hp_parents" -> ix.parents, "hp_meta" -> ix.meta).foreach { case (n, df) =>
      val repeated = df.groupBy(col("doc_key")).count().filter(col("count") > 1)
      assert(repeated.count() == 0, s"$n repeats a doc_key")
    }
    val keys = sameNamed.select(concat_ws(
      graft.search.BatchRetrieval.KeySep, col("origin"), col("name")).as("doc_key"))
    assert(ix.meta.join(keys, Seq("doc_key")).count() == sameNamed.count())
  }

  test("built-index mode is result-identical to derived mode") {
    val ixDir = java.nio.file.Files.createTempDirectory("graft_ix_test").toString
    val derived = indexConsumers.map { n =>
      n -> SparkEntry.queries(n)(spark, sf).collect().toSet
    }.toMap
    Indexes.build(spark, sf, ixDir, codeReplicas = 3)
    Indexes.setRoot(Some(ixDir))
    try {
      indexConsumers.foreach { n =>
        val indexed = SparkEntry.queries(n)(spark, sf).collect().toSet
        assert(indexed == derived(n), s"$n differs between index and derived mode")
        assert(indexed.nonEmpty, s"$n returned no rows")
      }
    } finally Indexes.setRoot(None)
  }

  test("index mode plan shape: queries scan the built parquet, not a rebuild subtree") {
    val ixDir = java.nio.file.Files.createTempDirectory("graft_ix_plan").toString
    Indexes.build(spark, sf, ixDir, codeReplicas = 3)
    Indexes.setRoot(Some(ixDir))
    try {
      // q16's postings side must be a parquet scan of the index dir —
      // no explode/groupBy rebuild of the posting list in the plan
      val plan16 = SparkEntry.queries("q16_sparse_dot_topk")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan16.contains(ixDir), "posting scan should read the built index")
      assert(!plan16.toLowerCase.contains("generate"),
        "index mode must not re-explode tokens at query time")
      // (BFS results are localCheckpoint'ed, so their final plan is a
      // checkpoint-RDD scan — nothing to assert there)
    } finally Indexes.setRoot(None)
  }

  test("scaled code corpus: per-replica closure, distinct names, chunk count") {
    import graft.parser.{Chunker, CodeFixtures}
    val replicas = 4
    val baseChunkCount = CodeFixtures.files.flatMap { case (o, l, c) =>
      Chunker.chunkFile(o, l, c)
    }.size
    val files = CodeFixtures.scaledFilesDf(spark, replicas)
    assert(files.count() == replicas * CodeFixtures.files.size)
    val chunks = Chunker.chunkDataset(files).toDF().localCheckpoint(true)
    // every replica chunks exactly like the fixture corpus
    assert(chunks.count() == replicas * baseChunkCount)
    // content-derived function names are distinct corpus-wide
    // (replica-suffixed); the only permitted collisions are the
    // position-GENERATED names (aspx inline_N / server_script), which
    // are not present in the text so the rename pass cannot suffix
    // them — and no call site ever targets a generated name, so they
    // cannot fan a name-resolution join across replicas
    val fns = chunks.filter(col("chunk_type") === "function")
      .select("name", "origin")
    val dups = fns.groupBy("name").count().filter(col("count") > 1)
      .select("name").collect().map(_.getString(0))
    assert(dups.forall(n => n.matches("inline_\\d+") || n == "server_script"),
      s"non-generated duplicate names: ${dups.mkString(",")}")
    // resolved call edges never cross replica boundaries
    val fnDef = chunks.filter(col("chunk_type") === "function")
      .select(col("name").as("callee"), col("origin").as("def_origin"))
    val crossReplica = Chunker.callSitesFromChunks(chunks).toDF()
      .join(fnDef, Seq("callee"))
      .filter(regexp_extract(col("origin"), "fixtures/(r\\d+)/", 1) =!=
        regexp_extract(col("def_origin"), "fixtures/(r\\d+)/", 1))
    assert(crossReplica.count() == 0, "call edges leaked across replicas")
  }

  test("code-family queries serve from the prebuilt chunk/edge tables") {
    val ixDir = java.nio.file.Files.createTempDirectory("graft_ix_code").toString
    val replicas = 3
    Indexes.build(spark, sf, ixDir, codeReplicas = replicas)
    Indexes.setRoot(Some(ixDir))
    try {
      import graft.parser.{Chunker, CodeFixtures}
      // the build merges webhelp sites before the parse — mirror it
      val baseChunks = graft.parser.WebhelpConvert.mergeSitesLocal(
        CodeFixtures.files).flatMap { case (o, l, c) =>
        Chunker.chunkFile(o, l, c)
      }
      val baseFnNames = baseChunks.filter(_.chunk_type == "function")
        .map(_.name).distinct.size
      // accessors resolve to the parquet artifacts at corpus scale
      assert(Indexes.codeChunks(spark).count() == replicas * baseChunks.size)
      assert(Indexes.callEdges(spark).count() > 0)
      assert(Indexes.typeEdges(spark).count() > 0)
      // a graph query runs against them: q49 emits one row per distinct
      // function name — replicas × the fixture-scale name set, less
      // only the collapse of position-GENERATED names (aspx inline_N),
      // which are identical in every replica — and its plan scans the
      // index dir
      val fnDistinct = Indexes.codeChunks(spark)
        .filter(col("chunk_type") === "function")
        .select("name").distinct().count()
      assert(fnDistinct > replicas * (baseFnNames - 2) &&
        fnDistinct <= replicas.toLong * baseFnNames)
      val q49 = SparkEntry.queries("q49_callgraph_tiers")(spark, sf)
      assert(q49.count() == fnDistinct)
      val plan = q49.queryExecution.executedPlan.toString
      assert(plan.contains(ixDir), "q49 should scan the built chunk table")
      // q53 traces every replica's log_event hub independently
      val q53 = SparkEntry.queries("q53_trace_paths")(spark, sf)
      assert(q53.filter(col("depth") === 0).count() == replicas)
      // the FTS-seeded composites read the prebuilt posting index
      // rather than re-tokenizing the chunk table per query
      val q66 = SparkEntry.queries("q66_where_to_add")(spark, sf)
      assert(q66.queryExecution.executedPlan.toString.contains("code_postings"),
        "q66 should scan the built code_postings table")
    } finally Indexes.setRoot(None)
  }

  test("q35 in index mode serves from the trained IVF index and stays well-formed") {
    val ixDir = java.nio.file.Files.createTempDirectory("graft_ix_test2").toString
    Indexes.build(spark, sf, ixDir, codeReplicas = 3)
    Indexes.setRoot(Some(ixDir))
    try {
      val out = SparkEntry.queries("q35_ann_ivf_topk")(spark, sf)
      assert(out.count() > 0)
      // per query: ranks are 1..n contiguous
      val bad = out.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"))
        .filter(col("n") =!= col("mx")).count()
      assert(bad == 0)
    } finally Indexes.setRoot(None)
  }

  test("slots: atomic promote swaps which index Indexes serves") {
    import graft.sources.Slots
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_slots").toString
    // two side-by-side "indexes": same artifact name, different content
    Seq(("a", 1L)).toDF("token", "tf")
      .write.parquet(s"$root/slots/default/postings.parquet")
    Seq(("b", 2L)).toDF("token", "tf")
      .write.parquet(s"$root/slots/e5/postings.parquet")
    assert(Slots.list(root) == Seq("default", "e5"))
    assert(Slots.active(root).isEmpty)
    try {
      Slots.promote(root, "default")
      Slots.activate(root)
      val t1 = spark.read.parquet(
        s"$root/slots/${Slots.active(root).get}/postings.parquet")
      assert(t1.select("token").as[String].collect().toSeq == Seq("a"))
      assert(Indexes.activeRoot.contains(s"$root/slots/default"))
      // promote the second slot: pointer swap, no data rewrite
      Slots.promote(root, "e5")
      Slots.activate(root)
      assert(Indexes.activeRoot.contains(s"$root/slots/e5"))
      // promoting a missing slot refuses instead of tearing the pointer
      intercept[IllegalArgumentException](Slots.promote(root, "nope"))
      assert(Slots.active(root).contains("e5"))
    } finally Indexes.setRoot(None)
  }
}
