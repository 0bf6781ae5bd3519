package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, Incremental, Postings, Summaries, TopK}
import graft.parser.{Chunker, CodeFixtures}
import graft.search.Structural
import graft.sources.Indexes

/** Composite reports part 2: suggest/notes (q79), trust collapse
  * (q57), overlays (q82-q84), field extraction + docwriter family
  * (q90-q95), NL describe + enrichment (q108-q109), explain card +
  * file brief (q110-q111). Split from CodeQ (r11 hygiene).
  */
private[queries] trait CodeQB { self: CodeQA with CodeQC =>

  /** Entry-point names never reported dead — the union of the
    * reference language registry's per-language entry_point_names plus
    * the cross-language fallbacks (/root/reference/src/store/calls/
    * mod.rs:180-194, language/languages.rs entry_point_names fields).
    */
  private val EntryPointNames = Seq(
    "MAIN", "Main", "OnInitializedAsync", "OnParametersSetAsync",
    "Page_Init", "Page_Load", "Page_PreRender", "__init__", "all",
    "constructor", "default", "fallback", "handle_call", "handle_cast",
    "handle_info", "init", "main", "new", "receive", "setup", "start",
    "teardown")

  /** Suggest thresholds. The log-scaled defaults
    * (clamp(log2(chunks)*0.7, 5, 50) — /root/reference/src/limits.rs:
    * 348-353,366-397) floor at 5, sized for real corpora; the
    * reference documents env pins (CQS_HOTSPOT_MIN_CALLERS,
    * CQS_DEAD_CLUSTER_MIN_SIZE) for policy-stable thresholds, which is
    * the mode exercised here so every detector fires at fixture scale.
    * RiskHigh is the unmodified default (RISK_THRESHOLD_HIGH = 5.0).
    */
  private val SuggestMinCallers = 3L
  private val SuggestDeadClusterMin = 2L
  private val SuggestRiskHigh = 5L
  private val SuggestHotspotPool = 20
  private val TestReachDepth = 5 // DEFAULT_MAX_TEST_SEARCH_DEPTH

  /** q79 — `cqs suggest`: auto-detected note-worthy anti-patterns
    * (/root/reference/src/suggest.rs). Three independent detectors —
    * dead-code clusters per file (strict zero-real-edge dead set:
    * doc references are inert, heuristic-reached callees are NOT dead,
    * tests and entry points excluded — store/calls/dead_code.rs:
    * 345-373,763-798), untested hotspots / high-risk functions over
    * the top caller-count pool (risk score = callers·(1−test_ratio),
    * which reduces to max(callers − tests, 0) in integers; test counts
    * from a depth-5 forward BFS out of each test's first-hop callees —
    * impact/hints.rs:160-222, impact/bfs.rs:300-317), and stale note
    * mentions (File/Symbol/Concept mention-kind ladder, 77-char+'...'
    * preview over 80 — suggest.rs:171-196,258-285). Suggestions whose
    * text substring-matches an existing note in either direction are
    * dropped (suggest.rs:77-84) — note 4 pins the drop path, note 7
    * the survive path.
    */
  def q79(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = Indexes.codeChunks(s)
    val fnChunks = chunks.filter(col("chunk_type") === "function")
      .select(col("origin"), col("name"))
    val fnNames = fnChunks.select(col("name")).distinct()
    // real-caller graph: every resolved kind except inert doc_ref
    val real = Indexes.resolvedCallsFull(s)
      .filter(col("edge_kind") =!= "doc_ref")
      .select(col("caller"), col("callee")).distinct()
    val realM = graft.operators.Materialize.stable(real)
    val callerCounts = realM.groupBy(col("callee").as("name"))
      .agg(countDistinct(col("caller")).as("n_callers"))
    // test reachability: forward BFS from each test's direct callees,
    // attributed per test, through the shared labeled BFS. The level-1
    // (test, callee) pairs are its seeds, so walks of 1..TestReachDepth
    // hops are depths 0..TestReachDepth-1, and the reached pair set is
    // the union of those walks' pairs. Uncapped: the oracle is. The
    // pairs are distinct, so a row count per node counts its tests.
    val reach = GraphOps.bfsLabeled(
      realM.select(col("caller").as("src"), col("callee").as("dst")),
      realM.filter(col("caller").startsWith("test_"))
        .select(col("caller").as("seed"), col("callee").as("node")),
      maxDepth = TestReachDepth - 1, maxNodes = Long.MaxValue)
    val testCounts = reach.groupBy(col("node").as("name"))
      .agg(count(lit(1)).as("n_tests"))
    val risk = fnNames
      .join(callerCounts, Seq("name"), "left")
      .join(testCounts, Seq("name"), "left")
      .select(col("name"),
        coalesce(col("n_callers"), lit(0L)).as("n_callers"),
        coalesce(col("n_tests"), lit(0L)).as("n_tests"))
      .withColumn("score",
        greatest(col("n_callers") - col("n_tests"), lit(0L)))
    // pool feeds two disjoint note branches (untested / high-risk) —
    // cut it once or the whole risk chain (caller counts + the depth-5
    // test-reach aggregation) runs per branch
    val pool = TopK.global(risk.filter(col("n_callers") >= 1),
      col("n_callers"), col("name"), SuggestHotspotPool)
      .transform(graft.operators.Materialize.stable)
    val isUntested =
      col("n_callers") >= SuggestMinCallers && col("n_tests") === 0
    val untested = pool.filter(isUntested)
      .select(lit("untested_hotspot").as("reason"),
        col("name").as("mention"), lit(-0.5).as("sentiment"),
        concat(col("name"), lit(" has "), col("n_callers"),
          lit(" callers but no tests")).as("text"))
    val highRisk = pool.filter(!isUntested)
      .filter(col("score") >= SuggestRiskHigh)
      .select(lit("high_risk").as("reason"),
        col("name").as("mention"), lit(-1.0).as("sentiment"),
        concat(col("name"), lit(" is high-risk: "), col("n_callers"),
          lit(" callers, "), col("n_tests"), lit(" tests")).as("text"))
    val deadNames = fnNames
      .join(realM.select(col("callee").as("name")).distinct(),
        Seq("name"), "left_anti")
      .filter(!col("name").startsWith("test_"))
      .filter(!col("name").isin(EntryPointNames: _*))
    val clusters = fnChunks.join(deadNames, Seq("name"))
      .groupBy(col("origin")).agg(count(lit(1)).as("n_dead"))
      .filter(col("n_dead") >= SuggestDeadClusterMin)
      .select(lit("dead_code_cluster").as("reason"),
        col("origin").as("mention"), lit(-0.5).as("sentiment"),
        concat(col("origin"), lit(" has "), col("n_dead"),
          lit(" dead functions — consider cleanup")).as("text"))
    val notes = CodeFixtures.notes
      .toDF("note_id", "mention", "note", "sentiment")
    val classified = notes.withColumn("kind",
      when(col("mention").contains(".") || col("mention").contains("/"),
        "file")
        .when(col("mention").contains("_") ||
          col("mention").contains("::") ||
          (length(col("mention")) > 1 && col("mention").rlike("^[A-Z]") &&
            col("mention").rlike("[a-z]")), "symbol")
        .otherwise("concept"))
    val origins = Indexes.codeFiles(s).select(col("origin")).distinct()
    val fileMentions = classified.filter(col("kind") === "file")
    val fileResolved = fileMentions.join(origins,
      origins("origin") === fileMentions("mention") ||
        origins("origin").endsWith(concat(lit("/"),
          fileMentions("mention"))), "left_semi")
    val fileStale = fileMentions
      .join(fileResolved.select(col("note_id")), Seq("note_id"),
        "left_anti")
    val symStale = classified.filter(col("kind") === "symbol")
      .join(chunks.select(col("name").as("mention")).distinct(),
        Seq("mention"), "left_anti")
    val preview = when(length(col("note")) > 80,
      concat(substring(col("note"), 1, 77), lit("...")))
      .otherwise(col("note"))
    val staleSugg = fileStale.unionByName(symStale, allowMissingColumns = false)
      .select(lit("stale_mention").as("reason"), col("mention"),
        lit(-0.5).as("sentiment"),
        concat(lit("Note has stale mentions ["), col("mention"),
          lit("]: \""), preview, lit("\"")).as("text"))
    val sugg = untested.unionByName(highRisk).unionByName(clusters)
      .unionByName(staleSugg)
    sugg.join(broadcast(notes.select(col("note"))),
        expr("instr(note, text) > 0 OR instr(text, note) > 0"),
        "left_anti")
      .select(col("reason"), col("mention"), col("sentiment"),
        col("text"))
  }

  lazy val q79Sql: String = {
    val entrySql = EntryPointNames.map(sq).mkString(", ")
    val notesValues = CodeFixtures.notesValuesSql
    s"""WITH $edgesCteSql,
       |rese AS MATERIALIZED (
       |  SELECT DISTINCT caller, callee FROM edges
       |  WHERE edge_kind <> 'doc_ref'),
       |r1 AS MATERIALIZED (
       |  SELECT DISTINCT caller AS test, callee AS node FROM rese
       |  WHERE starts_with(caller, 'test_')),
       |r2 AS MATERIALIZED (SELECT DISTINCT r.test, e.callee AS node
       |  FROM r1 r JOIN rese e ON e.caller = r.node),
       |r3 AS MATERIALIZED (SELECT DISTINCT r.test, e.callee AS node
       |  FROM r2 r JOIN rese e ON e.caller = r.node),
       |r4 AS MATERIALIZED (SELECT DISTINCT r.test, e.callee AS node
       |  FROM r3 r JOIN rese e ON e.caller = r.node),
       |r5 AS MATERIALIZED (SELECT DISTINCT r.test, e.callee AS node
       |  FROM r4 r JOIN rese e ON e.caller = r.node),
       |reach AS (
       |  SELECT test, node FROM r1 UNION SELECT test, node FROM r2
       |  UNION SELECT test, node FROM r3 UNION SELECT test, node FROM r4
       |  UNION SELECT test, node FROM r5),
       |tcounts AS (
       |  SELECT node AS name, CAST(COUNT(DISTINCT test) AS BIGINT) AS n_tests
       |  FROM reach GROUP BY 1),
       |callers AS (
       |  SELECT callee AS name, CAST(COUNT(DISTINCT caller) AS BIGINT) AS n_callers
       |  FROM rese GROUP BY 1),
       |fnnames AS (SELECT DISTINCT name FROM spans WHERE chunk_type = 'function'),
       |risk AS (
       |  SELECT f.name, COALESCE(c.n_callers, 0) AS n_callers,
       |    COALESCE(t.n_tests, 0) AS n_tests,
       |    GREATEST(COALESCE(c.n_callers, 0) - COALESCE(t.n_tests, 0), 0) AS score
       |  FROM fnnames f LEFT JOIN callers c USING (name)
       |  LEFT JOIN tcounts t USING (name)),
       |pool AS (
       |  SELECT * FROM risk WHERE n_callers >= 1
       |  ORDER BY n_callers DESC, name ASC LIMIT ${SuggestHotspotPool}),
       |sug_hot AS (
       |  SELECT 'untested_hotspot' AS reason, name AS mention,
       |    -0.5e0 AS sentiment,
       |    name || ' has ' || n_callers || ' callers but no tests' AS text
       |  FROM pool
       |  WHERE n_callers >= ${SuggestMinCallers} AND n_tests = 0),
       |sug_risk AS (
       |  SELECT 'high_risk' AS reason, name AS mention, -1.0e0 AS sentiment,
       |    name || ' is high-risk: ' || n_callers || ' callers, '
       |      || n_tests || ' tests' AS text
       |  FROM pool
       |  WHERE NOT (n_callers >= ${SuggestMinCallers} AND n_tests = 0)
       |    AND score >= ${SuggestRiskHigh}),
       |dead AS (
       |  SELECT f.name FROM fnnames f
       |  WHERE f.name NOT IN (SELECT callee FROM rese)
       |    AND NOT starts_with(f.name, 'test_')
       |    AND f.name NOT IN ($entrySql)),
       |clusters AS (
       |  SELECT sp.origin, CAST(COUNT(*) AS BIGINT) AS n_dead
       |  FROM (SELECT origin, name FROM spans
       |        WHERE chunk_type = 'function') sp
       |  JOIN dead d USING (name)
       |  GROUP BY 1 HAVING COUNT(*) >= ${SuggestDeadClusterMin}),
       |sug_dead AS (
       |  SELECT 'dead_code_cluster' AS reason, origin AS mention,
       |    -0.5e0 AS sentiment,
       |    origin || ' has ' || n_dead
       |      || ' dead functions — consider cleanup' AS text
       |  FROM clusters),
       |notes(note_id, mention, note, sentiment) AS (VALUES
       |$notesValues
       |),
       |classified AS (
       |  SELECT note_id, mention, note,
       |    CASE WHEN contains(mention, '.') OR contains(mention, '/')
       |           THEN 'file'
       |         WHEN contains(mention, '_') OR contains(mention, '::')
       |           OR (len(mention) > 1
       |               AND regexp_matches(mention, '^[A-Z]')
       |               AND regexp_matches(mention, '[a-z]')) THEN 'symbol'
       |         ELSE 'concept' END AS kind
       |  FROM notes),
       |stale AS (
       |  SELECT note_id, mention, note FROM classified c
       |  WHERE (kind = 'file' AND NOT EXISTS (
       |          SELECT 1 FROM files f
       |          WHERE f.origin = c.mention
       |             OR ends_with(f.origin, '/' || c.mention)))
       |     OR (kind = 'symbol'
       |         AND c.mention NOT IN (SELECT DISTINCT name FROM spans))),
       |sug_stale AS (
       |  SELECT 'stale_mention' AS reason, mention, -0.5e0 AS sentiment,
       |    'Note has stale mentions [' || mention || ']: "' ||
       |      CASE WHEN len(note) > 80 THEN substr(note, 1, 77) || '...'
       |           ELSE note END || '"' AS text
       |  FROM stale),
       |sugs AS (
       |  SELECT * FROM sug_hot UNION ALL SELECT * FROM sug_risk
       |  UNION ALL SELECT * FROM sug_dead
       |  UNION ALL SELECT * FROM sug_stale)
       |SELECT reason, mention, sentiment, text FROM sugs s
       |WHERE NOT EXISTS (SELECT 1 FROM notes n
       |  WHERE contains(n.note, s.text) OR contains(s.text, n.note))""".stripMargin
  }

  /** q57 — trust collapse over the extracted call graph: parallel
    * (caller, callee) edges of different kinds reduce to the single
    * most-trusted one by explicit rank (direct 0 beats method 1 — an
    * explicit table, never lexical MIN on the kind string,
    * /root/reference/src/parser/types.rs:267-286). The fixture's
    * `relay` calls emit BOTH ways on one line, so the conflict case is
    * genuinely exercised.
    */
  def q57(s: SparkSession, dir: String): DataFrame = {
    val edges = Indexes.resolvedCallsFull(s)
      .select(col("caller").as("src"), col("callee").as("dst"),
        col("edge_kind").as("kind"))
    GraphOps.collapseByTrust(edges,
        Map("direct" -> 0, "method" -> 1, "macro" -> 2, "doc_ref" -> 3))
      .select(col("src").as("caller"), col("dst").as("callee"), col("kind"))
  }

  lazy val q57Sql: String =
    s"""WITH $edgesCteSql
       |SELECT caller, callee,
       |  arg_min(edge_kind, CASE edge_kind WHEN 'direct' THEN 0
       |    WHEN 'method' THEN 1 WHEN 'macro' THEN 2 ELSE 3 END) AS kind
       |FROM edges
       |GROUP BY caller, callee""".stripMargin

  /** Golden chunk table: hand-verified against the fixture sources
    * (spans sight-checked file by file; the braces-in-strings and
    * lifetime traps land inside the expected spans). q48 compares the
    * live chunker against this; q49's oracle uses only (origin, type,
    * name, span) from it to attribute independently-extracted calls.
    */
  private[graft] val golden: Seq[(String, String, String, String, Int, Int, String)] = Seq(
    ("fixtures/Main.java", "java", "class", "Main", 2, 21, "Entry point."),
    ("fixtures/Main.java", "java", "function", "main", 3, 7, ""),
    ("fixtures/Main.java", "java", "function", "helper", 9, 11, ""),
    ("fixtures/Main.java", "java", "function", "assemble", 13, 20, ""),
    // round-6 trap file: 4-deep modifier stack + comment-interleaved
    // multi-line signatures (incl. a block comment SPANNING lines)
    ("fixtures/Depot.java", "java", "class", "Depot", 2, 29,
      "Depot assembles labeled indexes."),
    ("fixtures/Depot.java", "java", "function", "assembleIndex", 4, 13, ""),
    ("fixtures/Depot.java", "java", "function", "openRegistry", 15, 20, ""),
    ("fixtures/Depot.java", "java", "function", "openFallback", 22, 28, ""),
    ("fixtures/api.py", "python", "function", "list_items", 6, 8,
      "Handles the public listing endpoint."),
    ("fixtures/api.py", "python", "function", "fetch_feed", 11, 12, ""),
    ("fixtures/api.py", "python", "function", "push_metrics", 16, 17,
      "TODO wire the real exporter"),
    ("fixtures/api.py", "python", "function", "mirror_feed", 20, 21, ""),
    ("fixtures/Tool.cs", "csharp", "class", "Tool", 1, 10, ""),
    ("fixtures/Tool.cs", "csharp", "function", "Run", 2, 5, ""),
    ("fixtures/Tool.cs", "csharp", "function", "Format", 7, 9, ""),
    // r11: go type aliases / const / var items
    ("fixtures/units.go", "go", "typealias", "Runner", 3, 3, ""),
    ("fixtures/units.go", "go", "typealias", "PageID", 5, 5, ""),
    ("fixtures/units.go", "go", "constant", "MaxUnits", 7, 7, ""),
    ("fixtures/units.go", "go", "constant", "Banner", 9, 12, ""),
    ("fixtures/units.go", "go", "variable", "debugMode", 14, 14, ""),
    ("fixtures/units.go", "go", "function", "UnitCount", 16, 18, ""),
    // r12: const/var paren-group members chunk per spec (iota
    // continuation names included; multi-line composite values run to
    // their bracket close)
    ("fixtures/units.go", "go", "constant", "GroupA", 21, 21, ""),
    ("fixtures/units.go", "go", "constant", "GroupB", 22, 22, ""),
    ("fixtures/units.go", "go", "variable", "groupLimit", 26, 26, ""),
    ("fixtures/units.go", "go", "variable", "groupTags", 27, 29, ""),
    // r13: `type (...)` paren-group members — struct/interface specs
    // chunk as class, named types as typealias (closes the r12
    // documented residual)
    ("fixtures/units.go", "go", "class", "Meta", 33, 35, ""),
    ("fixtures/units.go", "go", "typealias", "Alias", 36, 36, ""),
    ("fixtures/units.go", "go", "class", "Registry", 37, 39, ""),
    // r11: js arrow fns / methods / tests / module decls
    ("fixtures/widgets.js", "javascript", "function", "make_button", 2, 4,
      "Button widget helpers."),
    ("fixtures/widgets.js", "javascript", "function", "label_of", 6, 6, ""),
    ("fixtures/widgets.js", "javascript", "class", "Panel", 8, 15, ""),
    ("fixtures/widgets.js", "javascript", "constructor", "constructor", 9, 11, ""),
    ("fixtures/widgets.js", "javascript", "function", "draw", 12, 14, ""),
    ("fixtures/widgets.js", "javascript", "constant", "MAX_WIDGETS", 17, 17, ""),
    ("fixtures/widgets.js", "javascript", "variable", "theme_cache", 19, 19, ""),
    ("fixtures/widgets.js", "javascript", "test", "panel suite", 21, 25, ""),
    ("fixtures/widgets.js", "javascript", "test", "draws a button", 22, 24, ""),
    // r11: ts aliases / enums / annotated arrows / methods
    ("fixtures/helpers.ts", "typescript", "typealias", "PageId", 1, 1, ""),
    ("fixtures/helpers.ts", "typescript", "class", "Widget", 3, 6, ""),
    ("fixtures/helpers.ts", "typescript", "class", "Mode", 8, 11, ""),
    ("fixtures/helpers.ts", "typescript", "function", "clamp_depth", 13, 15, ""),
    ("fixtures/helpers.ts", "typescript", "function", "as_id", 17, 17, ""),
    ("fixtures/helpers.ts", "typescript", "class", "Registry", 19, 25, ""),
    ("fixtures/helpers.ts", "typescript", "function", "register", 21, 24, ""),
    ("fixtures/helpers.ts", "typescript", "constant", "DEFAULT_MODE", 27, 27, ""),
    // r11: the web.js class method now chunks (method extraction)
    ("fixtures/web.js", "javascript", "function", "start", 12, 15, ""),
    // r11: python module-level UPPER_SNAKE constants
    ("fixtures/consts.py", "python", "constant", "MAX_RETRIES", 3, 3, ""),
    ("fixtures/consts.py", "python", "constant", "API_URL_V2", 5, 8, ""),
    ("fixtures/consts.py", "python", "constant", "DEFAULTS", 10, 12, ""),
    ("fixtures/consts.py", "python", "constant", "SCHEMA_DOC", 14, 16, ""),
    ("fixtures/consts.py", "python", "function", "fetch_limit", 18, 19, ""),
    // r11: item-position const/static/typealias/macro definitions
    ("fixtures/consts.rs", "rust", "constant", "LANG_TAGS", 4, 6,
      "Supported language tags."),
    ("fixtures/consts.rs", "rust", "constant", "DEFAULT_RETRIES", 8, 8, ""),
    ("fixtures/consts.rs", "rust", "constant", "HITS", 10, 10, ""),
    ("fixtures/consts.rs", "rust", "typealias", "LoadResult", 13, 13,
      "Result alias for loader fallibility."),
    ("fixtures/consts.rs", "rust", "macro", "tag_of", 15, 19, ""),
    ("fixtures/consts.rs", "rust", "function", "tag_count", 21, 23, ""),
    ("fixtures/app.rs", "rust", "class", "Config", 4, 9, "Shared config for the pipeline."),
    ("fixtures/app.rs", "rust", "function", "load_config", 12, 15, "Load and parse the config file."),
    ("fixtures/app.rs", "rust", "function", "read_file", 17, 20, ""),
    ("fixtures/app.rs", "rust", "function", "parse_toml", 22, 24, ""),
    ("fixtures/app.rs", "rust", "function", "refresh", 26, 30, ""),
    // round-6 rust trap: comment-interleaved multi-line signature in a
    // language where chunk DETECTION needs no join (keyword-anchored fn)
    // but type extraction joins via signatureText + the oracle sig CTE
    ("fixtures/app.rs", "rust", "function", "compose_report", 32, 38, ""),
    ("fixtures/deploy.sh", "shell", "function", "deploy", 3, 6, ""),
    ("fixtures/deploy.sh", "shell", "function", "build_assets", 8, 10, ""),
    ("fixtures/test_app.py", "python", "function", "test_load_config", 1, 3, ""),
    ("fixtures/test_app.py", "python", "function", "test_render", 5, 6, ""),
    ("fixtures/test_app.py", "python", "function", "test_process", 8, 9, ""),
    // r4 markdown-pipeline rows: guide.html's two sub-30-line sections
    // merge under its distinct H1 title (breadcrumb in doc); notes.md
    // has a title whose level-2 heading appears once, so the primary
    // split falls back to the title level → one whole-file section,
    // and the table inherits the section's breadcrumb
    ("fixtures/guide.html", "html", "section", "Install Guide", 1, 7, "Install Guide"),
    // r10 web-help site: content/ pages merge (path-sorted, blank page
    // skipped, frameset+css subsumed) into one converted doc; its two
    // small H1 sections collapse to the all-small "Document" span —
    // the span end pins the full merged length, ChunkerRouterSpec pins
    // the merged text itself
    ("fixtures/help", "webhelp", "section", "Document", 1, 19, ""),
    ("fixtures/notes.md", "markdown", "section", "Pipeline Notes", 1, 11, "Pipeline Notes"),
    ("fixtures/notes.md", "markdown", "table", "Pipeline Notes_t0", 7, 10, "Pipeline Notes"),
    // r10 ghost-call fixture (comment/string call text never edges)
    ("fixtures/quiet.rs", "rust", "function", "quiet_retry", 2, 10,
      "Retry gate with disabled diagnostics."),
    ("fixtures/quiet.rs", "rust", "function", "quiet_step", 12, 14, ""),
    ("fixtures/svc.go", "go", "function", "Serve", 4, 8, "Serve handles one request."),
    ("fixtures/svc.go", "go", "function", "Render", 10, 12, ""),
    ("fixtures/svc.go", "go", "class", "Handler", 14, 16, ""),
    ("fixtures/util.py", "python", "function", "validate", 3, 4, ""),
    ("fixtures/util.py", "python", "function", "emit", 6, 8, ""),
    ("fixtures/util.py", "python", "function", "process", 10, 15, ""),
    ("fixtures/util.py", "python", "class", "Runner", 17, 19, ""),
    ("fixtures/util.py", "python", "function", "run", 18, 19, ""),
    ("fixtures/util.py", "python", "function", "swallow", 21, 25, ""),
    ("fixtures/util.py", "python", "function", "relay", 27, 28, ""),
    ("fixtures/patterns.rs", "rust", "class", "Builder", 1, 3, ""),
    ("fixtures/patterns.rs", "rust", "class", "Builder", 5, 10, ""),
    ("fixtures/patterns.rs", "rust", "function", "with_retries", 6, 9, ""),
    ("fixtures/patterns.rs", "rust", "function", "guarded", 12, 15, ""),
    ("fixtures/patterns.rs", "rust", "function", "raw_read", 17, 19, ""),
    ("fixtures/patterns.rs", "rust", "function", "countdown", 21, 25, ""),
    ("fixtures/api.js", "javascript", "function", "validate_email", 6, 8,
      "Validates an email address. @param {string} email - The address to check @returns {boolean} Whether valid"),
    ("fixtures/api.js", "javascript", "function", "page_label", 16, 20,
      "Formats a page count label. @param {number} count - Total pages @param {string} label - Unit label @returns {string} The rendered label"),
    ("fixtures/web.js", "javascript", "function", "log_event", 1, 3, ""),
    ("fixtures/web.js", "javascript", "function", "render", 5, 9, ""),
    ("fixtures/web.js", "javascript", "class", "App", 11, 16, ""),
    ("fixtures/app.elm", "elm", "class", "Msg", 3, 5, ""),
    ("fixtures/app.elm", "elm", "function", "update", 7, 11, ""),
    ("fixtures/app.elm", "elm", "function", "view", 13, 15, ""),
    ("fixtures/config.json", "json", "section", "server", 2, 5, ""),
    ("fixtures/config.json", "json", "section", "logging", 6, 9, ""),
    ("fixtures/catalog.xml", "xml", "section", "book", 3, 5, ""),
    ("fixtures/catalog.xml", "xml", "section", "book", 6, 8, ""),
    ("fixtures/catalog.xml", "xml", "section", "meta", 9, 9, ""),
    ("fixtures/kernel.cu", "cuda", "function", "scale_kernel", 3, 6, ""),
    ("fixtures/kernel.cu", "cuda", "function", "launch", 8, 10, ""),
    ("fixtures/shell.nix", "nix", "section", "buildInputs", 3, 5, ""),
    ("fixtures/shell.nix", "nix", "section", "shellHook", 6, 6, ""),
    ("fixtures/motor.st", "st", "class", "MotorCtrl", 1, 6, ""),
    ("fixtures/motor.st", "st", "function", "Clamp", 8, 10, ""),
    ("fixtures/pump.l5x", "l5x", "function", "PumpControl", 8, 11, ""),
    ("fixtures/pump.l5x", "l5x", "function", "Scale", 18, 20, ""),
    ("fixtures/legacy.l5k", "l5x", "function", "Startup", 2, 4, ""),
    ("fixtures/page.aspx", "aspx", "function", "Page_Load", 4, 6, ""),
    ("fixtures/page.aspx", "aspx", "function", "inline_1", 9, 10, ""),
    ("fixtures/view.cshtml", "razor", "function", "Badge", 4, 6, ""),
    // the pdf's per-page headings share one level with no title, and
    // every page section is under MdMinSectionLines → the all-small
    // merge collapses the file to a single "Document" section with an
    // empty breadcrumb (no title), mod.rs:619-631
    ("fixtures/report.pdf", "pdf", "section", "Document", 1, 6, ""),
    // chm: members extracted from the ITSF container (the html member
    // decompressed from the LZX MSCompressed section), converted text
    // carries one heading -> one section in CONVERTED line space
    ("fixtures/help.chm", "chm", "section", "Depot Help", 1, 10, "Depot Help"),
    // r4 parsing-depth traps: the annotated method keeps its doc (found
    // ABOVE the @Override, which is neither doc text nor a terminator),
    // the multi-line signature chunks from its sig line to the brace
    // close, the multi-line PROTOTYPE in proto.c produces NO row, and
    // nested functions are their own chunks inside their parents' spans
    ("fixtures/Service.java", "java", "class", "Service", 2, 15, "Service facade."),
    ("fixtures/Service.java", "java", "function", "respond", 5, 9, "Renders one response body."),
    ("fixtures/Service.java", "java", "function", "decorate", 11, 14, ""),
    ("fixtures/proto.c", "c", "function", "copy_bytes", 7, 12, ""),
    ("fixtures/proto.c", "c", "function", "fill_zero", 14, 16, ""),
    ("fixtures/nested.py", "python", "function", "outer", 3, 6, ""),
    ("fixtures/nested.py", "python", "function", "inner", 4, 5, ""),
    ("fixtures/nested.py", "python", "function", "fetch", 10, 11, "Cached fetch helper."),
    ("fixtures/attr.rs", "rust", "class", "Retry", 3, 5, "Counts retries."),
    ("fixtures/attr.rs", "rust", "function", "wrap_retry", 8, 13, "Wraps with retries."),
    ("fixtures/attr.rs", "rust", "function", "double_it", 9, 11, ""),
    ("fixtures/closures.js", "javascript", "function", "make_counter", 2, 8, "Counter factory."),
    ("fixtures/closures.js", "javascript", "function", "bump", 3, 5, ""),
    // r7 exotic-nesting traps: the rust fn's generic bound closes its
    // own parens before the parameter list opens (angle-depth join),
    // the python doc tunnels through a multi-line lambda-bearing
    // decorator, and the cpp template heads (one spanning lines with
    // an interior block comment) pass the doc scan through
    ("fixtures/generic.rs", "rust", "function", "map_blobs", 2, 10,
      "Applies a fallible blob transform to every item."),
    ("fixtures/guarded.py", "python", "function", "fetch_guarded", 7, 8,
      "Maps each row through a guarded fetch."),
    ("fixtures/matrix.cpp", "cpp", "function", "project_row", 4, 6,
      "Projects one row through a functor."),
    ("fixtures/matrix.cpp", "cpp", "function", "identity_row", 10, 12,
      "Identity fallback."),
    // r4 markdown-pipeline traps (guide.md / manual.md): adaptive
    // hierarchy sections with breadcrumbs in doc, the 4-line title
    // preamble and Operations lead merged into the NEXT section, the
    // >150-line Operations body overflow-split at its H3s, and fenced
    // code blocks promoted to typed function chunks in FILE line
    // coordinates (the js block's leading // comment becomes its doc;
    // the untagged fence stays prose). manual.md pins the inverted
    // H2-title-above-H1-chapters hierarchy: chapters carry the H2
    // title as breadcrumb, and the small preamble merges into Alarms.
    ("fixtures/guide.md", "markdown", "section", "Quick Start", 1, 41, "Graft Guide"),
    ("fixtures/guide.md", "markdown", "section", "Tuning", 42, 128, "Graft Guide > Operations"),
    ("fixtures/guide.md", "markdown", "section", "Failover", 129, 211, "Graft Guide > Operations"),
    ("fixtures/guide.md", "javascript", "function", "page_sum", 12, 14, "not a heading"),
    ("fixtures/guide.md", "python", "function", "tune_cache", 50, 51, ""),
    ("fixtures/guide.md", "python", "function", "failover_probe", 132, 133, ""),
    ("fixtures/manual.md", "markdown", "section", "Alarms", 1, 37, "Station Manual"),
    ("fixtures/manual.md", "markdown", "section", "Trends", 38, 71, "Station Manual"))

  /** SQL literal; newlines become a variadic `concat(…, chr(10), …)`
    * call so the rendered expression is single-line — immune to the
    * outer stripMargin of the SQL template it lands in — and FLAT, so
    * a long multi-line value cannot exceed DuckDB's binder recursion
    * limit the way a `||` chain does (see CodeFixtures.sqlStr).
    */
  private[queries] def sq(v: String): String = {
    val parts = v.replace("'", "''").split("\n", -1).map(l => "'" + l + "'")
    if (parts.length == 1) parts(0)
    else parts.mkString("concat(", ", chr(10), ", ")")
  }

  /** Worktree-overlay dirty delta
    * (/root/reference/src/worktree_overlay.rs:1-45): a lane checkout
    * modified web.js (body edits, class App deleted, new hydrate fn),
    * added overlay.py, and deleted deploy.sh. The PARSE SET is
    * modified + added only; the MASK is every touched origin.
    */
  private[graft] val overlayDeltaFiles: Seq[(String, String, String)] = Seq(
    ("fixtures/web.js", "javascript",
      """export function log_event(msg) {
        |  console.log("[overlay] " + msg);
        |}
        |
        |export function render(page) {
        |  const html = "<section>{" + page + "}</section>";
        |  log_event(html);
        |  return html;
        |}
        |
        |export function hydrate(page) {
        |  const html = render(page);
        |  return html + "<!-- hydrated -->";
        |}
        |""".stripMargin),
    ("fixtures/overlay.py", "python",
      """def overlay_probe(rows):
        |    return [r for r in rows if r]
        |""".stripMargin))

  private[graft] val overlayMaskedOrigins: Seq[String] =
    Seq("fixtures/web.js", "fixtures/overlay.py", "fixtures/deploy.sh")

  /** Expected spans of the overlay parse set (same convention as
    * `golden`; pinned against the live chunker in ChunkerRouterSpec).
    */
  private[graft] val overlayGolden: Seq[(String, String, String, String, Int, Int, String)] = Seq(
    ("fixtures/web.js", "javascript", "function", "log_event", 1, 3, ""),
    ("fixtures/web.js", "javascript", "function", "render", 5, 9, ""),
    ("fixtures/web.js", "javascript", "function", "hydrate", 11, 14, ""),
    ("fixtures/overlay.py", "python", "function", "overlay_probe", 1, 2, ""))

  private[queries] lazy val overlayGoldenValuesSql: String =
    overlayGolden.map { case (o, l, t, n, s0, e0, d) =>
      s"(${sq(o)}, ${sq(l)}, ${sq(t)}, ${sq(n)}, $s0, $e0, ${sq(d)})"
    }.mkString(",\n")

  private[queries] lazy val overlayDeltaValuesSql: String =
    overlayDeltaFiles.map { case (o, l, c) => s"(${sq(o)}, ${sq(l)}, ${sq(c)})" }
      .mkString(",\n")

  /** q82 — worktree overlay search
    * (/root/reference/src/worktree_overlay.rs:30-44 shadow semantics):
    * lane agents' searches resolve to the PARENT index, so an
    * ephemeral overlay of only the worktree's dirty delta shadows the
    * parent for changed origins. Masking is ORIGIN-level, not
    * (origin, name): a parent hit is dropped iff its origin is in the
    * delta-touched set, unconditionally — the only shape that also
    * kills hits for functions DELETED from a still-present file (class
    * App here) and files deleted outright (deploy.sh).
    *
    * Spark shape: parent chunk table anti-joined on the broadcast mask,
    * unioned with the freshly-parsed overlay chunks; the hits column
    * proves overlay rows carry the NEW content (hydrate's render call
    * exists only in the worktree). At 100 TB the mask is ≤500 origins
    * (the reference's overlay cap) — a broadcast anti-join against an
    * arbitrarily large parent table, no shuffle.
    */
  def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mask = overlayMaskedOrigins.toDF("origin")
    val visible = Indexes.codeChunks(s)
      .join(broadcast(mask), Seq("origin"), "left_anti")
      .withColumn("src", lit("parent"))
    val overlay = Chunker.chunkDataset(
        overlayDeltaFiles.toDF("origin", "language", "content")).toDF()
      .withColumn("src", lit("overlay"))
    val cols = Seq("origin", "chunk_type", "name", "start_line", "end_line",
      "src", "content").map(col)
    visible.select(cols: _*).unionByName(overlay.select(cols: _*))
      .filter(col("chunk_type").isin("function", "class"))
      .select(col("origin"), col("chunk_type"), col("name"),
        col("start_line"), col("end_line"), col("src"),
        when(col("content").contains("render("), 1).otherwise(0)
          .cast("int").as("hits"))
  }

  /** q90 — field-name extraction for NL enrichment
    * (/root/reference/src/nl/fields.rs:20-147 via parser.Fields):
    * class-shaped chunks yield their field/variant names — modifier
    * prefixes stripped longest-first, NameFirst (rust `x: T`) vs
    * TypeFirst (java/c# `T x;`) per language, validated, identifier-
    * tokenized, capped at 15 per chunk. The oracle re-derives the
    * whole line pipeline in SQL over the golden class spans.
    */
  def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val classes = Indexes.codeChunks(s)
      .filter(col("chunk_type") === "class" &&
        col("language").isin("rust", "java", "csharp"))
      .select(col("origin"), col("name"), col("start_line"),
        col("language"), col("content"))
      .as[(String, String, Int, String, String)]
    classes.flatMap { case (o, n, sl, l, c) =>
      graft.parser.Fields.fieldNames(l, c).zipWithIndex.map {
        case (f, i) => (o, n, sl, i + 1, f)
      }
    }.toDF("origin", "class_name", "start_line", "field_idx", "field")
      .select(col("origin"), col("class_name"),
        col("start_line").cast("int").as("start_line"),
        col("field_idx").cast("int").as("field_idx"), col("field"))
  }

  /** The class-field extraction chain (cls…numbered), factored for
    * reuse by q90/q108: requires `spans` (with language) and `files`
    * upstream; yields `numbered(origin, class_name, start_line,
    * field_idx, field)` — style-stripped, validated, tokenized field
    * names in line order (consumers apply the 15-cap).
    */
  private lazy val fieldsChainCtesSql: String =
    s"""cls AS (
       |  SELECT sp.origin, sp.name AS class_name, sp.language,
       |    sp.start_line,
       |    f.ls[sp.start_line:sp.end_line] AS ls
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type = 'class'
       |    AND sp.language IN ('rust', 'java', 'csharp')),
       |lns AS (
       |  SELECT origin, class_name, language, start_line,
       |    unnest(range(1, len(ls) + 1)) AS li, trim(unnest(ls)) AS t
       |  FROM cls),
       |kept AS (
       |  SELECT * FROM lns
       |  WHERE NOT (t = '' OR t LIKE '//%' OR t LIKE '#%' OR t LIKE '/*%'
       |    OR t LIKE '*%' OR t = '{' OR t = '}'
       |    OR (language = 'rust' AND (t LIKE 'struct %' OR t LIKE 'union %'
       |        OR t LIKE 'enum %' OR t LIKE 'impl %'))
       |    OR (language = 'java' AND (t LIKE 'class %' OR t LIKE 'interface %'
       |        OR t LIKE 'enum %' OR t LIKE 'public class%'
       |        OR t LIKE 'abstract class%'))
       |    OR (language = 'csharp' AND (t LIKE 'class %' OR t LIKE 'interface %'
       |        OR t LIKE 'enum %' OR t LIKE 'namespace %')))),
       |cleaned AS (
       |  SELECT origin, class_name, language, start_line, li,
       |    CASE language
       |      WHEN 'rust' THEN
       |        regexp_replace(t, '^((pub\\(crate\\)|pub\\(super\\)|pub) )+', '')
       |      WHEN 'java' THEN
       |        regexp_replace(t, '^((private|protected|public|static|final|volatile|transient) )+', '')
       |      ELSE
       |        regexp_replace(t, '^((private|protected|public|internal|static|readonly|const) )+', '')
       |    END AS clean
       |  FROM kept),
       |named AS (
       |  SELECT origin, class_name, start_line, li,
       |    CASE WHEN language = 'rust' THEN
       |      trim(regexp_replace(trim(regexp_extract(clean, '^[^:]*')), ',+$$', ''))
       |    ELSE
       |      regexp_replace(
       |        CASE WHEN trim(regexp_extract(clean, '^[^;,={]*')) LIKE '% %'
       |          THEN regexp_extract(trim(regexp_extract(clean, '^[^;,={]*')),
       |                              '(\\S+)$$', 1)
       |          ELSE NULL END,
       |        '^[*&]+', '')
       |    END AS nm
       |  FROM cleaned),
       |validated AS (
       |  SELECT origin, class_name, start_line, li, nm FROM named
       |  WHERE nm IS NOT NULL AND len(nm) > 1 AND NOT contains(nm, '(')
       |    AND NOT contains(nm, '{') AND regexp_matches(nm, '^[A-Za-z_]')),
       |tok AS (
       |  SELECT origin, class_name, start_line, li,
       |    array_to_string(list_filter(string_split_regex(lower(
       |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(nm,
       |        '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
       |        '([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'),
       |        '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
       |        '([0-9])([a-z])', '\\1 \\2', 'g')),
       |      '[^a-z0-9]+'), x -> len(x) >= 1), ' ') AS field
       |  FROM validated),
       |numbered AS (
       |  SELECT origin, class_name, start_line, field,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY origin, class_name, start_line
       |      ORDER BY li ASC) AS INT) AS field_idx
       |  FROM tok WHERE field <> '')""".stripMargin

  lazy val q90Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |$fieldsChainCtesSql
       |SELECT origin, class_name, CAST(start_line AS INT) AS start_line,
       |  field_idx, field FROM numbered
       |WHERE field_idx <= 15""".stripMargin

  /** q91 — doc-writer patch plan (/root/reference/src/doc_writer/):
    * every function chunk in a supported language becomes a
    * `DocCommentResult` row — undocumented functions get a formatted,
    * indentation-matched doc-comment patch (generated text is the
    * md5-deterministic stub, the same environment seam as q55's
    * summaries); already-documented functions carry
    * had_existing_doc=1 and an empty patch (the thin-doc-replacement
    * input set). One narrow scan, pure Column algebra.
    */
  def q91(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DocWriter
    val fns = Indexes.codeChunks(s)
      .filter(col("chunk_type") === "function" &&
        col("language").isin(DocWriter.Supported: _*))
      .withColumn("sig", element_at(split(col("content"), "\n"), 1))
      .withColumn("indent", regexp_extract(col("sig"), "^[ \t]*", 0))
      .withColumn("gen", concat(lit("Auto-doc: "), col("name"), lit(" ("),
        substring(md5(col("content")), 1, 8), lit(").")))
      .withColumn("had_existing_doc", (col("doc") =!= "").cast("int"))
    fns.select(col("origin"), col("name"), col("language"),
      DocWriter.insertLine(col("language"), col("start_line"))
        .cast("int").as("insert_line"),
      col("had_existing_doc"),
      when(col("had_existing_doc") === 1, lit(""))
        .otherwise(DocWriter.patch(col("language"), col("indent"),
          col("name"), col("gen"))).as("patch"))
  }

  lazy val q91Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |fns AS (
       |  SELECT sp.origin, sp.name, sp.language, sp.start_line, sp.doc,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content,
       |    f.ls[sp.start_line] AS sig
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type = 'function'
       |    AND sp.language IN ('rust','python','javascript','go','java','csharp','shell')),
       |prep AS (
       |  SELECT origin, name, language, start_line,
       |    regexp_extract(sig, '^[ \\t]*') AS ind,
       |    'Auto-doc: ' || name || ' (' || substr(md5(content), 1, 8) || ').' AS gen,
       |    CASE WHEN doc <> '' THEN 1 ELSE 0 END AS had_existing_doc
       |  FROM fns)
       |SELECT origin, name, language,
       |  CAST(CASE WHEN language = 'python' THEN start_line + 1
       |       ELSE start_line END AS INT) AS insert_line,
       |  CAST(had_existing_doc AS INT) AS had_existing_doc,
       |  CASE WHEN had_existing_doc = 1 THEN ''
       |    WHEN language = 'rust' THEN ind || '/// ' || gen || chr(10)
       |    WHEN language = 'go' THEN ind || '// ' || name || ' ' || gen || chr(10)
       |    WHEN language = 'shell' THEN ind || '# ' || gen || chr(10)
       |    WHEN language = 'python' THEN
       |      ind || '    ' || repeat(chr(34), 3) || chr(10) ||
       |      ind || '    ' || gen || chr(10) ||
       |      ind || '    ' || repeat(chr(34), 3) || chr(10)
       |    ELSE
       |      ind || '/**' || chr(10) ||
       |      ind || ' * ' || gen || chr(10) ||
       |      ind || ' */' || chr(10)
       |  END AS patch
       |FROM prep""".stripMargin

  /** q92 — JSDoc tag extraction (/root/reference/src/nl/markdown.rs:
    * 16-57): `@param {type} name` pairs and the `@returns {type}` tag
    * are pulled from javascript doc comments for NL enrichment —
    * typed parameter rows per function, in declaration order, plus a
    * returns row. Runs over the chunk table's doc column (the chunker
    * already joined the comment block), so it's one narrow scan.
    */
  def q92(s: SparkSession, dir: String): DataFrame = {
    val pRe = "@param\\s+\\{([^}]+)\\}\\s+(\\w+)"
    val rRe = "@returns?\\s+\\{([^}]+)\\}"
    val fns = Indexes.codeChunks(s)
      .filter(col("language") === "javascript" &&
        col("chunk_type") === "function" && col("doc").contains("@param"))
      .select(col("origin"), col("name"),
        regexp_extract_all(col("doc"), lit(pRe), lit(2)).as("ns"),
        regexp_extract_all(col("doc"), lit(pRe), lit(1)).as("ts"),
        regexp_extract(col("doc"), rRe, 1).as("ret"))
    val params = fns
      .select(col("origin"), col("name"), col("ts"), posexplode(col("ns")))
      .select(col("origin"), col("name"), lit("param").as("kind"),
        (col("pos") + 1).cast("int").as("ord"), col("col").as("arg_name"),
        element_at(col("ts"), col("pos") + lit(1)).as("arg_type"))
    val rets = fns.filter(col("ret") =!= "")
      .select(col("origin"), col("name"), lit("returns").as("kind"),
        lit(0).cast("int").as("ord"), lit("").as("arg_name"),
        col("ret").as("arg_type"))
    params.unionByName(rets)
  }

  lazy val q92Sql: String =
    s"""WITH spans AS (
       |  SELECT origin, language, chunk_type, name, doc
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)),
       |fns AS (
       |  SELECT origin, name,
       |    regexp_extract_all(doc, '@param\\s+\\{([^}]+)\\}\\s+(\\w+)', 2) AS ns,
       |    regexp_extract_all(doc, '@param\\s+\\{([^}]+)\\}\\s+(\\w+)', 1) AS ts,
       |    regexp_extract(doc, '@returns?\\s+\\{([^}]+)\\}', 1) AS ret
       |  FROM spans
       |  WHERE language = 'javascript' AND chunk_type = 'function'
       |    AND contains(doc, '@param')),
       |params AS (
       |  SELECT origin, name, 'param' AS kind, CAST(i AS INT) AS ord,
       |    ns[i] AS arg_name, ts[i] AS arg_type
       |  FROM (SELECT origin, name, ns, ts,
       |          unnest(generate_series(1, len(ns))) AS i
       |        FROM fns)),
       |rets AS (
       |  SELECT origin, name, 'returns' AS kind, CAST(0 AS INT) AS ord,
       |    '' AS arg_name, ret AS arg_type
       |  FROM fns WHERE ret <> '')
       |SELECT * FROM params UNION ALL SELECT * FROM rets""".stripMargin

  /** Embedded rich-markdown inputs for q93 — the fixture corpus's
    * notes.md has headings/tables but no links/images/emphasis, so two
    * VALUES rows exercise the full noise vocabulary.
    */
  private val mdRich: Seq[(Long, String)] = Seq(
    (1L, "## Setup\n\nSee [the guide](docs/guide.md) and ![logo](img/logo.png).\n\n**Bold** and *italic* and `code`.\n\n<div>html</div>\n\n\n\nEnd   spaced."),
    (2L, "plain text with  double  spaces\n\n\n\nand gaps"))

  /** q93 — markdown-noise stripping for embedding text
    * (/root/reference/src/nl/markdown.rs:76-100): heading prefixes
    * removed, images dropped, links reduced to their text, HTML tags
    * stripped, emphasis/backtick characters deleted, runs of
    * spaces/tabs collapsed to one, 3+ newlines to a blank line, then
    * trimmed. The reference's no-markdown fast path (whitespace
    * collapse only) is behaviorally identical because the markdown
    * regexes are no-ops on such input. Runs over the notes.md section
    * chunks plus the embedded rich rows.
    */
  def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sections = Indexes.codeChunks(s)
      .filter(col("language") === "markdown" && col("chunk_type") === "section")
      .select(concat(lit("md:"), col("name")).as("src_id"),
        col("content").as("raw"))
    val rich = mdRich.toDF("rid", "raw")
      .select(concat(lit("rich:"), col("rid")).as("src_id"), col("raw"))
    sections.unionByName(rich).select(col("src_id"),
      trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
          "(?m)^#{1,6}[ \\t]+", ""),
          "!\\[([^\\]]*)\\]\\([^)]*\\)", ""),
          "\\[([^\\]]*)\\]\\([^)]*\\)", "$1"),
          "<[^>]+>", ""),
          "[*`]", ""),
          "[ \\t]{2,}", " "),
          "\\n{3,}", "\n\n")).as("clean"))
  }

  lazy val q93Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |secs AS (
       |  SELECT 'md:' || sp.name AS src_id,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS raw
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.language = 'markdown' AND sp.chunk_type = 'section'),
       |rich(rid, raw) AS (VALUES
       |${mdRich.map { case (i, t) => s"($i, ${sq(t)})" }.mkString(",\n")}
       |),
       |allsrc AS (
       |  SELECT src_id, raw FROM secs
       |  UNION ALL SELECT 'rich:' || rid, raw FROM rich)
       |SELECT src_id,
       |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace(regexp_replace(raw,
       |      '(?m)^#{1,6}[ \\t]+', '', 'g'),
       |      '!\\[([^\\]]*)\\]\\([^)]*\\)', '', 'g'),
       |      '\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
       |      '<[^>]+>', '', 'g'),
       |      '[*`]', '', 'g'),
       |      '[ \\t]{2,}', ' ', 'g'),
       |      '\\n{3,}', chr(10) || chr(10), 'g')) AS clean
       |FROM allsrc""".stripMargin

  /** Identifier-token pipeline as a pure Column expression —
    * TextFns.normSplit (the stateless regexp mirror of the
    * tokenizeIdentifier scanner) lowercased and split. Used where a
    * tokenization must be IDENTICAL in Spark and DuckDB without a UDF.
    */
  private def tokenizeCol(c: Column): Column =
    split(lower(graft.functions.TextFns.normSplit(c)), "[^a-z0-9]+")

  /** q94 — body-keyword extraction
    * (/root/reference/src/nl/fields.rs:288-305): a function body's
    * most frequent identifier tokens (len ≥ 3, stopworded) become its
    * NL keywords — top 10 by frequency. Deviations, both deliberate:
    * the tie-break is total ((freq desc, token asc) — the reference's
    * stable-sort-over-HashMap order is nondeterministic, which an
    * oracle-gated engine cannot reproduce), and the stopword list is
    * the engine-wide call-keyword stoplist rather than 54 per-language
    * lists (same role: drop control-flow noise).
    */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val kws = Chunker.keywordList
    val toks = Indexes.codeChunks(s)
      .filter(col("chunk_type") === "function")
      .select(col("origin"), col("name"), col("start_line"),
        explode(tokenizeCol(col("content"))).as("tok"))
      .filter(length(col("tok")) >= 3 && !col("tok").isin(kws: _*))
    val freq = toks.groupBy(col("origin"), col("name"), col("start_line"),
        col("tok"))
      .agg(count(lit(1)).as("freq"))
    TopK.perGroup(freq,
        Seq(col("origin"), col("name"), col("start_line")),
        col("freq"), col("tok"), 10, rankCol = "kw_rank")
      .select(col("origin"), col("name"),
        col("start_line").cast("int").as("start_line"),
        col("kw_rank").cast("int").as("kw_rank"), col("tok").as("keyword"),
        col("freq"))
  }

  lazy val q94Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |fns AS (
       |  SELECT sp.origin, sp.name, sp.start_line,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type = 'function'),
       |toks AS (
       |  SELECT origin, name, start_line, unnest(list_filter(
       |    string_split_regex(lower(
       |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(content,
       |        '([a-z0-9])([A-Z])', '\\1 \\2', 'g'),
       |        '([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'),
       |        '([A-Za-z])([0-9])', '\\1 \\2', 'g'),
       |        '([0-9])([a-z])', '\\1 \\2', 'g')),
       |      '[^a-z0-9]+'),
       |    t -> len(t) >= 3 AND t NOT IN (${keywordsSql}))) AS tok
       |  FROM fns),
       |freq AS (
       |  SELECT origin, name, start_line, tok, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM toks GROUP BY 1, 2, 3, 4)
       |SELECT origin, name, CAST(start_line AS INT) AS start_line,
       |  CAST(kw_rank AS INT) AS kw_rank, tok AS keyword, freq
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY origin, name, start_line
       |    ORDER BY freq DESC, tok ASC) AS kw_rank
       |  FROM freq)
       |WHERE kw_rank <= 10""".stripMargin

  /** q95 — class membership by span containment: which functions are
    * METHODS of which class (/root/reference/src/nl/fields.rs:150-166
    * extract_member_method_names — there a line-regex re-scan of class
    * content; here derived structurally from the spans the chunker
    * already produced: a function is a member of the smallest class
    * chunk in the same file whose span strictly contains it).
    */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val chunks = Indexes.codeChunks(s)
    val classes = chunks.filter(col("chunk_type") === "class")
      .select(col("origin"), col("name").as("class_name"),
        col("start_line").as("cs"), col("end_line").as("ce"))
    val fns = chunks.filter(col("chunk_type") === "function")
      .select(col("origin"), col("name").as("method"),
        col("start_line").as("fs"), col("end_line").as("fe"))
    val contained = fns.join(classes, Seq("origin"))
      .filter(col("cs") < col("fs") && col("fe") <= col("ce"))
    // smallest containing class wins (nested classes)
    TopK.perGroup(
        contained.withColumn("span", col("ce") - col("cs"))
          .withColumn("neg_span", -col("span")),
        Seq(col("origin"), col("method"), col("fs")),
        col("neg_span"), col("class_name"), 1)
      .select(col("origin"), col("class_name"), col("method"),
        col("fs").cast("int").as("start_line"))
  }

  lazy val q95Sql: String =
    s"""WITH spans AS (
       |  SELECT origin, chunk_type, name, start_line, end_line
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)),
       |classes AS (
       |  SELECT origin, name AS class_name, start_line AS cs, end_line AS ce
       |  FROM spans WHERE chunk_type = 'class'),
       |fns AS (
       |  SELECT origin, name AS method, start_line AS fs, end_line AS fe
       |  FROM spans WHERE chunk_type = 'function'),
       |contained AS (
       |  SELECT f.origin, c.class_name, f.method, f.fs,
       |    c.ce - c.cs AS span
       |  FROM fns f JOIN classes c USING (origin)
       |  WHERE c.cs < f.fs AND f.fe <= c.ce),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY origin, method, fs
       |    ORDER BY span ASC, class_name ASC) AS rn
       |  FROM contained)
       |SELECT origin, class_name, method, CAST(fs AS INT) AS start_line
       |FROM ranked WHERE rn = 1""".stripMargin

  /** SQL identifier-token pipeline over an expression — the q59-proven
    * mirror of NlGen.regexToks: case-boundary expansion, lowercase,
    * split on non-alphanumerics, empties dropped. Returns a VARCHAR[]
    * expression.
    */
  private def sqlToks(e: String): String =
    s"list_filter(string_split_regex(lower(" +
      s"regexp_replace(regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'([a-z0-9])([A-Z])', '\\1 \\2', 'g'), " +
      s"'([A-Z])([A-Z][a-z])', '\\1 \\2', 'g'), " +
      s"'([A-Za-z])([0-9])', '\\1 \\2', 'g'), " +
      s"'([0-9])([a-z])', '\\1 \\2', 'g')), " +
      s"'[^a-z0-9]+'), t -> t <> '')"

  /** Tokens joined with spaces — `tokenize_identifier(x).join(" ")`. */
  private def sqlToksJoined(e: String): String =
    s"array_to_string(${sqlToks(e)}, ' ')"

  /** The q93 markdown-noise-strip chain over an expression. The outer
    * trim lists whitespace explicitly — DuckDB's one-arg trim() strips
    * SPACES only, while Scala's .trim strips all ASCII whitespace.
    */
  private def sqlStripNoise(e: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(regexp_replace(regexp_replace($e, " +
      s"'(?m)^#{1,6}[ \\t]+', '', 'g'), " +
      s"'!\\[([^\\]]*)\\]\\([^)]*\\)', '', 'g'), " +
      s"'\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'), " +
      s"'<[^>]+>', '', 'g'), " +
      s"'[*`]', '', 'g'), " +
      s"'[ \\t]{2,}', ' ', 'g'), " +
      s"'\\n{3,}', chr(10) || chr(10), 'g'), " +
      s"' ' || chr(9) || chr(10) || chr(13))"

  /** q108 — NL description generation, the code→NL→embed pipeline
    * (/root/reference/src/nl/mod.rs:179-384, Compact template): every
    * section/function/class chunk becomes the natural-language text
    * the embedder sees — file context, doc comment, structural
    * method-of context, tokenized name, class fields + member methods,
    * parameter/return NL from the logical signature (JSDoc fallback
    * for javascript), body keywords, and the signature itself;
    * markdown sections get breadcrumb + name + noise-stripped preview.
    * Composes six oracle-proven ingredients (q56 sig join, q59
    * tokenizer, q90 fields, q92 JSDoc, q93 noise strip, q94 keywords,
    * q95 membership) into one deliverable. See NlGen for the
    * faithfulness notes (uniform tokenizer, structural method
    * analogue, html/pdf + table exclusions).
    */
  def q108(s: SparkSession, dir: String): DataFrame =
    Indexes.nlDescribe(s)

  private lazy val skipDirsSql: String =
    graft.operators.NlGen.SkipDirs.map(sq).mkString(", ")
  private lazy val genericStemsSql: String =
    graft.operators.NlGen.GenericStems.map(sq).mkString(", ")
  private lazy val javaModsSql: String =
    Seq("void", "public", "private", "protected", "static", "final",
      "abstract", "synchronized", "native").map(sq).mkString(", ")
  private lazy val csModsSql: String =
    Seq("void", "public", "private", "protected", "internal", "static",
      "abstract", "virtual", "override", "sealed", "async", "extern",
      "partial", "new", "unsafe").map(sq).mkString(", ")

  /** The NL-description CTE chain (nchunks…nl_all), factored for reuse
    * by q108/q109: requires `files`, `spans` (7-col), `fl`, plus the
    * sig chain (`sigs`) and fields chain (`numbered`) upstream; yields
    * `nl_all(origin, name, start_line, chunk_type, nl)`.
    */
  private lazy val nlChainCtesSql: String = {
    val jsParamRe = "@param\\s+\\{([^}]+)\\}\\s+(\\w+)"
    s"""nchunks AS (
       |  SELECT sp.origin, sp.language, sp.chunk_type, sp.name, sp.start_line,
       |    sp.end_line, sp.doc,
       |    array_to_string(fl.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM spans sp JOIN fl USING (origin)
       |  -- webhelp listed for symmetry with the Scala filter (its
       |  -- merged origin has no files row, so the join drops it anyway)
       |  WHERE sp.chunk_type IN ('function', 'class', 'section')
       |    AND sp.language NOT IN ('html', 'pdf', 'chm', 'webhelp')),
       |fctx AS (
       |  SELECT origin, COALESCE(CASE WHEN len(comps) = 0 THEN NULL
       |    ELSE array_to_string(
       |      flatten(list_transform(comps[1:len(comps)-1], c -> ${sqlToks("c")})) ||
       |      CASE WHEN regexp_replace(comps[len(comps)], '\\.[^.]*$$', '')
       |             IN ($genericStemsSql)
       |           THEN CAST([] AS VARCHAR[])
       |           ELSE ${sqlToks("regexp_replace(comps[len(comps)], '\\.[^.]*$$', '')")}
       |      END, ' ') END, '') AS fctx
       |  FROM (SELECT origin, list_filter(string_split_regex(origin, '[/\\\\]'),
       |      c -> c <> '' AND c NOT IN ($skipDirsSql)) AS comps
       |    FROM (SELECT DISTINCT origin FROM nchunks))),
       |pclasses AS (
       |  SELECT origin, name AS class_name, start_line AS cs, end_line AS ce
       |  FROM nchunks WHERE chunk_type = 'class'),
       |pfns AS (
       |  SELECT origin, name AS fname, start_line AS fs, end_line AS fe
       |  FROM nchunks WHERE chunk_type = 'function'),
       |pcontained AS (
       |  SELECT f.origin, c.class_name, f.fname, f.fs, c.cs,
       |    c.ce - c.cs AS spanw
       |  FROM pfns f JOIN pclasses c USING (origin)
       |  WHERE c.cs < f.fs AND f.fe <= c.ce),
       |parents AS (
       |  SELECT origin, fname, fs, class_name, cs FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY origin, fname, fs
       |      ORDER BY spanw ASC, class_name ASC) AS rn
       |    FROM pcontained) WHERE rn = 1),
       |memb AS (
       |  SELECT origin, class_name, cs,
       |    array_to_string(list_transform(
       |      (array_agg(fname ORDER BY fs ASC, fname ASC))[1:10],
       |      m -> ${sqlToksJoined("m")}), ', ') AS methods
       |  FROM parents GROUP BY origin, class_name, cs),
       |fieldsj AS (
       |  SELECT origin, class_name, start_line,
       |    array_to_string(array_agg(field ORDER BY field_idx), ', ') AS fields
       |  FROM numbered WHERE field_idx <= 15
       |  GROUP BY origin, class_name, start_line),
       |kwt AS (
       |  SELECT origin, name, start_line, unnest(list_filter(${sqlToks("content")},
       |    t -> len(t) >= 3 AND t NOT IN ($keywordsSql))) AS tok
       |  FROM nchunks WHERE chunk_type IN ('function', 'class')),
       |kwf AS (
       |  SELECT origin, name, start_line, tok, COUNT(*) AS freq
       |  FROM kwt GROUP BY 1, 2, 3, 4),
       |kwj AS (
       |  SELECT origin, name, start_line,
       |    array_to_string(array_agg(tok ORDER BY rk), ', ') AS kws
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY origin, name, start_line
       |      ORDER BY freq DESC, tok ASC) AS rk FROM kwf)
       |  WHERE rk <= 10 GROUP BY 1, 2, 3),
       |-- params + per-language return NL over the logical signature
       |prs AS (
       |  SELECT origin, name, start_line, language, sig,
       |    CASE WHEN NOT regexp_matches(sig, '\\(.*\\)') THEN NULL
       |         WHEN trim(regexp_extract(sig, '\\((.*)\\)', 1)) = ''
       |           THEN 'Takes no parameters'
       |         WHEN len(plist) = 0 THEN NULL
       |         ELSE 'Takes parameters: ' || array_to_string(plist, ', ')
       |    END AS params_sig,
       |    CASE language
       |      WHEN 'rust' THEN
       |        CASE WHEN strpos(sig, '->') > 0
       |              AND trim(substr(sig, strpos(sig, '->') + 2)) <> ''
       |          THEN 'Returns ' ||
       |            ${sqlToksJoined("trim(substr(sig, strpos(sig, '->') + 2))")}
       |        END
       |      WHEN 'python' THEN
       |        CASE WHEN strpos(reverse(sig), '>-') > 0 AND pyret <> ''
       |          THEN 'Returns ' || ${sqlToksJoined("pyret")} END
       |      WHEN 'cuda' THEN
       |        CASE WHEN strpos(reverse(sig), ')') > 0
       |              AND strpos(cuaft, '->') > 0 AND curet <> ''
       |          THEN 'Returns ' || ${sqlToksJoined("curet")} END
       |      WHEN 'go' THEN
       |        CASE WHEN gsig LIKE '%)' THEN
       |          CASE WHEN regexp_matches(gsig, '\\)\\s*\\([^()]*\\)$$')
       |            THEN 'Returns ' || regexp_extract(gsig, '(\\([^()]*\\))$$', 1)
       |          END
       |        WHEN strpos(reverse(gsig), ')') > 0 AND goret <> ''
       |          THEN 'Returns ' || ${sqlToksJoined("goret")}
       |        END
       |      WHEN 'java' THEN
       |        CASE WHEN strpos(sig, '(') > 0 AND len(bw) >= 2
       |              AND bw[len(bw)-1] NOT IN ($javaModsSql)
       |          THEN 'Returns ' || ${sqlToksJoined("bw[len(bw)-1]")} END
       |      WHEN 'csharp' THEN
       |        CASE WHEN strpos(sig, '(') > 0 AND len(bw) >= 2
       |              AND bw[len(bw)-1] NOT IN ($csModsSql)
       |          THEN 'Returns ' || ${sqlToksJoined("bw[len(bw)-1]")} END
       |      WHEN 'razor' THEN
       |        CASE WHEN strpos(sig, '(') > 0 AND len(bw) >= 2
       |              AND bw[len(bw)-1] NOT IN ($csModsSql)
       |          THEN 'Returns ' || ${sqlToksJoined("bw[len(bw)-1]")} END
       |      WHEN 'c' THEN
       |        CASE WHEN strpos(sig, '(') > 0 AND len(bw) >= 2 AND len(ctw) > 0
       |              AND NOT (len(ctw) = 1 AND ctw[1] = 'void')
       |          THEN 'Returns ' || ${sqlToksJoined("array_to_string(ctw, ' ')")}
       |        END
       |      ELSE NULL
       |    END AS returns_sig
       |  FROM (
       |    SELECT *,
       |      CASE WHEN strpos(cuarr, '->') > 0 THEN
       |        trim(CASE WHEN strpos(trim(substr(cuarr, strpos(cuarr, '->') + 2)), '{') > 0
       |          THEN substr(trim(substr(cuarr, strpos(cuarr, '->') + 2)), 1,
       |            strpos(trim(substr(cuarr, strpos(cuarr, '->') + 2)), '{') - 1)
       |          ELSE trim(substr(cuarr, strpos(cuarr, '->') + 2)) END)
       |        ELSE '' END AS curet,
       |      CASE WHEN strpos(reverse(gsig), ')') > 0
       |        THEN trim(substr(gsig, len(gsig) - strpos(reverse(gsig), ')') + 2))
       |        ELSE '' END AS goret,
       |      list_filter(bw[1:len(bw)-1],
       |        w -> w NOT IN ('static', 'inline', 'extern', 'const', 'volatile')) AS ctw,
       |      cuarr AS cuaft
       |    FROM (
       |      SELECT *,
       |        regexp_replace(trim(CASE WHEN strpos(reverse(sig), '>-') > 0
       |          THEN substr(sig, len(sig) - strpos(reverse(sig), '>-') + 2)
       |          ELSE '' END), ':+$$', '') AS pyret,
       |        CASE WHEN strpos(reverse(sig), ')') > 0
       |          THEN substr(sig, len(sig) - strpos(reverse(sig), ')') + 2)
       |          ELSE '' END AS cuarr,
       |        list_filter(list_transform(
       |          string_split(regexp_extract(sig, '\\((.*)\\)', 1), ','),
       |          p -> array_to_string(list_filter(${sqlToks("p")},
       |                 t -> t NOT IN ('self', 'mut')), ' ')),
       |          x -> x <> '') AS plist,
       |        list_filter(string_split_regex(trim(regexp_extract(sig, '^[^(]*')),
       |          '\\s+'), w -> w <> '') AS bw,
       |        trim(regexp_replace(sig, '\\{*$$', '')) AS gsig
       |      FROM sigs) s0) s1),
       |jdagg AS (
       |  SELECT origin, name, start_line,
       |    string_agg(pn || ' (' || pt || ')', ', ' ORDER BY pi) AS jparams
       |  FROM (
       |    SELECT origin, name, start_line,
       |      unnest(regexp_extract_all(doc, '$jsParamRe', 2)) AS pn,
       |      unnest(regexp_extract_all(doc, '$jsParamRe', 1)) AS pt,
       |      unnest(range(1, len(regexp_extract_all(doc, '$jsParamRe', 0)) + 1)) AS pi
       |    FROM nchunks WHERE language = 'javascript')
       |  GROUP BY 1, 2, 3),
       |jdr AS (
       |  SELECT origin, name, start_line,
       |    regexp_extract(doc, '@returns?\\s+\\{([^}]+)\\}', 1) AS jret
       |  FROM nchunks WHERE language = 'javascript'),
       |secnl AS (
       |  SELECT origin, name, start_line, chunk_type,
       |    array_to_string(CASE WHEN doc <> '' THEN [doc, name, pv]
       |                         ELSE [name, pv] END, '. ') AS nl
       |  FROM (SELECT origin, name, start_line, chunk_type, doc,
       |      substr(${sqlStripNoise("content")}, 1, 1848) AS pv
       |    FROM nchunks WHERE chunk_type = 'section')),
       |codenl AS (
       |  SELECT c.origin, c.name, c.start_line, c.chunk_type,
       |    array_to_string(list_filter([
       |      NULLIF(fx.fctx, ''),
       |      NULLIF(trim(c.doc), ''),
       |      CASE WHEN c.chunk_type = 'function' AND pa.class_name IS NOT NULL
       |        THEN ${sqlToksJoined("pa.class_name")} || ' method' END,
       |      ${sqlToksJoined("c.name")},
       |      CASE WHEN c.chunk_type = 'class' AND COALESCE(fj.fields, '') <> ''
       |        THEN 'Fields: ' || fj.fields END,
       |      CASE WHEN c.chunk_type = 'class' AND COALESCE(mb.methods, '') <> ''
       |        THEN 'Methods: ' || mb.methods END,
       |      COALESCE(pr.params_sig,
       |        CASE WHEN c.language = 'javascript' AND COALESCE(ja.jparams, '') <> ''
       |          THEN 'Takes parameters: ' || ja.jparams END),
       |      COALESCE(pr.returns_sig,
       |        CASE WHEN c.language = 'javascript' AND COALESCE(jr.jret, '') <> ''
       |          THEN 'Returns ' || jr.jret END),
       |      CASE WHEN COALESCE(kj.kws, '') <> '' THEN 'Uses: ' || kj.kws END,
       |      CASE WHEN COALESCE(pr.sig, '') <> '' THEN 'Signature: ' || pr.sig END
       |    ], x -> x IS NOT NULL), '. ') AS nl
       |  FROM nchunks c
       |  LEFT JOIN fctx fx ON c.origin = fx.origin
       |  LEFT JOIN parents pa ON c.origin = pa.origin AND c.name = pa.fname
       |    AND c.start_line = pa.fs
       |  LEFT JOIN memb mb ON c.origin = mb.origin AND c.name = mb.class_name
       |    AND c.start_line = mb.cs
       |  LEFT JOIN fieldsj fj ON c.origin = fj.origin AND c.name = fj.class_name
       |    AND c.start_line = fj.start_line
       |  LEFT JOIN prs pr ON c.origin = pr.origin AND c.name = pr.name
       |    AND c.start_line = pr.start_line
       |  LEFT JOIN jdagg ja ON c.origin = ja.origin AND c.name = ja.name
       |    AND c.start_line = ja.start_line
       |  LEFT JOIN jdr jr ON c.origin = jr.origin AND c.name = jr.name
       |    AND c.start_line = jr.start_line
       |  LEFT JOIN kwj kj ON c.origin = kj.origin AND c.name = kj.name
       |    AND c.start_line = kj.start_line
       |  WHERE c.chunk_type IN ('function', 'class')),
       |nl_all AS (SELECT * FROM codenl UNION ALL SELECT * FROM secnl)""".stripMargin
  }

  lazy val q108Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |fl AS (SELECT origin, string_split(content, chr(10)) AS ls FROM files),
       |lines AS (
       |  SELECT origin, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS li
       |  FROM fl),
       |$sigChainCtesSql,
       |$fieldsChainCtesSql,
       |$nlChainCtesSql
       |SELECT origin, name, CAST(start_line AS INT) AS start_line, chunk_type, nl
       |FROM nl_all""".stripMargin

  /** q109 — second-pass call-context enrichment
    * (/root/reference/src/cli/enrichment.rs): the `cqs index` phase
    * that re-embeds every chunk whose call-graph context, LLM summary,
    * or HyDE prediction adds signal. Runs the pass twice: the first
    * (empty stored-hash table) plays the initial index; its
    * `fixtures/app.rs` hashes seed the second run's stored table, so
    * the output exercises all four actions — embedded, uptodate (the
    * incremental no-op path that makes re-indexing cheap), and the
    * no-context / ambiguous-name skips. Summary/hyde cache rows are
    * md5-stub seeds on content_hash (the q55 seam); `render` carries
    * BOTH to pin the summary-prepend + hyde-append composition.
    * See NlGen.enrichmentPrep for semantics + scale notes.
    */
  def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.NlGen
    val chunks = Indexes.codeChunks(s)
    val sites = Indexes.callEdges(s)
      .select(col("origin"), col("caller"), col("callee"), col("edge_kind"))
    val scoped = chunks
      .filter(col("chunk_type").isin("function", "class", "section") &&
        !col("language").isin("html", "pdf", "chm"))
    val cache = scoped.filter(col("name").isin("render", "load_config", "Serve"))
      .select(md5(col("content")).as("content_hash"),
        lit("summary").as("purpose"),
        concat(lit("sum:"), substring(
          md5(concat(lit("summary:"), md5(col("content")))), 1, 16))
          .as("summary"))
      .unionByName(scoped.filter(col("name").isin("process", "render"))
        .select(md5(col("content")).as("content_hash"),
          lit("hyde").as("purpose"),
          concat(lit("find "), col("name"), lit("\n how to "), col("name"))
            .as("summary")))
    val storedEmpty = Seq.empty[(String, String, Int, String)]
      .toDF("origin", "name", "start_line", "stored_hash")
    // the describe/aggregate/NL work is identical in both passes —
    // materialize it once; each pass then only re-joins its stored
    // table (the incremental shape a real multi-pass index run has)
    val prep = graft.operators.Materialize.stable(
      NlGen.enrichmentPrep(chunks, sites, cache, Indexes.nlDescribe(s)))
    val pass1 = NlGen.enrichmentApply(prep, storedEmpty)
    val stored = pass1
      .filter(col("origin") === "fixtures/app.rs" && col("action") === "embedded")
      .select(col("origin"), col("name"), col("start_line"),
        col("enrichment_hash").as("stored_hash"))
    NlGen.enrichmentApply(prep, stored)
  }

  lazy val q109Sql: String =
    s"""WITH $edgesCteSql,
       |fl AS (SELECT origin, string_split(content, chr(10)) AS ls FROM files),
       |$sigChainCtesSql,
       |$fieldsChainCtesSql,
       |$nlChainCtesSql,
       |chash AS (
       |  SELECT origin, name, start_line, md5(content) AS content_hash
       |  FROM nchunks),
       |total AS (SELECT COUNT(*) AS total_chunks FROM spans),
       |util AS (
       |  SELECT callee,
       |    (COUNT(DISTINCT caller) * 10 >=
       |      (SELECT total_chunks FROM total)) AS utility
       |  FROM sites GROUP BY callee),
       |callers_a AS (
       |  SELECT callee AS name, list_sort(array_agg(DISTINCT caller)) AS callers
       |  FROM sites GROUP BY callee),
       |callees_a AS (
       |  SELECT caller AS name,
       |    list_sort(array_agg(DISTINCT s.callee)) AS callees_all,
       |    COALESCE(list_sort(array_agg(DISTINCT s.callee)
       |      FILTER (WHERE NOT u.utility)), CAST([] AS VARCHAR[])) AS callees_kept
       |  FROM sites s JOIN util u ON s.callee = u.callee
       |  GROUP BY caller),
       |amb AS (SELECT name, COUNT(*) > 1 AS ambiguous FROM spans GROUP BY name),
       |sumc AS (
       |  SELECT DISTINCT md5(content) AS content_hash,
       |    'sum:' || substr(md5('summary:' || md5(content)), 1, 16) AS summary_txt
       |  FROM nchunks WHERE name IN ('render', 'load_config', 'Serve')),
       |hydec AS (
       |  SELECT DISTINCT md5(content) AS content_hash,
       |    'find ' || name || chr(10) || ' how to ' || name AS hyde_txt
       |  FROM nchunks WHERE name IN ('process', 'render')),
       |enr0 AS (
       |  SELECT n.origin, n.name, n.start_line, b.nl,
       |    COALESCE(ca.callers, CAST([] AS VARCHAR[])) AS callers,
       |    COALESCE(ce.callees_all, CAST([] AS VARCHAR[])) AS callees_all,
       |    COALESCE(ce.callees_kept, CAST([] AS VARCHAR[])) AS callees_kept,
       |    COALESCE(am.ambiguous, FALSE) AS ambiguous,
       |    su.summary_txt, hy.hyde_txt
       |  FROM chash n
       |  JOIN nl_all b ON n.origin = b.origin AND n.name = b.name
       |    AND n.start_line = b.start_line
       |  LEFT JOIN callers_a ca ON n.name = ca.name
       |  LEFT JOIN callees_a ce ON n.name = ce.name
       |  LEFT JOIN amb am ON n.name = am.name
       |  LEFT JOIN sumc su ON n.content_hash = su.content_hash
       |  LEFT JOIN hydec hy ON n.content_hash = hy.content_hash),
       |enr1 AS (
       |  SELECT *,
       |    md5(
       |      -- array_to_string([]) is NULL in DuckDB, and || propagates it
       |      COALESCE(array_to_string(
       |        list_transform(callers, c -> 'c:' || c || '|'), ''), '') ||
       |      COALESCE(array_to_string(
       |        list_transform(callees_kept, c -> 'e:' || c || '|'), ''), '') ||
       |      CASE WHEN summary_txt IS NOT NULL
       |        THEN 's:' || trim(regexp_replace(summary_txt, '\\s+', ' ', 'g'))
       |        ELSE '' END ||
       |      CASE WHEN hyde_txt IS NOT NULL
       |        THEN 'h:' || trim(regexp_replace(hyde_txt, '\\s+', ' ', 'g'))
       |        ELSE '' END) AS ehash,
       |    (len(callers) = 0 AND len(callees_all) = 0
       |      AND summary_txt IS NULL AND hyde_txt IS NULL) AS skip_nc,
       |    (ambiguous AND summary_txt IS NULL AND hyde_txt IS NULL) AS skip_amb
       |  FROM enr0),
       |enr2 AS (
       |  SELECT *,
       |    CASE WHEN len(callers) > 0 THEN 'Called by: ' ||
       |      array_to_string(list_transform(callers[1:5],
       |        c -> ${sqlToksJoined("c")}), ', ') END AS called_by,
       |    CASE WHEN len(callees_kept) > 0 THEN 'Calls: ' ||
       |      array_to_string(list_transform(callees_kept[1:5],
       |        c -> ${sqlToksJoined("c")}), ', ') END AS callsx
       |  FROM enr1),
       |enr3 AS (
       |  SELECT *,
       |    CASE WHEN hq <> '' THEN nl3 || '. Queries: ' || hq
       |         ELSE nl3 END AS enriched_nl
       |  FROM (
       |    SELECT *,
       |      CASE WHEN summary_txt IS NOT NULL AND summary_txt <> ''
       |        THEN summary_txt || ' ' || nl2 ELSE nl2 END AS nl3,
       |      COALESCE(CASE WHEN hyde_txt IS NOT NULL THEN
       |        array_to_string(list_filter(list_transform(
       |          string_split(hyde_txt, chr(10)), l -> trim(l)),
       |          l -> l <> ''), ', ') END, '') AS hq
       |    FROM (
       |      SELECT *, CASE WHEN extras <> '' THEN nl || '. ' || extras
       |                     ELSE nl END AS nl2
       |      FROM (SELECT *, concat_ws('. ', called_by, callsx) AS extras
       |            FROM enr2)))),
       |stored AS (
       |  SELECT origin, name, start_line, ehash AS stored_hash FROM enr3
       |  WHERE origin = 'fixtures/app.rs' AND NOT skip_nc AND NOT skip_amb)
       |SELECT e.origin, e.name, CAST(e.start_line AS INT) AS start_line,
       |  CASE WHEN e.skip_nc THEN 'skip_no_context'
       |       WHEN e.skip_amb THEN 'skip_ambiguous'
       |       WHEN st.stored_hash = e.ehash THEN 'uptodate'
       |       ELSE 'embedded' END AS action,
       |  CASE WHEN e.skip_nc OR e.skip_amb THEN NULL ELSE e.ehash END
       |    AS enrichment_hash,
       |  CASE WHEN NOT e.skip_nc AND NOT e.skip_amb
       |        AND (st.stored_hash IS NULL OR st.stored_hash <> e.ehash)
       |    THEN e.enriched_nl END AS enriched_nl
       |FROM enr3 e LEFT JOIN stored st ON e.origin = st.origin
       |  AND e.name = st.name AND e.start_line = st.start_line""".stripMargin

  /** q110 — explain, the function card
    * (/root/reference/src/cli/commands/graph/explain.rs:77-150, via
    * search/mod.rs:59-112 resolve_target, store/calls/query.rs:20-61
    * get_callers_full / :298-340 get_callees_full, and
    * impact/hints.rs:74-99 compute_hints): resolve the target name
    * preferring non-test definitions, then assemble one card —
    * callers collapsed per (file, caller, line) to the most-trusted
    * kind and ordered (trust_rank, file, line); callees scoped to the
    * resolved chunk's file; the top-3 similar function chunks with
    * cosine >= 0.3 excluding self (exact-integer token-tf cosine —
    * the deterministic stand-in for the dense-embedding leg, ranked
    * and thresholded entirely in BIGINT cross-multiplication so both
    * engines agree bit-for-bit; q17/q35 carry the real vector path);
    * and the caller_count / test_count hints, the latter a reverse
    * BFS to depth 5 (DEFAULT_MAX_TEST_SEARCH_DEPTH) counting distinct
    * test_* ancestors. Documented divergences: resolution scores a
    * name-match tier ladder (the q19 NameMatcher shape) instead of
    * FTS bm25, and every ordering carries a trailing name tie-break —
    * total where the reference inherits SQLite scan order (nested
    * attribution puts a method AND its class at the same call line).
    * Scale: the caller/callee caps come off TakeOrderedAndProject,
    * the similar leg is one posting join against the prebuilt
    * code_postings index, and the card never materializes more than
    * the capped rows plus one grouped count.
    */
  def q110(s: SparkSession, dir: String): DataFrame = {
    val target = "process"
    val fns = Indexes.codeChunks(s).filter(col("chunk_type") === "function")
    val cand = fns
      .filter(col("name") === target ||
        array_contains(graft.functions.TextFns.ftsTokens(col("name")), target))
      .withColumn("tier", when(col("name") === target, lit(3)).otherwise(lit(2)))
      .withColumn("is_test",
        when(col("name").startsWith("test_") ||
          col("origin").contains("/tests/") ||
          col("origin").endsWith("_test.rs"), lit(1)).otherwise(lit(0)))
    val resolved = cand
      .orderBy(col("is_test").asc, col("tier").desc, col("origin").asc,
        col("start_line").asc)
      .limit(1)
      .select(col("name").as("t_name"), col("origin").as("t_origin"),
        col("start_line").as("t_line"))
      // ONE row, seven broadcast consumers (both edge sections, the
      // target row, the posting query vector, the similarity filter,
      // the BFS seed, the test-count filter) — each broadcast was
      // re-running the chunk-scan + sort + limit; cut it once
      .transform(graft.operators.Materialize.stable)
    val edges = Indexes.resolvedCallsFull(s)
    val rank = when(col("edge_kind") === "direct", 0)
      .when(col("edge_kind") === "method", 1)
      .when(col("edge_kind") === "macro", 2).otherwise(3)
    def kindOf(r: Column): Column =
      when(r === 0, "direct").when(r === 1, "method")
        .when(r === 2, "macro").otherwise("doc_ref")
    val nullExtra = lit(0L)
    val targetRow = resolved.select(lit("target").as("section"),
      lit(0).cast("int").as("rnk"), col("t_name").as("name"),
      col("t_origin").as("origin"), col("t_line").cast("int").as("line"),
      lit("function").as("kind"), nullExtra.as("extra"))

    val callerGroups = edges.join(broadcast(resolved),
        col("callee") === col("t_name"))
      .groupBy(col("origin"), col("caller"), col("line"))
      .agg(min(rank).as("trust_rank"))
    val callerOrder = org.apache.spark.sql.expressions.Window.orderBy(
      col("trust_rank").asc, col("origin").asc, col("line").asc,
      col("caller").asc)
    val callerRows = callerGroups
      .orderBy(col("trust_rank").asc, col("origin").asc, col("line").asc,
        col("caller").asc)
      .limit(5)
      .withColumn("rnk", row_number().over(callerOrder))
      .select(lit("caller").as("section"), col("rnk"),
        col("caller").as("name"), col("origin"), col("line"),
        kindOf(col("trust_rank")).as("kind"), nullExtra.as("extra"))

    val calleeGroups = edges.join(broadcast(resolved),
        col("caller") === col("t_name") && col("origin") === col("t_origin"))
      .groupBy(col("t_origin"), col("callee"), col("line"))
      .agg(min(rank).as("trust_rank"))
    val calleeOrder = org.apache.spark.sql.expressions.Window.orderBy(
      col("trust_rank").asc, col("line").asc, col("callee").asc)
    val calleeRows = calleeGroups
      .orderBy(col("trust_rank").asc, col("line").asc, col("callee").asc)
      .limit(5)
      .withColumn("rnk", row_number().over(calleeOrder))
      .select(lit("callee").as("section"), col("rnk"),
        col("callee").as("name"), col("t_origin").as("origin"), col("line"),
        kindOf(col("trust_rank")).as("kind"), nullExtra.as("extra"))

    val posts = Indexes.codePostings(s)
    val tvec = posts.join(broadcast(resolved), col("name") === col("t_name"))
      .select(col("token"), col("tf").as("qtf"))
    val na2 = tvec.agg(sum(col("qtf") * col("qtf")).as("na2"))
    val norms = Indexes.codePostingNorms(s)
    val dots = posts.join(broadcast(tvec), Seq("token"))
      .groupBy(col("name")).agg(sum(col("tf") * col("qtf")).as("dot"))
    val cosKey = (col("dot") * col("dot")).cast("double") / col("nb2")
    val simOrder = org.apache.spark.sql.expressions.Window.orderBy(
      cosKey.desc, col("name").asc)
    val simTop = dots.join(norms, Seq("name"))
      .crossJoin(broadcast(na2)).crossJoin(broadcast(resolved))
      .filter(col("name") =!= col("t_name") &&
        lit(100L) * col("dot") * col("dot") >= lit(9L) * col("na2") * col("nb2"))
      .orderBy(cosKey.desc, col("name").asc)
      .limit(3)
      .withColumn("rnk", row_number().over(simOrder))
    val dupWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"))
      .orderBy(col("origin").asc, col("start_line").asc)
    val simRows = simTop
      .join(fns.select(col("name"), col("origin"), col("start_line")),
        Seq("name"))
      .withColumn("dup", row_number().over(dupWin))
      .filter(col("dup") === 1)
      .select(lit("similar").as("section"), col("rnk"), col("name"),
        col("origin"), col("start_line").as("line"),
        lit("function").as("kind"), col("dot").as("extra"))

    val callerCount = callerGroups.agg(count(lit(1)).as("extra"))
    // depth-5 reverse reachability through the SHARED BFS (r10 verdict
    // watch item: the hand-rolled frontier union had no visited set, so
    // a hub-heavy corpus could re-expand cycles every level; the shared
    // operator subtracts visited and carries the node-count rail).
    // resolved is limit(1), so the single-seed visited set minus depth
    // 0 equals the old frontier union after the =!= t_name filter.
    val rev = Indexes.resolvedCallEdges(s)
      .select(col("callee").as("src"), col("caller").as("dst"))
    val reached = graft.operators.GraphOps.bfs(
        rev, resolved.select(col("t_name").as("node")), maxDepth = 5)
      .filter(col("depth") >= 1)
    val testCount = reached.crossJoin(broadcast(resolved))
      .filter(col("node") =!= col("t_name") &&
        col("node").startsWith("test_"))
      .agg(countDistinct(col("node")).as("extra"))
    def hintRow(df: DataFrame, rnk: Int, label: String): DataFrame =
      df.select(lit("hint").as("section"), lit(rnk).cast("int").as("rnk"),
        lit(label).as("name"), lit("").as("origin"),
        lit(0).cast("int").as("line"), lit("").as("kind"), col("extra"))
    targetRow
      .unionByName(callerRows)
      .unionByName(calleeRows)
      .unionByName(simRows)
      .unionByName(hintRow(callerCount, 1, "caller_count"))
      .unionByName(hintRow(testCount, 2, "test_count"))
      .orderBy(col("section").asc, col("rnk").asc, col("name").asc)
  }

  lazy val q110Sql: String =
    s"""WITH $edgesCteSql,
       |edgesl AS (
       |  SELECT sp.origin, sp.name AS caller, c.callee, c.edge_kind,
       |    c.li AS cline
       |  FROM calls c JOIN spans sp
       |    ON c.origin = sp.origin
       |   AND sp.language NOT IN ('markdown')
       |   AND c.li > sp.start_line AND c.li <= sp.end_line
       |  UNION ALL
       |  SELECT origin, sec_name, callee, 'doc_ref', li FROM md_refs),
       |redges AS (
       |  SELECT * FROM edgesl WHERE callee IN (SELECT name FROM fns)),
       |cand AS (
       |  SELECT name, origin, start_line,
       |    CASE WHEN name = 'process' THEN 3 ELSE 2 END AS tier,
       |    CASE WHEN starts_with(name, 'test_') OR contains(origin, '/tests/')
       |      OR ends_with(origin, '_test.rs') THEN 1 ELSE 0 END AS is_test
       |  FROM spans
       |  WHERE chunk_type = 'function'
       |    AND (name = 'process' OR list_contains(
       |      list_filter(string_split_regex(lower(name), '[^a-z0-9]+'),
       |        x -> len(x) >= 2), 'process'))),
       |rsv AS (
       |  SELECT name AS t_name, origin AS t_origin, start_line AS t_line
       |  FROM cand
       |  ORDER BY is_test ASC, tier DESC, origin ASC, start_line ASC
       |  LIMIT 1),
       |cgrp AS (
       |  SELECT e.origin, e.caller, e.cline,
       |    MIN(CASE e.edge_kind WHEN 'direct' THEN 0 WHEN 'method' THEN 1
       |      WHEN 'macro' THEN 2 ELSE 3 END) AS trust_rank
       |  FROM redges e JOIN rsv r ON e.callee = r.t_name
       |  GROUP BY 1, 2, 3),
       |crow AS (
       |  SELECT * FROM (
       |    SELECT 'caller' AS section,
       |      CAST(ROW_NUMBER() OVER (ORDER BY trust_rank, origin, cline,
       |        caller) AS INT) AS rnk,
       |      caller AS name, origin, CAST(cline AS INT) AS line,
       |      CASE trust_rank WHEN 0 THEN 'direct' WHEN 1 THEN 'method'
       |        WHEN 2 THEN 'macro' ELSE 'doc_ref' END AS kind,
       |      CAST(0 AS BIGINT) AS extra
       |    FROM cgrp) WHERE rnk <= 5),
       |egrp AS (
       |  SELECT e.callee, e.cline,
       |    MIN(CASE e.edge_kind WHEN 'direct' THEN 0 WHEN 'method' THEN 1
       |      WHEN 'macro' THEN 2 ELSE 3 END) AS trust_rank
       |  FROM redges e JOIN rsv r
       |    ON e.caller = r.t_name AND e.origin = r.t_origin
       |  GROUP BY 1, 2),
       |erow AS (
       |  SELECT * FROM (
       |    SELECT 'callee' AS section,
       |      CAST(ROW_NUMBER() OVER (ORDER BY trust_rank, cline, callee)
       |        AS INT) AS rnk,
       |      callee AS name, (SELECT t_origin FROM rsv) AS origin,
       |      CAST(cline AS INT) AS line,
       |      CASE trust_rank WHEN 0 THEN 'direct' WHEN 1 THEN 'method'
       |        WHEN 2 THEN 'macro' ELSE 'doc_ref' END AS kind,
       |      CAST(0 AS BIGINT) AS extra
       |    FROM egrp) WHERE rnk <= 5),
       |cc AS (
       |  SELECT sp.name,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10))
       |      AS content
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls
       |        FROM files) f USING (origin)
       |  WHERE sp.chunk_type = 'function'),
       |pst AS (
       |  SELECT name, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT name,
       |          unnest(list_filter(string_split_regex(lower(content),
       |            '[^a-z0-9]+'), x -> len(x) >= 2)) AS t
       |        FROM cc)
       |  GROUP BY 1, 2),
       |tvec AS (
       |  SELECT p.token, p.tf AS qtf
       |  FROM pst p JOIN rsv r ON p.name = r.t_name),
       |tna AS (SELECT CAST(SUM(qtf * qtf) AS BIGINT) AS na2 FROM tvec),
       |nrm AS (
       |  SELECT name, CAST(SUM(tf * tf) AS BIGINT) AS nb2
       |  FROM pst GROUP BY 1),
       |dts AS (
       |  SELECT p.name, CAST(SUM(p.tf * t.qtf) AS BIGINT) AS dot
       |  FROM pst p JOIN tvec t USING (token) GROUP BY 1),
       |simr AS (
       |  SELECT name, dot,
       |    CAST(ROW_NUMBER() OVER (ORDER BY
       |      CAST(dot * dot AS DOUBLE) / nb2 DESC, name ASC) AS INT) AS rnk
       |  FROM (
       |    SELECT d.name, d.dot, n.nb2
       |    FROM dts d JOIN nrm n USING (name)
       |    CROSS JOIN tna CROSS JOIN rsv r
       |    WHERE d.name <> r.t_name
       |      AND 100 * d.dot * d.dot >= 9 * tna.na2 * n.nb2)),
       |srow AS (
       |  SELECT 'similar' AS section, s.rnk, s.name, sp.origin,
       |    CAST(sp.start_line AS INT) AS line, 'function' AS kind,
       |    s.dot AS extra
       |  FROM (SELECT * FROM simr WHERE rnk <= 3) s
       |  JOIN spans sp ON sp.name = s.name AND sp.chunk_type = 'function'
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s.name
       |    ORDER BY sp.origin ASC, sp.start_line ASC) = 1),
       |rdst AS (SELECT DISTINCT callee AS src, caller AS dst FROM redges),
       |t1 AS (SELECT DISTINCT e.dst AS node FROM rdst e
       |       JOIN rsv r ON e.src = r.t_name),
       |t2 AS (SELECT DISTINCT e.dst AS node FROM rdst e
       |       JOIN t1 ON e.src = t1.node),
       |t3 AS (SELECT DISTINCT e.dst AS node FROM rdst e
       |       JOIN t2 ON e.src = t2.node),
       |t4 AS (SELECT DISTINCT e.dst AS node FROM rdst e
       |       JOIN t3 ON e.src = t3.node),
       |t5 AS (SELECT DISTINCT e.dst AS node FROM rdst e
       |       JOIN t4 ON e.src = t4.node),
       |anc AS (SELECT node FROM t1 UNION SELECT node FROM t2
       |  UNION SELECT node FROM t3 UNION SELECT node FROM t4
       |  UNION SELECT node FROM t5),
       |hrow AS (
       |  SELECT 'hint' AS section, CAST(1 AS INT) AS rnk,
       |    'caller_count' AS name, '' AS origin, CAST(0 AS INT) AS line,
       |    '' AS kind,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cgrp) AS extra
       |  UNION ALL
       |  SELECT 'hint', CAST(2 AS INT), 'test_count', '', CAST(0 AS INT),
       |    '',
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM anc a CROSS JOIN rsv r
       |     WHERE a.node <> r.t_name AND starts_with(a.node, 'test_'))),
       |trow AS (
       |  SELECT 'target' AS section, CAST(0 AS INT) AS rnk,
       |    t_name AS name, t_origin AS origin, CAST(t_line AS INT) AS line,
       |    'function' AS kind, CAST(0 AS BIGINT) AS extra
       |  FROM rsv)
       |SELECT * FROM trow UNION ALL SELECT * FROM crow
       |UNION ALL SELECT * FROM erow UNION ALL SELECT * FROM srow
       |UNION ALL SELECT * FROM hrow""".stripMargin

  /** q111 — brief, the per-file function summary
    * (/root/reference/src/cli/commands/io/brief.rs:38-136): every chunk
    * of one file (deduped by name, first span wins — the reference's
    * window_idx dedup), each carrying its RAW call-site count
    * (store COUNT(*) over function_calls per callee,
    * store/calls/related.rs:49-59 — site rows, not distinct callers,
    * and unresolved: a call to a class/constructor counts) and its
    * test coverage from a per-chunk reverse BFS to depth 5 over the
    * distinct-caller adjacency, counting test_* ancestors excluding
    * the chunk itself (brief.rs:80-104; test detection follows the
    * corpus convention established in q58/q67 — the reference's
    * language test markers reduce to the test_ prefix here).
    * Scale: the per-seed closure is the q50 level-join shape — 5
    * co-partitioned joins keyed by (seed, node), seeds bounded by one
    * file's chunk count; caller counts are one map-side-combined
    * aggregation over the edge table.
    */
  def q111(s: SparkSession, dir: String): DataFrame = {
    val file = "fixtures/util.py"
    val chunks = Indexes.codeChunks(s)
    val dupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"))
      .orderBy(col("start_line").asc, col("chunk_type").asc)
    val fchunks = chunks.filter(col("origin") === file)
      .withColumn("rn", row_number().over(dupW))
      .filter(col("rn") === 1)
      .select(col("name"), col("chunk_type"), col("start_line"))
    val rawEdges = Indexes.callEdges(s)
    val callerCounts = rawEdges.groupBy(col("callee").as("name"))
      .agg(count(lit(1)).as("callers"))
    val radj = rawEdges
      .select(col("callee").as("src"), col("caller").as("dst")).distinct()
    // per-seed depth-5 reverse closure through the shared labeled BFS
    // (visited-set + pair-count rail — see GraphOps.bfsLabeled): the
    // reached-pair SET is identical to the old frontier union, the
    // (seed, seed) pair it additionally holds at depth 0 was already
    // filtered by =!= below
    val seeds = fchunks.select(col("name").as("seed"))
      .withColumn("node", col("seed"))
    val reached = GraphOps.bfsLabeled(radj, seeds, maxDepth = 5)
      .filter(col("depth") >= 1)
    val testCounts = reached
      .filter(col("node").startsWith("test_") && col("node") =!= col("seed"))
      .groupBy(col("seed").as("name"))
      .agg(countDistinct(col("node")).as("tests"))
    fchunks
      .join(callerCounts, Seq("name"), "left")
      .join(testCounts, Seq("name"), "left")
      .select(col("name"), col("chunk_type"),
        col("start_line").cast("int").as("line_start"),
        coalesce(col("callers"), lit(0L)).as("callers"),
        coalesce(col("tests"), lit(0L)).as("tests"))
      .orderBy(col("line_start").asc, col("name").asc)
  }

  lazy val q111Sql: String =
    s"""WITH $edgesCteSql,
       |fch AS (
       |  SELECT name, chunk_type, start_line FROM (
       |    SELECT name, chunk_type, start_line,
       |      ROW_NUMBER() OVER (PARTITION BY name
       |        ORDER BY start_line ASC, chunk_type ASC) AS rn
       |    FROM spans WHERE origin = 'fixtures/util.py')
       |  WHERE rn = 1),
       |ccnt AS (
       |  SELECT callee AS name, CAST(COUNT(*) AS BIGINT) AS callers
       |  FROM sites GROUP BY 1),
       |radj AS (SELECT DISTINCT callee AS src, caller AS dst FROM sites),
       |b1 AS (
       |  SELECT s.name AS seed, a.dst AS node
       |  FROM radj a JOIN fch s ON a.src = s.name),
       |b2 AS (
       |  SELECT b.seed, a.dst AS node FROM radj a
       |  JOIN (SELECT DISTINCT seed, node FROM b1) b ON a.src = b.node),
       |b3 AS (
       |  SELECT b.seed, a.dst AS node FROM radj a
       |  JOIN (SELECT DISTINCT seed, node FROM b2) b ON a.src = b.node),
       |b4 AS (
       |  SELECT b.seed, a.dst AS node FROM radj a
       |  JOIN (SELECT DISTINCT seed, node FROM b3) b ON a.src = b.node),
       |b5 AS (
       |  SELECT b.seed, a.dst AS node FROM radj a
       |  JOIN (SELECT DISTINCT seed, node FROM b4) b ON a.src = b.node),
       |banc AS (
       |  SELECT DISTINCT seed, node FROM (
       |    SELECT seed, node FROM b1 UNION ALL SELECT seed, node FROM b2
       |    UNION ALL SELECT seed, node FROM b3
       |    UNION ALL SELECT seed, node FROM b4
       |    UNION ALL SELECT seed, node FROM b5)),
       |tcnt AS (
       |  SELECT seed AS name, CAST(COUNT(*) AS BIGINT) AS tests
       |  FROM banc
       |  WHERE starts_with(node, 'test_') AND node <> seed
       |  GROUP BY 1)
       |SELECT f.name, f.chunk_type, CAST(f.start_line AS INT) AS line_start,
       |  COALESCE(c.callers, 0) AS callers,
       |  COALESCE(t.tests, 0) AS tests
       |FROM fch f
       |LEFT JOIN ccnt c ON f.name = c.name
       |LEFT JOIN tcnt t ON f.name = t.name""".stripMargin
}
