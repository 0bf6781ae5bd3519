package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, Incremental, Postings, Summaries, TopK}
import graft.parser.{Chunker, CodeFixtures}
import graft.search.Structural
import graft.sources.Indexes

/** Composite reports part 3: conversion naming (q96-q98), focused
  * read + context (q100-q104), git blame (q112-q113), the v3 eval
  * artifact gate (q116), eval-baseline compare (q200), parse guards
  * (q202) and the filesystem walk gate (q203), plus the shared
  * edges/files/spans CTE preludes. Split from CodeQ (r11 hygiene).
  */
private[queries] trait CodeQC { self: CodeQA with CodeQB =>


  /** Embedded conversion inputs for q96 — markdown artifacts with the
    * noise the cleaning rules target (PDF page boundaries, copyright
    * boilerplate) plus the title-priority and name-collision cases.
    */
  private val convertDocs: Seq[(String, String)] = Seq(
    ("docs/manual.md",
      "© 2015-2024 Example Corp\nPage 1\n# Installation Guide\n\nSteps.\nPage 2 of 9\n"),
    ("docs/appendix.md", "## Appendix A\n\ndetails\n"),
    ("docs/readme.txt", "Just a plain intro line\nmore text\n"),
    ("docs/guide2.md", "# Installation Guide\n\nthe same title again\n"),
    ("docs/blank.md", "\n\n"))

  /** q96 — doc-conversion cleaning + naming
    * (/root/reference/src/convert/cleaning.rs: tagged line-level rules
    * dropping conversion artifacts like `Page N` boundaries and
    * copyright boilerplate; /root/reference/src/convert/naming.rs:
    * title = first H1, else first H2, else first non-empty non-heading
    * line, else the filename stem — then a collision-safe kebab-case
    * filename, numeric suffixes in deterministic origin order).
    * Runs over the embedded conversion artifacts plus notes.md.
    */
  def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdFiles = Indexes.codeFiles(s)
      .filter(col("origin").endsWith(".md") && col("language") === "markdown")
      .select(col("origin"), col("content"))
      .unionByName(convertDocs.toDF("origin", "content"))
    val lines = mdFiles.select(col("origin"),
        posexplode(split(col("content"), "\n")))
      .withColumnRenamed("col", "line")
    val flagged = lines.withColumn("noise",
      (col("line").rlike("^Page \\d+( of \\d+)?$") ||
        col("line").rlike("^© .*\\d{4}")).cast("int"))
    val cleaned = flagged.filter(col("noise") === 0)
    val pick = cleaned.withColumn("t", trim(col("line")))
      .withColumn("kind",
        when(col("t").rlike("^# [^#]"), 1)
          .when(col("t").rlike("^## [^#]"), 2)
          .when(col("t") =!= "" && !col("t").startsWith("#"), 3))
      .filter(col("kind").isNotNull)
    val best = TopK.perGroup(
        pick.withColumn("neg", -(col("kind") * lit(100000) + col("pos"))),
        Seq(col("origin")), col("neg"), col("pos"), 1)
      .withColumn("title",
        trim(regexp_replace(col("t"), "^#{1,2} ", "")))
      .select(col("origin"), col("title"))
    val noise = flagged.groupBy(col("origin"))
      .agg(sum(col("noise")).as("n_cleaned"))
    val titled = mdFiles.select(col("origin"))
      .join(best, Seq("origin"), "left")
      .withColumn("title2",
        when(col("title").isNull || col("title") === "",
          regexp_extract(col("origin"), "([^/]+?)(\\.[^./]*)?$", 1))
          .otherwise(col("title")))
      .withColumn("kebab", regexp_replace(regexp_replace(
        lower(col("title2")), "[^a-z0-9]+", "-"), "^-+|-+$", ""))
    val named = titled.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("kebab")).orderBy(col("origin").asc)))
      .withColumn("file_name",
        when(col("rn") === 1, col("kebab"))
          .otherwise(concat(col("kebab"), lit("-"),
            col("rn").cast("string"))))
    named.join(noise, Seq("origin"))
      .select(col("origin"), col("title2").as("title"), col("file_name"),
        col("n_cleaned").cast("long").as("n_cleaned"))
  }

  lazy val q96Sql: String = {
    val docsValues = convertDocs.map { case (o, c) => s"(${sq(o)}, ${sq(c)})" }
      .mkString(",\n")
    s"""WITH files(origin, language, content) AS (VALUES
       |${CodeFixtures.filesValuesSql}
       |),
       |docs AS (
       |  SELECT origin, content FROM files
       |  WHERE origin LIKE '%.md' AND language = 'markdown'
       |  UNION ALL
       |  SELECT * FROM (VALUES
       |$docsValues
       |  ) AS d(origin, content)),
       |lines AS (
       |  SELECT origin, unnest(range(0, len(ls))) AS pos,
       |    ls[unnest(range(0, len(ls))) + 1] AS line
       |  FROM (SELECT origin, string_split(content, chr(10)) AS ls FROM docs)),
       |flagged AS (
       |  SELECT origin, pos, line,
       |    CASE WHEN regexp_matches(line, '^Page \\d+( of \\d+)?$$')
       |           OR regexp_matches(line, '^© .*\\d{4}')
       |         THEN 1 ELSE 0 END AS noise
       |  FROM lines),
       |pick AS (
       |  SELECT origin, pos, trim(line) AS t,
       |    CASE WHEN regexp_matches(trim(line), '^# [^#]') THEN 1
       |         WHEN regexp_matches(trim(line), '^## [^#]') THEN 2
       |         WHEN trim(line) <> '' AND NOT starts_with(trim(line), '#') THEN 3
       |    END AS kind
       |  FROM flagged WHERE noise = 0),
       |best AS (
       |  SELECT origin,
       |    trim(regexp_replace(t, '^#{1,2} ', '')) AS title
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY origin
       |          ORDER BY kind * 100000 + pos ASC) AS rn
       |        FROM pick WHERE kind IS NOT NULL)
       |  WHERE rn = 1),
       |titled AS (
       |  SELECT d.origin,
       |    CASE WHEN b.title IS NULL OR b.title = ''
       |         THEN regexp_extract(d.origin, '([^/]+?)(\\.[^./]*)?$$', 1)
       |         ELSE b.title END AS title
       |  FROM (SELECT DISTINCT origin FROM docs) d
       |  LEFT JOIN best b USING (origin)),
       |named AS (
       |  SELECT origin, title,
       |    regexp_replace(regexp_replace(lower(title), '[^a-z0-9]+', '-', 'g'),
       |      '^-+|-+$$', '', 'g') AS kebab
       |  FROM titled),
       |suffixed AS (
       |  SELECT origin, title, kebab,
       |    ROW_NUMBER() OVER (PARTITION BY kebab ORDER BY origin ASC) AS rn
       |  FROM named),
       |noise AS (
       |  SELECT origin, CAST(SUM(noise) AS BIGINT) AS n_cleaned
       |  FROM flagged GROUP BY 1)
       |SELECT s.origin, s.title,
       |  CASE WHEN s.rn = 1 THEN s.kebab
       |       ELSE s.kebab || '-' || CAST(s.rn AS VARCHAR) END AS file_name,
       |  n.n_cleaned
       |FROM suffixed s JOIN noise n ON s.origin = n.origin""".stripMargin
  }

  /** q97 — polymorphic kind routing (/root/reference/src/kind.rs:
    * 1-30,210-249): a bare name is classified against the indexed
    * corpus by exact chunk-name match, the hit set reduces to a
    * routing resolution (0 hits → not_found; mixed kinds → ambiguous;
    * N same-kind hits → multiple; 1 hit → resolved), and each
    * resolution picks the graph-command fallback from the per-kind
    * routing matrix (kind.rs routing_priority + the
    * docs/polymorphic-routing.md behavior matrix: Function → call
    * graph, Type → type-users, Other → content search, miss → fuzzy
    * name search, ambiguous → disambiguation prompt).
    */
  def q97(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq("load_config", "Builder", "render", "Limits",
      "ghost_name").toDF("probe")
    val kinds = Indexes.codeChunks(s)
      .select(col("name").as("probe"),
        when(col("chunk_type") === "function", "Function")
          .when(col("chunk_type") === "class", "Type")
          .otherwise("Other").as("kind"))
    val agg = probes.join(kinds, Seq("probe"), "left")
      .groupBy(col("probe"))
      .agg(count(col("kind")).as("n_hits"),
        countDistinct(col("kind")).as("n_kinds"),
        coalesce(min(col("kind")), lit("")).as("kind0"))
    agg.select(col("probe"), col("n_hits"),
      when(col("n_hits") === 0, "not_found")
        .when(col("n_kinds") > 1, "ambiguous")
        .when(col("n_hits") > 1, "multiple")
        .otherwise("resolved").as("resolution"),
      when(col("n_hits") === 0 || col("n_kinds") > 1, "")
        .otherwise(col("kind0")).as("kind"),
      when(col("n_hits") === 0 || col("n_kinds") > 1, -1)
        .when(col("kind0") === "Function", 0)
        .when(col("kind0") === "Type", 1)
        .otherwise(4).cast("int").as("priority"),
      when(col("n_hits") === 0, "fuzzy_search")
        .when(col("n_kinds") > 1, "disambiguate")
        .when(col("kind0") === "Function", "call_graph")
        .when(col("kind0") === "Type", "type_users")
        .otherwise("content_search").as("fallback"))
  }

  lazy val q97Sql: String =
    s"""WITH spans AS (
       |  SELECT name, chunk_type FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)),
       |probes(probe) AS (VALUES ('load_config'), ('Builder'), ('render'),
       |  ('Limits'), ('ghost_name')),
       |kinds AS (
       |  SELECT name AS probe,
       |    CASE WHEN chunk_type = 'function' THEN 'Function'
       |         WHEN chunk_type = 'class' THEN 'Type'
       |         ELSE 'Other' END AS kind
       |  FROM spans),
       |agg AS (
       |  SELECT p.probe, CAST(COUNT(k.kind) AS BIGINT) AS n_hits,
       |    COUNT(DISTINCT k.kind) AS n_kinds,
       |    COALESCE(MIN(k.kind), '') AS kind0
       |  FROM probes p LEFT JOIN kinds k USING (probe)
       |  GROUP BY 1)
       |SELECT probe, n_hits,
       |  CASE WHEN n_hits = 0 THEN 'not_found'
       |       WHEN n_kinds > 1 THEN 'ambiguous'
       |       WHEN n_hits > 1 THEN 'multiple'
       |       ELSE 'resolved' END AS resolution,
       |  CASE WHEN n_hits = 0 OR n_kinds > 1 THEN '' ELSE kind0 END AS kind,
       |  CAST(CASE WHEN n_hits = 0 OR n_kinds > 1 THEN -1
       |       WHEN kind0 = 'Function' THEN 0
       |       WHEN kind0 = 'Type' THEN 1
       |       ELSE 4 END AS INT) AS priority,
       |  CASE WHEN n_hits = 0 THEN 'fuzzy_search'
       |       WHEN n_kinds > 1 THEN 'disambiguate'
       |       WHEN kind0 = 'Function' THEN 'call_graph'
       |       WHEN kind0 = 'Type' THEN 'type_users'
       |       ELSE 'content_search' END AS fallback
       |FROM agg""".stripMargin

  /** q83 — audit-mode search gate (/root/reference/src/audit.rs:1-12):
    * during a code audit / fresh-eyes review, prior observations must
    * not influence analysis, so audit mode EXCLUDES notes from
    * search — the note-sentiment boost leg is dropped wholesale, not
    * re-weighted. The query emits both rankings side by side: rank_normal
    * (notes boost ×(1+0.15·sentiment), q41's factor) vs rank_audit
    * (notes ignored), with the per-result rank shift — the exact
    * ranking delta audit mode exists to remove.
    *
    * Base relevance: 3-term content match count over function chunks
    * (integer, engine-independent); notes resolve to chunks by the
    * file-mention suffix rule (scout's component-boundary match).
    */
  def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fns = Indexes.codeChunks(s)
      .filter(col("chunk_type") === "function")
      .select(col("origin"), col("name"), lower(col("content")).as("lc"))
      .withColumn("base",
        (when(col("lc").contains("config"), 1).otherwise(0) +
         when(col("lc").contains("render"), 1).otherwise(0) +
         when(col("lc").contains("retry"), 1).otherwise(0)).cast("long"))
      .filter(col("base") >= 1)
      .drop("lc")
    val notes = CodeFixtures.notes
      .toDF("note_id", "mention", "note", "sentiment")
      .select(col("mention"), col("sentiment"))
    // Same bounded non-equi shape as q67's noteCounts: broadcast notes
    // stay project-memory-sized, so the suffix predicate is evaluated
    // on |matching fns|·|notes| pairs — acceptable while notes are
    // human-written; see the q67 comment for the scale-up alternative.
    val sents = fns.join(broadcast(notes),
        col("origin") === col("mention") ||
          col("origin").endsWith(concat(lit("/"), col("mention"))), "left")
      .groupBy(col("origin"), col("name"), col("base"))
      .agg(coalesce(sum(col("sentiment")), lit(0.0)).as("s_sum"))
    val scored = sents.withColumn("score_norm_r",
      round(col("base") * (lit(1.0) + lit(0.15) * col("s_sum")), 6))
    val wNorm = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_norm_r").desc, col("origin").asc, col("name").asc)
    val wAudit = org.apache.spark.sql.expressions.Window
      .orderBy(col("base").desc, col("origin").asc, col("name").asc)
    scored
      .withColumn("rank_normal", row_number().over(wNorm).cast("int"))
      .withColumn("rank_audit", row_number().over(wAudit).cast("int"))
      .select(col("origin"), col("name"), col("base"), col("score_norm_r"),
        col("rank_normal"), col("rank_audit"),
        (col("rank_normal") - col("rank_audit")).cast("int").as("shift"))
  }

  lazy val q83Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |fns AS (
       |  SELECT sp.origin, sp.name,
       |    lower(array_to_string(f.ls[sp.start_line:sp.end_line], chr(10))) AS lc
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type = 'function'),
       |based AS (
       |  SELECT origin, name,
       |    CAST((CASE WHEN contains(lc, 'config') THEN 1 ELSE 0 END) +
       |         (CASE WHEN contains(lc, 'render') THEN 1 ELSE 0 END) +
       |         (CASE WHEN contains(lc, 'retry') THEN 1 ELSE 0 END) AS BIGINT)
       |      AS base
       |  FROM fns),
       |notes(note_id, mention, note, sentiment) AS (VALUES
       |${CodeFixtures.notesValuesSql}
       |),
       |sents AS (
       |  SELECT b.origin, b.name, b.base,
       |    COALESCE(SUM(n.sentiment), 0.0e0) AS s_sum
       |  FROM based b
       |  LEFT JOIN notes n
       |    ON b.origin = n.mention OR ends_with(b.origin, '/' || n.mention)
       |  WHERE b.base >= 1
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT origin, name, base,
       |    ROUND(base * (1.0e0 + 0.15e0 * s_sum), 6) AS score_norm_r
       |  FROM sents)
       |SELECT origin, name, base, score_norm_r,
       |  CAST(ROW_NUMBER() OVER (ORDER BY score_norm_r DESC, origin ASC, name ASC) AS INT)
       |    AS rank_normal,
       |  CAST(ROW_NUMBER() OVER (ORDER BY base DESC, origin ASC, name ASC) AS INT)
       |    AS rank_audit,
       |  CAST(CAST(ROW_NUMBER() OVER (ORDER BY score_norm_r DESC, origin ASC, name ASC) AS INT) -
       |       CAST(ROW_NUMBER() OVER (ORDER BY base DESC, origin ASC, name ASC) AS INT) AS INT)
       |    AS shift
       |FROM scored""".stripMargin

  /** q84 — watch-mode freshness snapshot
    * (/root/reference/src/watch_status.rs:1-16): the daemon keeps a
    * live picture of the index's relationship to the working tree —
    * how many files changed since the last reindex, whether the index
    * is fresh — so agents can GATE work on freshness. Batch shape: the
    * fingerprint worklist (q40's reconcile) reduced to the status
    * metrics the snapshot serves: per-class pending counts, index
    * size, staleness fraction, and the is_fresh bit.
    *
    * The synthetic working-tree delta: notes.md added since the last
    * index (new), web.js edited (changed fingerprint), gone.rs removed
    * but still indexed (deleted).
    */
  def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val current = Indexes.codeFiles(s)
      .select(col("origin"), md5(col("content")).as("fp"))
    val registry = Indexes.codeFiles(s)
      .filter(!col("origin").endsWith("/notes.md"))
      .select(col("origin"),
        when(col("origin").endsWith("/web.js"), lit("stale-fp"))
          .otherwise(md5(col("content"))).as("fp"))
      .unionByName(Seq(("fixtures/gone.rs", "ghost-fp")).toDF("origin", "fp"))
    val wl = Incremental.worklist(current, registry, "origin", "fp")
    val byClass = wl.groupBy(col("reason").as("metric"))
      .agg(count(lit(1)).as("value"))
    val total = wl.agg(count(lit(1)).as("value"))
      .select(lit("observed_total").as("metric"), col("value"))
    val idx = registry.agg(count(lit(1)).as("value"))
      .select(lit("index_size").as("metric"), col("value"))
    val fresh = wl.agg((count(lit(1)) === 0).cast("long").as("value"))
      .select(lit("is_fresh").as("metric"), col("value"))
    val metrics = byClass.unionByName(total).unionByName(idx).unionByName(fresh)
    metrics.crossJoin(broadcast(
        idx.select(col("value").as("idx_n"))))
      .select(col("metric"), col("value"),
        round(col("value").cast("double") / col("idx_n"), 6).as("pct_r"))
  }

  lazy val q84Sql: String =
    s"""WITH files(origin, language, content) AS (VALUES
       |${CodeFixtures.filesValuesSql}
       |),
       |current AS (SELECT origin, md5(content) AS cur_fp FROM files),
       |registry AS (
       |  SELECT origin,
       |    CASE WHEN ends_with(origin, '/web.js') THEN 'stale-fp'
       |         ELSE md5(content) END AS reg_fp
       |  FROM files WHERE NOT ends_with(origin, '/notes.md')
       |  UNION ALL SELECT 'fixtures/gone.rs', 'ghost-fp'),
       |wl AS (
       |  SELECT COALESCE(c.origin, r.origin) AS origin,
       |    CASE WHEN r.reg_fp IS NULL THEN 'new'
       |         WHEN c.cur_fp IS NULL THEN 'deleted'
       |         WHEN c.cur_fp != r.reg_fp THEN 'changed' END AS reason
       |  FROM current c FULL OUTER JOIN registry r ON c.origin = r.origin),
       |pending AS (SELECT * FROM wl WHERE reason IS NOT NULL),
       |metrics AS (
       |  SELECT reason AS metric, CAST(COUNT(*) AS BIGINT) AS value
       |  FROM pending GROUP BY 1
       |  UNION ALL SELECT 'observed_total', CAST(COUNT(*) AS BIGINT) FROM pending
       |  UNION ALL SELECT 'index_size', CAST(COUNT(*) AS BIGINT) FROM registry
       |  UNION ALL SELECT 'is_fresh',
       |    CAST(CASE WHEN COUNT(*) = 0 THEN 1 ELSE 0 END AS BIGINT) FROM pending)
       |SELECT metric, value,
       |  ROUND(value::DOUBLE / (SELECT COUNT(*) FROM registry), 6) AS pct_r
       |FROM metrics""".stripMargin

  lazy val q82Sql: String =
    s"""WITH files(origin, language, content) AS (VALUES
       |${CodeFixtures.filesValuesSql}
       |),
       |delta(origin, language, content) AS (VALUES
       |$overlayDeltaValuesSql
       |),
       |mask(origin) AS (VALUES
       |${overlayMaskedOrigins.map(o => s"(${sq(o)})").mkString(", ")}),
       |parent_spans AS (
       |  SELECT origin, chunk_type, name, start_line, end_line
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)
       |  WHERE chunk_type IN ('function', 'class')),
       |overlay_spans AS (
       |  SELECT origin, chunk_type, name, start_line, end_line
       |  FROM (VALUES
       |$overlayGoldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)
       |  WHERE chunk_type IN ('function', 'class')),
       |visible AS (
       |  SELECT sp.origin, sp.chunk_type, sp.name, sp.start_line, sp.end_line,
       |    'parent' AS src,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM parent_spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.origin NOT IN (SELECT origin FROM mask)),
       |ovl AS (
       |  SELECT sp.origin, sp.chunk_type, sp.name, sp.start_line, sp.end_line,
       |    'overlay' AS src,
       |    array_to_string(d.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM overlay_spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM delta) d
       |    USING (origin)),
       |merged AS (SELECT * FROM visible UNION ALL SELECT * FROM ovl)
       |SELECT origin, chunk_type, name,
       |  CAST(start_line AS INT) AS start_line,
       |  CAST(end_line AS INT) AS end_line, src,
       |  CAST(CASE WHEN contains(content, 'render(') THEN 1 ELSE 0 END AS INT) AS hits
       |FROM merged""".stripMargin

  /** Rendered type-dependency cap for the focused read — the
    * reference's CQS_READ_TYPE_DEPS (default 50,
    * /root/reference/src/cli/commands/io/read.rs:26). 2 here so the
    * fixture corpus exercises the truncation branch (the cap is a
    * display knob, not a semantic).
    */
  val ReadTypeDepsCap = 2

  /** q100 — focused read: the per-function report `cqs read --focus`
    * assembles (/root/reference/src/cli/commands/io/read.rs:174-374):
    * caller/test hints (distinct callers; test chunks within the
    * depth-5 reverse closure, seed excluded — impact/hints.rs:37-74),
    * injected note lines (STRICT name/path equality, the focused
    * path's rule), type dependencies (first-kind dedup in the store's
    * (edge_kind, type_name) order, COMMON_TYPES filtered, capped with
    * a truncation flag), and the injection flags computed over the
    * UNION of relayed surfaces — focus doc + content + every resolved
    * type-definition body appended to the read (read.rs:352-364: a
    * payload in a relayed type-dep must fire, not just one in the
    * focus chunk). Type definitions resolve to the min-origin class
    * chunk, the deterministic stand-in for the reference's
    * search-ranked lookup.
    *
    * Scale: hints/notes/type-deps are per-key aggregates over the
    * prebuilt edge tables; the only iterated stage is the depth-5
    * test closure, the shared capped BFS (one cut per level).
    */
  def q100(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = Indexes.codeChunks(s)
    val fns = chunks.filter(col("chunk_type") === "function")
      .select(col("name"), col("origin"), col("content"), col("doc"))
    // test hints need only reachability FROM test functions, so the
    // depth-5 closure seeds forward from the test set instead of
    // computing all-pairs ancestry — the frontier is |tests| × reach,
    // not |functions| × reach (the same asymmetry the reference
    // exploits by intersecting reverse_bfs with the test-chunk list).
    // The resolved-distinct pair frame is the persisted resolved_edges
    // store artifact (unresolved callees — a class name, say — never
    // become closure nodes; the oracle's edges CTE resolves the same
    // way); the caller counts, the test seeds and every BFS level read
    // it, so a derived frame is lineage-cut once (a prebuilt one is
    // already a scan).
    val fwd = graft.operators.Materialize.unlessScan(Indexes.resolvedCallEdges(s))
    // caller_count is COUNT(DISTINCT caller), which is invariant under
    // pair-dedup — compute it from the fwd frame instead of a second
    // scan+semijoin of the raw edge table
    val callerCnt = fwd.groupBy(col("callee").as("name"))
      .agg(countDistinct(col("caller")).as("caller_count"))
    // per-test depth-5 forward closure through the shared labeled BFS
    // (visited-set + pair rail; fwd is a scan or a cut already, so the
    // operator reads it as it is). Seeding each test at depth 0 makes
    // depth 1 exactly the old level-1 pair set; the (t, t) depth-0
    // pairs were already filtered by =!= below.
    val tseeds = fwd.filter(col("caller").startsWith("test_"))
      .select(col("caller").as("seed")).distinct()
      .withColumn("node", col("seed"))
    val treached = graft.operators.GraphOps.bfsLabeled(
        fwd.select(col("caller").as("src"), col("callee").as("dst")),
        tseeds, maxDepth = 5)
      .filter(col("depth") >= 1)
    val testCnt = treached
      .select(col("seed").as("t"), col("node"))
      .filter(col("node") =!= col("t"))
      .groupBy(col("node").as("name"))
      .agg(countDistinct(col("t")).as("test_count"))

    val notes = {
      import s.implicits._
      CodeFixtures.notes.toDF("note_id", "mention", "note", "sentiment")
    }
    // OR-predicate matching (mention = name OR mention = origin) as two
    // DISJOINT equi-join branches: the second keeps only pairs the
    // first didn't already produce, so their union is exactly the OR
    // join's row multiset. Each branch hash-joins on its equi key —
    // the OR form forced a BroadcastNestedLoopJoin evaluating the
    // predicate on every (function, note) pair, O(|fns|·|notes|),
    // which is the plan edge that breaks first when the notes table
    // grows past broadcast size at 100× corpus.
    val fnKeys = fns.select(col("name"), col("origin"))
    val noteAgg = fnKeys.join(notes, col("mention") === col("name"))
      .unionByName(fnKeys.join(notes,
        col("mention") === col("origin") && col("mention") =!= col("name")))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n_notes"),
        array_join(transform(array_sort(collect_list(struct(
          col("note_id"),
          concat(lit("["),
            when(col("sentiment") < -0.3, "warning")
              .when(col("sentiment") > 0.3, "pattern")
              .otherwise("neutral"),
            lit("] "),
            trim(substring_index(col("note"), "\n", 1))).as("line")))),
          x => x("line")), "|").as("note_lines"))

    val userTypes = Indexes.typeEdges(s)
      .filter(!col("type_name").isin(CommonTypeList: _*))
      .select(col("chunk_name"), col("type_name"), col("edge_kind")).distinct()
    val firstKind = userTypes.groupBy(col("chunk_name"), col("type_name"))
      .agg(min(col("edge_kind")).as("kind"))
    val rkW = Window.partitionBy(col("chunk_name"))
      .orderBy(col("kind"), col("type_name"))
    val ranked = firstKind.withColumn("rk", row_number().over(rkW))
    // one aggregation produces BOTH the total count and the capped
    // listing (collect_list drops the null rows the cap condition
    // leaves) — was two groupBys over the same ranked frame, i.e. one
    // avoidable shuffle of it. Every name in ranked has an rk=1 row,
    // so the conditional collect is never empty where the old
    // kept-only aggregate had a row.
    val typeAgg = ranked.groupBy(col("chunk_name").as("name"))
      .agg(count(lit(1)).as("n_type_deps"),
        array_join(transform(array_sort(collect_list(
          when(col("rk") <= ReadTypeDepsCap, struct(col("rk"),
            concat(col("type_name"), lit("["), col("kind"), lit("]")).as("t"))))),
          x => x("t")), ",").as("type_deps"))
    val kept = ranked.filter(col("rk") <= ReadTypeDepsCap)

    // (origin, start_line) fully orders same-named class chunks — a
    // struct and its impl block share origin AND name, and the earlier
    // span is the definition (content bytes would pick the impl)
    val classDefs = chunks.filter(col("chunk_type") === "class")
      .groupBy(col("name").as("type_name"))
      .agg(min(struct(col("origin"), col("start_line"), col("content"))).as("d"))
      .select(col("type_name"), col("d.content").as("def_content"))
    val bodyAgg = kept.join(classDefs, Seq("type_name"))
      .groupBy(col("chunk_name").as("name"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("rk"),
        col("def_content").as("b")))), x => x("b")), "\n").as("bodies"))

    fns
      .join(callerCnt, Seq("name"), "left")
      .join(testCnt, Seq("name"), "left")
      .join(noteAgg, Seq("name"), "left")
      .join(typeAgg, Seq("name"), "left")
      .join(bodyAgg, Seq("name"), "left")
      .select(
        col("name"), col("origin"),
        coalesce(col("caller_count"), lit(0L)).as("caller_count"),
        coalesce(col("test_count"), lit(0L)).as("test_count"),
        coalesce(col("n_notes"), lit(0L)).as("n_notes"),
        coalesce(col("note_lines"), lit("")).as("note_lines"),
        coalesce(col("n_type_deps"), lit(0L)).as("n_type_deps"),
        coalesce(col("type_deps"), lit("")).as("type_deps"),
        (coalesce(col("n_type_deps"), lit(0L)) > ReadTypeDepsCap).as("truncated"),
        concat_ws(",", Summaries.injectionFlags(concat(
          col("doc"), lit("\n"), col("content"),
          when(col("bodies").isNotNull, concat(lit("\n"), col("bodies")))
            .otherwise(lit(""))))).as("injection_flags"))
  }

  lazy val q100Sql: String =
    s"""WITH $edgesCteSql,
       |callers AS (
       |  SELECT callee AS name, CAST(COUNT(DISTINCT caller) AS BIGINT) AS caller_count
       |  FROM edges GROUP BY 1),
       |fwd AS (SELECT DISTINCT caller, callee FROM edges),
       |t1 AS (
       |  SELECT DISTINCT caller AS t, callee AS node FROM fwd
       |  WHERE starts_with(caller, 'test_')),
       |t2 AS (SELECT DISTINCT a.t, e.callee AS node FROM t1 a JOIN fwd e ON e.caller = a.node),
       |t3 AS (SELECT DISTINCT a.t, e.callee AS node FROM t2 a JOIN fwd e ON e.caller = a.node),
       |t4 AS (SELECT DISTINCT a.t, e.callee AS node FROM t3 a JOIN fwd e ON e.caller = a.node),
       |t5 AS (SELECT DISTINCT a.t, e.callee AS node FROM t4 a JOIN fwd e ON e.caller = a.node),
       |tcnt AS (
       |  SELECT node AS name, CAST(COUNT(DISTINCT t) AS BIGINT) AS test_count
       |  FROM (
       |    SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL
       |    SELECT * FROM t3 UNION ALL SELECT * FROM t4 UNION ALL SELECT * FROM t5)
       |  WHERE node <> t GROUP BY 1),
       |notes(note_id, mention, note, sentiment) AS (VALUES
       |${CodeFixtures.notesValuesSql}
       |),
       |docspans AS (
       |  SELECT origin, chunk_type, name, start_line, end_line, doc
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)),
       |fbody AS (
       |  SELECT sp.name, sp.origin, sp.doc,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM docspans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type = 'function'),
       |noteagg AS (
       |  SELECT fn.name, CAST(COUNT(*) AS BIGINT) AS n_notes,
       |    string_agg('[' ||
       |      CASE WHEN n.sentiment < -0.3e0 THEN 'warning'
       |           WHEN n.sentiment > 0.3e0 THEN 'pattern'
       |           ELSE 'neutral' END || '] ' ||
       |      trim(string_split(n.note, chr(10))[1]), '|' ORDER BY n.note_id)
       |      AS note_lines
       |  FROM fbody fn JOIN notes n
       |    ON n.mention = fn.name OR n.mention = fn.origin
       |  GROUP BY 1),
       |tedges AS (
       |${q56Sql}
       |),
       |ut AS (
       |  SELECT DISTINCT chunk_name, type_name, edge_kind FROM tedges
       |  WHERE type_name NOT IN ($commonTypesSql)),
       |fk AS (
       |  SELECT chunk_name, type_name, MIN(edge_kind) AS kind
       |  FROM ut GROUP BY 1, 2),
       |rk AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY chunk_name ORDER BY kind, type_name) AS rn
       |  FROM fk),
       |totals AS (
       |  SELECT chunk_name AS name, CAST(COUNT(*) AS BIGINT) AS n_type_deps
       |  FROM rk GROUP BY 1),
       |keptagg AS (
       |  SELECT chunk_name AS name,
       |    string_agg(type_name || '[' || kind || ']', ',' ORDER BY rn)
       |      AS type_deps
       |  FROM rk WHERE rn <= $ReadTypeDepsCap GROUP BY 1),
       |classdefs AS (
       |  SELECT name AS type_name, content AS def_content FROM (
       |    SELECT sp.name,
       |      array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content,
       |      row_number() OVER (PARTITION BY sp.name
       |        ORDER BY sp.origin, sp.start_line) AS r
       |    FROM spans sp
       |    JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |      USING (origin)
       |    WHERE sp.chunk_type = 'class')
       |  WHERE r = 1),
       |bodyagg AS (
       |  SELECT rk.chunk_name AS name,
       |    string_agg(cd.def_content, chr(10) ORDER BY rk.rn) AS bodies
       |  FROM rk JOIN classdefs cd USING (type_name)
       |  WHERE rk.rn <= $ReadTypeDepsCap
       |  GROUP BY 1),
       |scan AS (
       |  SELECT fn.name, fn.origin,
       |    COALESCE(c.caller_count, 0) AS caller_count,
       |    COALESCE(t.test_count, 0) AS test_count,
       |    COALESCE(na.n_notes, 0) AS n_notes,
       |    COALESCE(na.note_lines, '') AS note_lines,
       |    COALESCE(tt.n_type_deps, 0) AS n_type_deps,
       |    COALESCE(ka.type_deps, '') AS type_deps,
       |    COALESCE(tt.n_type_deps, 0) > $ReadTypeDepsCap AS truncated,
       |    fn.doc || chr(10) || fn.content ||
       |      COALESCE(chr(10) || ba.bodies, '') AS scan_text
       |  FROM fbody fn
       |  LEFT JOIN callers c USING (name)
       |  LEFT JOIN tcnt t USING (name)
       |  LEFT JOIN noteagg na USING (name)
       |  LEFT JOIN totals tt USING (name)
       |  LEFT JOIN keptagg ka USING (name)
       |  LEFT JOIN bodyagg ba USING (name))
       |SELECT name, origin, caller_count, test_count, n_notes, note_lines,
       |  n_type_deps, type_deps, truncated,
       |  ${Summaries.injectionFlagsSql("scan_text")} AS injection_flags
       |FROM scan""".stripMargin

  /** Signal words preserving a thin existing doc
    * (/root/reference/src/llm/doc_comments.rs:14-27): a short doc
    * carrying one of these marks intentional safety/maintenance signal
    * and must NOT be replaced by generated text.
    */
  val SignalWords: Seq[String] = Seq("SAFETY", "UNSAFE", "INVARIANT",
    "TODO", "FIXME", "HACK", "NOTE", "XXX", "BUG", "DEPRECATED",
    "SECURITY", "WARN")

  /** q101 — the doc-comment generation pass
    * (/root/reference/src/llm/doc_comments.rs): eligibility selection
    * (callable, non-test by name/path/content markers, writable source
    * language, doc missing or thin-under-30-chars with no signal
    * word), the (content_hash, purpose)-keyed cache short-circuit,
    * stub generation for misses (content-echoing so the validation
    * layer has something to catch), validate-before-cache via the q99
    * injection heuristics (fresh generations only — cached rows were
    * validated at insert), and the DocWriter patch plan for every
    * accepted doc. mirror_feed is the designed reject: its generated
    * doc echoes a body URL; push_metrics is the signal-word negative
    * (thin TODO doc stays).
    */
  def q101(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DocWriter
    val signalRe = SignalWords.mkString("(", "|", ")")
    val fns = Indexes.codeChunks(s)
      .filter(col("chunk_type") === "function" &&
        col("language").isin(DocWriter.Supported: _*))
      .filter(!col("name").startsWith("test_") &&
        !col("origin").contains("test") &&
        !col("origin").startsWith("docs/") &&
        !col("origin").contains("/docs/") &&
        !col("content").contains("#[test]") &&
        !col("content").contains("#[cfg(test)]"))
      .withColumn("tdoc", trim(col("doc")))
      .withColumn("reason",
        when(col("tdoc") === "", "missing")
          .when(length(col("tdoc")) < 30 &&
            !upper(col("tdoc")).rlike(signalRe), "thin"))
      .filter(col("reason").isNotNull)
    val enriched = fns
      .withColumn("cached",
        substring(md5(col("content")), 1, 1) <= "4")
      .withColumn("doc_text",
        when(col("cached"), concat(lit("cached: "),
          substring(md5(concat(lit("doc:"), md5(col("content")))), 1, 12)))
          .otherwise(concat(lit("Documents "), col("name"), lit(": "),
            substring(col("content"), 1, 80))))
      .withColumn("flags",
        when(col("cached"), lit(""))
          .otherwise(concat_ws(",",
            Summaries.injectionFlags(Summaries.clipSummary(col("doc_text"))))))
      .withColumn("outcome",
        when(col("cached"), lit("cached"))
          .when(col("flags") =!= "",
            concat(lit("reject:"), split(col("flags"), ",")(0)))
          .otherwise(lit("accept")))
    enriched
      .withColumn("ind",
        regexp_extract(element_at(split(col("content"), "\n"), 1), "^[ \t]*", 0))
      .select(col("origin"), col("name"), col("language"), col("reason"),
        col("cached").as("from_cache"), col("doc_text"), col("flags"),
        col("outcome"),
        DocWriter.insertLine(col("language"), col("start_line"))
          .cast("int").as("insert_line"),
        when(col("outcome").startsWith("reject:"), lit(""))
          .otherwise(DocWriter.patch(col("language"), col("ind"),
            col("name"), col("doc_text"))).as("patch"))
  }

  lazy val q101Sql: String = {
    val signalRe = SignalWords.mkString("(", "|", ")")
    s"""WITH $filesAndSpansCteSql,
       |fns AS (
       |  SELECT sp.origin, sp.name, sp.language, sp.start_line,
       |    trim(sp.doc) AS tdoc,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content,
       |    f.ls[sp.start_line] AS sig
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type = 'function'
       |    AND sp.language IN ('rust','python','javascript','go','java','csharp','shell')
       |    AND NOT starts_with(sp.name, 'test_')
       |    AND NOT contains(sp.origin, 'test')
       |    AND NOT starts_with(sp.origin, 'docs/')
       |    AND NOT contains(sp.origin, '/docs/')),
       |elig AS (
       |  SELECT *,
       |    CASE WHEN tdoc = '' THEN 'missing'
       |         WHEN length(tdoc) < 30
       |           AND NOT regexp_matches(upper(tdoc), '$signalRe')
       |         THEN 'thin' END AS reason
       |  FROM fns
       |  WHERE NOT contains(content, '#[test]')
       |    AND NOT contains(content, '#[cfg(test)]')),
       |gen AS (
       |  SELECT *,
       |    substr(md5(content), 1, 1) <= '4' AS cached,
       |    CASE WHEN substr(md5(content), 1, 1) <= '4'
       |      THEN 'cached: ' || substr(md5('doc:' || md5(content)), 1, 12)
       |      ELSE 'Documents ' || name || ': ' || substr(content, 1, 80)
       |    END AS doc_text
       |  FROM elig WHERE reason IS NOT NULL),
       |clp AS (
       |  -- validate-after-truncate, the validation.rs:94 order the
       |  -- Spark side applies via clipSummary — a payload past the cap
       |  -- must NOT fire
       |  SELECT *,
       |    CASE WHEN length(doc_text) > 1500
       |         THEN substr(doc_text, 1, 1500) || '…'
       |         ELSE doc_text END AS clipped
       |  FROM gen),
       |fl2 AS (
       |  SELECT *,
       |    CASE WHEN cached THEN ''
       |         ELSE ${Summaries.injectionFlagsSql("clipped")}
       |    END AS flags
       |  FROM clp),
       |oc AS (
       |  SELECT *,
       |    CASE WHEN cached THEN 'cached'
       |         WHEN flags <> '' THEN 'reject:' || string_split(flags, ',')[1]
       |         ELSE 'accept' END AS outcome,
       |    regexp_extract(sig, '^[ \\t]*') AS ind
       |  FROM fl2)
       |SELECT origin, name, language, reason, cached AS from_cache,
       |  doc_text, flags, outcome,
       |  CAST(CASE WHEN language = 'python' THEN start_line + 1
       |       ELSE start_line END AS INT) AS insert_line,
       |  CASE WHEN starts_with(outcome, 'reject:') THEN ''
       |    WHEN language = 'rust' THEN ind || '/// ' || doc_text || chr(10)
       |    WHEN language = 'go' THEN ind || '// ' || name || ' ' || doc_text || chr(10)
       |    WHEN language = 'shell' THEN ind || '# ' || doc_text || chr(10)
       |    WHEN language = 'python' THEN
       |      ind || '    ' || repeat(chr(34), 3) || chr(10) ||
       |      ind || '    ' || doc_text || chr(10) ||
       |      ind || '    ' || repeat(chr(34), 3) || chr(10)
       |    ELSE
       |      ind || '/**' || chr(10) ||
       |      ind || ' * ' || doc_text || chr(10) ||
       |      ind || ' */' || chr(10)
       |  END AS patch
       |FROM oc""".stripMargin
  }

  /** q102 — file context report: the `cqs context` module-level view
    * (/root/reference/src/cli/commands/io/context.rs:108-322) as one
    * row per indexed file: chunk/function counts, EXTERNAL callers
    * (calls into this file's functions from chunks in other files,
    * with their file and target), the dependent-file set those callers
    * span, and external callees (names this file's chunks call that
    * are not defined in the file). Lists are emitted sorted (the
    * reference's first-seen iteration order is map-iteration
    * dependent; sorted is the deterministic equivalent).
    *
    * Scale: three aggregates over the prebuilt chunk/edge tables, all
    * keyed by file — no iteration, no windows.
    */
  def q102(s: SparkSession, dir: String): DataFrame = {
    val chunks = Indexes.codeChunks(s)
    val edges = Indexes.callEdges(s)
    val counts = chunks.groupBy(col("origin").as("file"))
      .agg(count(lit(1)).as("chunk_count"),
        sum(when(col("chunk_type") === "function", 1).otherwise(0))
          .as("function_count"))
    val fnDef = chunks.filter(col("chunk_type") === "function")
      .select(col("name").as("callee"), col("origin").as("def_file")).distinct()
    val in = edges.join(fnDef, Seq("callee"))
      .filter(col("origin") =!= col("def_file"))
      .select(col("def_file").as("file"),
        concat(col("caller"), lit("("), col("origin"), lit(")->"),
          col("callee")).as("ext"),
        col("origin").as("dep")).distinct()
    val inAgg = in.groupBy(col("file"))
      .agg(countDistinct(col("ext")).as("n_external_callers"),
        concat_ws("|", array_sort(collect_set(col("ext"))))
          .as("external_callers"),
        countDistinct(col("dep")).as("n_dependent_files"),
        concat_ws("|", array_sort(collect_set(col("dep"))))
          .as("dependent_files"))
    // external callee = resolvable somewhere, NOT defined in this file
    // (a name defined locally AND elsewhere is local — context.rs:307)
    val out = edges.select(col("origin").as("file"), col("callee")).distinct()
      .join(fnDef.select(col("callee")).distinct(), Seq("callee"), "leftsemi")
      .join(fnDef.select(col("callee"), col("def_file").as("file")),
        Seq("callee", "file"), "leftanti")
    val outAgg = out.groupBy(col("file"))
      .agg(countDistinct(col("callee")).as("n_external_callees"),
        concat_ws("|", array_sort(collect_set(col("callee"))))
          .as("external_callees"))
    counts
      .join(inAgg, Seq("file"), "left")
      .join(outAgg, Seq("file"), "left")
      .select(col("file"), col("chunk_count"), col("function_count"),
        coalesce(col("n_external_callers"), lit(0L)).as("n_external_callers"),
        coalesce(col("external_callers"), lit("")).as("external_callers"),
        coalesce(col("n_dependent_files"), lit(0L)).as("n_dependent_files"),
        coalesce(col("dependent_files"), lit("")).as("dependent_files"),
        coalesce(col("n_external_callees"), lit(0L)).as("n_external_callees"),
        coalesce(col("external_callees"), lit("")).as("external_callees"))
  }

  lazy val q102Sql: String =
    s"""WITH $edgesCteSql,
       |counts AS (
       |  SELECT origin AS file, CAST(COUNT(*) AS BIGINT) AS chunk_count,
       |    CAST(SUM(CASE WHEN chunk_type = 'function' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS function_count
       |  FROM spans GROUP BY 1),
       |fndef AS (
       |  SELECT DISTINCT name AS callee, origin AS def_file
       |  FROM spans WHERE chunk_type = 'function'),
       |inc AS (
       |  SELECT DISTINCT fd.def_file AS file,
       |    e.caller || '(' || e.src_file || ')->' || e.callee AS ext,
       |    e.src_file AS dep
       |  FROM edges e JOIN fndef fd USING (callee)
       |  WHERE e.src_file <> fd.def_file),
       |inagg AS (
       |  SELECT file,
       |    CAST(COUNT(DISTINCT ext) AS BIGINT) AS n_external_callers,
       |    array_to_string(list_sort(list_distinct(array_agg(ext))), '|')
       |      AS external_callers,
       |    CAST(COUNT(DISTINCT dep) AS BIGINT) AS n_dependent_files,
       |    array_to_string(list_sort(list_distinct(array_agg(dep))), '|')
       |      AS dependent_files
       |  FROM inc GROUP BY 1),
       |outc AS (
       |  -- edges are pre-resolved in this CTE chain; external = no
       |  -- local definition (a locally-defined name is never external)
       |  SELECT DISTINCT e.src_file AS file, e.callee
       |  FROM edges e
       |  WHERE NOT EXISTS (SELECT 1 FROM fndef fd
       |                    WHERE fd.callee = e.callee
       |                      AND fd.def_file = e.src_file)),
       |outagg AS (
       |  SELECT file,
       |    CAST(COUNT(DISTINCT callee) AS BIGINT) AS n_external_callees,
       |    array_to_string(list_sort(list_distinct(array_agg(callee))), '|')
       |      AS external_callees
       |  FROM outc GROUP BY 1)
       |SELECT c.file, c.chunk_count, c.function_count,
       |  COALESCE(i.n_external_callers, 0) AS n_external_callers,
       |  COALESCE(i.external_callers, '') AS external_callers,
       |  COALESCE(i.n_dependent_files, 0) AS n_dependent_files,
       |  COALESCE(i.dependent_files, '') AS dependent_files,
       |  COALESCE(o.n_external_callees, 0) AS n_external_callees,
       |  COALESCE(o.external_callees, '') AS external_callees
       |FROM counts c
       |LEFT JOIN inagg i USING (file)
       |LEFT JOIN outagg o USING (file)""".stripMargin

  /** Glob patterns for q103 — each shape of the translator gets a
    * trap: single-segment `*` must not cross '/', `**` must, `?` is
    * one non-separator char, and metachars ('.') are escaped.
    */
  val GlobPatterns: Seq[(String, String)] = Seq(
    ("g1", "fixtures/*.py"),
    ("g2", "**/*.rs"),
    ("g3", "*.py"), // no directory part — must match NOTHING here
    ("g4", "fixtures/????.py"),
    ("g5", "fixtures/Main.java"))

  /** q103 — glob path filter under the gate
    * (/root/reference/src/store/helpers/search_filter.rs glob
    * semantics): `Structural.globFilter` predicates applied to the
    * chunk origins; the oracle re-derives each pattern as an
    * independently hand-written regex (`[^/]*` vs `.*` vs `[^/]`),
    * so the translator itself — not its output — is what's checked.
    */
  def q103(s: SparkSession, dir: String): DataFrame = {
    val origins = Indexes.codeChunks(s).select(col("origin")).distinct()
    GlobPatterns.map { case (id, g) =>
      origins.filter(Structural.globFilter(col("origin"), g))
        .select(lit(id).as("pattern_id"), lit(g).as("glob_pat"), col("origin"))
    }.reduce(_ unionByName _)
  }

  lazy val q103Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |origins AS (SELECT DISTINCT origin FROM spans),
       |pats(pattern_id, glob_pat, rx) AS (VALUES
       |  ('g1', 'fixtures/*.py',     '^fixtures/[^/]*\\.py$$'),
       |  ('g2', '**/*.rs',           '^.*/[^/]*\\.rs$$'),
       |  ('g3', '*.py',              '^[^/]*\\.py$$'),
       |  ('g4', 'fixtures/????.py',  '^fixtures/[^/][^/][^/][^/]\\.py$$'),
       |  ('g5', 'fixtures/Main.java','^fixtures/Main\\.java$$'))
       |SELECT p.pattern_id, p.glob_pat, o.origin
       |FROM pats p JOIN origins o ON regexp_matches(o.origin, p.rx)""".stripMargin

  /** Query set for q104 — e3 is the dedup trap: the first `search`
    * inserts its synonyms (including `find`), so the later base token
    * `find` must keep its EARLIER synonym position, and the repeated
    * `search` inserts nothing.
    */
  val ExpandQueries: Seq[(String, String)] = Seq(
    ("e1", "delete the config entry"),
    ("e2", "fetch remove error"),
    ("e3", "search search find"),
    ("e4", "Create-new_things"))

  /** q104 — synonym query expansion under the gate
    * (/root/reference/src/search/synonyms.rs): base tokens in order,
    * each followed by its synonym list, deduplicated keeping the FIRST
    * occurrence (expansion must not re-rank original tokens). The
    * oracle re-derives the LinkedHashSet insertion order relationally:
    * candidate (position, slot) keys, min key per token, ordered agg.
    */
  def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ExpandQueries
      .map { case (id, q) => (id, q, graft.search.Router.expand(q).mkString(",")) }
      .toDF("query_id", "qtext", "tokens")
  }

  lazy val q104Sql: String = {
    val qVals = ExpandQueries.map { case (i, q) => s"(${sq(i)}, ${sq(q)})" }
      .mkString(",\n  ")
    val synVals = graft.search.Router.synonyms.toSeq.sortBy(_._1).flatMap {
      case (t, ss) => ss.zipWithIndex.map { case (syn, i) =>
        s"(${sq(t)}, ${sq(syn)}, ${i + 1})" }
    }.mkString(",\n  ")
    s"""WITH queries(query_id, qtext) AS (VALUES
       |  $qVals),
       |syns(tok, syn, sidx) AS (VALUES
       |  $synVals),
       |toks AS (
       |  SELECT query_id, qtext,
       |    list_filter(string_split_regex(lower(qtext), '[^a-z0-9_]+'),
       |                x -> len(x) >= 1) AS lst
       |  FROM queries),
       |base AS (
       |  SELECT query_id, qtext, unnest(lst) AS tok,
       |    unnest(range(1, len(lst) + 1)) AS p
       |  FROM toks),
       |cand AS (
       |  SELECT query_id, tok, p, 0 AS s FROM base
       |  UNION ALL
       |  SELECT b.query_id, sy.syn AS tok, b.p, sy.sidx AS s
       |  FROM base b JOIN syns sy USING (tok)),
       |firstocc AS (
       |  SELECT query_id, tok, MIN(p * 100 + s) AS k
       |  FROM cand GROUP BY 1, 2)
       |SELECT q.query_id, q.qtext,
       |  string_agg(f.tok, ',' ORDER BY f.k) AS tokens
       |FROM queries q JOIN firstocc f USING (query_id)
       |GROUP BY 1, 2""".stripMargin
  }

  /** q98 — reconstruct: reassemble a file's source from its indexed
    * chunks, with gap markers where lines are not indexed
    * (/root/reference/src/cli/commands/io/reconstruct.rs:66-87). The
    * reference's assembly is reproduced exactly: chunks ordered by
    * line_start, a "\n// ... (N line(s) not indexed, lines A-B) ...\n\n"
    * marker when a chunk starts past last_end + 1, content joined with
    * a trailing newline normalized on, `lines` = the LAST chunk's
    * end_line, and last_end overwritten UNCONDITIONALLY per chunk —
    * nested chunks duplicate their container's lines and can move
    * last_end backward, exactly as the Rust does. Restricted to
    * function/class chunks, whose content is a verbatim raw-line slice
    * (q64 proves that); section/table chunks of converted or
    * header-repeated formats are not line-faithful by design. Order is
    * fully pinned (start_line, end_line DESC, name) — the reference's
    * bare ORDER BY line_start leaves nested-chunk ties to SQLite
    * insertion order.
    *
    * Scale: one shuffle (the per-file groupBy); assembly is a
    * row-local ordered fold inside the aggregate — no window, no
    * second pass, and file content never joins anything.
    */
  def q98(s: SparkSession, dir: String): DataFrame =
    Indexes.codeChunks(s)
      .filter(col("chunk_type").isin("function", "class"))
      .groupBy(col("origin").as("file"))
      .agg(expr(
        "array_sort(collect_list(struct(start_line, -end_line AS neg_end, name, end_line, content)))")
        .as("arr"))
      .selectExpr(
        "file",
        "CAST(size(arr) AS INT) AS chunks",
        "CAST(arr[size(arr) - 1].end_line AS INT) AS lines",
        """array_join(transform(arr, (x, i) -> concat(
          |  CASE WHEN i = 0 THEN ''
          |       WHEN x.start_line > arr[i - 1].end_line + 1
          |    THEN concat('\n// ... (',
          |      CAST(x.start_line - arr[i - 1].end_line - 1 AS STRING),
          |      CASE WHEN x.start_line - arr[i - 1].end_line - 1 = 1
          |        THEN ' line' ELSE ' lines' END,
          |      ' not indexed, lines ',
          |      CAST(arr[i - 1].end_line + 1 AS STRING), '-',
          |      CAST(x.start_line - 1 AS STRING), ') ...\n\n')
          |    ELSE '' END,
          |  x.content,
          |  CASE WHEN x.content LIKE '%\n' THEN '' ELSE '\n' END)), '')
          |AS content""".stripMargin)

  lazy val q98Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |sp AS (
       |  SELECT s.origin, s.name, s.start_line, s.end_line,
       |    array_to_string(f.ls[s.start_line:s.end_line], chr(10)) AS content
       |  FROM spans s
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE s.chunk_type IN ('function', 'class')),
       |ord AS (
       |  SELECT *,
       |    row_number() OVER w AS rn,
       |    lag(end_line) OVER w AS prev_end
       |  FROM sp
       |  WINDOW w AS (PARTITION BY origin ORDER BY start_line, end_line DESC, name)),
       |pieces AS (
       |  SELECT origin, rn, end_line,
       |    CASE WHEN prev_end IS NOT NULL AND start_line > prev_end + 1 THEN
       |      chr(10) || '// ... (' || (start_line - prev_end - 1) ||
       |      CASE WHEN start_line - prev_end - 1 = 1 THEN ' line' ELSE ' lines' END ||
       |      ' not indexed, lines ' || (prev_end + 1) || '-' || (start_line - 1) ||
       |      ') ...' || chr(10) || chr(10)
       |    ELSE '' END || content ||
       |    CASE WHEN content LIKE '%' || chr(10) THEN '' ELSE chr(10) END AS piece
       |  FROM ord)
       |SELECT origin AS file,
       |  CAST(COUNT(*) AS INT) AS chunks,
       |  CAST(max_by(end_line, rn) AS INT) AS lines,
       |  string_agg(piece, '' ORDER BY rn) AS content
       |FROM pieces GROUP BY origin""".stripMargin

  /** Shared oracle prelude: fixture files + golden spans, no edge
    * derivation (q66 needs chunks but not the call graph).
    */
  private[queries] lazy val filesAndSpansCteSql: String =
    s"""files(origin, language, content) AS (VALUES
       |${CodeFixtures.filesValuesSql}
       |),
       |spans AS (
       |  SELECT origin, language, chunk_type, name, start_line, end_line, doc
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc))""".stripMargin

  private[queries] lazy val goldenValuesSql: String =
    golden.map { case (o, l, t, n, s0, e0, d) =>
      s"(${sq(o)}, ${sq(l)}, ${sq(t)}, ${sq(n)}, $s0, $e0, ${sq(d)})"
    }.mkString(",\n")

  val q48Sql: String =
    s"""SELECT origin, language, chunk_type, name,
       |  CAST(start_line AS INT) AS start_line,
       |  CAST(end_line AS INT) AS end_line, doc
       |FROM (VALUES
       |$goldenValuesSql
       |) AS g(origin, language, chunk_type, name, start_line, end_line, doc)""".stripMargin

  /** The call-site regex and keyword stoplist, mirrored verbatim from
    * Chunker.callSites / Chunker.keywords.
    */
  private[queries] lazy val keywordsSql: String =
    Chunker.keywordList.map(sq).mkString(", ")

  /** Markdown cross-reference CTE chain (requires `spans` — WITH
    * language — and `lines` upstream): mirrors Chunker.mdChunkRefs
    * independently. Per markdown SECTION span, heading-to-heading
    * sub-spans are re-derived fence-aware (a running fence-toggle sum
    * scoped to the section, like the row-local rescan), then link
    * text / relative-md file stem / anchor / backtick-function refs
    * are extracted with a per-sub-span first-occurrence dedup in the
    * reference's emission order: all links (text, stem, anchor per
    * match) before all backticks (mod.rs:732-825). The regex source
    * strings are shared with the Scala side.
    */
  private lazy val mdRefCtesSql: String =
    s"""md_sec_lines AS (
       |  SELECT sp.origin, sp.name AS sec_name, sp.start_line AS sec_start,
       |    l.li, l.line
       |  FROM lines l JOIN spans sp
       |    ON l.origin = sp.origin
       |   AND sp.language = 'markdown' AND sp.chunk_type = 'section'
       |   AND l.li >= sp.start_line AND l.li <= sp.end_line
       |  WHERE l.language = 'markdown'),
       |md_fence AS (
       |  SELECT *, COALESCE(SUM(tog) OVER (
       |      PARTITION BY origin, sec_name, sec_start ORDER BY li
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fences_before
       |  FROM (SELECT *, CASE WHEN starts_with(trim(line), '```')
       |          OR starts_with(trim(line), '~~~') THEN 1 ELSE 0 END AS tog
       |        FROM md_sec_lines)),
       |md_span AS (
       |  SELECT origin, sec_name, sec_start, li, line,
       |    COALESCE(MAX(CASE WHEN tog = 0 AND fences_before % 2 = 0
       |        AND regexp_extract(trim(line), '^(#{1,6}) ', 1) <> ''
       |        AND ltrim(regexp_replace(trim(line), '^#{1,6} ', ''), ' ') <> ''
       |      THEN li END) OVER (
       |      PARTITION BY origin, sec_name, sec_start ORDER BY li), sec_start) AS span_id
       |  FROM md_fence),
       |md_link_raw AS (
       |  SELECT origin, sec_name, sec_start, span_id, li,
       |    unnest(regexp_extract_all(line, '${Chunker.mdLinkReSrc}', 1)) AS bang,
       |    unnest(regexp_extract_all(line, '${Chunker.mdLinkReSrc}', 2)) AS ltext,
       |    unnest(regexp_extract_all(line, '${Chunker.mdLinkReSrc}', 3)) AS url,
       |    unnest(range(1, len(regexp_extract_all(line, '${Chunker.mdLinkReSrc}', 0)) + 1)) AS midx
       |  FROM md_span),
       |md_link_url AS (
       |  SELECT *, regexp_extract(split_part(url, '#', 1), '([^/\\\\]+)$$', 1) AS fname
       |  FROM md_link_raw WHERE bang = ''),
       |md_link_items AS (
       |  SELECT origin, sec_name, sec_start, span_id, li, midx, 0 AS sub,
       |    ltext AS callee
       |  FROM md_link_url
       |  UNION ALL
       |  SELECT origin, sec_name, sec_start, span_id, li, midx, 1,
       |    CASE WHEN fname LIKE '%.mdx' THEN substr(fname, 1, len(fname) - 4)
       |         ELSE substr(fname, 1, len(fname) - 3) END
       |  FROM md_link_url
       |  WHERE NOT (url LIKE 'http://%' OR url LIKE 'https://%'
       |             OR url LIKE '//%' OR url LIKE '/%')
       |    AND (fname LIKE '%.md' OR fname LIKE '%.mdx')
       |    AND len(CASE WHEN fname LIKE '%.mdx' THEN substr(fname, 1, len(fname) - 4)
       |                 ELSE substr(fname, 1, len(fname) - 3) END) > 1
       |  UNION ALL
       |  SELECT origin, sec_name, sec_start, span_id, li, midx, 2,
       |    substr(url, strpos(url, '#') + 1)
       |  FROM md_link_url
       |  WHERE strpos(url, '#') > 0 AND substr(url, strpos(url, '#') + 1) <> ''),
       |md_tick AS (
       |  SELECT origin, sec_name, sec_start, span_id, li,
       |    unnest(regexp_extract_all(line, '${Chunker.mdFuncReSrc}', 1)) AS callee,
       |    unnest(range(1, len(regexp_extract_all(line, '${Chunker.mdFuncReSrc}', 0)) + 1)) AS midx
       |  FROM md_span),
       |md_refs AS (
       |  SELECT origin, sec_name, callee, li FROM (
       |    SELECT origin, sec_name, sec_start, span_id, li, midx, sub, callee,
       |      0 AS leg FROM md_link_items
       |    UNION ALL
       |    SELECT origin, sec_name, sec_start, span_id, li, midx, 0, callee,
       |      1 FROM md_tick)
       |  WHERE callee <> ''
       |  QUALIFY ROW_NUMBER() OVER (
       |    PARTITION BY origin, sec_name, sec_start, span_id, callee
       |    ORDER BY leg, li, midx, sub) = 1)""".stripMargin

  /** Shared oracle CTE chain: fixture files → per-line call-regex
    * mirror → golden-span caller attribution → resolved edge list.
    * Used by both q49 (tiers) and q50 (diff-seeded BFS).
    */
  private[queries] lazy val edgesCteSql: String =
    s"""files(origin, language, content) AS (VALUES
       |${CodeFixtures.filesValuesSql}
       |),
       |spans AS (
       |  SELECT origin, language, chunk_type, name, start_line, end_line, doc
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)),
       |lines AS (
       |  -- doc formats excluded: the Scala side extracts call sites
       |  -- from CONVERTED text (HtmlConvert/PdfConvert), whose line
       |  -- numbering differs from the raw file's — attributing raw-line
       |  -- matches against converted golden spans would desynchronize
       |  -- the moment a fixture gains any call-shaped text (docs never
       |  -- produce call edges anyway)
       |  SELECT origin, language, unnest(ls) AS line,
       |    unnest(range(1, len(ls) + 1)) AS li
       |  -- css joins the exclusion with the web-help fixture: the asset
       |  -- row is SUBSUMED into its site's merged doc on the Scala side
       |  -- and never reaches the parser
       |  FROM (SELECT origin, language, string_split(content, chr(10)) AS ls
       |        FROM files WHERE language NOT IN ('html', 'pdf', 'chm', 'css'))),
       |code_lines AS (
       |  -- code files contribute every line; markdown files contribute
       |  -- only lines inside a fenced-block code chunk's span, typed by
       |  -- that span's language (the promoted block IS code)
       |  SELECT origin, language, li, line FROM lines
       |  WHERE language <> 'markdown'
       |  UNION ALL
       |  SELECT DISTINCT l.origin, sp.language, l.li, l.line
       |  FROM lines l JOIN spans sp
       |    ON l.origin = sp.origin
       |   AND sp.language NOT IN ('markdown')
       |   AND l.li >= sp.start_line AND l.li <= sp.end_line
       |  WHERE l.language = 'markdown'),
       |clean_lines AS (
       |  -- mirror of Chunker.blankForCalls + the cross-line comment
       |  -- mask: a grammar never yields a call from a string or
       |  -- comment. Pipeline: drop lines INSIDE a /* */ region (net
       |  -- marker count over prior lines > 0 — interior and closer
       |  -- lines, like the Scala mask) → blank "…" string interiors →
       |  -- drop paired /* */ → cut from an unclosed /* → cut at the
       |  -- line-comment marker ('#' family vs '//' family).
       |  SELECT origin, language, li,
       |    CASE WHEN language IN ('python','ruby','shell','perl','r',
       |                           'elixir','julia','yaml','nix')
       |         THEN regexp_replace(
       |                regexp_replace(line, '"[^"]*"', '""', 'g'), '#.*', '')
       |         WHEN language IN ('lua','haskell','elm','sql')
       |         THEN regexp_replace(
       |                regexp_replace(line, '"[^"]*"', '""', 'g'), '--.*', '')
       |         ELSE regexp_replace(regexp_replace(regexp_replace(
       |                regexp_replace(regexp_replace(line, '"[^"]*"', '""', 'g'),
       |                  '`[^`]*`', '``', 'g'),
       |                '/\\*.*?\\*/', ' ', 'g'), '/\\*.*', ''), '//.*', '')
       |    END AS line
       |  FROM (
       |    SELECT *, COALESCE(SUM(
       |        len(string_split(line, '/*')) - len(string_split(line, '*/')))
       |      OVER (PARTITION BY origin ORDER BY li
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS blk_prior
       |    FROM code_lines)
       |  WHERE blk_prior <= 0),
       |matches AS (
       |  SELECT origin, language, li,
       |    unnest(regexp_extract_all(line, '(\\.)?\\b([A-Za-z_]\\w*)(!?)\\s*\\(', 1)) AS dot,
       |    unnest(regexp_extract_all(line, '(\\.)?\\b([A-Za-z_]\\w*)(!?)\\s*\\(', 2)) AS callee,
       |    unnest(regexp_extract_all(line, '(\\.)?\\b([A-Za-z_]\\w*)(!?)\\s*\\(', 3)) AS bang
       |  FROM clean_lines),
       |calls AS (
       |  -- kind tiers mirror Chunker.callSites: dot wins, then a rust
       |  -- bang is a macro invocation (CallEdgeKind::MacroHeuristic)
       |  SELECT origin, li, callee,
       |    CASE WHEN dot = '.' THEN 'method'
       |         WHEN bang = '!' AND language = 'rust' THEN 'macro'
       |         ELSE 'direct' END AS edge_kind
       |  FROM matches
       |  WHERE callee NOT IN ($keywordsSql)),
       |$mdRefCtesSql,
       |fns AS (SELECT DISTINCT name FROM spans WHERE chunk_type = 'function'),
       |sites AS (
       |  -- one site per (containing chunk, call site), callee UNRESOLVED
       |  -- (the function_calls table shape — q109's callee-frequency and
       |  -- caller/callee context read this directly): a call inside a
       |  -- method body is attributed to the method AND its class, and a
       |  -- nested signature line counts for the enclosing chunk — the
       |  -- exact callSites contract (content lines after the first).
       |  -- Code calls attach to CODE spans only (a fenced block's call
       |  -- never counts for its prose section); markdown references
       |  -- are pre-attributed to their section
       |  SELECT sp.origin AS src_file, sp.name AS caller, c.callee, c.edge_kind
       |  FROM calls c JOIN spans sp
       |    ON c.origin = sp.origin
       |   AND sp.language NOT IN ('markdown')
       |   AND c.li > sp.start_line AND c.li <= sp.end_line
       |  UNION ALL
       |  SELECT origin, sec_name, callee, 'doc_ref' FROM md_refs),
       |edges AS (
       |  SELECT * FROM sites WHERE callee IN (SELECT name FROM fns))""".stripMargin

  val q49Sql: String =
    s"""WITH $edgesCteSql,
       |inbound AS (
       |  SELECT callee,
       |    CAST(SUM(CASE WHEN edge_kind = 'direct' THEN 1 ELSE 0 END) AS BIGINT) AS n_direct,
       |    CAST(SUM(CASE WHEN edge_kind = 'method' THEN 1 ELSE 0 END) AS BIGINT) AS n_method
       |  FROM edges GROUP BY 1)
       |SELECT f.name,
       |  COALESCE(i.n_direct, 0) AS n_direct,
       |  COALESCE(i.n_method, 0) AS n_method,
       |  CASE WHEN COALESCE(i.n_direct, 0) + COALESCE(i.n_method, 0) = 0 THEN 'dead'
       |       WHEN COALESCE(i.n_direct, 0) + COALESCE(i.n_method, 0) >= 3 THEN 'hub'
       |       ELSE 'live' END AS tier
       |FROM fns f LEFT JOIN inbound i ON f.name = i.callee""".stripMargin

  val q50Sql: String =
    s"""WITH $edgesCteSql,
       |current AS (SELECT origin, md5(content) AS fp FROM files),
       |reg AS (
       |  SELECT origin,
       |    CASE WHEN origin = 'fixtures/web.js' THEN md5(content || '::v1')
       |         ELSE md5(content) END AS fp
       |  FROM files WHERE origin != 'fixtures/app.rs'),
       |work AS (
       |  SELECT COALESCE(c.origin, r.origin) AS origin
       |  FROM current c FULL OUTER JOIN reg r ON c.origin = r.origin
       |  WHERE r.origin IS NULL OR (c.origin IS NOT NULL AND c.fp != r.fp)),
       |rev(src, dst) AS (SELECT DISTINCT callee, caller FROM edges),
       |d0 AS (
       |  SELECT DISTINCT sp.name AS node FROM spans sp JOIN work w
       |    ON sp.origin = w.origin
       |  WHERE sp.chunk_type = 'function'),
       |d1 AS (SELECT DISTINCT e.dst AS node FROM rev e JOIN d0 ON e.src = d0.node
       |       WHERE e.dst NOT IN (SELECT node FROM d0)),
       |d2 AS (SELECT DISTINCT e.dst AS node FROM rev e JOIN d1 ON e.src = d1.node
       |       WHERE e.dst NOT IN (SELECT node FROM d0)
       |         AND e.dst NOT IN (SELECT node FROM d1))
       |SELECT node, 0 AS depth FROM d0
       |UNION ALL SELECT node, 1 FROM d1
       |UNION ALL SELECT node, 2 FROM d2""".stripMargin

  val q51Sql: String =
    s"""WITH $edgesCteSql,
       |rese(caller, callee) AS (SELECT DISTINCT caller, callee FROM edges),
       |chunks_c AS (
       |  SELECT sp.origin, sp.chunk_type, sp.name, sp.start_line,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)),
       |q(query_id, token) AS (VALUES (1, 'config'), (1, 'load'), (1, 'render')),
       |postings AS (
       |  SELECT name, t AS token, COUNT(*) AS tf
       |  FROM (SELECT name,
       |          unnest(list_filter(string_split_regex(lower(content), '[^a-z0-9]+'),
       |                             x -> len(x) >= 2)) AS t
       |        FROM chunks_c WHERE chunk_type = 'function')
       |  GROUP BY 1, 2),
       |seeds AS (
       |  SELECT name, composite FROM (
       |    SELECT q.query_id, p.name,
       |      CAST(COUNT(DISTINCT p.token) AS BIGINT) * 1000000
       |        + CAST(SUM(p.tf) AS BIGINT) AS composite
       |    FROM q JOIN postings p ON q.token = p.token GROUP BY 1, 2)
       |  ORDER BY composite DESC, name ASC LIMIT 3),
       |expanded AS (
       |  SELECT node, CAST(MAX(composite) AS DOUBLE) * 0.8 AS score, 1 AS depth
       |  FROM (SELECT e.callee AS node, s.composite FROM rese e JOIN seeds s ON e.caller = s.name
       |        UNION ALL
       |        SELECT e.caller AS node, s.composite FROM rese e JOIN seeds s ON e.callee = s.name)
       |  GROUP BY 1),
       |merged AS (
       |  SELECT node, MAX(score) AS score, MIN(depth) AS depth
       |  FROM (SELECT name AS node, CAST(composite AS DOUBLE) AS score, 0 AS depth FROM seeds
       |        UNION ALL SELECT node, score, depth FROM expanded)
       |  GROUP BY 1),
       |spanned AS (
       |  SELECT sp.origin, m.node, sp.start_line, m.depth, m.score,
       |    ROW_NUMBER() OVER (PARTITION BY sp.origin
       |      ORDER BY m.score DESC, m.node ASC) AS pd
       |  FROM merged m JOIN spans sp ON m.node = sp.name)
       |SELECT origin, node AS name, CAST(start_line AS INT) AS start_line,
       |  CAST(depth AS INT) AS depth, ROUND(score, 4) AS score_r
       |FROM spanned WHERE pd = 1
       |ORDER BY origin ASC, start_line ASC, name ASC
       |LIMIT 10""".stripMargin

  val q52Sql: String =
    s"""WITH files(origin, language, content) AS (VALUES
       |${CodeFixtures.filesValuesSql}
       |),
       |spans AS (
       |  SELECT origin, chunk_type, name, start_line, end_line
       |  FROM (VALUES
       |$goldenValuesSql
       |  ) AS g(origin, language, chunk_type, name, start_line, end_line, doc)),
       |chunks_c AS (
       |  SELECT sp.name,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)
       |  WHERE sp.chunk_type IN ('function', 'class')),
       |bodied AS (
       |  SELECT name, content,
       |    CASE WHEN position(chr(10) IN content) = 0 THEN ''
       |         ELSE content[position(chr(10) IN content) + 1:] END AS body
       |  FROM chunks_c),
       |tagged AS (
       |  SELECT 'builder' AS pattern, name FROM bodied
       |  WHERE contains(content, '-> Self') OR contains(content, '-> &Self')
       |     OR contains(content, '-> &mut Self') OR contains(content, 'return self')
       |     OR contains(content, 'return this')
       |     OR (contains(content, '.set') AND contains(content, 'return'))
       |  UNION ALL
       |  SELECT 'error_swallow', name FROM bodied
       |  WHERE contains(content, 'catch (e) {}') OR contains(content, 'catch {}')
       |     OR contains(content, 'except:') OR contains(content, 'except Exception:')
       |  UNION ALL
       |  SELECT 'async', name FROM bodied
       |  WHERE contains(content, 'async') OR contains(content, 'await')
       |  UNION ALL
       |  SELECT 'mutex', name FROM bodied
       |  WHERE contains(content, 'mutex') OR contains(content, 'Mutex')
       |     OR contains(content, 'lock()') OR contains(content, 'Lock()')
       |  UNION ALL
       |  SELECT 'unsafe', name FROM bodied WHERE contains(content, 'unsafe')
       |  UNION ALL
       |  SELECT 'recursion', name FROM bodied
       |  WHERE len(name) > 0
       |    AND (contains(body, name || '(') OR contains(body, name || ' (')))
       |SELECT pattern, COUNT(*) AS n_chunks,
       |  array_to_string(list_sort(array_agg(name)), ',') AS names
       |FROM tagged GROUP BY pattern""".stripMargin

  /** q112 — semantic git blame: who last touched a function, when, and
    * why (/root/reference/src/cli/commands/io/blame.rs:55-115 —
    * `build_blame_data`: resolve target chunk → `git log -L
    * start,end:file` → commit list capped at N, optional callers;
    * README.md:317-319,599). The fixture corpus carries no git
    * history, so a deterministic synthetic commit table stands in for
    * `git log` — 8 commits per file whose touched line ranges, authors,
    * dates, hashes and messages are all derived arithmetically from
    * (file, commit ordinal), so DuckDB re-derives the identical table
    * (the same synthesis discipline as q88's PII log). Blame semantics
    * are then real: a commit attributes to a function iff its touched
    * range overlaps the function's span (`git log -L`'s contract), the
    * newest 3 win per function, and `--callers` is the caller count
    * from the extracted call graph.
    *
    * Scale: commits are per-file metadata joined on the file key — the
    * overlap predicate runs inside an equi-join on origin, never as a
    * cross join; at real scale the commit table is a git-log ingest
    * partitioned by file path, and the blame join co-shuffles on that
    * same key. The caller count is the one existing edge groupBy.
    */
  /** The q112/q113 synthetic commit table: 8 commits per file, every
    * attribute derived arithmetically from (file, ordinal) so the
    * DuckDB oracle re-derives the identical rows (see q112 doc).
    */
  private def syntheticCommits(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("origin"))
      .agg(max(col("end_line")).cast("long").as("flen"))
      .select(col("origin"), col("flen"),
        explode(sequence(lit(1L), lit(8L))).as("j"))
      .withColumn("olen", length(col("origin")).cast("long"))
      .withColumn("t_start",
        lit(1L) + (col("j") * lit(37L) + col("olen") * lit(11L)) % col("flen"))
      .withColumn("t_end", col("t_start") + (col("j") * lit(5L)) % lit(12L))
      .withColumn("author",
        when((col("j") + col("olen")) % 4 === 0, lit("alice"))
          .when((col("j") + col("olen")) % 4 === 1, lit("bob"))
          .when((col("j") + col("olen")) % 4 === 2, lit("carol"))
          .otherwise(lit("dan")))
      .withColumn("cdate", date_format(
        date_add(to_date(lit("2024-01-01")),
          ((col("j") * lit(13L) + col("olen") * lit(3L)) % 400L).cast("int")),
        "yyyy-MM-dd"))
      .withColumn("chash",
        md5(concat(col("origin"), lit(":"), col("j").cast("string"))))
      .withColumn("message",
        concat(lit("commit "), col("j").cast("string"), lit(" on "),
          col("origin")))

  /** The commit synthesis as oracle CTEs (expects `spans` upstream). */
  private lazy val commitsCteSql: String =
    """flens AS (SELECT origin, CAST(MAX(end_line) AS BIGINT) AS flen
      |          FROM spans GROUP BY 1),
      |commits AS (
      |  SELECT f.origin,
      |    1 + ((g.j * 37 + length(f.origin) * 11) % f.flen) AS t_start,
      |    1 + ((g.j * 37 + length(f.origin) * 11) % f.flen)
      |      + ((g.j * 5) % 12) AS t_end,
      |    CASE ((g.j + length(f.origin)) % 4) WHEN 0 THEN 'alice'
      |      WHEN 1 THEN 'bob' WHEN 2 THEN 'carol' ELSE 'dan' END AS author,
      |    strftime(DATE '2024-01-01' +
      |      CAST((g.j * 13 + length(f.origin) * 3) % 400 AS INT),
      |      '%Y-%m-%d') AS cdate,
      |    md5(f.origin || ':' || CAST(g.j AS VARCHAR)) AS chash,
      |    'commit ' || CAST(g.j AS VARCHAR) || ' on ' || f.origin AS message
      |  FROM flens f CROSS JOIN generate_series(1, 8) AS g(j))""".stripMargin

  def q112(s: SparkSession, dir: String): DataFrame = {
    val chunks = Indexes.codeChunks(s)
    val fns = chunks.filter(col("chunk_type") === "function")
      .select(col("origin"), col("name"), col("start_line"), col("end_line"))
    val commits = syntheticCommits(chunks)
    val touched = fns.join(commits, Seq("origin"))
      .filter(col("t_start") <= col("end_line") &&
        col("t_end") >= col("start_line"))
    val ranked = TopK.perGroup(touched,
      Seq(col("origin"), col("name"), col("start_line")),
      col("cdate"), col("chash"), 3)
    val callers = Indexes.callEdges(s)
      .join(fns.select(col("name").as("callee")).distinct(), Seq("callee"))
      .groupBy(col("callee"))
      .agg(countDistinct(col("caller")).as("n_callers"))
    ranked.join(callers, col("name") === col("callee"), "left")
      .select(col("origin"), col("name"),
        col("start_line").cast("int").as("start_line"),
        col("rank").cast("int").as("rank"), col("chash"), col("author"),
        col("cdate"), col("message"),
        coalesce(col("n_callers"), lit(0L)).as("n_callers"))
  }

  val q112Sql: String =
    s"""WITH $edgesCteSql,
       |fn_spans AS (
       |  SELECT origin, name, start_line, end_line FROM spans
       |  WHERE chunk_type = 'function'),
       |$commitsCteSql,
       |touched AS (
       |  SELECT sp.origin, sp.name, sp.start_line, c.chash, c.author,
       |    c.cdate, c.message,
       |    ROW_NUMBER() OVER (PARTITION BY sp.origin, sp.name, sp.start_line
       |      ORDER BY c.cdate DESC, c.chash ASC) AS rank
       |  FROM fn_spans sp JOIN commits c ON sp.origin = c.origin
       |   AND c.t_start <= sp.end_line AND c.t_end >= sp.start_line),
       |blame_callers AS (
       |  SELECT callee, CAST(COUNT(DISTINCT caller) AS BIGINT) AS n_callers
       |  FROM edges GROUP BY 1)
       |SELECT t.origin, t.name, CAST(t.start_line AS INT) AS start_line,
       |  CAST(t.rank AS INT) AS rank, t.chash, t.author, t.cdate, t.message,
       |  COALESCE(ca.n_callers, 0) AS n_callers
       |FROM touched t LEFT JOIN blame_callers ca ON t.name = ca.callee
       |WHERE t.rank <= 3""".stripMargin

  /** q113 — scout with git-derived signals: the reference's scout
    * dashboard folds per-hit GIT recency into its staleness section
    * (/root/reference/src/scout.rs — search seeds + callers + tests +
    * staleness); q67 covers the call-graph/notes sections, and this
    * composite adds the git column the fixture corpus previously could
    * not support: the q67 seed search joined against the q112 synthetic
    * commit table for per-seed LAST-TOUCH attribution (newest
    * overlapping commit's author/date), total touching-commit count,
    * and a fresh/stale flag at a fixed date threshold — the
    * "who touched this last, is it cold?" pre-investigation signal.
    *
    * Scale: seeds are a broadcast-sized top-8; the commit join is an
    * equi-join on origin over the per-file commit table (q112's shape);
    * last-touch + count come from one window over the tiny seed-span
    * frame.
    */
  def q113(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = Indexes.codeChunks(s)
    val fns = chunks.filter(col("chunk_type") === "function")
    val queryTokens = Seq(1L -> "config", 1L -> "load", 1L -> "process")
      .toDF("query_id", "token")
    val scored = Postings.score(Indexes.codePostings(s), queryTokens, "name")
      .withColumn("score", col("n_match") * lit(1000000L) + col("tf_sum"))
      .select(col("name"), col("score"))
    val seeds = TopK.global(scored, col("score"), col("name"), 8)
    val spans = seeds
      .join(fns.select(col("name"), col("origin"), col("start_line"),
        col("end_line")), Seq("name"))
    val touched = spans.join(syntheticCommits(chunks), Seq("origin"))
      .filter(col("t_start") <= col("end_line") &&
        col("t_end") >= col("start_line"))
    val grp = Seq(col("name"), col("origin"), col("start_line"))
    val counted = touched.withColumn("n_commits",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(grp: _*)))
    TopK.perGroup(counted, grp, col("cdate"), col("chash"), 1)
      .select(col("name"), col("origin"),
        col("start_line").cast("int").as("start_line"), col("score"),
        col("author").as("last_author"), col("cdate").as("last_date"),
        col("n_commits").cast("long").as("n_commits"),
        when(col("cdate") >= lit("2024-07-01"), lit("fresh"))
          .otherwise(lit("stale")).as("freshness"))
  }

  lazy val q113Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |chunks_c AS (
       |  SELECT sp.origin, sp.chunk_type, sp.name, sp.start_line, sp.end_line,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)),
       |q(query_id, token) AS (VALUES (1, 'config'), (1, 'load'), (1, 'process')),
       |postings AS (
       |  SELECT name, t AS token, COUNT(*) AS tf
       |  FROM (SELECT name,
       |          unnest(list_filter(string_split_regex(lower(content), '[^a-z0-9]+'),
       |                             x -> len(x) >= 2)) AS t
       |        FROM chunks_c WHERE chunk_type = 'function')
       |  GROUP BY 1, 2),
       |seeds AS (
       |  SELECT name, score FROM (
       |    SELECT p.name,
       |      CAST(COUNT(DISTINCT p.token) AS BIGINT) * 1000000
       |        + CAST(SUM(p.tf) AS BIGINT) AS score
       |    FROM q JOIN postings p ON q.token = p.token GROUP BY 1)
       |  ORDER BY score DESC, name ASC LIMIT 8),
       |$commitsCteSql,
       |sspans AS (
       |  SELECT s.name, s.score, sp.origin, sp.start_line, sp.end_line
       |  FROM seeds s JOIN spans sp
       |    ON sp.name = s.name AND sp.chunk_type = 'function'),
       |touched AS (
       |  SELECT ss.name, ss.origin, ss.start_line, ss.score,
       |    c.author, c.cdate, c.chash,
       |    ROW_NUMBER() OVER (PARTITION BY ss.name, ss.origin, ss.start_line
       |      ORDER BY c.cdate DESC, c.chash ASC) AS rnk,
       |    COUNT(*) OVER (PARTITION BY ss.name, ss.origin, ss.start_line)
       |      AS n_commits
       |  FROM sspans ss JOIN commits c ON c.origin = ss.origin
       |   AND c.t_start <= ss.end_line AND c.t_end >= ss.start_line)
       |SELECT name, origin, CAST(start_line AS INT) AS start_line, score,
       |  author AS last_author, cdate AS last_date,
       |  CAST(n_commits AS BIGINT) AS n_commits,
       |  CASE WHEN cdate >= '2024-07-01' THEN 'fresh' ELSE 'stale' END
       |    AS freshness
       |FROM touched WHERE rnk = 1""".stripMargin

  /** The v3 eval-artifact fixture for q116 — the reference's on-disk
    * query-set wire format (/root/reference/src/eval/schema.rs:27-50;
    * live sets evals/queries/v3_*.json). The envelope (schema_version,
    * split, n, category_counts, source_counts) and the per-query
    * auxiliary fields (judges, metadata, pool_size, tier,
    * gold_chunk_source, tags, _unresolved, source) are present exactly
    * so the parse can prove it IGNORES them, the way serde's forgiving
    * deserialization does. Traps baked in:
    *  - "load config"'s gold carries a wildly wrong line_start (99999):
    *    gold matching is (origin, name) ONLY (runner.rs — line drift
    *    must not turn a still-correct gold into a miss), so it still
    *    hits.
    *  - "server script parser blocks" has gold_chunk null → counted in
    *    `skipped`, excluded from every R@K denominator.
    *  - "imaginary flux handler" has a gold that exists nowhere → it IS
    *    scored (n_queries) and misses at every K.
    *  - "deploy assets" has no category → "uncategorized" (the runner's
    *    unwrap_or default).
    */
  private lazy val evalV3Json: String =
    """{"schema_version":"v3-consensus","split":"test",
      |"created_at":"2026-06-30T00:00:00Z","n":7,
      |"category_counts":{"code_search":2,"api_usage":2,"behavioral_search":2},
      |"source_counts":{"telemetry":2,"generated":5},
      |"queries":[
      |{"query":"load config","category":"code_search","tier":"high_confidence",
      | "gold_chunk_source":"consensus","pool_size":14,
      | "judges":{"model_a":"accept","model_b":"accept"},
      | "metadata":{"first_seen_ts":1776031203,"source_cmd":"search"},
      | "gold_chunk":{"id":"gc-1","name":"load_config","origin":"fixtures/app.rs",
      |  "line_start":99999,"chunk_type":"function","language":"rust"}},
      |{"query":"render html page","category":"code_search",
      | "gold_chunk":{"name":"render","origin":"fixtures/web.js","line_start":1}},
      |{"query":"process rows","category":"api_usage",
      | "gold_chunk":{"name":"process","origin":"fixtures/util.py",
      |  "line_start":1,"line_end":20}},
      |{"query":"deploy assets","tags":["cli"],
      | "gold_chunk":{"name":"deploy","origin":"fixtures/deploy.sh","line_start":1}},
      |{"query":"server script parser blocks","category":"behavioral_search",
      | "source":"telemetry","gold_chunk":null,
      | "metadata":{"first_seen_ts":1776031204,"source_cmd":"search"}},
      |{"query":"imaginary flux handler","category":"behavioral_search",
      | "source":"telemetry","_unresolved":true,
      | "gold_chunk":{"name":"missing_fn","origin":"fixtures/nowhere.rs","line_start":5}},
      |{"query":"config","category":"api_usage",
      | "gold_chunk":{"name":"load_config","origin":"fixtures/app.rs","line_start":10}}
      |]}""".stripMargin

  /** q116 — the eval artifact format end-to-end: consume a v3-shaped
    * query-set JSON document (the reference's actual eval wire format,
    * envelope and all), run the retrieval leg per query, and score
    * R@1/5/20 per category through EvalHarness — proving the harness
    * eats the reference's artifact schema, not just its math
    * (/root/reference/src/eval/schema.rs:27-50, runner
    * /root/reference/src/cli/commands/eval/runner.rs:124-235).
    *
    * Runner semantics reproduced exactly: gold match on (origin, name)
    * with line_start ignored; null-gold queries counted in `skipped`
    * and excluded from every denominator; absent category →
    * "uncategorized"; a gold the search never returns scores as a miss
    * at every K; limit = 20. Query tokens come from tokenizing the
    * query STRING with the engine's fts tokenizer (not a hand list) —
    * the full loadQueries→search→score path in one DAG. Output: one
    * row per category + "__overall__" (n_queries, r_at_1/5/20) + a
    * "__skipped__" accounting row (the EvalReport.skipped field).
    */
  def q116(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    import graft.functions.TextFns
    import graft.search.EvalHarness
    val goldSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("origin", StringType),
      StructField("line_start", IntegerType)))
    val setSchema = StructType(Seq(
      StructField("queries", ArrayType(StructType(Seq(
        StructField("query", StringType),
        StructField("category", StringType),
        StructField("gold_chunk", goldSchema)))))))
    // Forgiving parse: from_json drops the envelope + auxiliary fields
    // not modeled in the schema — serde's no-deny_unknown_fields
    // contract. The query string doubles as the query id (texts are
    // distinct within a set).
    val qrows = s.range(1)
      .select(from_json(lit(evalV3Json), setSchema).as("qs"))
      .select(explode(col("qs.queries")).as("q"))
      .select(col("q.query").as("id"),
        coalesce(col("q.category"), lit("uncategorized")).as("category"),
        col("q.gold_chunk.origin").as("gold_file"),
        col("q.gold_chunk.name").as("gold_name"))
    val qset = EvalHarness.fromParsed(s, qrows)
    val evalQs = qset.scoreable
    val qTokens = evalQs.toDF()
      .select(col("id").as("query_id"),
        explode(TextFns.ftsTokens(col("query"))).as("token"))
      .distinct()
    val fns = Indexes.codeChunks(s).filter(col("chunk_type") === "function")
    val origins = fns.select(col("name"), col("origin").as("file")).distinct()
    val scored = Postings.score(Indexes.codePostings(s), qTokens, "name")
      .withColumn("score", col("n_match") * lit(1000000L) + col("tf_sum"))
    val ranked = TopK.perGroup(scored, Seq(col("query_id")), col("score"),
        col("name"), 20)
      .join(origins, Seq("name"))
      .select(col("query_id"), col("rank"), col("file"), col("name"))
    val rep = EvalHarness.recallReport(ranked, evalQs, Seq(1, 5, 20))
    val skipped = s.range(1)
      .select(lit("__skipped__").as("category"),
        lit(qset.skipped).as("n_queries"),
        lit(0.0).as("r_at_1"), lit(0.0).as("r_at_5"), lit(0.0).as("r_at_20"))
    rep.unionByName(skipped)
  }

  /** Oracle: DuckDB parses the SAME JSON document with its JSON
    * operators and recomputes the whole runner loop in SQL.
    */
  lazy val q116Sql: String =
    s"""WITH $filesAndSpansCteSql,
       |chunks_c AS (
       |  SELECT sp.origin, sp.chunk_type, sp.name,
       |    array_to_string(f.ls[sp.start_line:sp.end_line], chr(10)) AS content
       |  FROM spans sp
       |  JOIN (SELECT origin, string_split(content, chr(10)) AS ls FROM files) f
       |    USING (origin)),
       |fns AS (SELECT name, origin, content FROM chunks_c
       |        WHERE chunk_type = 'function'),
       |raw AS (SELECT ${sq(evalV3Json)}::JSON AS j),
       |qs AS (SELECT unnest(CAST(j->'queries' AS JSON[])) AS q FROM raw),
       |qrows AS (
       |  SELECT q->>'query' AS qid,
       |    COALESCE(q->>'category', 'uncategorized') AS category,
       |    q->'gold_chunk'->>'origin' AS gold_file,
       |    q->'gold_chunk'->>'name' AS gold_name
       |  FROM qs),
       |scoreable AS (SELECT * FROM qrows WHERE gold_name IS NOT NULL),
       |qt AS (
       |  SELECT DISTINCT qid, token FROM (
       |    SELECT qid,
       |      unnest(list_filter(string_split_regex(lower(qid), '[^a-z0-9]+'),
       |                         x -> len(x) >= 2)) AS token
       |    FROM scoreable)),
       |postings AS (
       |  SELECT name, t AS token, COUNT(*) AS tf
       |  FROM (SELECT name,
       |          unnest(list_filter(string_split_regex(lower(content), '[^a-z0-9]+'),
       |                             x -> len(x) >= 2)) AS t
       |        FROM fns)
       |  GROUP BY 1, 2),
       |sparse AS (
       |  SELECT q.qid, p.name,
       |    CAST(COUNT(DISTINCT p.token) AS BIGINT) * 1000000
       |      + CAST(SUM(p.tf) AS BIGINT) AS score
       |  FROM qt q JOIN postings p ON q.token = p.token GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, name, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY score DESC, name ASC) AS rank FROM sparse),
       |res AS (
       |  SELECT r.qid, r.rank, f.origin AS file, r.name
       |  FROM ranked r
       |  JOIN (SELECT DISTINCT name, origin FROM fns) f USING (name)
       |  WHERE r.rank <= 20),
       |hits AS (
       |  SELECT s.qid, s.category,
       |    MAX(CASE WHEN r.rank <= 1 AND r.file = s.gold_file
       |        AND r.name = s.gold_name THEN 1 ELSE 0 END) AS hit1,
       |    MAX(CASE WHEN r.rank <= 5 AND r.file = s.gold_file
       |        AND r.name = s.gold_name THEN 1 ELSE 0 END) AS hit5,
       |    MAX(CASE WHEN r.rank <= 20 AND r.file = s.gold_file
       |        AND r.name = s.gold_name THEN 1 ELSE 0 END) AS hit20
       |  FROM scoreable s LEFT JOIN res r ON r.qid = s.qid
       |  GROUP BY 1, 2)
       |SELECT category, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |  ROUND(SUM(hit1)::DOUBLE / COUNT(*), 6) AS r_at_1,
       |  ROUND(SUM(hit5)::DOUBLE / COUNT(*), 6) AS r_at_5,
       |  ROUND(SUM(hit20)::DOUBLE / COUNT(*), 6) AS r_at_20
       |FROM hits GROUP BY 1
       |UNION ALL
       |SELECT '__overall__', CAST(COUNT(*) AS BIGINT),
       |  ROUND(SUM(hit1)::DOUBLE / COUNT(*), 6),
       |  ROUND(SUM(hit5)::DOUBLE / COUNT(*), 6),
       |  ROUND(SUM(hit20)::DOUBLE / COUNT(*), 6)
       |FROM hits
       |UNION ALL
       |SELECT '__skipped__', CAST(COUNT(*) AS BIGINT), 0.0e0, 0.0e0, 0.0e0
       |FROM qrows WHERE gold_name IS NULL""".stripMargin

  /** q200 — eval-report baseline compare, the CI regression gate behind
    * `cqs eval --baseline X --tolerance N`
    * (/root/reference/src/cli/commands/eval/baseline.rs:103-228): two
    * eval runs with diverging rankings are scored through
    * EvalHarness.recallReport, then diffed per category (plus
    * "__overall__") at R@1/5/20 in percentage points; a per-category
    * drop strictly past the 5pp tolerance flags `regressed`.
    *
    * The two runs are synthesized arithmetically (the q112 synthetic-
    * table discipline — DuckDB re-derives them identically): query i's
    * gold lands at a rank that is pure CASE arithmetic over i, with the
    * runs diverging so every diff branch executes — catA regresses at
    * R@1 (two golds slip 1→3), catB improves at R@1 (two golds rise
    * 4→1), catC VANISHES from the current run (reads 0, and DOES flag —
    * the baseline side exists), catD is NEW in the current run (never
    * flags: nothing to regress from), and overall moves only at R@20.
    * All category sizes are powers-of-two-friendly so every R@K is an
    * exact quarter/half/tenth and every delta sits 5+pp away from the
    * tolerance — no float-boundary exposure.
    */
  def q200(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.search.EvalHarness
    def cat(i: Int): String =
      if (i <= 4) "catA" else if (i <= 8) "catB"
      else if (i <= 10) "catC" else "catD"
    def queriesDs(ids: Seq[Int]) = ids.map(i =>
      EvalHarness.EvalQuery(s"q$i", s"query $i", cat(i), s"f$i", s"g$i")).toDS()
    def goldRankBase(i: Int): Int =
      if (i <= 4) 1 else if (i <= 8) 4 else if (i == 9) 1 else 25
    def goldRankCur(i: Int): Int =
      if (i <= 2) 1 else if (i <= 4) 3 else if (i <= 6) 1
      else if (i <= 8) 4 else if (i == 11) 1 else 6
    // ranked results: gold at its designated rank, filler rows (which
    // can never match a gold) elsewhere, list long enough to cover the
    // gold or 6 rows, whichever is larger
    def resultsDf(ids: Seq[Int], rankOf: Int => Int) = ids.flatMap { i =>
      val g = rankOf(i)
      (1 to math.max(g, 6)).map { r =>
        (s"q$i", r.toLong,
          if (r == g) s"f$i" else s"fx${i}_$r",
          if (r == g) s"g$i" else "nx")
      }
    }.toDF("query_id", "rank", "file", "name")
    val ks = Seq(1, 5, 20)
    val base = EvalHarness.recallReport(
      resultsDf(1 to 10, goldRankBase), queriesDs(1 to 10), ks)
    val cur = EvalHarness.recallReport(
      resultsDf((1 to 8) ++ Seq(11, 12), goldRankCur),
      queriesDs((1 to 8) ++ Seq(11, 12)), ks)
    EvalHarness.baselineCompare(base, cur, ks, tolerancePp = 5.0)
  }

  /** Independent re-derivation: ranks via the same CASE arithmetic, R@K
    * as exact division per category + overall, pp/delta via the same
    * two-step rounding, FULL OUTER union of category-metric keys.
    */
  val q200Sql: String =
    """WITH base_q AS (SELECT unnest(range(1, 11)) AS i),
      |cur_q AS (SELECT unnest(range(1, 9)) AS i
      |          UNION ALL SELECT 11 UNION ALL SELECT 12),
      |base_g AS (
      |  SELECT CASE WHEN i <= 4 THEN 'catA' WHEN i <= 8 THEN 'catB'
      |              WHEN i <= 10 THEN 'catC' ELSE 'catD' END AS category,
      |    CASE WHEN i <= 4 THEN 1 WHEN i <= 8 THEN 4
      |         WHEN i = 9 THEN 1 ELSE 25 END AS g
      |  FROM base_q),
      |cur_g AS (
      |  SELECT CASE WHEN i <= 4 THEN 'catA' WHEN i <= 8 THEN 'catB'
      |              WHEN i <= 10 THEN 'catC' ELSE 'catD' END AS category,
      |    CASE WHEN i <= 2 THEN 1 WHEN i <= 4 THEN 3 WHEN i <= 6 THEN 1
      |         WHEN i <= 8 THEN 4 WHEN i = 11 THEN 1 ELSE 6 END AS g
      |  FROM cur_q),
      |base_all AS (SELECT category, g FROM base_g
      |  UNION ALL SELECT '__overall__', g FROM base_g),
      |cur_all AS (SELECT category, g FROM cur_g
      |  UNION ALL SELECT '__overall__', g FROM cur_g),
      |ks(k) AS (VALUES (1), (5), (20)),
      |base_rep AS (
      |  SELECT category, 'r_at_' || CAST(k AS VARCHAR) AS metric,
      |    ROUND(CAST(SUM(CASE WHEN g <= k THEN 1 ELSE 0 END) AS DOUBLE)
      |      / COUNT(*), 6) AS r
      |  FROM base_all CROSS JOIN ks GROUP BY 1, 2),
      |cur_rep AS (
      |  SELECT category, 'r_at_' || CAST(k AS VARCHAR) AS metric,
      |    ROUND(CAST(SUM(CASE WHEN g <= k THEN 1 ELSE 0 END) AS DOUBLE)
      |      / COUNT(*), 6) AS r
      |  FROM cur_all CROSS JOIN ks GROUP BY 1, 2),
      |joined AS (
      |  SELECT COALESCE(b.category, c.category) AS category,
      |    COALESCE(b.metric, c.metric) AS metric,
      |    ROUND(COALESCE(b.r, 0) * 100, 4) AS base_pp,
      |    ROUND(COALESCE(c.r, 0) * 100, 4) AS cur_pp,
      |    b.r IS NOT NULL AS in_base
      |  FROM base_rep b FULL OUTER JOIN cur_rep c
      |    ON b.category = c.category AND b.metric = c.metric)
      |SELECT category, metric, base_pp, cur_pp,
      |  ROUND(cur_pp - base_pp, 4) AS delta_pp,
      |  CAST(CASE WHEN in_base AND base_pp - cur_pp > 5.0
      |       THEN 1 ELSE 0 END AS INT) AS regressed
      |FROM joined""".stripMargin

  /** q202 — the file-size/parse guards under the gate (reference:
    * byte cap + token-storm guard on the ingest path; previously
    * spec-only): a normal file chunks, a file past MaxFileLines yields
    * ZERO chunks (token-storm guard), a single-line blob past
    * MaxFileBytes yields ZERO chunks (oversized guard). Both engines
    * CONSTRUCT the adversarial contents with repeat() — no literals —
    * and the oracle re-derives the expected counts from the same
    * thresholds (line count / octet length) plus an independent
    * def-line count for the normal file. Guard margins are wide
    * (200,004 lines vs the 200,000 cap; 51 MiB vs 50) so both engines
    * sit on the same side without boundary exposure.
    */
  def q202(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Seq("guards/ok.py", "guards/storm.py", "guards/blob.py")
      .toDF("origin").withColumn("language", lit("python"))
    val head = "def ok(a):\n    return a\n"
    val files = base.withColumn("content",
      when(col("origin").endsWith("ok.py"), lit(head))
        .when(col("origin").endsWith("storm.py"),
          concat(lit(head), repeat(lit("x = 1\n"), 200001)))
        .otherwise(concat(lit(head), repeat(lit("y"), 51 * 1024 * 1024))))
    val counts = Chunker.chunkDataset(files).toDF()
      .groupBy(col("origin")).agg(count(lit(1)).as("n_chunks"))
    base.select(col("origin"))
      .join(counts, Seq("origin"), "left")
      .select(col("origin"), coalesce(col("n_chunks"), lit(0L)).as("n_chunks"))
  }

  val q202Sql: String =
    s"""WITH g(origin, content) AS (
       |  SELECT 'guards/ok.py',
       |    'def ok(a):' || chr(10) || '    return a' || chr(10)
       |  UNION ALL SELECT 'guards/storm.py',
       |    'def ok(a):' || chr(10) || '    return a' || chr(10) ||
       |    repeat('x = 1' || chr(10), 200001)
       |  UNION ALL SELECT 'guards/blob.py',
       |    'def ok(a):' || chr(10) || '    return a' || chr(10) ||
       |    repeat('y', ${51 * 1024 * 1024}))
       |SELECT origin, CAST(CASE
       |    WHEN strlen(content) > ${Chunker.MaxFileBytes} THEN 0
       |    WHEN len(string_split(content, chr(10))) > ${Chunker.MaxFileLines} THEN 0
       |    ELSE len(list_filter(string_split(content, chr(10)),
       |      l -> regexp_matches(l, '^\\s*(async )?def [a-z]')))
       |  END AS BIGINT) AS n_chunks
       |FROM g""".stripMargin

  /** q203 — the gitignore-aware filesystem walk under the gate
    * (reference: enumerate_files_iter src/lib.rs:806-1032, caps
    * src/limits.rs:212-218; previously the one deliberate §2 scope
    * cut). Both engines construct the same virtual tree: the Spark
    * side MATERIALIZES it under a unique temp dir and runs the real
    * [[graft.sources.FileWalk]] (hierarchical .gitignore +
    * .graftignore layers with negation and last-match-wins, hidden
    * filter, linked-worktree prune, depth/size caps, extension
    * filter); the oracle re-derives each rule as an independent SQL
    * predicate over the full candidate list. Every file's content is
    * its own relative path, so the size column is independently
    * checkable as strlen(path).
    */
  def q203(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_walk_q203")
    try {
      def put(rel: String, content: String): Unit = {
        val p = root.resolve(rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      put(".gitignore",
        "*.log\n!keep.log\nbuild/\n/topsecret.txt\ndocs/**/tmp.md\n")
      put(".graftignore", "vendor/\n")
      put("src/.gitignore", "gen_*.py\n!gen_keep.py\n")
      Seq("src/main.py", "src/gen_a.py", "src/gen_keep.py",
        "src/util/helpers.py", "src/trace.log", "keep.log", "sub/keep.log",
        "build/out.py", "build/keep.log", "vendor/lib.py",
        "docs/a/tmp.md", "docs/tmp.md", "docs/guide.md",
        "topsecret.txt", "sub/topsecret.txt",
        ".hidden/x.py", ".secret.py", "README", "notes.rst",
        "d1/d2/d3/ok.py", "d1/d2/d3/d4/deep.py",
        "wt/w.py").foreach(r => put(r, r))
      put("big.py", "y" * 2048)
      put("wt/.git", "gitdir: /elsewhere/wt\n") // linked-worktree marker
      val walked = graft.sources.FileWalk.walk(root.toString,
        graft.sources.FileWalk.Options(
          extensions = Seq("py", "md", "log", "txt"),
          maxDepth = 4, maxFileBytes = 1024))
      walked.toDF("path", "size")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Independent re-derivation: the candidate list enumerates EVERY
    * file in the tree (including the ones each rule must drop); each
    * walk rule is one SQL predicate — extension set, hidden segment,
    * depth cap, size cap, the three pruned directory families, the
    * *.log/!keep.log last-match pair, the anchored root pattern, the
    * double-star pattern, and the nested-gitignore gen pair.
    */
  val q203Sql: String =
    """WITH cand(path) AS (VALUES
      |  ('.gitignore'), ('.graftignore'), ('src/.gitignore'),
      |  ('wt/.git'), ('wt/w.py'), ('big.py'),
      |  ('src/main.py'), ('src/gen_a.py'), ('src/gen_keep.py'),
      |  ('src/util/helpers.py'), ('src/trace.log'), ('keep.log'),
      |  ('sub/keep.log'), ('build/out.py'), ('build/keep.log'),
      |  ('vendor/lib.py'), ('docs/a/tmp.md'), ('docs/tmp.md'),
      |  ('docs/guide.md'), ('topsecret.txt'), ('sub/topsecret.txt'),
      |  ('.hidden/x.py'), ('.secret.py'), ('README'), ('notes.rst'),
      |  ('d1/d2/d3/ok.py'), ('d1/d2/d3/d4/deep.py')),
      |f AS (
      |  SELECT path,
      |    regexp_extract(path, '([^/]*)$', 1) AS base,
      |    len(string_split(path, '/')) AS depth,
      |    CASE WHEN path = 'big.py' THEN 2048
      |         ELSE strlen(path) END AS size
      |  FROM cand)
      |SELECT path, CAST(size AS BIGINT) AS size
      |FROM f
      |WHERE (base LIKE '%_.py' OR base LIKE '%_.md'
      |       OR base LIKE '%_.log' OR base LIKE '%_.txt')
      |  AND NOT regexp_matches(path, '(^|/)\.')
      |  AND depth <= 4
      |  AND size <= 1024
      |  AND NOT path LIKE 'build/%'
      |  AND NOT path LIKE 'vendor/%'
      |  AND NOT path LIKE 'wt/%'
      |  AND NOT (base LIKE '%.log' AND base <> 'keep.log')
      |  AND path <> 'topsecret.txt'
      |  AND NOT regexp_matches(path, '^docs/([^/]+/)*tmp\.md$')
      |  AND NOT (regexp_matches(path, '^src/(.*/)?gen_[^/]*\.py$')
      |           AND base <> 'gen_keep.py')""".stripMargin

}
