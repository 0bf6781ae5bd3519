package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Fusion, Postings, Rerank, Similarity, TopK}
import graft.sources.{Indexes, Tables}

/** Search-engine operator inventory (SURVEY §2.3-2.4, §2.8, §3.1):
  * inverted-index keyword search, sparse (SPLADE-shaped) dot products,
  * dense brute-force kNN, RRF and α-interpolation fusion, name-match
  * tier scoring, JSON scalar extraction.
  *
  * All retrieval runs per query *set* (a broadcast DataFrame of
  * queries), never per query — Spark amortizes a whole eval batch into
  * one DAG (SURVEY §7 "per-query vs per-set execution").
  */
object Search {

  /** Fixed query sets (deterministic; mirrored verbatim in the oracle
    * SQL as VALUES lists).
    */
  private val ftsQuerySet: Seq[(Long, String)] = Seq(
    1L -> "data", 1L -> "stream",
    2L -> "hash", 2L -> "join", 2L -> "merge",
    3L -> "vector", 3L -> "column")

  private val sparseQuerySet: Seq[(Long, String, Long)] = Seq(
    (1L, "data", 3L), (1L, "query", 2L), (1L, "join", 1L),
    (2L, "window", 2L), (2L, "stream", 2L), (2L, "hash", 1L),
    (3L, "vector", 2L), (3L, "column", 1L))

  private def ftsQueriesDf(s: SparkSession) = {
    import s.implicits._
    ftsQuerySet.toDF("query_id", "token")
  }

  private def sparseQueriesDf(s: SparkSession) = {
    import s.implicits._
    sparseQuerySet.toDF("query_id", "token", "qw")
  }

  private def ftsValuesSql: String =
    ftsQuerySet.map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")

  private def sparseValuesSql: String =
    sparseQuerySet.map { case (q, t, w) => s"($q, '$t', $w)" }.mkString(", ")

  /** DuckDB equivalent of Postings.build on `documents`. */
  private val postingsSql: String =
    """SELECT doc_id, t AS token, COUNT(*) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             x -> len(x) >= 2)) AS t
      |        FROM documents)
      |  GROUP BY 1, 2""".stripMargin

  /** q14 — batch keyword (FTS-leg) search: posting-list join, integer
    * (n_match, tf_sum) ranking, top 10 per query, winners hydrated with
    * doc metadata (the two-phase narrow-scan → rehydrate shape,
    * /root/reference/src/search/query.rs:416-487,620-623).
    */
  def q14(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val postings = Indexes.postings(s, dir)
    val scored = Postings.score(postings, ftsQueriesDf(s))
    val top = TopK.perGroup(
      scored.withColumn("composite",
        col("n_match") * lit(1000000L) + col("tf_sum")),
      Seq(col("query_id")), col("composite"), col("doc_id"), 10)
    top.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("n_match"), col("tf_sum"),
        col("rank"), col("lang"))
  }

  val q14Sql: String =
    s"""WITH q(query_id, token) AS (VALUES $ftsValuesSql),
       |postings AS ($postingsSql),
       |scored AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(COUNT(DISTINCT p.token) AS BIGINT) AS n_match,
       |    CAST(SUM(p.tf) AS BIGINT) AS tf_sum
       |  FROM q JOIN postings p ON q.token = p.token
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY n_match * 1000000 + tf_sum DESC, doc_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT r.query_id, r.doc_id, r.n_match, r.tf_sum, r.rank, d.lang
       |FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
       |WHERE r.rank <= 10""".stripMargin

  /** q15 — RRF fusion of the FTS leg and the dense cosine leg
    * (K = 60, per-leg pool 60 = 3×20, output 20 — the candidate-count
    * shaping of /root/reference/src/search/query.rs:367-372,607-609;
    * fusion semantics /root/reference/src/search/scoring/fusion.rs:36-74).
    * query_id q uses embedding vec_id = q as its dense query vector and
    * the q14 token set as its keyword leg.
    */
  def q15(s: SparkSession, dir: String): DataFrame = {
    val emb  = Tables.embeddings(s, dir)
    val qids = Seq(1L, 2L, 3L)

    val ftsLeg = TopK.perGroup(
      Postings.score(Indexes.postings(s, dir), ftsQueriesDf(s))
        .withColumn("score", col("n_match") * lit(1000000L) + col("tf_sum")),
      Seq(col("query_id")), col("score"), col("doc_id"), 60)

    val qvecs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val denseLeg = Similarity.cosineKnn(qvecs, emb, 60, excludeSelf = false)
      .withColumnRenamed("vec_id", "doc_id")

    // each leg already holds one ranked row per (query_id, doc_id)
    val fused = Fusion.rrfRanked(Seq(ftsLeg, denseLeg), "query_id", "doc_id", "rank")
    TopK.perGroup(fused, Seq(col("query_id")), col("rrf_score"), col("doc_id"), 20)
      .select(col("query_id"), col("doc_id"), col("rrf_score"), col("rank"))
  }

  val q15Sql: String =
    s"""WITH q(query_id, token) AS (VALUES $ftsValuesSql),
       |postings AS ($postingsSql),
       |fts_ranked AS (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY n_match * 1000000 + tf_sum DESC, doc_id ASC) AS leg_rank
       |  FROM (SELECT q.query_id, p.doc_id, COUNT(DISTINCT p.token) AS n_match,
       |          SUM(p.tf) AS tf_sum
       |        FROM q JOIN postings p ON q.token = p.token GROUP BY 1, 2)),
       |dense_ranked AS (
       |  SELECT query_id, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_r DESC, doc_id ASC) AS leg_rank
       |  FROM (SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
       |          ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
       |                qv.embedding::DOUBLE[]), 6) AS cos_r
       |        FROM embeddings e
       |        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN (1,2,3)) qv)),
       |unioned AS (
       |  SELECT query_id, doc_id, leg_rank FROM fts_ranked WHERE leg_rank <= 60
       |  UNION ALL
       |  SELECT query_id, doc_id, leg_rank FROM dense_ranked WHERE leg_rank <= 60),
       |fused AS (
       |  SELECT query_id, doc_id, SUM(1.0 / (60 + leg_rank)) AS rrf_score
       |  FROM unioned GROUP BY 1, 2)
       |SELECT query_id, doc_id, rrf_score,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
       |FROM fused
       |QUALIFY rank <= 20""".stripMargin

  /** q16 — sparse (SPLADE-shaped) dot-product retrieval: weighted query
    * tokens × posting list, integer dot, top 20
    * (/root/reference/src/splade/index.rs:214-260).
    */
  def q16(s: SparkSession, dir: String): DataFrame = {
    val postings = Indexes.postings(s, dir)
    val dots = Postings.sparseDot(postings, sparseQueriesDf(s))
    TopK.perGroup(dots, Seq(col("query_id")), col("dot"), col("doc_id"), 20)
      .select(col("query_id"), col("doc_id"), col("dot"), col("rank"))
  }

  val q16Sql: String =
    s"""WITH q(query_id, token, qw) AS (VALUES $sparseValuesSql),
       |postings AS ($postingsSql),
       |dots AS (
       |  SELECT q.query_id, p.doc_id, CAST(SUM(p.tf * q.qw) AS BIGINT) AS dot
       |  FROM q JOIN postings p ON q.token = p.token GROUP BY 1, 2)
       |SELECT query_id, doc_id, dot,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY dot DESC, doc_id ASC) AS INT) AS rank
       |FROM dots
       |QUALIFY rank <= 20""".stripMargin

  /** q17 — exact brute-force cosine kNN: 5 query vectors × full corpus,
    * top 10 each, self excluded. The ground-truth path every ANN variant
    * is graded against (/root/reference/src/search/query.rs:316-512).
    */
  def q17(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qvecs = emb.filter(col("vec_id") <= 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.cosineKnn(qvecs, emb, 10)
      .select(col("query_id"), col("vec_id"), col("cos_r"), col("rank"))
  }

  val q17Sql: String =
    """WITH qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
      |            FROM embeddings WHERE vec_id <= 4),
      |scored AS (
      |  SELECT qv.query_id, e.vec_id,
      |    ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.qvec), 6) AS cos_r
      |  FROM embeddings e CROSS JOIN qv
      |  WHERE e.vec_id != qv.query_id)
      |SELECT query_id, vec_id, cos_r,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos_r DESC, vec_id ASC) AS INT) AS rank
      |FROM scored
      |QUALIFY rank <= 10""".stripMargin

  /** q18 — α-interpolation hybrid fusion (α = 0.7): dense pool (top 100)
    * + sparse leg normalized by per-query max, absent legs as 0
    * (/root/reference/src/search/query.rs:92-100,970-993).
    */
  def q18(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qvecs = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val densePool = Similarity.cosineKnn(qvecs, emb, 100, excludeSelf = false)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cos_r"))
    val sparseLeg = Postings.sparseDot(
      Indexes.postings(s, dir), sparseQueriesDf(s))
    val fused = Fusion.alphaInterpolate(densePool, sparseLeg,
      "query_id", "doc_id", "cos_r", "dot", alpha = 0.7)
      .withColumn("fused_r", round(col("fused_score"), 6))
    TopK.perGroup(fused, Seq(col("query_id")), col("fused_r"), col("doc_id"), 10)
      .select(col("query_id"), col("doc_id"), col("fused_r"), col("rank"))
  }

  val q18Sql: String =
    s"""WITH q(query_id, token, qw) AS (VALUES $sparseValuesSql),
       |postings AS ($postingsSql),
       |sparse AS (
       |  SELECT query_id, doc_id, dot, dot / MAX(dot) OVER (PARTITION BY query_id) AS sparse_norm
       |  FROM (SELECT q.query_id, p.doc_id, CAST(SUM(p.tf * q.qw) AS BIGINT) AS dot
       |        FROM q JOIN postings p ON q.token = p.token GROUP BY 1, 2)),
       |dense AS (
       |  SELECT query_id, doc_id, cos_r FROM (
       |    SELECT query_id, doc_id, cos_r,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cos_r DESC, doc_id ASC) AS rnk
       |    FROM (SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
       |            ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
       |                  qv.embedding::DOUBLE[]), 6) AS cos_r
       |          FROM embeddings e
       |          CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN (1,2,3)) qv))
       |  WHERE rnk <= 100),
       |fused AS (
       |  SELECT COALESCE(d.query_id, sp.query_id) AS query_id,
       |    COALESCE(d.doc_id, sp.doc_id) AS doc_id,
       |    ROUND(0.7 * COALESCE(d.cos_r, 0.0)
       |        + 0.3 * COALESCE(sp.sparse_norm, 0.0), 6) AS fused_r
       |  FROM dense d FULL OUTER JOIN sparse sp
       |    ON d.query_id = sp.query_id AND d.doc_id = sp.doc_id)
       |SELECT query_id, doc_id, fused_r,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY fused_r DESC, doc_id ASC) AS INT) AS rank
       |FROM fused
       |QUALIFY rank <= 10""".stripMargin

  /** q19 — name-match tier scoring
    * (exact 1.0 / contains 0.8 / contained-by 0.6 / token-overlap 0.5,
    * /root/reference/src/search/scoring/name_match.rs + config.rs:37-47),
    * as exact integer tiers ×100 over part names.
    */
  def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nameQueries = Seq(1L -> "blue rod", 2L -> "widget", 3L -> "large steel bolt")
      .toDF("query_id", "qname")
    val parts = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
    parts.crossJoin(broadcast(nameQueries))
      .withColumn("tier_c",
        when(col("p_name") === col("qname"), 100L)
          .when(instr(col("p_name"), col("qname")) > 0, 80L)
          .when(instr(col("qname"), col("p_name")) > 0, 60L)
          .when(arrays_overlap(split(col("p_name"), " "), split(col("qname"), " ")), 50L)
          .otherwise(0L))
      .filter(col("tier_c") > 0)
      .select(col("query_id"), col("p_partkey"), col("p_name"), col("tier_c"))
  }

  val q19Sql: String =
    """WITH nq(query_id, qname) AS
      |  (VALUES (1, 'blue rod'), (2, 'widget'), (3, 'large steel bolt'))
      |SELECT * FROM (
      |  SELECT query_id, p_partkey, p_name,
      |    CASE WHEN p_name = qname THEN 100
      |         WHEN position(qname IN p_name) > 0 THEN 80
      |         WHEN position(p_name IN qname) > 0 THEN 60
      |         WHEN len(list_intersect(string_split(p_name, ' '),
      |                                 string_split(qname, ' '))) > 0 THEN 50
      |         ELSE 0 END AS tier_c
      |  FROM part CROSS JOIN nq)
      |WHERE tier_c > 0""".stripMargin

  /** q20 — JSON scalar extraction + aggregation over the events stream
    * table (props is a JSON string column).
    */
  def q20(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
           max(col("k")).as("max_k"))

  val q20Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  /** q47 — rank-signal provenance: every fused result carries the rank
    * it held in EACH leg (0 = absent from that leg) alongside the fused
    * score — the reference's per-result signal record
    * (/root/reference/src/search/query.rs:707-745, provenance.rs) as
    * plain columns assembled from the leg frames.
    */
  def q47(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    val ftsRank = TopK.perGroup(
      Postings.score(Indexes.postings(s, dir), ftsQueriesDf(s))
        .withColumn("score", col("n_match") * lit(1000000L) + col("tf_sum")),
      Seq(col("query_id")), col("score"), col("doc_id"), 60)
      .select(col("query_id"), col("doc_id"), col("rank").as("fts_rank"))
    val qvecs = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val denseRank = Similarity.cosineKnn(qvecs, emb, 60, excludeSelf = false)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val joined = ftsRank.join(denseRank, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60) + col("fts_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
      .na.fill(0, Seq("fts_rank", "dense_rank"))
    TopK.perGroup(joined, Seq(col("query_id")), col("rrf_score"), col("doc_id"), 20)
      .select(col("query_id"), col("doc_id"), col("fts_rank"), col("dense_rank"),
        round(col("rrf_score"), 6).as("rrf_r"), col("rank"))
  }

  val q47Sql: String =
    s"""WITH q(query_id, token) AS (VALUES $ftsValuesSql),
       |postings AS ($postingsSql),
       |fts_ranked AS (
       |  SELECT query_id, doc_id, leg_rank AS fts_rank FROM (
       |    SELECT query_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY n_match * 1000000 + tf_sum DESC, doc_id ASC) AS leg_rank
       |    FROM (SELECT q.query_id, p.doc_id, COUNT(DISTINCT p.token) AS n_match,
       |            SUM(p.tf) AS tf_sum
       |          FROM q JOIN postings p ON q.token = p.token GROUP BY 1, 2))
       |  WHERE leg_rank <= 60),
       |dense_ranked AS (
       |  SELECT query_id, doc_id, leg_rank AS dense_rank FROM (
       |    SELECT query_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cos_r DESC, doc_id ASC) AS leg_rank
       |    FROM (SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
       |            ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
       |                  qv.embedding::DOUBLE[]), 6) AS cos_r
       |          FROM embeddings e
       |          CROSS JOIN (SELECT * FROM embeddings WHERE vec_id IN (1,2,3)) qv))
       |  WHERE leg_rank <= 60),
       |joined AS (
       |  SELECT COALESCE(f.query_id, d.query_id) AS query_id,
       |    COALESCE(f.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(f.fts_rank, 0) AS fts_rank,
       |    COALESCE(d.dense_rank, 0) AS dense_rank,
       |    COALESCE(1.0 / (60 + f.fts_rank), 0.0)
       |      + COALESCE(1.0 / (60 + d.dense_rank), 0.0) AS rrf_score
       |  FROM fts_ranked f FULL OUTER JOIN dense_ranked d
       |    ON f.query_id = d.query_id AND f.doc_id = d.doc_id)
       |SELECT query_id, doc_id, CAST(fts_rank AS INT) AS fts_rank,
       |  CAST(dense_rank AS INT) AS dense_rank,
       |  ROUND(rrf_score, 6) AS rrf_r,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
       |FROM joined
       |QUALIFY rank <= 20""".stripMargin

  /** q85 — BM25 hard-negative mining for training-pair generation
    * (/root/reference/src/train_data/bm25.rs:26-130): an in-memory BM25
    * index (k1=1.2, b=0.75, Robertson–Spärck-Jones idf WITHOUT the
    * Lucene +1 shift — bm25.rs:105-118) scores the corpus per query;
    * the top hit is the positive and the next k become hard negatives,
    * with a content-hash guard so exact duplicates of the positive
    * never leak into the negative set.
    *
    * Float discipline: each (term, doc) partial score is a pure scalar
    * expression rounded to integer micro-units BEFORE the per-doc sum,
    * so the aggregation is exact-integer and association-order-free —
    * the same trick as the money "cents" rule (QueryDef).
    *
    * Scale: df/dl/avgdl are one pass over the posting table (built
    * once in the index phase); scoring joins the tiny broadcast query
    * set against postings — no corpus-wide shuffle beyond the posting
    * groupBy that already exists.
    */
  def q85(s: SparkSession, dir: String): DataFrame = {
    val postings = Indexes.postings(s, dir) // (doc_id, token, tf)
    val docs = Tables.documents(s, dir)
    // the shared BM25 kernel with bm25.rs's UNSHIFTED RSJ idf
    val scored = Postings.bm25(postings, ftsQueriesDf(s), luceneIdf = false)
    // ranked feeds three consumers (the positive pick, the negative
    // join, the final positive row) — cut it once or the BM25 stats +
    // scoring + rank window chain runs per consumer
    val ranked = TopK.perGroup(scored, Seq(col("query_id")), col("bm25_u"),
      col("doc_id"), 12)
      .join(docs.select(col("doc_id"), md5(col("text")).as("chash")), Seq("doc_id"))
      .transform(graft.operators.Materialize.stable)
    val pos = ranked.filter(col("rank") === 1)
      .select(col("query_id"), col("chash").as("pos_hash"))
    val negs = ranked.filter(col("rank") > 1)
      .join(broadcast(pos), Seq("query_id"))
      .filter(col("chash") =!= col("pos_hash"))
    val renum = TopK.perGroup(
      negs.select(col("query_id"), col("doc_id"), col("bm25_u")),
      Seq(col("query_id")), col("bm25_u"), col("doc_id"), 5, rankCol = "neg_rank")
    ranked.filter(col("rank") === 1)
      .select(col("query_id"), col("doc_id"), lit("positive").as("role"),
        col("bm25_u"), lit(0).cast("int").as("neg_rank"))
      .unionByName(renum.select(col("query_id"), col("doc_id"),
        lit("negative").as("role"), col("bm25_u"), col("neg_rank").cast("int")))
  }

  val q85Sql: String =
    s"""WITH q(query_id, token) AS (VALUES $ftsValuesSql),
       |postings AS ($postingsSql),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS dl
       |       FROM postings GROUP BY 1),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
       |idf AS (
       |  SELECT token, ln((s.n - dfq + 0.5e0) / (dfq + 0.5e0)) AS idf, s.avgdl
       |  FROM (SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfq
       |        FROM postings GROUP BY 1) d CROSS JOIN stats s),
       |per_term AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(ROUND(i.idf * (p.tf * 2.2e0) /
       |      (p.tf + 1.2e0 * (0.25e0 + 0.75e0 * l.dl / i.avgdl)) *
       |      1000000.0e0, 0) AS BIGINT) AS term_u
       |  FROM q JOIN postings p USING (token)
       |  JOIN idf i ON i.token = q.token
       |  JOIN dl l ON l.doc_id = p.doc_id),
       |scored AS (
       |  SELECT query_id, doc_id, CAST(SUM(term_u) AS BIGINT) AS bm25_u
       |  FROM per_term GROUP BY 1, 2),
       |ranked AS (
       |  SELECT sc.query_id, sc.doc_id, sc.bm25_u, md5(d.text) AS chash,
       |    ROW_NUMBER() OVER (PARTITION BY sc.query_id
       |      ORDER BY sc.bm25_u DESC, sc.doc_id ASC) AS rank
       |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
       |  QUALIFY rank <= 12),
       |pos AS (SELECT query_id, doc_id, bm25_u, chash AS pos_hash
       |        FROM ranked WHERE rank = 1),
       |negs AS (
       |  SELECT r.query_id, r.doc_id, r.bm25_u,
       |    ROW_NUMBER() OVER (PARTITION BY r.query_id
       |      ORDER BY r.bm25_u DESC, r.doc_id ASC) AS neg_rank
       |  FROM ranked r JOIN pos p USING (query_id)
       |  WHERE r.rank > 1 AND r.chash != p.pos_hash
       |  QUALIFY neg_rank <= 5)
       |SELECT query_id, doc_id, 'positive' AS role, bm25_u,
       |  CAST(0 AS INT) AS neg_rank FROM pos
       |UNION ALL
       |SELECT query_id, doc_id, 'negative' AS role, bm25_u,
       |  CAST(neg_rank AS INT) AS neg_rank FROM negs""".stripMargin

  /** q204 — BM25 ranked retrieval with the FTS5/Lucene-SHIFTED idf
    * (ln(1 + rsj), always >= 0) — the serving-side ranking the
    * reference gets from sqlite FTS5's built-in bm25()
    * (store/search.rs:154 `ORDER BY bm25(chunks_fts)`), as opposed to
    * q85's training-side miner idf (bm25.rs, unshifted, can go
    * negative). Top 10 per query by (bm25_u desc, doc_id asc); the
    * micro-unit discipline keeps the hash gate exact (Postings.bm25).
    */
  def q204(s: SparkSession, dir: String): DataFrame = {
    val scored = Postings.bm25(Indexes.postings(s, dir), ftsQueriesDf(s))
    TopK.perGroup(scored, Seq(col("query_id")), col("bm25_u"),
        col("doc_id"), 10)
      .select(col("query_id"), col("doc_id"), col("bm25_u"),
        col("rank").cast("int").as("rank"))
  }

  val q204Sql: String =
    s"""WITH q(query_id, token) AS (VALUES $ftsValuesSql),
       |postings AS ($postingsSql),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS dl
       |       FROM postings GROUP BY 1),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
       |idf AS (
       |  SELECT token,
       |    ln(1.0e0 + (s.n - dfq + 0.5e0) / (dfq + 0.5e0)) AS idf, s.avgdl
       |  FROM (SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfq
       |        FROM postings GROUP BY 1) d CROSS JOIN stats s),
       |per_term AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(ROUND(i.idf * (p.tf * 2.2e0) /
       |      (p.tf + 1.2e0 * (0.25e0 + 0.75e0 * l.dl / i.avgdl)) *
       |      1000000.0e0, 0) AS BIGINT) AS term_u
       |  FROM q JOIN postings p USING (token)
       |  JOIN idf i ON i.token = q.token
       |  JOIN dl l ON l.doc_id = p.doc_id),
       |scored AS (
       |  SELECT query_id, doc_id, CAST(SUM(term_u) AS BIGINT) AS bm25_u
       |  FROM per_term GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc_id, bm25_u,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY bm25_u DESC, doc_id ASC) AS INT) AS rank
       |  FROM scored QUALIFY rank <= 10)
       |SELECT query_id, doc_id, bm25_u, rank FROM ranked""".stripMargin

  /** q81 — reference-weighted multi-index search
    * (/root/reference/src/reference.rs:1-10,296-345): a read-only
    * REFERENCE index (an external codebase's index) is searched
    * alongside the project index; reference scores are multiplied by a
    * weight (default 0.8) so equally-similar reference results rank
    * below project results, and the score threshold is applied AFTER
    * weighting — the reference fixes exactly the under-sampling bug of
    * thresholding pre-weight (reference.rs:310-326: raw threshold is
    * widened to thr/weight, then results re-filtered post-weight). In
    * batch Spark both corpora score in one DAG, so the post-weight
    * filter IS the threshold — no over-fetch dance needed.
    *
    * doc_id % 4 == 0 plays the reference corpus; score is the FTS
    * composite scaled to match-units ((n_match·1e6 + tf_sum)/1e6), so
    * the threshold 1.0 means "at least one full term match after
    * demotion" — weaker reference hits drop where a project hit of the
    * same raw score survives.
    */
  def q81(s: SparkSession, dir: String): DataFrame = {
    val scored = Postings.score(Indexes.postings(s, dir), ftsQueriesDf(s))
    val weighted = scored
      .withColumn("index_name",
        when(col("doc_id") % 4 === 0, "ref_corpus").otherwise("project"))
      .withColumn("score_r",
        round(((col("n_match") * lit(1000000L) + col("tf_sum")).cast("double") *
          when(col("doc_id") % 4 === 0, lit(0.8)).otherwise(lit(1.0))) /
          lit(1000000.0), 6))
      .filter(col("score_r") >= 1.0)
      .select(col("query_id"), col("doc_id"), col("index_name"), col("score_r"))
    TopK.perGroup(weighted, Seq(col("query_id")), col("score_r"),
      col("doc_id"), 15)
  }

  val q81Sql: String =
    s"""WITH q(query_id, token) AS (VALUES $ftsValuesSql),
       |postings AS ($postingsSql),
       |scored AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(COUNT(DISTINCT p.token) AS BIGINT) AS n_match,
       |    CAST(SUM(p.tf) AS BIGINT) AS tf_sum
       |  FROM q JOIN postings p ON q.token = p.token
       |  GROUP BY 1, 2),
       |weighted AS (
       |  SELECT query_id, doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN 'ref_corpus' ELSE 'project' END AS index_name,
       |    ROUND(((n_match * 1000000 + tf_sum)::DOUBLE *
       |      (CASE WHEN doc_id % 4 = 0 THEN 0.8e0 ELSE 1.0e0 END)) / 1000000.0e0, 6)
       |      AS score_r
       |  FROM scored)
       |SELECT query_id, doc_id, index_name, score_r,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score_r DESC, doc_id ASC) AS INT) AS rank
       |FROM weighted
       |WHERE score_r >= 1.0e0
       |QUALIFY rank <= 15""".stripMargin

  /** Queries for q107 — each carries the corpus's one RARE token
    * ('dup': 25 docs, only 8 within the first 200 chars), so coverage
    * fractions vary across candidates and the passage-limited
    * cross-encoder genuinely disagrees with the full-text retrieval
    * leg for the docs whose 'dup' sits past the passage cut.
    */
  val RerankQueries: Seq[(Long, String)] = Seq(
    (1L, "dup merge scan batch"),
    (2L, "dup key filter slow group"))

  /** q107 — cross-encoder rerank blend under the gate
    * (/root/reference/src/reranker.rs; `Rerank.rescore`/`blend` are
    * the operators): the retrieval leg scores candidates by
    * query-token coverage over the FULL text; the cross-encoder stage
    * re-scores the (query, passage) pair — the stub scorer reads only
    * the first 200 chars, the passage actually shown — through the
    * real mapPartitions one-scorer-per-partition lifecycle; blend =
    * 0.6·ce + (1−0.6)·retrieval, per-query top-5 with the standard
    * tie-break. Scores are small-denominator rationals, so the blend
    * doubles are bit-identical across engines; the SQL writes
    * (1e0 − 0.6e0), not 0.4, to match the Scala 1−w exactly.
    */
  def q107(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val queries = RerankQueries.toDF("query_id", "qtext")
    def toks(c: Column) = array_distinct(filter(
      split(lower(c), "[^a-z0-9]+"), t => length(t) >= 2))
    val qt = queries.select(col("query_id"), col("qtext"),
      explode(toks(col("qtext"))).as("tok"))
    val qn = qt.groupBy(col("query_id")).agg(count(lit(1)).as("nq"))
    val dt = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val ret = qt.join(dt, Seq("tok"))
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("n"))
      .join(qn, Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("n").cast("double") / col("nq")).as("score"))
    val pool = ret.join(queries, Seq("query_id"))
      .join(docs.select(col("doc_id"),
        substring(col("text"), 1, 200).as("passage")), Seq("doc_id"))
      .select(col("query_id"), col("qtext").as("query_text"),
        col("doc_id"), col("passage"))
    val rescored = Rerank.rescore(pool).toDF()
    Rerank.blend(ret, rescored, weight = 0.6, k = 5)
      .select(col("query_id"), col("doc_id"),
        col("final_rank").cast("int").as("final_rank"),
        round(col("final_score"), 6).as("final_score"))
  }

  val q107Sql: String = {
    val qVals = RerankQueries.map { case (i, q) => s"($i, '$q')" }.mkString(", ")
    s"""WITH queries(query_id, qtext) AS (VALUES $qVals),
       |qt AS (
       |  SELECT query_id, unnest(list_distinct(list_filter(
       |    string_split_regex(lower(qtext), '[^a-z0-9]+'),
       |    x -> len(x) >= 2))) AS tok
       |  FROM queries),
       |qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS nq FROM qt GROUP BY 1),
       |dt AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |    string_split_regex(lower(text), '[^a-z0-9]+'),
       |    x -> len(x) >= 2))) AS tok
       |  FROM documents),
       |pt AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |    string_split_regex(lower(substr(text, 1, 200)), '[^a-z0-9]+'),
       |    x -> len(x) >= 2))) AS tok
       |  FROM documents),
       |ret AS (
       |  SELECT q.query_id, d.doc_id,
       |    CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(qn.nq) AS score
       |  FROM qt q JOIN dt d USING (tok) JOIN qn ON qn.query_id = q.query_id
       |  GROUP BY 1, 2),
       |ce AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(qn.nq) AS ce_score
       |  FROM qt q JOIN pt p USING (tok) JOIN qn ON qn.query_id = q.query_id
       |  GROUP BY 1, 2),
       |fin AS (
       |  SELECT r.query_id, r.doc_id,
       |    COALESCE(c.ce_score, 0.0e0) * 0.6e0 + r.score * (1e0 - 0.6e0) AS f
       |  FROM ret r LEFT JOIN ce c
       |    ON c.query_id = r.query_id AND c.doc_id = r.doc_id),
       |rk AS (
       |  SELECT query_id, doc_id, f, row_number() OVER
       |    (PARTITION BY query_id ORDER BY f DESC, doc_id ASC) AS final_rank
       |  FROM fin)
       |SELECT query_id, doc_id, CAST(final_rank AS INT) AS final_rank,
       |  ROUND(f, 6) AS final_score
       |FROM rk WHERE final_rank <= 5""".stripMargin
  }

  /** q201 — sanitize_fts_query under the gate
    * (/root/reference/src/store/mod.rs:222-246, applied on the hot
    * path at src/search/query.rs:562): the FTS injection defence —
    * whitespace split, case-SENSITIVE boolean-operator drop on the RAW
    * word, special-char strip per surviving word, join + trim. The
    * fixture covers every special character, both operator cases
    * (uppercase dropped, lowercase kept), the `O+R` strip-to-operator
    * nuance, the fully-stripped-word double-space quirk, a query that
    * sanitizes to empty, and a NEAR() function-call shape. The
    * column-side derivation (filter/transform/array_join — codegen'd
    * builtins, no UDF) is independently mirrored by the oracle and
    * pinned equal to the driver-side Router.sanitizeFtsQuery by spec.
    *
    * Scale: one narrow projection per query row — the sanitizer is a
    * row-local O(len) pass wherever the keyword leg runs.
    */
  def q201(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fixture = ftsSanitizeFixture.toDF("qid", "raw")
    val words = filter(split(col("raw"), "\\s+"),
      w => !w.isin("OR", "AND", "NOT", "NEAR"))
    val stripped = transform(words,
      w => regexp_replace(w, """["*()+^:{}\-]""", ""))
    fixture.select(col("qid"), col("raw"),
      trim(array_join(stripped, " ")).as("sanitized"))
  }

  private[graft] val ftsSanitizeFixture: Seq[(Long, String)] = Seq(
    (1L, "load config"),
    (2L, "a AND b OR c NOT d NEAR e"),
    (3L, "or and not near stay lowercase"),
    (4L, "\"quoted\" *star* (paren) plus+ dash-y"),
    (5L, "col:name ^boost {brace}"),
    (6L, "a ((( b"),
    (7L, "  leading and trailing  "),
    (8L, "OR"),
    (9L, "O+R survives the raw-word filter"),
    (10L, "NEAR(func, 3) is not the operator"))

  lazy val q201Sql: String = {
    val vals = ftsSanitizeFixture
      .map { case (i, q) => s"($i, '${q.replace("'", "''")}')" }
      .mkString(",\n")
    s"""SELECT CAST(qid AS BIGINT) AS qid, raw,
       |  -- COALESCE: DuckDB array_to_string([]) is NULL, Spark's is ''
       |  trim(COALESCE(array_to_string(list_transform(
       |    list_filter(string_split_regex(raw, '\\s+'),
       |      w -> w NOT IN ('OR', 'AND', 'NOT', 'NEAR')),
       |    w -> regexp_replace(w, '["*()+^:{}-]', '', 'g')), ' '), '')) AS sanitized
       |FROM (VALUES
       |$vals
       |) AS t(qid, raw)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q201_fts_sanitize", q201, Some(q201Sql)),
    QueryDef("q14_fts_keyword_topk", q14, Some(q14Sql)),
    QueryDef("q15_rrf_hybrid_fusion", q15, Some(q15Sql)),
    QueryDef("q16_sparse_dot_topk", q16, Some(q16Sql)),
    QueryDef("q17_knn_cosine_bruteforce", q17, Some(q17Sql)),
    QueryDef("q18_alpha_hybrid_fusion", q18, Some(q18Sql)),
    QueryDef("q19_name_match_tiers", q19, Some(q19Sql)),
    QueryDef("q20_json_events_agg", q20, Some(q20Sql)),
    QueryDef("q47_rank_signal_provenance", q47, Some(q47Sql)),
    QueryDef("q81_reference_weighted", q81, Some(q81Sql)),
    QueryDef("q85_bm25_negatives", q85, Some(q85Sql)),
    QueryDef("q204_bm25_lucene_topk", q204, Some(q204Sql)),
    QueryDef("q107_rerank_blend", q107, Some(q107Sql)))
}
