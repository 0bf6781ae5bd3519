package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Inverted-index construction and query-time scoring — the Spark form
  * of the reference's FTS leg (/root/reference/src/search/query.rs:560-595)
  * and SPLADE posting-list search (/root/reference/src/splade/index.rs:214-260).
  *
  * The posting list is a DataFrame (doc_id, token, tf): explode tokens →
  * groupBy. At 100 TB this is the one unavoidable shuffle of index build
  * (partial map-side counts first), and the table would be written
  * bucketed BY token so query joins are shuffle-free on the index side;
  * the query side is tiny and broadcast.
  */
object Postings {

  /** Build the term-frequency posting list from a document table. */
  def build(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(TextFns.ftsTokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Batch keyword scoring: join a (query_id, token) query set against
    * the posting list; score = (#distinct matched tokens, Σ tf) — both
    * exact integers, so ranking is engine-independent.
    * The query set is broadcast: it is per-batch tiny while the posting
    * list scales with the corpus.
    */
  def score(postings: DataFrame, queryTokens: DataFrame,
            idCol: String = "doc_id"): DataFrame =
    postings.join(broadcast(queryTokens), Seq("token"))
      .groupBy(col("query_id"), col(idCol))
      .agg(countDistinct(col("token")).as("n_match"),
           sum(col("tf")).as("tf_sum"))

  /** Okapi BM25 batch scoring over the posting list — the lexical
    * ranking of the reference's FTS leg (sqlite FTS5's built-in
    * `ORDER BY bm25(chunks_fts)`, store/search.rs:154) and of its
    * hard-negative miner (train_data/bm25.rs:66-121, which uses the
    * UNSHIFTED Robertson–Spärck-Jones idf). One pass for a whole query
    * batch:
    *
    *   rsj(t)  = (N - df + 0.5)/(df + 0.5)
    *   idf(t)  = ln(1 + rsj)  (luceneIdf, always >= 0 — the FTS5/Lucene
    *             shift)   |   ln(rsj)  (luceneIdf = false — bm25.rs:77,
    *             negative for tokens in more than half the corpus)
    *   w(t, d) = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
    *
    * Float discipline: each (term, doc) partial is a pure scalar
    * expression rounded to integer MICRO-UNITS before the per-doc sum,
    * so the aggregation is exact-integer and association-order-free
    * (the money "cents" rule — QueryDef) and a DuckDB oracle reproduces
    * it bit-for-bit. Output: (query_id, idCol, bm25_u: long).
    *
    * Plan shape at corpus scale: df/dl/avgdl are one pass over the
    * posting table (built once in the index phase); scoring joins the
    * tiny broadcast query set against postings — no corpus-wide shuffle
    * beyond the posting groupBy that already exists. The (N, avgdl)
    * scalar frame rides in on a broadcast cross join — no driver
    * action, the whole thing stays one lazy plan.
    */
  def bm25(postings: DataFrame, queryTokens: DataFrame,
           idCol: String = "doc_id",
           k1: Double = 1.2, b: Double = 0.75,
           luceneIdf: Boolean = true): DataFrame = {
    val (dl, idf) = bm25Stats(postings, idCol, luceneIdf)
    bm25Scored(postings, dl, idf, queryTokens, idCol, k1, b)
  }

  /** The corpus-side BM25 statistics — per-doc length (dl) and the
    * per-token idf (avgdl riding along). These are INDEX-time
    * quantities (FTS5 persists exactly these in its shadow tables);
    * the index build materializes them once per field so the query
    * path never re-aggregates the full posting table.
    */
  def bm25Stats(postings: DataFrame, idCol: String = "doc_id",
                luceneIdf: Boolean = true): (DataFrame, DataFrame) = {
    val dl = postings.groupBy(col(idCol))
      .agg(sum(col("tf")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    val dfreq = postings.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).cast("double").as("dfq"))
    val rsj = (col("n") - col("dfq") + lit(0.5)) / (col("dfq") + lit(0.5))
    val idf = dfreq.crossJoin(broadcast(stats))
      .select(col("token"),
        log(if (luceneIdf) lit(1.0) + rsj else rsj).as("idf"),
        col("avgdl"))
    (dl, idf)
  }

  /** Query-time BM25 against prebuilt stats: three selective joins
    * (broadcast query batch → postings → idf → dl), zero corpus-wide
    * aggregation.
    */
  def bm25Scored(postings: DataFrame, dl: DataFrame, idf: DataFrame,
                 queryTokens: DataFrame, idCol: String = "doc_id",
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TermScores(postings, dl, idf, queryTokens, idCol, k1, b)
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("term_u")).as("bm25_u"))

  /** The per-(query, term, doc) BM25 partials bm25Scored sums — exposed
    * so a MULTI-FIELD consumer (the hot path's body/name/doc scoring)
    * can union several fields' partials and pay ONE aggregation exchange
    * instead of one per field plus full-outer joins (each partial is an
    * exact integer micro-unit, so any grouping of the sums is
    * bit-identical). Every query-side column except `token` passes
    * through, so per-query or per-token settings carried on the query
    * rows reach that one aggregation without a join back. Output:
    * (query-side columns but token, idCol, term_u).
    */
  def bm25TermScores(postings: DataFrame, dl: DataFrame, idf: DataFrame,
                     queryTokens: DataFrame, idCol: String = "doc_id",
                     k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // the idf frame is vocab-cardinality-sized: bounded (~30k tokens)
    // for code/SPLADE corpora but UNBOUNDED for open-vocab text, so it
    // carries no forced broadcast hint — AQE converts this join to a
    // broadcast at runtime when the built frame is actually small and
    // falls back to a shuffle join above the threshold, where a forced
    // broadcast would OOM the driver (PostingsGuardSpec pins both
    // paths score-identical and the runtime broadcast at code vocab)
    queryTokens.join(postings, Seq("token"))
      .join(idf, Seq("token"))
      .join(dl, Seq(idCol))
      .withColumn("term_u",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))) *
          lit(1000000.0), 0).cast("long"))
      .select((queryTokens.columns.filter(_ != "token").map(col) :+
        col(idCol) :+ col("term_u")).toSeq: _*)

  /** Sparse dot-product scoring (SPLADE shape): postings carry integer
    * weights (tf here; model weights in a real SPLADE stage), the query
    * sparse vector is (query_id, token, qw). dot = Σ tf·qw.
    */
  def sparseDot(postings: DataFrame, querySparse: DataFrame,
                idCol: String = "doc_id"): DataFrame =
    postings.join(broadcast(querySparse), Seq("token"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("tf") * col("qw")).as("dot"))
}
