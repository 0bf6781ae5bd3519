package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFns

/** Text-analysis operators for the training-data pipeline: quality
  * scoring, language identification, token counting / budget cuts, and
  * winnowing document fingerprints.
  *
  * Everything is column-native (no UDFs): per-doc features are one
  * narrow projection over the corpus (no shuffle at all until an
  * aggregation asks for one), so at 100 TB these run at full scan
  * throughput with column pruning — the scan reads only (id, text).
  *
  * Reference anchors: token budgeting mirrors cqs `--tokens` output
  * shaping (/root/reference/src/embedder/core.rs:572-605); the
  * fingerprints are the standard winnowing scheme (local-min selection
  * over a sliding window of k-gram hashes) the reference's
  * canonical-hash dedup family approximates
  * (/root/reference/src/parser/chunk.rs:174-260).
  */
object TextAnalysis {

  /** Fixed stopword list (deterministic, mirrored verbatim in oracle
    * SQL).
    */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Per-doc quality features. Ratios are double divisions of exact
    * integer counts (bit-identical across engines) rounded to 6; the
    * composite is computed from the UNrounded ratios in a pinned
    * expression order.
    */
  def qualityFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws   = TextFns.words(col(textCol))
    val toks = TextFns.ftsTokens(col(textCol))
    val base = docs.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars_t"),
      size(ws).cast("long").as("n_words"),
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("sum_word_len"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_uniq"),
      size(filter(toks, t => t.isin(Stopwords: _*))).cast("long").as("n_stop"))
    val uniqRatio = col("n_uniq").cast("double") / col("n_tokens")
    val stopRatio = col("n_stop").cast("double") / col("n_tokens")
    base.select(col(idCol), col("n_chars_t"), col("n_words"), col("n_tokens"),
      col("n_uniq"), col("n_stop"),
      when(col("n_words") === 0, 0.0)
        .otherwise(round(col("sum_word_len").cast("double") / col("n_words"), 6))
        .as("avg_word_len_r"),
      when(col("n_tokens") === 0, 0.0).otherwise(round(uniqRatio, 6))
        .as("uniq_ratio_r"),
      when(col("n_tokens") === 0, 0.0).otherwise(round(stopRatio, 6))
        .as("stop_ratio_r"),
      when(col("n_tokens") === 0, 0.0)
        .otherwise(round(uniqRatio * 0.5 + (lit(1.0) - stopRatio) * 0.5, 6))
        .as("quality_r"))
  }

  /** Marker-token sets per language, checked in this fixed order; the
    * prediction is the first language whose marker-hit count is >= every
    * other's (deterministic argmax tie-break by list position).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "is", "not"),
    "es" -> Seq("el", "los", "las", "y", "es", "no"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas"),
    "zh" -> Seq("de5", "shi4", "le5", "he2", "bu4", "zai4"))

  /** Language-ID scores + argmax prediction per doc. */
  def langId(docs: DataFrame, idCol: String, textCol: String,
             carryCols: Seq[String] = Nil): DataFrame = {
    val toks = TextFns.ftsTokens(col(textCol))
    val scoreCols = LangMarkers.map { case (lang, markers) =>
      size(filter(toks, t => t.isin(markers: _*))).cast("long").as(s"s_$lang")
    }
    val scored = docs.select(col(idCol) +: carryCols.map(col) ++: scoreCols: _*)
    val langs = LangMarkers.map(_._1)
    val pred = langs.foldRight(lit("unknown")) { (lang, elseCol) =>
      val isMax = langs.filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
      when(col(s"s_$lang") > 0 && isMax, lit(lang)).otherwise(elseCol)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** BPE-ish token estimate: letter runs, digit runs, and single
    * non-alphanumeric non-space chars each count as one token — the
    * standard cheap proxy for subword tokenizer counts.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Token-budget cut: within each group (ordered by id) keep rows while
    * the running token total stays within the budget — cumulative-sum
    * window + filter, the distributed form of the reference's output
    * budgeting loop.
    */
  def budgetCut(docs: DataFrame, idCol: String, textCol: String,
                groupCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(groupCol), col(idCol),
        bpeTokenCount(col(textCol)).as("n_bpe"))
      .withColumn("running_total", sum(col("n_bpe")).over(w))
      .filter(col("running_total") <= budget)
  }

  /** Overlapping token windows for over-long texts — the reference's
    * split_into_windows (/root/reference/src/embedder/core.rs:623-700):
    * word windows of maxTokens with `overlap` carried between
    * consecutive windows (step = maxTokens - overlap; overlap must be <
    * maxTokens). Texts at or under maxTokens produce exactly one window
    * (window_idx 0). A 1-row → N-row generator, expressed as
    * posexplode over a computed start sequence — no custom Catalyst
    * Generator needed.
    *
    * Output: (id, window_idx, window_text, n_win_tokens).
    */
  def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
                   maxTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, "overlap must be < maxTokens")
    val step = maxTokens - overlap
    val ws = TextFns.words(col(textCol))
    val n = size(ws)
    // number of windows: 1 + ceil(max(n - maxTokens, 0) / step)
    val extra = greatest(n - maxTokens, lit(0))
    val nWin = lit(1) + ceil(extra.cast("double") / step).cast("int")
    docs.select(col(idCol), ws.as("ws"), nWin.as("n_win"))
      .select(col(idCol), col("ws"),
        posexplode(transform(sequence(lit(0), col("n_win") - 1),
          i => i * step)).as(Seq("window_idx", "start")))
      .select(col(idCol), col("window_idx").cast("long").as("window_idx"),
        concat_ws(" ", slice(col("ws"), col("start") + 1, lit(maxTokens)))
          .as("window_text"),
        least(lit(maxTokens), size(col("ws")) - col("start")).cast("long")
          .as("n_win_tokens"))
  }

  /** Winnowing fingerprints: char-k-gram md5-prefix hashes, local min
    * over each w-length window of consecutive positions, distinct per
    * doc. Output: (id, fp) rows.
    *
    * Array-native: the whole select-the-local-minima pass runs inside
    * one row-local kernel (WinnowFpsExpr, O(len) deque), so only the
    * ~len/w distinct fingerprints are ever exploded — the exploded-gram
    * formulation (kept below as the pinned reference implementation)
    * shuffles the full gram table twice and is the plan that dies at
    * 100 TB.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.TextExpressions.winnowFpsFast(col(textCol), k, w))
        .as("fp"))

  /** Exploded-gram formulation of winnowFingerprints — same output,
    * kept ONLY as the spec's reference implementation (TextExprSpec pins
    * the kernel bit-equal to this). Not for production plans.
    */
  private[graft] def winnowFingerprintsWindowed(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val grams = docs.select(col(idCol),
        posexplode(TextFns.charNgrams(col(textCol), k)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"),
        substring(md5(col("gram")), 1, 8).as("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams.withColumn("fp", min(col("h")).over(win))
      .select(col(idCol), col("fp")).distinct()
  }

  /** Doc pairs sharing >= minShared winnowing fingerprints, over an
    * already-materialized (id, fp) table (the persisted `winnow_fps`
    * artifact): equi-join on the fingerprint value — no cross product —
    * then a pair-count aggregation.
    */
  def winnowSharedPairsFromFps(fps: DataFrame, idCol: String,
                               minShared: Long): DataFrame =
    // (r14 measured, rejected: a collect_list posting-list formulation
    // — group ids per fp, explode local ordered pairs — replaces one
    // exchange and the join, but materializing each hot fingerprint's
    // full pair block as ONE array value ran ~25% SLOWER than the
    // streaming self-join on the same window; the join stays.)
    fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
}
