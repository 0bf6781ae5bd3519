package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-fusion operators: Reciprocal Rank Fusion and α-interpolation.
  *
  * Semantics ported (not code) from the reference:
  *  - RRF: score(id) = Σ_legs 1/(K + rank), K = 60, per-leg first
  *    occurrence dedup (/root/reference/src/search/scoring/fusion.rs:36-74).
  *  - α-fusion: fused = α·dense + (1−α)·sparse_minmax, sparse leg
  *    min-max normalized per query by its max, absent legs contribute 0
  *    (/root/reference/src/search/query.rs:92-100, 970-993).
  *
  * `rrfRanked` fuses legs that already carry one rank per (query, id),
  * e.g. `TopK.perGroup` pools; `rrf` dedups and ranks raw scored legs
  * first. `alphaBase` normalizes and full-outer joins the two α legs
  * once; `alphaFused` is the α projection over it, for a global α, a
  * per-query α column or a sweep over several α.
  *
  * Both are pure DataFrame algebra — windows for per-query ranks, a
  * union + groupBy for the fuse — so at scale the only shuffle is on
  * (query_id) / (query_id, id), and map-side partial aggregation
  * applies to the RRF sum.
  */
object Fusion {

  val DefaultRrfK = 60

  /** RRF-fuse N legs of (queryCol, idCol, rankCol), each holding at most
    * one row per (query, id). Output: (queryCol, idCol, rrf_score).
    */
  def rrfRanked(legs: Seq[DataFrame], queryCol: String, idCol: String,
                rankCol: String, k: Int = DefaultRrfK): DataFrame = {
    require(legs.nonEmpty, "rrf: need at least one leg")
    legs.map(_.select(col(queryCol), col(idCol), col(rankCol).as("leg_rank")))
      .reduce(_ unionByName _)
      .groupBy(col(queryCol), col(idCol))
      .agg(sum(lit(1.0) / (lit(k.toDouble) + col("leg_rank"))).as("rrf_score"))
  }

  /** RRF-fuse N scored legs.
    *
    * Each leg DataFrame must have columns (queryCol, idCol, scoreCol);
    * rank within a leg is computed here with the deterministic
    * (score desc, id asc) order, and duplicate (query,id) rows within a
    * leg keep their best (lowest) rank — the per-list first-occurrence
    * dedup of the reference.
    *
    * Output: (queryCol, idCol, rrf_score) — fused score summed over legs.
    */
  def rrf(legs: Seq[DataFrame], queryCol: String, idCol: String,
          scoreCol: String, k: Int = DefaultRrfK): DataFrame = {
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val ranked = legs.map(_.groupBy(col(queryCol), col(idCol))
      .agg(max(col(scoreCol)).as(scoreCol)) // in-leg dedup: keep best
      .withColumn("leg_rank", row_number().over(w)))
    rrfRanked(ranked, queryCol, idCol, "leg_rank", k)
  }

  /** The α-interpolation base of a dense leg and a sparse leg.
    *
    * dense:  (queryCol, idCol, denseScore) — cosine, already in [−1,1]
    * sparse: (queryCol, idCol, sparseScore) — unnormalized dot product
    *
    * The sparse score is divided by the per-query max (min-max with
    * implicit min 0, as in the reference); ids present in only one leg
    * get 0 for the missing side. Output columns:
    * (queryCol, idCol, dense_score, sparse_norm).
    */
  def alphaBase(dense: DataFrame, sparse: DataFrame, queryCol: String,
                idCol: String, denseScore: String,
                sparseScore: String): DataFrame = {
    val wq = Window.partitionBy(col(queryCol))
    val sparseNorm = sparse
      .withColumn("q_max", max(col(sparseScore)).over(wq))
      .withColumn("sparse_norm",
        when(col("q_max") > 0.0, col(sparseScore) / col("q_max")).otherwise(0.0))
      .select(col(queryCol), col(idCol), col("sparse_norm"))
    dense.select(col(queryCol), col(idCol), col(denseScore).as("dense_score"))
      .join(sparseNorm, Seq(queryCol, idCol), "full_outer")
      .na.fill(0.0, Seq("dense_score", "sparse_norm"))
  }

  /** α·dense_score + (1 − α)·sparse_norm over an `alphaBase` frame; a
    * column `alpha` is the router's per-category α resolution
    * (/root/reference/src/search/router.rs:692-760).
    */
  def alphaFused(alpha: Column): Column =
    alpha * col("dense_score") + (lit(1.0) - alpha) * col("sparse_norm")

  /** `alphaBase` plus fused_score at one global α. */
  def alphaInterpolate(dense: DataFrame, sparse: DataFrame,
                       queryCol: String, idCol: String,
                       denseScore: String, sparseScore: String,
                       alpha: Double): DataFrame =
    alphaBase(dense, sparse, queryCol, idCol, denseScore, sparseScore)
      .withColumn("fused_score", alphaFused(lit(alpha)))
}
