package graft

import org.apache.spark.sql.functions._
import graft.operators.{Fusion, TopK}

/** Exact-score pins for RRF and α-interpolation — semantics ported from
  * the reference's fusion unit tests (1/(K+rank) contributions, per-leg
  * dedup, overlap-wins; /root/reference/src/search/scoring/fusion.rs:95-310
  * — semantics only, no code).
  */
class FusionSpec extends SparkTestBase {
  import spark.implicits._

  private val eps = 1e-12

  test("rrf exact contributions: 1/(60+rank) summed over legs") {
    val leg1 = Seq((1L, "a", 3.0), (1L, "b", 2.0)).toDF("query_id", "id", "score")
    val leg2 = Seq((1L, "b", 5.0), (1L, "c", 1.0)).toDF("query_id", "id", "score")
    val out = Fusion.rrf(Seq(leg1, leg2), "query_id", "id", "score")
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(math.abs(out("a") - 1.0 / 61) < eps)
    assert(math.abs(out("b") - (1.0 / 62 + 1.0 / 61)) < eps)
    assert(math.abs(out("c") - 1.0 / 62) < eps)
    // overlap-wins: b appears in both legs and must beat single-leg a
    assert(out("b") > out("a"))
  }

  test("rrf per-leg dedup keeps best rank for duplicated ids") {
    // id "a" appears twice in one leg; only its best (rank-1) entry counts
    val leg = Seq((1L, "a", 9.0), (1L, "a", 1.0), (1L, "b", 5.0))
      .toDF("query_id", "id", "score")
    val out = Fusion.rrf(Seq(leg), "query_id", "id", "score")
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(out.size == 2)
    assert(math.abs(out("a") - 1.0 / 61) < eps)
    assert(math.abs(out("b") - 1.0 / 62) < eps)
  }

  test("rrf deterministic tie-break: equal scores rank by id asc") {
    val leg = Seq((1L, "z", 5.0), (1L, "a", 5.0)).toDF("query_id", "id", "score")
    val out = Fusion.rrf(Seq(leg), "query_id", "id", "score")
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(out("a") > out("z")) // a gets rank 1 on the tie
  }

  test("rrf bounds: every score in (0, legs/61]") {
    val leg1 = (1 to 50).map(i => (1L, s"id$i", (100 - i).toDouble))
      .toDF("query_id", "id", "score")
    val leg2 = (25 to 75).map(i => (1L, s"id$i", i.toDouble))
      .toDF("query_id", "id", "score")
    val scores = Fusion.rrf(Seq(leg1, leg2), "query_id", "id", "score")
      .select("rrf_score").as[Double].collect()
    assert(scores.forall(s => s > 0 && s <= 2.0 / 61 + eps))
  }

  test("rrfRanked on the legs' own ranks equals rrf on unique scored legs") {
    val leg1 = Seq((1L, "a", 3.0), (1L, "b", 2.0), (2L, "a", 1.0))
      .toDF("query_id", "id", "score")
    val leg2 = Seq((1L, "b", 5.0), (1L, "c", 1.0), (2L, "c", 4.0))
      .toDF("query_id", "id", "score")
    def pool(leg: org.apache.spark.sql.DataFrame) =
      TopK.perGroup(leg, Seq(col("query_id")), col("score"), col("id"), 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows(Fusion.rrfRanked(Seq(pool(leg1), pool(leg2)), "query_id",
      "id", "rank")) == rows(Fusion.rrf(Seq(leg1, leg2), "query_id", "id", "score")))
  }

  test("one alpha base serves a per-query alpha column and each global alpha") {
    val dense = Seq((1L, "a", 0.9), (2L, "b", 0.3)).toDF("query_id", "id", "cos")
    val sparse = Seq((1L, "a", 10.0), (1L, "b", 5.0), (2L, "a", 7.0))
      .toDF("query_id", "id", "dot")
    val alphas = Seq((1L, 0.7), (2L, 0.2)).toDF("query_id", "alpha")
    val perQuery = Fusion.alphaBase(dense, sparse, "query_id", "id", "cos", "dot")
      .join(alphas, Seq("query_id"))
      .select(col("query_id"), col("id"), Fusion.alphaFused(col("alpha")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val global = Seq(1L -> 0.7, 2L -> 0.2).flatMap { case (q, a) =>
      Fusion.alphaInterpolate(dense, sparse, "query_id", "id", "cos", "dot", a)
        .filter(col("query_id") === q)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4)))
    }.toSet
    assert(perQuery == global) // bit-identical, not within eps
  }

  test("alpha interpolation: per-query max normalization, absent legs 0") {
    val dense = Seq((1L, "a", 0.9)).toDF("query_id", "id", "cos")
    val sparse = Seq((1L, "a", 10.0), (1L, "b", 5.0)).toDF("query_id", "id", "dot")
    val out = Fusion.alphaInterpolate(dense, sparse, "query_id", "id", "cos", "dot", 0.7)
      .collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(math.abs(out("a") - (0.7 * 0.9 + 0.3 * 1.0)) < eps)
    assert(math.abs(out("b") - 0.3 * 0.5) < eps) // dense side absent → 0
  }

  test("alpha=1 reduces to pure dense; alpha=0 to pure normalized sparse") {
    val dense = Seq((1L, "a", 0.4), (1L, "b", 0.8)).toDF("query_id", "id", "cos")
    val sparse = Seq((1L, "a", 2.0), (1L, "b", 8.0)).toDF("query_id", "id", "dot")
    val pureD = Fusion.alphaInterpolate(dense, sparse, "query_id", "id", "cos", "dot", 1.0)
      .collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(math.abs(pureD("a") - 0.4) < eps && math.abs(pureD("b") - 0.8) < eps)
    val pureS = Fusion.alphaInterpolate(dense, sparse, "query_id", "id", "cos", "dot", 0.0)
      .collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(math.abs(pureS("a") - 0.25) < eps && math.abs(pureS("b") - 1.0) < eps)
  }

  test("topk per-group honors k and tie-break") {
    val df = Seq((1L, 10L, 5.0), (1L, 2L, 5.0), (1L, 7L, 9.0), (2L, 1L, 1.0))
      .toDF("q", "id", "score")
    val top = TopK.perGroup(df, Seq(col("q")), col("score"), col("id"), 2)
      .orderBy("q", "rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(7L, 2L, 1L)) // q1: 7 then 2 (tie id asc), q2: 1
  }
}
