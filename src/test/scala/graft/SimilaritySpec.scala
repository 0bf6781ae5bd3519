package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFns
import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("vector fns: dot / norm / cosine exact on known vectors") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val row = df.select(
      VectorFns.dot(col("a"), col("b")).as("d"),
      VectorFns.norm(col("a")).as("na"),
      VectorFns.cosine(col("a"), col("b")).as("c")).head()
    assert(row.getDouble(0) == 2.0)
    assert(row.getDouble(1) == 3.0)
    assert(math.abs(row.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(VectorFns.cosine(col("a"), col("b"))).head().getDouble(0) == 0.0)
  }

  test("cosineKnn: finds the exact nearest neighbor, excludes self") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "qvec")
    val out = Similarity.cosineKnn(queries, corpus, 2).orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // nearest non-self first
    assert(out.head.getInt(3) == 1)
  }

  test("cosineKnn plan broadcasts the query side (no corpus shuffle)") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val plan = Similarity.cosineKnn(q, emb, 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in plan:\n$plan")
  }
}
