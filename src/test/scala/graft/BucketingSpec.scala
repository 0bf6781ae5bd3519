package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The co-located-join story (SURVEY §7 M4: "posting-list bucketing for
  * the sparse join at 100 TB"): tables written bucketed by the join key
  * sort-merge-join WITHOUT a shuffle on the bucketed side. This spec
  * pins the plan shape so a regression (an Exchange sneaking back in)
  * fails loudly.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed-by-key tables join without an Exchange on either side") {
    import spark.implicits._
    // explicit paths -> external tables; the (static) warehouse dir is
    // never touched
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.sql("DROP TABLE IF EXISTS b_post")
    spark.sql("DROP TABLE IF EXISTS b_docs")

    val postings = (1 to 2000).map(i => (i.toLong % 97, s"tok${i % 50}", i.toLong))
      .toDF("doc_id", "token", "tf")
    val docs = (0L until 97L).map(i => (i, s"doc$i")).toDF("doc_id", "name")

    postings.write.bucketBy(8, "doc_id").sortBy("doc_id")
      .option("path", s"$wh/b_post").saveAsTable("b_post")
    docs.write.bucketBy(8, "doc_id").sortBy("doc_id")
      .option("path", s"$wh/b_docs").saveAsTable("b_docs")

    // force SMJ (disable the broadcast that small test tables would get)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_post").join(spark.table("b_docs"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it still computes the right thing
      assert(joined.count() == 2000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_post")
      spark.sql("DROP TABLE IF EXISTS b_docs")
    }
  }

  test("Indexes.buildBucketed: posting self-join shuffle-free, results match plain") {
    val dir = sf
    spark.sql("DROP TABLE IF EXISTS graft_postings_b")
    spark.sql("DROP TABLE IF EXISTS graft_edges_b")
    graft.sources.Indexes.buildBucketed(spark, dir, buckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val b = graft.sources.Indexes.bucketedPostings(spark).get
      // the 100 TB shape: token-keyed self-join (doc-doc co-occurrence)
      // with zero Exchange — both sides come pre-distributed by token
      val selfJoin = b.select(col("token"), col("doc_id").as("a"))
        .join(b.select(col("token"), col("doc_id").as("b")), "token")
      val plan = selfJoin.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed posting self-join must not shuffle:\n$plan")
      // bucketed content == plain derivation
      val plain = graft.sources.Indexes.postings(spark, dir)
      assert(b.exceptAll(plain).isEmpty && plain.exceptAll(b).isEmpty)
      val be = graft.sources.Indexes.bucketedEdges(spark).get
      val pe = graft.sources.Indexes.coPurchaseEdges(spark, dir)
      assert(be.exceptAll(pe).isEmpty && pe.exceptAll(be).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_postings_b")
      spark.sql("DROP TABLE IF EXISTS graft_edges_b")
    }
  }
}
