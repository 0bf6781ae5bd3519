package graft

import graft.operators.Skew

class SkewHybridSpec extends SparkTestBase {

  test("saltedJoin returns exactly the unsalted join rows") {
    import spark.implicits._
    // skewed: one hub key holding most rows
    val left = ((1 to 200).map(i => ("hub", i.toLong)) ++
      Seq(("a", 901L), ("b", 902L))).toDF("k", "row_id")
    val right = Seq(("hub", 10L), ("a", 20L), ("c", 30L)).toDF("k", "payload")
    val plain = left.join(right, Seq("k"))
      .select("k", "row_id", "payload").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, "k", "row_id", numSalts = 8)
      .select("k", "row_id", "payload").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 201)
  }

  test("flagship entry returns ranked rows per query at sf0.001") {
    val out = SparkEntry.entry(spark).collect()
    assert(out.nonEmpty)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(1L, 2L, 3L))
    byQuery.values.foreach { rows =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted
      assert(ranks.head == 1 && ranks.length <= 10)
    }
  }
}
