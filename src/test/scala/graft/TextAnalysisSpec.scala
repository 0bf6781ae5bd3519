package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkTestBase {

  test("qualityFeatures computes exact counts and guarded ratios") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick quick fox"),
      (2L, ""),
      (3L, "a b c")  // all tokens shorter than 2 chars -> n_tokens 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_words") == 4L)
    assert(r1.getAs[Long]("n_tokens") == 4L)   // the, quick, quick, fox
    assert(r1.getAs[Long]("n_uniq") == 3L)
    assert(r1.getAs[Long]("n_stop") == 1L)     // "the"
    assert(r1.getAs[Double]("uniq_ratio_r") == 0.75)
    assert(out(2L).getAs[Double]("quality_r") == 0.0)
    assert(out(3L).getAs[Long]("n_tokens") == 0L)
    assert(out(3L).getAs[Double]("stop_ratio_r") == 0.0)
  }

  test("langId picks the marker-argmax with fixed-order tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "der hund und die katze ist hier"),
      (2L, "the cat and the dog is here"),
      (3L, "xyzzy plugh"),            // no markers -> unknown
      (4L, "the der")                 // tie en=1 de=1 -> first in order: de
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(1L) == "de")
    assert(out(2L) == "en")
    assert(out(3L) == "unknown")
    assert(out(4L) == "de")
  }

  test("bpeTokenCount counts letter runs, digit runs, and symbols") {
    import spark.implicits._
    val df = Seq(("foo123 bar-baz!", 1)).toDF("text", "x")
    val n = df.select(TextAnalysis.bpeTokenCount(col("text"))).head.getLong(0)
    // foo,123,bar,-,baz,! -> 6
    assert(n == 6L)
  }

  test("budgetCut keeps a prefix per group under the running budget") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three", "s1"),   // 3 tokens
      (2L, "four five", "s1"),       // 2 -> running 5
      (3L, "six seven eight", "s1"), // 3 -> running 8 > 6, cut
      (4L, "nine", "s2")             // separate group
    ).toDF("doc_id", "text", "source")
    val kept = TextAnalysis.budgetCut(docs, "doc_id", "text", "source", 6L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  test("winnowing fingerprints: near-identical docs share most fingerprints") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, "completely different content about database query optimization")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowSharedPairsFromFps(
        TextAnalysis.winnowFingerprints(docs, "doc_id", "text", 8, 4), "doc_id", 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }
}
