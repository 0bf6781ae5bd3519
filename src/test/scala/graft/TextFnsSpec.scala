package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

class TextFnsSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenizeIdentifier: camelCase / snake_case / acronyms / digits") {
    assert(TextFns.tokenizeIdentifier("camelCase") == Seq("camel", "case"))
    assert(TextFns.tokenizeIdentifier("PascalCase") == Seq("pascal", "case"))
    assert(TextFns.tokenizeIdentifier("snake_case") == Seq("snake", "case"))
    assert(TextFns.tokenizeIdentifier("kebab-case") == Seq("kebab", "case"))
    assert(TextFns.tokenizeIdentifier("HTTPServer") == Seq("http", "server"))
    assert(TextFns.tokenizeIdentifier("getHTTPResponse2") ==
      Seq("get", "http", "response", "2"))
    assert(TextFns.tokenizeIdentifier("retry_with_backoff") ==
      Seq("retry", "with", "backoff"))
    assert(TextFns.tokenizeIdentifier("") == Seq.empty)
    assert(TextFns.tokenizeIdentifier("X") == Seq("x"))
  }

  test("tokenizeIdentifier: CJK per-character") {
    assert(TextFns.tokenizeIdentifier("日本語abc") == Seq("日", "本", "語", "abc"))
  }

  test("ftsTokens: lowercase, non-alnum split, min length 2") {
    val out = Seq("Hello, World! a b2c x").toDF("t")
      .select(TextFns.ftsTokens(col("t"))).as[Seq[String]].head()
    assert(out == Seq("hello", "world", "b2c"))
  }

  test("charNgrams and wordNgrams") {
    val df = Seq("abcd").toDF("t")
    assert(df.select(TextFns.charNgrams(col("t"), 3)).as[Seq[String]].head() ==
      Seq("abc", "bcd"))
    assert(df.select(TextFns.charNgrams(col("t"), 5)).as[Seq[String]].head().isEmpty)
    val w = Seq("the quick brown fox").toDF("t")
    assert(w.select(TextFns.wordNgrams(col("t"), 2)).as[Seq[String]].head() ==
      Seq("the quick", "quick brown", "brown fox"))
  }

  test("normSplit column op agrees with the tokenizeIdentifier scanner " +
    "(the q59 stateless/stateful equivalence, ASCII)") {
    val inputs = Seq("parseConfigFile", "get_user_name", "HTTPServer",
      "getHTTPResponse2", "sha256sum", "methods on HnswIndex",
      "fn load_all_sparse_vectors(store: &Store) -> Vec<f32>")
    val df = inputs.toDF("t")
    val got = df.select(TextFns.ftsTokens(TextFns.normSplit(col("t"))))
      .as[Seq[String]].collect().toSeq
    val want = inputs.map(s =>
      TextFns.tokenizeIdentifier(s).filter(_.length >= 2))
    assert(got == want, s"\n$got\n$want")
  }
}
