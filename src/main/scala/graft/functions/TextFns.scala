package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text / tokenization column functions.
  *
  * Two tiers:
  *  1. Column-native ops (split/lower/regexp) — codegen'd, used by every
  *     oracled query. The canonical FTS tokenization is pinned here once
  *     so index-side and query-side always agree (the reference applies
  *     the same normalizer on both sides — /root/reference/src/nl/fts.rs).
  *  2. `tokenizeIdentifier` — the camelCase/snake_case/acronym splitter
  *     (/root/reference/src/nl/fts.rs:37-60) as a pure Scala function
  *     (unit-testable) plus a UDF wrapper for the code-intelligence path.
  */
object TextFns {

  /** Canonical FTS tokenization: lowercase, split on non-alphanumeric,
    * keep tokens of length >= 2. Deterministic and expressible
    * identically in DuckDB:
    *   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) >= 2)
    * Backed by the codegen'd FtsTokensExpr; the HOF chain below is the
    * reference implementation it is pinned bit-equal against.
    */
  def ftsTokens(text: Column): Column = TextExpressions.ftsTokensFast(text)

  /** HOF reference implementation of ftsTokens (interpreted). */
  private[graft] def ftsTokensHof(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) >= 2)

  /** Identifier-boundary split as a stateless column op: spaces are
    * inserted at camelCase / acronym-end / letter↔digit boundaries by
    * a regexp_replace chain (the q59 oracle formulation, pinned
    * equivalent to the stateful [[tokenizeIdentifier]] scanner on
    * every fixture name). `ftsTokens(normSplit(c))` is the normalized
    * token stream the reference's FTS index stores — chunks_fts holds
    * normalize_for_fts output for name/signature/content
    * (/root/reference/src/schema.sql:149-156 "Normalized text
    * (camelCase/snake_case split to words) populated by application",
    * src/nl/fts.rs:134). Served by q94's body keywords and the NL
    * enrichment's caller/callee text.
    */
  def normSplit(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, "([a-z0-9])([A-Z])", "$1 $2"),
          "([A-Z])([A-Z][a-z])", "$1 $2"),
        "([A-Za-z])([0-9])", "$1 $2"),
      "([0-9])([a-z])", "$1 $2")

  /** Whitespace word tokens (for word counts / n-gram fingerprints):
    * split trimmed text on runs of whitespace; empty string → empty array.
    */
  def words(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) >= 1)

  /** Character n-grams of the lowercased text, as an array column.
    * ngrams("abcd", 3) = ["abc","bcd"]. Text shorter than n → empty.
    * Codegen'd kernel; the HOF chain below is the pinned reference.
    */
  def charNgrams(text: Column, n: Int): Column =
    TextExpressions.charNgramsFast(text, n)

  /** HOF reference implementation of charNgrams (interpreted). */
  private[graft] def charNgramsHof(text: Column, n: Int): Column = {
    val lc  = lower(text)
    val len = length(lc)
    when(len < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), len - (n - 1)), i => substring(lc, i, lit(n))))
  }

  /** Word n-grams joined by a single space (shingles for fingerprinting /
    * MinHash). size(words) < n → empty array.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = words(lower(text))
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(
        transform(sequence(lit(1), size(ws) - (n - 1)), i =>
          concat_ws(" ", slice(ws, i, lit(n))))
      )
  }

  // --- identifier tokenization (pure Scala, ported semantics) -----------

  /** Split an identifier into lowercase word tokens:
    * camelCase, PascalCase, snake_case, kebab-case, digit boundaries and
    * acronym runs (`HTTPServer` → ["http","server"]). CJK codepoints are
    * emitted one per token. Mirrors tokenize_identifier in the reference
    * (/root/reference/src/nl/fts.rs:37-60) without copying its code.
    */
  def tokenizeIdentifier(s: String): Seq[String] = {
    if (s == null || s.isEmpty) return Seq.empty
    val out  = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur  = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { out += cur.toString.toLowerCase; cur.clear() } }
    val cs = s.toCharArray
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (!Character.isLetterOrDigit(c)) {
        flush()
      } else if (isCjk(c)) {
        flush(); out += c.toString
      } else if (Character.isUpperCase(c)) {
        val prevLowerOrDigit = cur.nonEmpty && {
          val p = cur.charAt(cur.length - 1)
          Character.isLowerCase(p) || Character.isDigit(p)
        }
        // acronym end: "HTTPServer" — upper followed by lower closes the
        // acronym before this char ("HTTP" | "Server")
        val nextIsLower = i + 1 < cs.length && Character.isLowerCase(cs(i + 1))
        val prevIsUpper = cur.nonEmpty && Character.isUpperCase(cur.charAt(cur.length - 1))
        if (prevLowerOrDigit || (prevIsUpper && nextIsLower)) flush()
        cur += c
      } else if (Character.isDigit(c)) {
        val prevIsLetter = cur.nonEmpty && Character.isLetter(cur.charAt(cur.length - 1))
        if (prevIsLetter) flush()
        cur += c
      } else { // lowercase letter
        val prevIsDigit = cur.nonEmpty && Character.isDigit(cur.charAt(cur.length - 1))
        if (prevIsDigit) flush()
        cur += c
      }
      i += 1
    }
    flush()
    out.toSeq
  }

  private def isCjk(c: Char): Boolean = {
    val b = Character.UnicodeBlock.of(c)
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
    b == Character.UnicodeBlock.HIRAGANA ||
    b == Character.UnicodeBlock.KATAKANA ||
    b == Character.UnicodeBlock.HANGUL_SYLLABLES
  }

  /** UDF wrapper — only for the code-intelligence chunk path; oracled
    * queries use the column-native `ftsTokens` instead.
    */
  val tokenizeIdentifierUdf =
    udf((s: String) => tokenizeIdentifier(s))
}
