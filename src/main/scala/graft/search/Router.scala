package graft.search

/** Query classification + retrieval routing — driver-side, pure Scala
  * (per query, tiny — the reference runs the same logic in-process,
  * /root/reference/src/search/router.rs:126-174,238-485).
  *
  * classify() is the rules stage: marker-vocabulary hits mapped to a
  * category with a fixed precedence. alphaFor() resolves the per-category
  * dense/sparse interpolation weight (the default_alpha table,
  * /root/reference/src/search/router.rs:132-174). expand() is the
  * curated-synonym expansion applied to the keyword leg
  * (/root/reference/src/search/synonyms.rs:221). typeHints() maps NL
  * phrases to chunk-type filters (/root/reference/src/language/mod.rs:594-600).
  */
object Router {

  sealed abstract class Category(val name: String, val alpha: Double)
  object Category {
    case object IdentifierLookup extends Category("identifier_lookup", 0.85)
    case object Structural extends Category("structural", 0.60)
    case object Behavioral extends Category("behavioral", 1.00)
    case object Conceptual extends Category("conceptual", 0.70)
    case object MultiStep extends Category("multi_step", 0.10)
    case object Negation extends Category("negation", 0.70)
    case object TypeFiltered extends Category("type_filtered", 0.00)
    case object CrossLanguage extends Category("cross_language", 0.70)
    case object Unknown extends Category("unknown", 0.70)
    val all: Seq[Category] = Seq(IdentifierLookup, Structural, Behavioral,
      Conceptual, MultiStep, Negation, TypeFiltered, CrossLanguage, Unknown)
  }
  import Category._

  private[graft] val structuralVocab = Set(
    "struct", "structs", "enum", "enums", "trait", "traits", "impl",
    "class", "classes", "interface", "builder", "singleton", "recursion",
    "recursive", "mutex", "unsafe", "async")
  private[graft] val behavioralVocab = Set(
    "when", "happens", "behavior", "behaviour", "fails", "failure",
    "retries", "retry", "timeout", "throws", "panics", "crash")
  private[graft] val multiStepVocab = Set(
    "then", "after", "before", "first", "chain", "pipeline", "flow",
    "sequence", "steps")
  private[graft] val negationVocab = Set("without", "not", "no", "never", "except")
  /** Type-phrase token → candidate chunk types in OUR chunk vocabulary
    * (the reference's richer tree-sitter kinds — impl / method / struct
    * / trait / enum — fold into function/class here, so a phrase can
    * hint MORE than one type: "methods on X" golds resolve to either a
    * method (function) or the impl block (class) in the reference's
    * own eval set).
    */
  private[graft] val typePhrases: Map[String, Seq[String]] = Map(
    "functions" -> Seq("function"), "function" -> Seq("function"),
    "methods" -> Seq("function", "class"),
    "method" -> Seq("function", "class"),
    "classes" -> Seq("class"), "structs" -> Seq("class"),
    "struct" -> Seq("class"), "enums" -> Seq("class"),
    "enum" -> Seq("class"), "traits" -> Seq("class"),
    "trait" -> Seq("class"),
    "impl" -> Seq("class", "function"),
    "impls" -> Seq("class", "function"),
    "implementation" -> Seq("class", "function"),
    "implementations" -> Seq("class", "function"),
    "types" -> Seq("class", "typealias"),
    "sections" -> Seq("section"), "tests" -> Seq("test"))
  /** Definitional markers: a type phrase + one of these is a
    * type-filter shape ("struct definitions in src/impact", "impl
    * blocks for CagraIndex") — the real v3 type_filtered phrasings,
    * none of which carry the all/list/show quantifier.
    */
  private[graft] val typeDefWords = Set("definition", "definitions",
    "implementation", "implementations", "blocks", "impl", "impls")
  /** Plural type word + scoping preposition ("methods on X",
    * "functions for Y", "error types in src").
    */
  private[graft] val typeAdjHeads = Seq("classes", "enums", "functions",
    "methods", "structs", "traits", "types")
  private[graft] val typeAdjPreps = Seq("for", "in", "on")
  private val typeAdjRe =
    ("""\b(""" + typeAdjHeads.mkString("|") + """) (""" +
      typeAdjPreps.mkString("|") + """)\b""").r
  private[graft] val languageNames = Set(
    "rust", "python", "scala", "java", "javascript", "typescript", "go",
    "ruby", "php", "kotlin")

  private def tokens(q: String): Seq[String] =
    q.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty).toSeq

  /** Looks like a code identifier: camelCase, snake_case, or ::path. */
  private def identifierLike(q: String): Boolean = {
    val t = q.trim
    t.nonEmpty && !t.contains(" ") &&
      (t.contains("_") || t.contains("::") || t.contains(".") ||
        t.exists(_.isUpper) || t.forall(c => c.isLetterOrDigit))
  }

  /** Rules classifier with fixed precedence (most specific first). */
  def classify(query: String): Category = {
    val tokSeq = tokens(query)
    val toks = tokSeq.toSet
    if (identifierLike(query)) IdentifierLookup
    else if (toks.exists(negationVocab)) Negation
    else if (toks.count(multiStepVocab) >= 1 && toks.size >= 4) MultiStep
    else if (languageNames.count(toks) >= 2) CrossLanguage
    else if (toks.exists(typePhrases.keySet) && (
      toks.exists(t =>
        t == "all" || t == "list" || t == "show" || t == "every") ||
      toks.exists(typeDefWords) ||
      typeAdjRe.findFirstIn(tokSeq.mkString(" ")).isDefined)) TypeFiltered
    else if (toks.exists(structuralVocab)) Structural
    else if (toks.exists(behavioralVocab)) Behavioral
    else if (toks.nonEmpty) Conceptual
    else Unknown
  }

  /** Per-category sparse-interpolation α; env/config overlays would
    * layer on top of this table.
    */
  def alphaFor(c: Category): Double = c.alpha

  /** Curated synonym table (a trimmed analogue of the reference's;
    * user overlays merge into this map).
    */
  val synonyms: Map[String, Seq[String]] = Map(
    "delete" -> Seq("remove", "drop"),
    "remove" -> Seq("delete", "drop"),
    "create" -> Seq("new", "make", "build"),
    "error" -> Seq("failure", "exception"),
    "config" -> Seq("configuration", "settings"),
    "auth" -> Seq("authentication", "login"),
    "search" -> Seq("query", "find", "lookup"),
    "fetch" -> Seq("get", "load", "retrieve"))

  /** Expand query tokens with synonyms (first-occurrence order, no
    * duplicates — expansion must not re-rank the original tokens).
    */
  def expand(query: String, overlay: Map[String, Seq[String]] = Map.empty): Seq[String] = {
    val table = synonyms ++ overlay
    val base = tokens(query)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    base.foreach { t =>
      seen += t
      table.getOrElse(t, Seq.empty).foreach(seen += _)
    }
    seen.toSeq
  }

  /** NL phrase → chunk-type filter hints. A "type definitions"/"type
    * aliases" bigram hints typealias (the bare token "type" alone is
    * too common to hint).
    */
  def typeHints(query: String): Seq[String] = {
    val toks = tokens(query)
    val base = toks.flatMap(t => typePhrases.getOrElse(t, Seq.empty))
    val bigrams = toks.sliding(2).collect {
      case Seq("type", b) if b == "definitions" || b == "definition" ||
        b == "aliases" || b == "alias" => "typealias"
    }.toSeq
    (base ++ bigrams).distinct
  }

  /** Identifier-vs-natural-language detection gating the name-match
    * blend (/root/reference/src/search/scoring/name_match.rs:22-78):
    * any NL function word anywhere → NL; otherwise <= 2 words is
    * name-like; 3+ all-lowercase words with no underscore is NL;
    * everything else (camelCase / snake_case phrases) is name-like.
    * Boosting by name similarity rewards coincidental substrings on
    * NL queries, so the blend only runs when this returns true.
    */
  private val nlWords = Set(
    "the", "a", "an", "is", "are", "was", "were", "that", "which",
    "how", "what", "where", "when", "does", "do", "can", "should",
    "would", "could", "for", "with", "from", "into", "this", "these",
    "those", "function", "method", "code", "implement", "find", "search")
  def isNameLikeQuery(query: String): Boolean = {
    val words = query.trim.split("\\s+").filter(_.nonEmpty)
    val lower = query.toLowerCase
    if (lower.split("\\s+").filter(_.nonEmpty).exists(nlWords)) false
    else if (words.length <= 2) true
    else if (words.length >= 3 && lower == query && !query.contains("_")) false
    else true
  }

  /** Defense-in-depth FTS query sanitization — the reference's
    * sanitize_fts_query (/root/reference/src/store/mod.rs:222-246):
    * split on whitespace, drop the FTS5 boolean operators (OR / AND /
    * NOT / NEAR, case-SENSITIVE and matched against the RAW word —
    * `O+R` survives the filter and strips to `OR`), strip the FTS5
    * special characters from each surviving word, join and trim. A
    * fully-stripped word keeps its separator slot (the reference
    * emits the space before filtering chars), so `a ((( b` yields a
    * double space — pinned, not smoothed over.
    */
  private val FtsBooleanOps = Set("OR", "AND", "NOT", "NEAR")
  private val FtsSpecialChars = Set('"', '*', '(', ')', '+', '-', '^', ':', '{', '}')
  def sanitizeFtsQuery(s: String): String = {
    val out = new StringBuilder
    s.split("\\s+").filter(_.nonEmpty)
      .filterNot(FtsBooleanOps.contains)
      .foreach { w =>
        if (out.nonEmpty) out.append(' ')
        w.foreach(c => if (!FtsSpecialChars.contains(c)) out.append(c))
      }
    out.toString.trim
  }

  /** One-call routing decision for a query batch driver. */
  final case class Route(category: String, alpha: Double,
                         expandedTokens: Seq[String], typeHints: Seq[String])
  def route(query: String): Route = {
    val c = classify(query)
    Route(c.name, alphaFor(c), expand(query), typeHints(query))
  }
}
