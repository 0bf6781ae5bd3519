package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.parser.{Chunker, Fields}

/** Natural-language description generation from chunk metadata — the
  * reference's code→NL→embed pipeline (/root/reference/src/nl/mod.rs:
  * 179-384, the Compact production template). The generated text is
  * what the embedder actually sees, so every retrieval row inherits
  * its quality. Assembly is row-local (one map at scan parallelism, no
  * shuffle); the only wide inputs are the two small self-joins that
  * derive method/parent context (nl/mod.rs:285-290) and class member
  * lists (nl/mod.rs:323-337) from span containment.
  *
  * Faithfulness notes (each a deliberate graft-wide convention):
  *  - ALL tokenization uses the q59-proven regex pipeline (case
  *    boundaries + split on non-alphanumerics). The reference's
  *    tokenize_identifier splits only on `_-`/space/case/CJK, so it
  *    leaks punctuation into NL tokens ("x: i32", "&mut") — its own
  *    tests call that a known limitation (nl/mod.rs:532-534); the
  *    uniform scanner is the cleaner equivalent.
  *  - The reference's Method/Constructor/Struct/Enum/Interface/
  *    Extension chunk types come from tree-sitter; graft's chunk model
  *    has function/class/section. A function is treated as a METHOD of
  *    the smallest class span containing it (the q95-proven structural
  *    analogue); Fields/Methods parts apply to `class` chunks.
  *  - Section preview budget is the 512-seq-len production default:
  *    512*4-200 = 1848 chars (nl/mod.rs:226-233).
  */
object NlGen {

  /** Path components dropped from file context (nl/mod.rs:446-468). */
  val SkipDirs: Seq[String] = Seq("src", "lib", ".", "test", "tests",
    "spec", "specs", "fixtures", "fixture", "testdata", "internal", "pkg",
    "cmd", "app", "eval", "bench", "benches", "examples", "example",
    "vendor", "third_party")

  /** Filename stems too generic to discriminate (nl/mod.rs:480-492). */
  val GenericStems: Seq[String] = Seq("mod", "index", "lib", "main",
    "utils", "helpers", "common", "types", "config", "constants", "init")

  /** Section-chunk content preview budget in chars (nl/mod.rs:226-233,
    * model_max_seq_len 512 → 512*4-200).
    */
  val SectionPreviewChars: Int = 512 * 4 - 200

  /** Identifier tokens via the exact regex pipeline the q59/q94 oracles
    * mirror (case-boundary expansion, lowercase, split on
    * non-alphanumerics) — bit-equal to the SQL `sqlToks` chain.
    */
  private[graft] def regexToks(s: String): Seq[String] = {
    if (s == null || s.isEmpty) return Seq.empty
    val expanded = s
      .replaceAll("([a-z0-9])([A-Z])", "$1 $2")
      .replaceAll("([A-Z])([A-Z][a-z])", "$1 $2")
      .replaceAll("([A-Za-z])([0-9])", "$1 $2")
      .replaceAll("([0-9])([a-z])", "$1 $2")
      .toLowerCase
    expanded.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
  }

  private[graft] def toksJoined(s: String): String = regexToks(s).mkString(" ")

  /** Module context from a file path (nl/mod.rs:443-514): components
    * minus the skip list, the last component stripped of its extension
    * (rsplit-at-last-dot) and dropped when generic, everything
    * tokenized and space-joined.
    */
  private[graft] def fileContext(origin: String): String = {
    val comps = origin.split("[/\\\\]").filter(c =>
      c.nonEmpty && !SkipDirs.contains(c))
    if (comps.isEmpty) return ""
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    comps.zipWithIndex.foreach { case (c, i) =>
      if (i == comps.length - 1) {
        val d = c.lastIndexOf('.')
        val stem = if (d >= 0) c.substring(0, d) else c
        if (!GenericStems.contains(stem)) out ++= regexToks(stem)
      } else out ++= regexToks(c)
    }
    out.mkString(" ")
  }

  /** Parameter NL from the logical signature (nl/mod.rs:387-428):
    * text between the first '(' and last ')'; blank → "Takes no
    * parameters"; else per comma-separated parameter the identifier
    * tokens minus `self`/`mut`, skipping empties; all-empty → none.
    */
  private[graft] def paramsNl(sig: String): Option[String] = {
    val start = sig.indexOf('(')
    val end = sig.lastIndexOf(')')
    if (start < 0 || end < 0 || start >= end) return None
    val ps = sig.substring(start + 1, end)
    if (ps.trim.isEmpty) return Some("Takes no parameters")
    val parts = ps.split(",", -1).toSeq.flatMap { p =>
      val filtered = regexToks(p.trim)
        .filterNot(w => w == "self" || w == "mut").mkString(" ")
      if (filtered.isEmpty) None else Some(filtered)
    }
    if (parts.isEmpty) None else Some("Takes parameters: " + parts.mkString(", "))
  }

  private val JavaMods = Set("void", "public", "private", "protected",
    "static", "final", "abstract", "synchronized", "native")
  private val CsMods = Set("void", "public", "private", "protected",
    "internal", "static", "abstract", "virtual", "override", "sealed",
    "async", "extern", "partial", "new", "unsafe")
  private val CStorage = Set("static", "inline", "extern", "const", "volatile")

  /** Return-type NL, per-language (the reference's per-LanguageDef
    * extract_return_nl fn pointers, languages.rs): arrow languages take
    * the text after the (rust: first / python: last) `->`; type-first
    * languages take the word before the function name modulo their
    * modifier stoplists; go distinguishes multi-return `(a, b)` (kept
    * RAW, languages.rs:3128) from a plain trailing type; cuda uses the
    * C++ trailing-arrow form; javascript has no annotations (JSDoc
    * fallback happens in the assembly); dynamically-typed and
    * industrial languages yield none.
    */
  private[graft] def returnNl(sig: String, language: String): Option[String] =
    language match {
      case "rust" =>
        val i = sig.indexOf("->")
        if (i < 0) None
        else {
          val ret = sig.substring(i + 2).trim
          if (ret.isEmpty) None else Some("Returns " + toksJoined(ret))
        }
      case "python" =>
        val i = sig.lastIndexOf("->")
        if (i < 0) None
        else {
          val ret = sig.substring(i + 2).trim.reverse.dropWhile(_ == ':').reverse
          if (ret.isEmpty) None else Some("Returns " + toksJoined(ret))
        }
      case "cuda" =>
        val p = sig.lastIndexOf(')')
        if (p < 0) None
        else {
          val after = sig.substring(p + 1)
          val a = after.indexOf("->")
          if (a < 0) None
          else {
            val rp = after.substring(a + 2).trim
            val cut = rp.indexOf('{')
            val rt = (if (cut >= 0) rp.substring(0, cut) else rp).trim
            if (rt.isEmpty) None else Some("Returns " + toksJoined(rt))
          }
        }
      case "java" | "csharp" | "razor" =>
        val mods = if (language == "java") JavaMods else CsMods
        val p = sig.indexOf('(')
        if (p < 0) None
        else {
          val words = sig.substring(0, p).trim.split("\\s+").filter(_.nonEmpty)
          if (words.length >= 2 && !mods.contains(words(words.length - 2)))
            Some("Returns " + toksJoined(words(words.length - 2)))
          else None
        }
      case "c" =>
        val p = sig.indexOf('(')
        if (p < 0) None
        else {
          val words = sig.substring(0, p).trim.split("\\s+").filter(_.nonEmpty)
          if (words.length < 2) None
          else {
            val tw = words.dropRight(1).filterNot(CStorage.contains)
            if (tw.nonEmpty && !(tw.length == 1 && tw(0) == "void"))
              Some("Returns " + toksJoined(tw.mkString(" ")))
            else None
          }
        }
      case "go" =>
        val sig2 = sig.reverse.dropWhile(_ == '{').reverse.trim
        if (sig2.endsWith(")")) {
          var depth = 0; var startIdx = -1; var i = sig2.length - 1
          while (i >= 0 && startIdx < 0) {
            val ch = sig2.charAt(i)
            if (ch == ')') depth += 1
            else if (ch == '(') { depth -= 1; if (depth == 0) startIdx = i }
            i -= 1
          }
          if (startIdx < 0) None
          else {
            val before = sig2.substring(0, startIdx).trim
            if (before.endsWith(")")) Some("Returns " + sig2.substring(startIdx))
            else None
          }
        } else {
          val p = sig2.lastIndexOf(')')
          if (p < 0) None
          else {
            val ret = sig2.substring(p + 1).trim
            if (ret.isEmpty) None else Some("Returns " + toksJoined(ret))
          }
        }
      case _ => None
    }

  private val JsDocParamRe = "@param\\s+\\{([^}]+)\\}\\s+(\\w+)".r
  private val JsDocReturnRe = "@returns?\\s+\\{([^}]+)\\}".r

  /** Body keywords (nl/fields.rs:288-305 via the q94 contract): top-10
    * most frequent identifier tokens of length ≥ 3 outside the call
    * stoplist, tie-broken (freq desc, token asc).
    */
  private[graft] def bodyKeywords(content: String): Seq[String] = {
    val stop = Chunker.keywordList.toSet
    regexToks(content)
      .filter(t => t.length >= 3 && !stop.contains(t))
      .groupBy(identity).map { case (t, g) => (t, g.size) }
      .toSeq.sortBy { case (t, n) => (-n, t) }
      .take(10).map(_._1)
  }

  /** Markdown-noise strip (nl/markdown.rs:76-100 via the q93 contract):
    * headings, images, links-to-text, HTML tags, emphasis, whitespace
    * runs.
    */
  private[graft] def stripNoise(raw: String): String =
    raw
      .replaceAll("(?m)^#{1,6}[ \\t]+", "")
      .replaceAll("!\\[([^\\]]*)\\]\\([^)]*\\)", "")
      .replaceAll("\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
      .replaceAll("<[^>]+>", "")
      .replaceAll("[*`]", "")
      .replaceAll("[ \\t]{2,}", " ")
      .replaceAll("\\n{3,}", "\n\n")
      .trim

  /** One chunk's NL description (Compact template, nl/mod.rs:202-384).
    * `parentClass` is the smallest containing class (functions only),
    * `members` the class's member functions in span order (classes
    * only).
    */
  private[graft] def describeOne(origin: String, language: String,
      chunkType: String, name: String, doc: String, content: String,
      parentClass: Option[String], members: Seq[String]): String = {
    if (chunkType == "section") {
      val preview = stripNoise(content).take(SectionPreviewChars)
      val parts =
        if (doc.nonEmpty) Seq(doc, name, preview) else Seq(name, preview)
      return parts.mkString(". ")
    }
    val sig = Chunker.signatureText(
      graft.parser.Chunker.Chunk(origin, language, chunkType, name,
        0, 0, content, doc))
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val fctx = fileContext(origin)
    if (fctx.nonEmpty) parts += fctx
    val docT = doc.trim
    if (docT.nonEmpty) parts += docT
    if (chunkType == "function")
      parentClass.foreach(p => parts += toksJoined(p) + " method")
    parts += toksJoined(name)
    if (chunkType == "class") {
      val fields = Fields.fieldNames(language, content)
      if (fields.nonEmpty) parts += "Fields: " + fields.mkString(", ")
      if (members.nonEmpty)
        parts += "Methods: " + members.take(10).map(toksJoined).mkString(", ")
    }
    val jsP =
      if (language == "javascript")
        JsDocParamRe.findAllMatchIn(doc)
          .map(m => s"${m.group(2)} (${m.group(1)})").toSeq
      else Seq.empty
    val jsR =
      if (language == "javascript")
        JsDocReturnRe.findFirstMatchIn(doc).map(_.group(1))
      else None
    paramsNl(sig) match {
      case Some(p) => parts += p
      case None =>
        if (jsP.nonEmpty) parts += "Takes parameters: " + jsP.mkString(", ")
    }
    returnNl(sig, language) match {
      case Some(r) => parts += r
      case None => jsR.foreach(r => parts += "Returns " + r)
    }
    val kws = bodyKeywords(content)
    if (kws.nonEmpty) parts += "Uses: " + kws.mkString(", ")
    if (sig.nonEmpty) parts += "Signature: " + sig
    parts.mkString(". ")
  }

  /** Identifier tokens joined with spaces as a Column — the same regex
    * pipeline as regexToks, in Column algebra (for list-valued inputs
    * where the row-local map would force a second Dataset pass).
    */
  private[graft] def toksJoinedCol(c: Column): Column =
    array_join(filter(split(lower(TextFns.normSplit(c)), "[^a-z0-9]+"),
      t => t =!= ""), " ")

  /** Second-pass enrichment: re-embed chunks with call-graph context
    * (/root/reference/src/cli/enrichment.rs:23-320 +
    * nl/mod.rs:44-137). Per chunk of the describe() scope:
    *  - callers = distinct chunk names calling it, callees = distinct
    *    names it calls — keyed by NAME alone, exactly like the
    *    reference's get_callers_full (so ambiguous names would merge
    *    context across files, which is why the ambiguous skip exists).
    *    Both lists are pinned sorted-ascending: the reference inherits
    *    SQLite row order, which an oracle-gated engine cannot.
    *  - callee document frequency over the UNRESOLVED site table
    *    (function_calls shape): a callee whose distinct-caller count
    *    reaches 10% of total chunks is a utility — compared in exact
    *    integers (10·count ≥ total), never floats.
    *  - skip rules in loop order: no context and no summary/hyde →
    *    skip_no_context; ambiguous name (count over ALL chunk
    *    identities > 1) without summary/hyde → skip_ambiguous; stored
    *    enrichment hash equal → uptodate; else embedded.
    *  - enrichment hash = md5 over "c:{caller}|"* sorted ++
    *    "e:{callee}|"* sorted-filtered ++ "s:{norm summary}" ++
    *    "h:{norm hyde}" (enrichment.rs:365-409; md5 stands in for
    *    blake3-truncated-to-32-hex, the same environment seam as q55).
    *  - enriched NL = [summary + " "] ++ base ++ ". Called by: top-5
    *    tokenized callers" ++ ". Calls: top-5 tokenized IDF-filtered
    *    callees" ++ ". Queries: hyde lines joined".
    *
    * Scale: one groupBy per direction over the persisted edge table,
    * IDF + total broadcast as scalars, cache/stored joins on hash keys
    * — the page-loop of the reference becomes ordinary partitioned
    * joins; re-embedding the 'embedded' rows is the q38 partition-
    * lifecycle seam.
    *
    * This is the stored-hash-INDEPENDENT part of the pass: context
    * aggregation, enrichment hashing, skip flags, and NL assembly;
    * [[enrichmentApply]] classifies the actions against one pass's
    * stored hashes. The split lets a multi-pass run (q109's
    * initial-index + incremental shape) compute the heavy
    * describe/aggregate work ONCE and re-join only the per-pass stored
    * table. `base` is the describe() output; the served path passes the
    * PERSISTED `nl_describe` store table (Indexes.nlDescribe) instead of
    * re-deriving it.
    */
  def enrichmentPrep(chunks: DataFrame, sites: DataFrame,
      cache: DataFrame, base: DataFrame): DataFrame = {
    val emptyArr = array().cast("array<string>")
    val scoped = chunks
      .filter(col("chunk_type").isin("function", "class", "section") &&
        !col("language").isin("html", "pdf", "chm", "webhelp"))
      .select(col("origin"), col("name"), col("start_line"),
        md5(col("content")).as("content_hash"))
    val total = chunks.agg(count(lit(1)).as("total_chunks"))
    val freq = sites.groupBy(col("callee"))
      .agg(countDistinct(col("caller")).as("caller_cnt"))
      .crossJoin(broadcast(total))
      .select(col("callee"),
        (col("caller_cnt") * 10 >= col("total_chunks")).as("utility"))
    val callersAgg = sites.groupBy(col("callee").as("name"))
      .agg(sort_array(collect_set(col("caller"))).as("callers"))
    val calleesAgg = sites.select(col("caller").as("name"), col("callee"))
      .distinct()
      .join(freq, Seq("callee"))
      .groupBy(col("name"))
      .agg(sort_array(collect_set(col("callee"))).as("callees_all"),
        sort_array(collect_set(when(!col("utility"), col("callee"))))
          .as("callees_kept"))
    val ambig = chunks.groupBy(col("name"))
      .agg((count(lit(1)) > 1).as("ambiguous"))
    val summaries = cache.filter(col("purpose") === "summary")
      .select(col("content_hash"), col("summary").as("summary_txt")).distinct()
    val hydes = cache.filter(col("purpose") === "hyde")
      .select(col("content_hash"), col("summary").as("hyde_txt")).distinct()

    def norm(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

    val j = scoped
      .join(base.drop("chunk_type"), Seq("origin", "name", "start_line"))
      .join(callersAgg, Seq("name"), "left")
      .join(calleesAgg, Seq("name"), "left")
      .join(ambig, Seq("name"), "left")
      .join(summaries, Seq("content_hash"), "left")
      .join(hydes, Seq("content_hash"), "left")
      .withColumn("callers_a", coalesce(col("callers"), emptyArr))
      .withColumn("callees_all_a", coalesce(col("callees_all"), emptyArr))
      .withColumn("callees_kept_a", coalesce(col("callees_kept"), emptyArr))
      .withColumn("skip_nc",
        size(col("callers_a")) === 0 && size(col("callees_all_a")) === 0 &&
          col("summary_txt").isNull && col("hyde_txt").isNull)
      .withColumn("skip_amb",
        coalesce(col("ambiguous"), lit(false)) &&
          col("summary_txt").isNull && col("hyde_txt").isNull)
      // the skip DECISION must come before the enrichment WORK, exactly
      // like the reference's control flow (enrichment.rs skips a chunk
      // before embedding it): an AMBIGUOUS name merges context across
      // every same-named chunk, and on a corpus where one name recurs
      // N times that is an N-element array carried by N rows — the
      // ehash/context columns below would do O(N^2) string work on
      // rows whose enrichment is then discarded as skip_ambiguous.
      // Profiled at the 100x corpus probe: unguarded ehash alone was
      // 400 of q109's 465 s. The when() guards keep active-row values
      // bit-identical and short-circuit the skipped rows to null
      // (which enrichmentApply never reads for skipped actions).
      .withColumn("ehash", when(!col("skip_nc") && !col("skip_amb"), md5(concat(
        array_join(transform(col("callers_a"),
          x => concat(lit("c:"), x, lit("|"))), ""),
        array_join(transform(col("callees_kept_a"),
          x => concat(lit("e:"), x, lit("|"))), ""),
        when(col("summary_txt").isNotNull,
          concat(lit("s:"), norm(col("summary_txt")))).otherwise(lit("")),
        when(col("hyde_txt").isNotNull,
          concat(lit("h:"), norm(col("hyde_txt")))).otherwise(lit(""))))))
      .withColumn("called_by", when(!col("skip_nc") && !col("skip_amb") &&
          size(col("callers_a")) > 0,
        concat(lit("Called by: "), array_join(
          transform(slice(col("callers_a"), 1, 5), toksJoinedCol(_)), ", "))))
      .withColumn("callsx", when(!col("skip_nc") && !col("skip_amb") &&
          size(col("callees_kept_a")) > 0,
        concat(lit("Calls: "), array_join(
          transform(slice(col("callees_kept_a"), 1, 5), toksJoinedCol(_)), ", "))))
      .withColumn("extras", concat_ws(". ", col("called_by"), col("callsx")))
      .withColumn("nl2", when(length(col("extras")) > 0,
        concat(col("nl"), lit(". "), col("extras"))).otherwise(col("nl")))
      .withColumn("nl3",
        when(col("summary_txt").isNotNull && col("summary_txt") =!= "",
          concat(col("summary_txt"), lit(" "), col("nl2")))
          .otherwise(col("nl2")))
      .withColumn("hq", coalesce(when(col("hyde_txt").isNotNull,
        array_join(filter(transform(split(col("hyde_txt"), "\n"),
          l => trim(l)), l => l =!= ""), ", ")), lit("")))
      .withColumn("nl_full", when(col("hq") =!= "",
        concat(col("nl3"), lit(". Queries: "), col("hq")))
        .otherwise(col("nl3")))
    // only what enrichmentApply reads: a caller materializing this
    // frame (q109) must not checkpoint the ~15 wide intermediate
    // columns (caller arrays, NL stages) lineage-cutting would pin
    j.select(col("origin"), col("name"), col("start_line"),
      col("skip_nc"), col("skip_amb"), col("ehash"), col("nl_full"))
  }

  /** Join one pass's stored enrichment hashes against the prepared
    * frame and classify per-chunk actions.
    */
  def enrichmentApply(prep: DataFrame, stored: DataFrame): DataFrame =
    prep.join(stored, Seq("origin", "name", "start_line"), "left")
      .withColumn("action",
        when(col("skip_nc"), "skip_no_context")
          .when(col("skip_amb"), "skip_ambiguous")
          .when(col("stored_hash") === col("ehash"), "uptodate")
          .otherwise("embedded"))
      .select(col("origin"), col("name"),
        col("start_line").cast("int").as("start_line"), col("action"),
        when(!col("skip_nc") && !col("skip_amb"), col("ehash"))
          .as("enrichment_hash"),
        when(col("action") === "embedded", col("nl_full")).as("enriched_nl"))

  /** NL descriptions for a chunk table — (origin, name, start_line,
    * chunk_type, nl). Sections, functions, and classes; `table` chunks
    * (a graft-side artifact — their text lives inside their section's
    * span) and converted html/pdf chunks (content not re-derivable
    * relationally, same exclusion as the call-edge oracle's lines CTE)
    * are out of scope. Two narrow self-joins derive method parents and
    * member lists; the assembly itself is a row-local map.
    */
  def describe(chunks: DataFrame): DataFrame = {
    val s = chunks.sparkSession
    import s.implicits._
    val base = chunks
      .filter(col("chunk_type").isin("function", "class", "section") &&
        !col("language").isin("html", "pdf", "chm", "webhelp"))
    val fns = base.filter(col("chunk_type") === "function")
      .select(col("origin"), col("name").as("fname"),
        col("start_line").as("fs"), col("end_line").as("fe"))
    val classes = base.filter(col("chunk_type") === "class")
      .select(col("origin"), col("name").as("parent_class"),
        col("start_line").as("cs"), col("end_line").as("ce"))
    // smallest strictly-containing class per function — the q95 contract
    val contained = fns.join(classes, Seq("origin"))
      .filter(col("cs") < col("fs") && col("fe") <= col("ce"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("origin"), col("fname"), col("fs"))
          .orderBy((col("ce") - col("cs")).asc, col("parent_class").asc)))
      .filter(col("rn") === 1)
      .select(col("origin"), col("fname"), col("fs"), col("parent_class"),
        col("cs"))
    val members = contained
      .groupBy(col("origin"), col("parent_class").as("mclass"), col("cs"))
      .agg(array_sort(collect_list(struct(col("fs"), col("fname"))))
        .as("ms"))
      .select(col("origin"), col("mclass"), col("cs"),
        expr("transform(ms, m -> m.fname)").as("members"))
    base
      .join(contained.select(col("origin"), col("fname").as("name"),
          col("fs").as("start_line"), col("parent_class")),
        Seq("origin", "name", "start_line"), "left")
      .join(members.select(col("origin"), col("mclass").as("name"),
          col("cs").as("start_line"), col("members")),
        Seq("origin", "name", "start_line"), "left")
      .select(col("origin"), col("language"), col("chunk_type"),
        col("name"), col("start_line"), col("doc"), col("content"),
        col("parent_class"), col("members"))
      .as[(String, String, String, String, Int, String, String,
        Option[String], Option[Seq[String]])]
      .map { case (o, l, t, n, sl, d, c, pc, ms) =>
        (o, n, sl, t,
          describeOne(o, l, t, n, d, c, pc, ms.getOrElse(Seq.empty)))
      }
      .toDF("origin", "name", "start_line", "chunk_type", "nl")
      .select(col("origin"), col("name"),
        col("start_line").cast("int").as("start_line"),
        col("chunk_type"), col("nl"))
  }
}
