package graft.parser

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** File → chunk extraction: the ingest front-end of the index pipeline
  * (reference: tree-sitter per-language queries,
  * /root/reference/src/parser/mod.rs + chunk.rs). The JVM has no
  * tree-sitter here, so extraction is a line/brace/indent scanner with
  * per-language signature patterns — same output contract (one row per
  * function/class/section with name, span, content, and call sites),
  * different mechanism. The Spark shape is what matters: a 1-file →
  * N-chunk flatMap running at scan parallelism with no shuffle
  * (SURVEY §2.1 "Generator-shaped op — plain typed flatMap suffices").
  */
object Chunker {

  final case class Chunk(
      origin: String,
      language: String,
      chunk_type: String, // function | class | section | file
      name: String,
      start_line: Int,
      end_line: Int,
      content: String,
      doc: String) // preceding doc comment, "" if none

  /** Input guards, mirroring the reference's limits
    * (/root/reference/src/limits.rs:50-180): oversized files are
    * skipped outright, oversized chunks truncated. These bound task
    * memory at scan parallelism — a pathological 2 GB file must not OOM
    * an executor thread.
    */
  val MaxFileBytes: Int = 50 * 1024 * 1024
  val MaxChunkChars: Int = 100 * 1024

  /** Decode a lowercase-hex binary payload (the fixture transport for
    * container formats like chm); non-hex input yields empty, which
    * the converters decline safely.
    */
  private[graft] def hexToBytes(s: String): Array[Byte] = {
    val t = s.trim
    if (t.length % 2 != 0 || !t.forall(c =>
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f'))) Array.emptyByteArray
    else {
      val out = new Array[Byte](t.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = Integer.parseInt(t.substring(2 * i, 2 * i + 2), 16).toByte
        i += 1
      }
      out
    }
  }

  /** Token-storm guard, the deterministic seat of the reference's parse
    * timeout (/root/reference/src/parser/mod.rs:1422-1463 skips files
    * whose parse exceeds a wall-clock budget): a wall clock would make
    * chunking nondeterministic across runs/executors, so the budget is
    * expressed in LINES — files beyond it are skipped outright, the
    * same outcome the reference's timeout produces for adversarial
    * inputs.
    */
  val MaxFileLines: Int = 200 * 1000

  /** UTF-8 byte length without materializing the encoded bytes — the
    * guard must measure BYTES (the limit the reference states and the
    * executor-memory bound we care about), not UTF-16 chars, or
    * multibyte text up to ~3× the cap would slip through.
    */
  private[graft] def utf8Length(s: String): Long = {
    var bytes = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) bytes += 1
      else if (c < 0x800) bytes += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) { bytes += 4; i += 1 }
      else bytes += 3
      i += 1
    }
    bytes
  }

  /** True when the file exceeds MaxFileBytes. Fast paths avoid the
    * byte count when the char count already decides it either way
    * (UTF-8 length is always in [chars, 3*chars+1]).
    */
  private def oversized(content: String): Boolean =
    content.length > MaxFileBytes ||
      (content.length.toLong * 3 > MaxFileBytes && utf8Length(content) > MaxFileBytes)

  /** Languages where a line-leading `#` is the C preprocessor, not a
    * comment — the preproc guard below must apply ONLY to these, or
    * hash-comment languages (python/shell/ruby/yaml/nix) lose legitimate
    * doc lines that happen to start '# if ...' / '# include ...'.
    */
  private val cPreprocLangs = Set("c", "cpp", "cuda", "objc")

  /** Annotation / attribute / decorator line shapes, per language
    * family. These are metadata attached to the signature below them —
    * the doc scan must pass THROUGH them (a doc comment above
    * `@Override` still documents the method) without consuming them as
    * doc text (the reference gets this structurally from tree-sitter's
    * decorated/attributed nodes, /root/reference/src/parser/chunk.rs).
    */
  private val atAnnotationLangs = Set("java", "kotlin", "scala", "groovy",
    "dart", "python", "typescript", "javascript", "swift")

  private[graft] def isAnnotationLine(language: String, line: String): Boolean = {
    val t = line.trim
    if (atAnnotationLangs.contains(language))
      t.matches("""@[\w.]+(\(.*\))?""")
    else if (language == "rust") t.matches("""#\[.*\]""")
    else if (language == "csharp") t.matches("""\[[A-Za-z][^\]]*\]""")
    else if (templateHeadLangs.contains(language))
      // a balanced single-line `template <...>` head is metadata for
      // the declaration below it (tree-sitter: template_declaration
      // wraps the function; the line scanner passes through the head)
      t.matches("""template\s*<.*>""")
    else false
  }

  /** C++-family languages whose `template <...>` heads sit above the
    * signature line the scanner anchors on.
    */
  private val templateHeadLangs = Set("cpp", "cuda", "c")

  /** A decorator/attribute whose argument list spans lines presents its
    * CLOSING line (")", "]", trailing arg lines) to the upward doc
    * scan, which would otherwise terminate and lose a doc comment
    * sitting above the decorator. When the lines `k..closeIdx` form one
    * bracket-balanced annotation whose opener sits at `k` (within the
    * signature-join cap), the whole block is metadata for the signature
    * below — return the opener index so the scan passes through it,
    * the multi-line analogue of [[isAnnotationLine]]. (Tree-sitter gets
    * this structurally from decorated_definition / attribute nodes.)
    */
  private def multiLineAnnotationOpener(language: String,
                                        lines: Array[String],
                                        closeIdx: Int): Option[Int] = {
    val syntax = syntaxOf.getOrElse(language, defaultSyntax)
    val atLang = atAnnotationLangs.contains(language)
    val (openRe, oc, cc) =
      if (atLang) ("""@[\w.]+\(.*""", '(', ')')
      else if (language == "rust") ("""#\[.*""", '[', ']')
      else if (language == "csharp") ("""\[[A-Za-z].*""", '[', ']')
      else if (templateHeadLangs.contains(language))
        // multi-line `template <typename T, /* doc */ typename F>`:
        // angle-balanced across lines, comments skipped by charDelta
        ("""template\s*<.*""", '<', '>')
      else return None
    // the candidate line must itself CLOSE a bracket — a balanced
    // unrelated statement ('const N: u32 = 1;') between an annotation
    // block and the signature must terminate the scan, not tunnel
    // through it and steal a doc comment belonging to another item
    if (charDelta(lines(closeIdx), syntax, oc, cc) >= 0) return None
    var k = closeIdx - 1
    val floor = math.max(0, closeIdx - MaxSigJoinLines)
    while (k >= floor) {
      val t = lines(k).trim
      if (t.matches(openRe)) {
        val bal = (k to closeIdx).map(l =>
          charDelta(lines(l), syntax, oc, cc)).sum
        if (bal == 0 && charDelta(lines(k), syntax, oc, cc) > 0)
          return Some(k)
        return None // an opener that doesn't balance here isn't ours
      }
      k -= 1
    }
    None
  }

  /** Doc-comment fallback: scan up to 8 lines immediately above the
    * signature for comment lines (///, //, #, --, *) and join them
    * (/root/reference/src/parser/chunk.rs:625-830 same policy).
    * Annotation/attribute lines are skipped transparently — they are
    * neither doc text nor a scan terminator.
    */
  private def docCommentAbove(lines: Array[String], sigLine: Int,
                              language: String): String = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = sigLine - 1
    var scanned = 0
    val preproc = """^#\s*(include|pragma|define|if|ifdef|ifndef|endif|else|undef)\b""".r
    while (i >= 0 && scanned < 8) {
      val t = lines(i).trim
      if (isAnnotationLine(language, lines(i))) {
        i -= 1; scanned += 1 // metadata for the sig below: pass through
      } else if (cPreprocLangs.contains(language) && preproc.findFirstIn(t).isDefined) {
        i = -1 // C-preprocessor line: not a doc comment
      } else if (t.startsWith("///") || t.startsWith("//") || t.startsWith("#") ||
        t.startsWith("--") || t.startsWith("*") || t.startsWith("/*")) {
        // leading markers dropped; a trailing block-comment closer is
        // dropped too, but ONLY for block-comment-style lines — in a
        // line comment (`// see dir/*/`, `# glob foo/*/`) a trailing
        // star-slash is legitimate text, never a closer
        val body = t.dropWhile(c => c == '/' || c == '#' || c == '-' || c == '*' || c == ' ')
        buf += (if (t.startsWith("/*") || t.startsWith("*"))
          body.stripSuffix("*/").trim else body.trim)
        i -= 1; scanned += 1
      } else if (t.isEmpty && buf.isEmpty) {
        i -= 1; scanned += 1 // allow one blank gap before the doc block
      } else {
        multiLineAnnotationOpener(language, lines, i) match {
          case Some(k) => // spanning decorator/attribute: metadata for
            scanned += i - k + 1 // the sig below, pass through whole
            i = k - 1
          case None => i = -1
        }
      }
    }
    buf.reverse.mkString(" ").trim
  }

  final case class CallSite(
      origin: String,
      caller: String,
      callee: String,
      line: Int,
      edge_kind: String) // direct | method (heuristic, lower trust)

  /** chunk → referenced-type-name edge, kinds mirroring the reference's
    * TypeEdgeKind (/root/reference/src/parser/types.rs:344-357).
    */
  final case class TypeRef(
      origin: String,
      chunk_name: String,
      type_name: String,
      edge_kind: String) // param | return | field | impl

  /** go parenthesized const/var group opener (`const (` / `var (`,
    * optionally with a trailing line comment) and its member-spec
    * head: an indented identifier (gofmt always indents group members,
    * and the blank identifier `_` is a legal spec).
    */
  private val goGroupRe = """^(const|var|type)\s*\(\s*(//.*)?$""".r
  private val goSpecRe = """^\s+([A-Za-z_]\w*)\b""".r
  // a type-group member is a class when its spec declares a
  // struct/interface body, a typealias otherwise (the same split the
  // top-level `type` line sigs make — go.chunks.scm)
  private val goTypeSpecClassRe = """^\s+\w+\s+(?:struct|interface)\b""".r

  /** Per-language top-level signature patterns → (chunk_type, name
    * group). A tiny registry in the spirit of the reference's language
    * table (/root/reference/src/language/mod.rs:708-781).
    */
  private val signatures: Map[String, Seq[(scala.util.matching.Regex, String)]] = Map(
    "rust" -> Seq(
      ("""^\s*(?:pub(?:\([^)]*\))?\s+)?(?:async\s+|unsafe\s+|const\s+)*fn\s+(\w+)""".r, "function"),
      ("""^\s*(?:pub\s+)?(?:struct|enum|trait)\s+(\w+)""".r, "class"),
      ("""^\s*impl(?:\s*<[^>]*>)?\s+(\w+)""".r, "class"),
      // item-position const/static/type-alias/macro definitions — the
      // reference chunks all of these (rust.chunks.scm: const_item,
      // static_item, type_item, macro_definition; its tree-sitter query
      // has no parent constraint, so fn-local and associated items
      // chunk there too — same here, the scan continues inside bodies).
      // `const fn` never matches: the name capture requires the `:` of
      // a typed binding.
      ("""^\s*(?:pub(?:\([^)]*\))?\s+)?(?:const|static)\s+(?:mut\s+)?(\w+)\s*:""".r, "constant"),
      ("""^\s*(?:pub(?:\([^)]*\))?\s+)?type\s+(\w+)""".r, "typealias"),
      ("""^\s*macro_rules!\s+(\w+)""".r, "macro")),
    "scala" -> Seq(
      ("""^\s*(?:override\s+)?(?:private\s+|protected\s+)?def\s+(\w+)""".r, "function"),
      ("""^\s*(?:final\s+|case\s+|abstract\s+|sealed\s+)*(?:class|trait|object)\s+(\w+)""".r, "class")),
    "python" -> Seq(
      ("""^\s*(?:async\s+)?def\s+(\w+)""".r, "function"),
      ("""^\s*class\s+(\w+)""".r, "class"),
      // module-level UPPER_SNAKE constants — the reference captures
      // assignments and post-filters to upper-snake at module level
      // (python.chunks.scm @const + post_process_python_python;
      // lowercase module "variable" chunks are a deliberate scope cut
      // here, and the COLUMN-0 anchor is what excludes function/class
      // bodies). Optional type annotation allowed; `==`/augmented
      // assignments never match.
      ("""^((?=[A-Z0-9_]*[A-Z])[A-Z0-9_]+)\s*(?::\s*[^=\n]+?)?\s*=(?!=)""".r,
        "constant")),
    "javascript" -> Seq(
      ("""^\s*(?:export\s+)?(?:async\s+)?function\s*\*?\s*(\w+)""".r, "function"),
      ("""^\s*(?:export\s+)?class\s+(\w+)""".r, "class"),
      // arrow functions assigned to const/let/var — the dominant
      // modern definition form (javascript.chunks.scm captures
      // lexical/variable declarators with arrow_function values);
      // one-line argument lists only (a multi-line-paren arrow is the
      // documented residual). Expression-body arrows (no brace) end at
      // the statement `;` via stmtEnd.
      ("""^\s*(?:export\s+)?(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s*)?(?:\([^)]*\)|\w+)\s*=>""".r,
        "function"),
      // jest/mocha/vitest blocks: describe/it/test with a string title
      // (the reference's @test capture)
      ("""^\s*(?:describe|it|test)\s*\(\s*["']([^"']+)["']""".r, "test"),
      // class METHODS (method_definition): indented, control keywords
      // excluded, the body brace closes the line — object-literal
      // method shorthand matches too (a deliberate overextension; the
      // reference captures class methods only)
      ("""^\s{2,}(?:static\s+)?(?:async\s+)?(constructor)\s*\([^)]*\)\s*\{\s*$""".r,
        "constructor"),
      ("""^\s{2,}(?:static\s+)?(?:async\s+)?(?:get\s+|set\s+)?(?!if\b|for\b|while\b|switch\b|catch\b|function\b|return\b|else\b|do\b|try\b|new\b|await\b|typeof\b)([A-Za-z_]\w*)\s*\([^)]*\)\s*\{\s*$""".r,
        "function"),
      // module-level const/let/var declarations with non-function
      // values (the arrow pattern above wins first; column-0 anchoring
      // is the reference's module-level post-filter)
      ("""^(?:export\s+)?const\s+(\w+)\s*=(?!=)""".r, "constant"),
      ("""^(?:export\s+)?(?:let|var)\s+(\w+)\s*=(?!=)""".r, "variable")),
    "java" -> Seq(
      ("""^\s*(?:public|private|protected)?\s*(?:static\s+)?(?:final\s+)?(?:class|interface|enum)\s+(\w+)""".r, "class"),
      ("""^\s*(?:public|private|protected)\s+(?:static\s+)?(?:final\s+)?[\w<>\[\],.\s]+\s+(\w+)\s*\([^;]*$""".r, "function")),
    "go" -> Seq(
      ("""^func\s+(?:\([^)]*\)\s+)?(\w+)\s*\(""".r, "function"),
      ("""^type\s+(\w+)\s+(?:struct|interface)\b""".r, "class"),
      // non-struct type declarations are aliases (go.chunks.scm maps
      // named/func/pointer/slice/map/chan/array type_declarations to
      // @typealias); single-spec const/var declarations chunk as
      // constant/variable — the parenthesized group forms
      // (`const (...)`, one chunk per spec in the reference) are the
      // documented residual
      ("""^type\s+(\w+)\s+(?!struct\b|interface\b)\S""".r, "typealias"),
      ("""^const\s+(\w+)""".r, "constant"),
      ("""^var\s+(\w+)""".r, "variable")),
    // (go const/var PAREN GROUPS are handled by the dedicated group
    // scanner in chunkFile — see goGroupRe — not by these line sigs)
    "c" -> Seq(
      ("""^(?:static\s+|inline\s+|extern\s+)*(?:unsigned\s+|signed\s+|long\s+|short\s+|const\s+|struct\s+)*[A-Za-z_][\w]*[\s\*]+(\w+)\s*\([^;]*$""".r, "function"),
      ("""^\s*(?:typedef\s+)?(?:struct|union|enum)\s+(\w+)""".r, "class")),
    "cpp" -> Seq(
      ("""^(?:static\s+|inline\s+|virtual\s+)*[A-Za-z_][\w:~]*(?:<[^<>;()]*(?:<[^<>;()]*>[^<>;()]*)*>)?[\s\*&]+(\w+)\s*\([^;]*$""".r, "function"),
      ("""^\s*(?:class|struct)\s+(\w+)""".r, "class")),
    "typescript" -> Seq(
      ("""^\s*(?:export\s+)?(?:async\s+)?function\s*\*?\s*(\w+)""".r, "function"),
      ("""^\s*(?:export\s+)?(?:abstract\s+)?(?:class|interface)\s+(\w+)""".r, "class"),
      // ts enums are class-shaped containers (enum_declaration)
      ("""^\s*(?:export\s+)?(?:const\s+)?enum\s+(\w+)""".r, "class"),
      // arrow functions, with an optional RETURN annotation after the
      // parameter list (`(d: number): number =>`); function-typed
      // variable annotations (`const f: (a) => b = …`) are the
      // documented residual
      ("""^\s*(?:export\s+)?(?:const|let|var)\s+(\w+)\s*=\s*(?:async\s*)?(?:\([^)]*\)|\w+)\s*(?::\s*[^=\n]+?)?\s*=>""".r,
        "function"),
      ("""^\s*(?:describe|it|test)\s*\(\s*["']([^"']+)["']""".r, "test"),
      ("""^\s{2,}(?:public\s+|private\s+|protected\s+|static\s+|async\s+|readonly\s+)*(constructor)\s*\([^)]*\)\s*\{\s*$""".r,
        "constructor"),
      ("""^\s{2,}(?:public\s+|private\s+|protected\s+|static\s+|async\s+|readonly\s+|override\s+)*(?:get\s+|set\s+)?(?!if\b|for\b|while\b|switch\b|catch\b|function\b|return\b|else\b|do\b|try\b|new\b|await\b|typeof\b)([A-Za-z_]\w*)\s*\([^)]*\)\s*(?::\s*[^={;]+?)?\s*\{\s*$""".r,
        "function"),
      // type aliases end at the statement `;` (stmtEnd)
      ("""^\s*(?:export\s+)?type\s+(\w+)""".r, "typealias"),
      ("""^(?:export\s+)?const\s+(\w+)(?:\s*:\s*[^=\n]+?)?\s*=(?!=)""".r,
        "constant"),
      ("""^(?:export\s+)?(?:let|var)\s+(\w+)(?:\s*:\s*[^=\n]+?)?\s*=(?!=)""".r,
        "variable")),
    "php" -> Seq(
      ("""^\s*(?:public\s+|private\s+|protected\s+|static\s+)*function\s+(\w+)""".r, "function"),
      ("""^\s*(?:abstract\s+|final\s+)?(?:class|interface|trait)\s+(\w+)""".r, "class")),
    "kotlin" -> Seq(
      ("""^\s*(?:override\s+|private\s+|internal\s+|suspend\s+)*fun\s+(?:<[^<>]*(?:<[^<>]*>[^<>]*)*>\s*)?(\w+)""".r, "function"),
      ("""^\s*(?:data\s+|sealed\s+|abstract\s+|open\s+)*(?:class|interface|object)\s+(\w+)""".r, "class")),
    "ruby" -> Seq(
      ("""^\s*def\s+(?:self\.)?(\w+)""".r, "function"),
      ("""^\s*(?:class|module)\s+(\w+)""".r, "class")),
    "csharp" -> Seq(
      ("""^\s*(?:public\s+|private\s+|protected\s+|internal\s+)*(?:static\s+|sealed\s+|abstract\s+|partial\s+)*(?:class|interface|struct|enum|record)\s+(\w+)""".r, "class"),
      ("""^\s*(?:public|private|protected|internal)\s+(?:static\s+|async\s+|virtual\s+|override\s+|sealed\s+)*[\w<>\[\],.\s]+\s+(\w+)\s*\([^;]*$""".r, "function")),
    "swift" -> Seq(
      ("""^\s*(?:public\s+|private\s+|internal\s+|open\s+|fileprivate\s+|static\s+|override\s+)*func\s+(\w+)""".r, "function"),
      ("""^\s*(?:public\s+|open\s+|final\s+|indirect\s+)*(?:class|struct|enum|protocol|extension|actor)\s+(\w+)""".r, "class")),
    "lua" -> Seq(
      ("""^\s*(?:local\s+)?function\s+([\w.:]+)""".r, "function")),
    "perl" -> Seq(
      ("""^\s*sub\s+(\w+)""".r, "function"),
      ("""^\s*package\s+([\w:]+)""".r, "class")),
    "shell" -> Seq(
      ("""^\s*function\s+([A-Za-z_]\w*)""".r, "function"),
      ("""^\s*([A-Za-z_]\w*)\s*\(\)\s*\{?\s*$""".r, "function")),
    "sql" -> Seq(
      ("""^\s*(?i)CREATE\s+(?:OR\s+REPLACE\s+)?(?:FUNCTION|PROCEDURE|TRIGGER)\s+[`"\[]?(\w+)""".r, "function"),
      ("""^\s*(?i)CREATE\s+(?:OR\s+REPLACE\s+)?(?:TABLE|VIEW|INDEX)\s+(?:IF\s+NOT\s+EXISTS\s+)?[`"\[]?(\w+)""".r, "class")),
    "elixir" -> Seq(
      ("""^\s*defp?\s+(\w+[?!]?)""".r, "function"),
      ("""^\s*defmodule\s+([\w.]+)""".r, "class")),
    "julia" -> Seq(
      ("""^\s*function\s+([\w!]+)""".r, "function"),
      ("""^\s*(?:mutable\s+)?struct\s+(\w+)""".r, "class")),
    "zig" -> Seq(
      ("""^\s*(?:pub\s+)?(?:export\s+)?fn\s+(\w+)""".r, "function"),
      ("""^\s*(?:pub\s+)?const\s+(\w+)\s*=\s*(?:packed\s+|extern\s+)?(?:struct|enum|union)""".r, "class")),
    "dart" -> Seq(
      ("""^\s*(?:static\s+)?(?:void|int|double|num|String|bool|Future<[^>]*>|[A-Z]\w*[?]?)\s+(\w+)\s*\([^;]*$""".r, "function"),
      ("""^\s*(?:abstract\s+)?(?:class|mixin|enum)\s+(\w+)""".r, "class")),
    "groovy" -> Seq(
      ("""^\s*(?:static\s+)?(?:def|void|int|long|double|String|boolean)\s+(\w+)\s*\(""".r, "function"),
      ("""^\s*(?:abstract\s+)?(?:class|interface|trait|enum)\s+(\w+)""".r, "class")),
    "r" -> Seq(
      ("""^\s*([\w.]+)\s*(?:<-|=)\s*function\s*\(""".r, "function")),
    "erlang" -> Seq(
      ("""^([a-z]\w*)\s*\(.*->""".r, "function")),
    "haskell" -> Seq(
      ("""^(\w+)\s*::""".r, "function"),
      ("""^data\s+([A-Z]\w*)""".r, "class")),
    "ocaml" -> Seq(
      ("""^let\s+(?:rec\s+)?(\w+)""".r, "function"),
      ("""^type\s+(\w+)""".r, "class")),
    "yaml" -> Seq(
      ("""^([\w.-]+):""".r, "section")),
    "makefile" -> Seq(
      ("""^([\w./%-]+)\s*:(?!=)""".r, "function")),
    "graphql" -> Seq(
      ("""^\s*(?:type|interface|enum|input|union)\s+(\w+)""".r, "class"),
      ("""^\s*(?:query|mutation|subscription|fragment)\s+(\w+)""".r, "function")),
    "proto" -> Seq(
      ("""^\s*(?:message|service|enum)\s+(\w+)""".r, "class"),
      ("""^\s*rpc\s+(\w+)""".r, "function")),
    "gleam" -> Seq(
      ("""^\s*(?:pub\s+)?fn\s+(\w+)""".r, "function"),
      ("""^\s*(?:pub\s+)?(?:opaque\s+)?type\s+(\w+)""".r, "class")),
    "fsharp" -> Seq(
      ("""^\s*let\s+(?:rec\s+)?(\w+)""".r, "function"),
      ("""^\s*type\s+(\w+)""".r, "class")),
    "solidity" -> Seq(
      ("""^\s*function\s+(\w+)""".r, "function"),
      ("""^\s*(?:abstract\s+)?(?:contract|interface|library)\s+(\w+)""".r, "class")),
    "powershell" -> Seq(
      ("""^\s*function\s+([\w-]+)""".r, "function")),
    "terraform" -> Seq(
      ("""^\s*(?:resource|data)\s+"[^"]+"\s+"([^"]+)"""".r, "section"),
      ("""^\s*(?:module|variable|provider|output)\s+"([^"]+)"""".r, "section")),
    "vb" -> Seq(
      ("""^\s*(?:Public\s+|Private\s+|Protected\s+|Shared\s+)*(?:Sub|Function)\s+(\w+)""".r, "function"),
      ("""^\s*(?:Public\s+|Private\s+)?(?:Class|Module|Interface)\s+(\w+)""".r, "class")),
    "objc" -> Seq(
      ("""^[-+]\s*\([^)]*\)\s*(\w+)""".r, "function"),
      ("""^@(?:interface|implementation|protocol)\s+(\w+)""".r, "class")),
    "glsl" -> Seq(
      ("""^(?:void|float|int|vec[234]|mat[234])\s+(\w+)\s*\(""".r, "function"),
      ("""^\s*struct\s+(\w+)""".r, "class")),
    "css" -> Seq(
      ("""^([^{@\s][^{]*?)\s*\{\s*$""".r, "section")),
    "tex" -> Seq(
      ("""^\\(?:sub)*section\*?\{([^}]*)\}""".r, "section")),
    "matlab" -> Seq(
      ("""^function\s+(?:[\w\[\], ]+=\s*)?(\w+)""".r, "function"),
      ("""^classdef\s+(\w+)""".r, "class")),
    "fortran" -> Seq(
      ("""(?i)^\s*(?:recursive\s+)?(?:subroutine|(?:\w+\s+)?function)\s+(\w+)""".r, "function"),
      ("""(?i)^\s*module\s+(\w+)""".r, "class")),
    "elm" -> Seq(
      ("""^(?:port\s+)?([a-z]\w*)\s*:""".r, "function"),
      ("""^type\s+(?:alias\s+)?([A-Z]\w*)""".r, "class")),
    "nix" -> Seq(
      ("""^\s{0,2}([\w-]+(?:\.[\w-]+)*)\s*=""".r, "section")),
    "cuda" -> Seq(
      // kernel/device qualifiers first, then the host C++ shapes
      ("""^\s*(?:__global__|__device__|__host__)[\w\s]*?[\s\*&](\w+)\s*\([^;]*$""".r, "function"),
      ("""^(?:static\s+|inline\s+)*(?:unsigned\s+|signed\s+|long\s+|short\s+|const\s+)*[A-Za-z_][\w:<>~]*[\s\*&]+(\w+)\s*\([^;]*$""".r, "function"),
      ("""^\s*(?:class|struct)\s+(\w+)""".r, "class")),
    // IEC 61131-3 Structured Text (the payload language of L5X/L5K PLC
    // exports, /root/reference/src/parser/l5x.rs:1-8). FUNCTION_BLOCK
    // is tried first; the bare FUNCTION alternative cannot match it
    // because \s+ rejects the underscore.
    "st" -> Seq(
      ("""(?i)^\s*FUNCTION_BLOCK\s+(\w+)""".r, "class"),
      ("""(?i)^\s*(?:FUNCTION|PROGRAM)\s+(\w+)""".r, "function")))

  /** Per-language lexical syntax for the brace scanner: which comment
    * forms exist, which quote chars open full strings, and whether `'`
    * is a short char literal (C family) as opposed to a full string
    * (JS/PHP/shell) or a lifetime/symbol marker (Rust `'a` — handled by
    * the char-literal lookahead failing and falling through).
    */
  private final case class LangSyntax(
      lineComments: Seq[String],
      blockComment: Boolean, // slash-star ... star-slash
      strings: Set[Char],
      charQuote: Boolean)

  private val defaultSyntax =
    LangSyntax(Seq("//"), blockComment = true, Set('"'), charQuote = true)

  private val syntaxOf: Map[String, LangSyntax] = Map(
    "javascript" -> LangSyntax(Seq("//"), true, Set('"', '\'', '`'), false),
    "typescript" -> LangSyntax(Seq("//"), true, Set('"', '\'', '`'), false),
    "php"        -> LangSyntax(Seq("//", "#"), true, Set('"', '\''), false),
    "perl"       -> LangSyntax(Seq("#"), false, Set('"', '\''), false),
    "shell"      -> LangSyntax(Seq("#"), false, Set('"', '\''), false),
    "sql"        -> LangSyntax(Seq("--"), true, Set('\''), false),
    "swift"      -> LangSyntax(Seq("//"), true, Set('"'), false),
    "zig"        -> LangSyntax(Seq("//"), false, Set('"'), true),
    "dart"       -> LangSyntax(Seq("//"), true, Set('"', '\''), false),
    "r"          -> LangSyntax(Seq("#"), false, Set('"', '\''), false),
    "powershell" -> LangSyntax(Seq("#"), false, Set('"', '\''), false),
    "terraform"  -> LangSyntax(Seq("#", "//"), true, Set('"'), false),
    "graphql"    -> LangSyntax(Seq("#"), false, Set('"'), false),
    "nix"        -> LangSyntax(Seq("#"), false, Set('"'), false),
    "cuda"       -> LangSyntax(Seq("//"), true, Set('"'), true))

  /** Streaming brace counter that skips string literals and comments —
    * the minimal state machine the naive per-char counter lacked (a
    * `"{"` inside a literal must not open a block). Block-comment state
    * carries across lines; strings are assumed single-line (an
    * unterminated delimiter voids the rest of the line, which is the
    * conservative choice for raw/multiline strings).
    */
  private final class BraceScanner(syntax: LangSyntax) {
    private var inBlock = false

    /** @return (brace depth delta, saw any `{`) for this line. */
    def scan(line: String): (Int, Boolean) = {
      var depth = 0
      var sawOpen = false
      var i = 0
      val n = line.length
      while (i < n) {
        if (inBlock) {
          val e = line.indexOf("*/", i)
          if (e < 0) i = n else { inBlock = false; i = e + 2 }
        } else {
          val c = line.charAt(i)
          if (syntax.blockComment && c == '/' && i + 1 < n && line.charAt(i + 1) == '*') {
            inBlock = true; i += 2
          } else if (syntax.lineComments.exists(lc => line.startsWith(lc, i))) {
            i = n
          } else if (syntax.strings.contains(c)) {
            var j = i + 1
            var closed = false
            while (j < n && !closed) {
              val cj = line.charAt(j)
              if (cj == '\\') j += 2
              else if (cj == c) closed = true
              else j += 1
            }
            i = if (closed) j + 1 else n
          } else if (syntax.charQuote && c == '\'') {
            // char literal: 'x' or '\x' — otherwise (Rust lifetime,
            // prose apostrophe) fall through as plain text
            val close =
              if (i + 1 < n && line.charAt(i + 1) == '\\' &&
                i + 3 < n && line.charAt(i + 3) == '\'') i + 3
              else if (i + 2 < n && line.charAt(i + 2) == '\'') i + 2
              else -1
            if (close > 0) i = close + 1 else i += 1
          } else {
            if (c == '{') { depth += 1; sawOpen = true }
            else if (c == '}') depth -= 1
            i += 1
          }
        }
      }
      (depth, sawOpen)
    }
  }

  /** Languages whose function signatures are matched against a
    * paren-balanced LOGICAL line (the signature continues across
    * physical lines until its parameter list closes). This both finds
    * definitions whose parameter lists span lines and — because the
    * joined text then ends in `;` — rejects multi-line PROTOTYPES that
    * a single-line match would swallow (C/CUDA forward declarations).
    */
  private val parenJoinLangs =
    Set("java", "csharp", "dart", "c", "cpp", "cuda", "glsl", "groovy")

  /** Continuation cap for signature joining: a real parameter list
    * rarely spans more than a handful of lines; an unbalanced paren in
    * malformed text must not make the scan quadratic.
    */
  private val MaxSigJoinLines = 8

  /** Languages with named nested functions: scanning continues INSIDE
    * function bodies so inner defs become their own chunks (tree-sitter
    * finds these structurally; the line scanner recurses by simply not
    * skipping the body). The set is restricted to keyword-anchored
    * signature packs (fn/def/func/function) — type-prefixed packs
    * (Java/C) would false-positive on body statements.
    */
  private val nestedFnLangs = Set("javascript", "typescript", "python",
    "scala", "rust", "go", "kotlin", "swift")

  /** `(` minus `)` on one line, outside strings and comments. */
  private def parenDelta(line: String, syntax: LangSyntax): Int =
    charDelta(line, syntax, '(', ')')

  /** Languages in [[sigParenLangs]] whose line comments are `#`-style —
    * slash-stripping there would corrupt legitimate signature text
    * (python's `//` floor division in a default argument). Everything
    * else in the join sets uses C-family `//` + `/* */`.
    */
  private[graft] val hashCommentSigLangs = Set("python", "perl", "r")

  // Drop line-local C-family comments from a signature CONTINUATION
  // line before joining (tree-sitter sees a comment node interleaved
  // in a signature and skips it; the line scanner re-creates that by
  // stripping): balanced slash-star pairs become a space, an UNCLOSED
  // slash-star opener truncates the line from the opener (the rest is
  // comment), and a trailing // comment is dropped. Deliberately a
  // blind regex, not the string-aware scanner: the q56 oracle's sig
  // CTE mirrors exactly this transform in SQL, and the two must agree
  // character-for-character on what a joined signature contains.
  // KNOWN TRADEOFF of the blindness: a continuation line whose string
  // literal contains "//" (a URL default argument, say) loses its tail
  // incl. the closing paren, and the join then swallows body lines up
  // to the window cap — engine and oracle stay consistent (both blind)
  // but both mis-join such signatures. If that ever matters, string
  // awareness must land HERE and in the oracle sig CTE symmetrically.
  private[graft] def stripSigComments(line: String): String = {
    val paired = line.replaceAll("""/\*.*?\*/""", " ")
    val o = paired.indexOf("/*")
    (if (o >= 0) paired.substring(0, o) else paired)
      .replaceAll("""//.*""", "")
  }

  // Cross-line comment state for signature joining: block comments
  // SPANNING continuation lines strip to nothing, exactly like
  // tree-sitter's comment node. The state is the running
  // opener-minus-closer marker count over the PRIOR lines of this
  // signature (blind counting — the q56 oracle computes the same
  // running sum as a window over the sig frame): a line starting with
  // positive depth is inside a comment; it contributes only what
  // follows its first closer, local-stripped.
  private[graft] final class SigCommentState {
    private var depth = 0
    private def occ(s: String, m: String): Int = {
      var c = 0; var i = s.indexOf(m)
      while (i >= 0) { c += 1; i = s.indexOf(m, i + m.length) }
      c
    }
    /** Count the HEAD line's markers into the state without stripping
      * it (the head line joins raw, but an unclosed opener on it puts
      * the following continuation lines inside a comment — the oracle's
      * window sum includes the head row's delta the same way).
      */
    def seed(line: String): Unit =
      depth += occ(line, "/*") - occ(line, "*/")
    def strip(line: String): String = {
      val before = depth
      depth += occ(line, "/*") - occ(line, "*/")
      if (before > 0) {
        val e = line.indexOf("*/")
        if (e < 0) "" else stripSigComments(line.substring(e + 2))
      } else stripSigComments(line)
    }
  }

  /** `open` minus `close` on one line, outside strings and comments. */
  private def charDelta(line: String, syntax: LangSyntax,
                        open: Char, close: Char): Int = {
    var d = 0
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (syntax.blockComment && c == '/' && i + 1 < n && line.charAt(i + 1) == '*') {
        val e = line.indexOf("*/", i + 2)
        if (e < 0) return d else i = e + 2
      } else if (syntax.lineComments.exists(lc => line.startsWith(lc, i))) {
        return d
      } else if (syntax.strings.contains(c)) {
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          if (line.charAt(j) == '\\') j += 2
          else if (line.charAt(j) == c) closed = true
          else j += 1
        }
        i = if (closed) j + 1 else n
      } else {
        if (c == open) d += 1 else if (c == close) d -= 1
        i += 1
      }
    }
    d
  }

  /** Callee stoplist — mirrored verbatim into the q49 oracle SQL. */
  val keywordList: Seq[String] = Seq(
    "if", "else", "for", "while", "match", "return", "fn", "def", "let",
    "new", "class", "switch", "catch", "try", "assert", "print", "println",
    "super", "this", "self", "typeof", "sizeof", "await", "async", "yield")

  private val keywords = keywordList.toSet

  /** Extract chunks from one file. Brace languages close a chunk when
    * the brace depth returns to its opening level; python closes on the
    * first line indented at or below the def's indent. Lines before the
    * first signature fall into no chunk (matching the reference's
    * skip-of-interstitial-content).
    */
  def chunkFile(origin: String, language: String, content: String): Seq[Chunk] = {
    if (oversized(content)) return Seq.empty // oversized: skip whole file
    val lines = content.split("\n", -1)
    if (lines.length > MaxFileLines) return Seq.empty // token-storm guard
    val sigs = signatures.getOrElse(language, Seq.empty)
    if (language == "markdown") return markdownSections(origin, lines, "markdown")
    // config formats: [section]-delimited chunks (the reference parses
    // ini fixtures the same way — section = unit of indexing)
    if (language == "ini" || language == "toml")
      return iniSections(origin, language, lines)
    if (language == "vue" || language == "svelte")
      return embeddedScriptChunks(origin, language, lines)
    // html converts to markdown-shaped text first (doc-converter path);
    // chunk spans are in CONVERTED line space
    if (language == "html")
      return markdownSections(origin, HtmlConvert.toText(content).split("\n", -1), "html")
    // webhelp rows arrive ALREADY merged+converted (WebhelpConvert
    // converts each page at merge time, the reference's order); the
    // content is markdown-shaped text in converted line space
    if (language == "webhelp")
      return markdownSections(origin, lines, "webhelp")
    // pdf converts to page-heading text (spans in CONVERTED line space,
    // same contract as html)
    if (language == "pdf")
      return markdownSections(origin,
        PdfConvert.pdfToText(content.getBytes("ISO-8859-1")).split("\n", -1), "pdf")
    // chm fixtures carry the binary container hex-encoded (raw bytes
    // can't ride in oracle SQL string literals); member extraction
    // incl. LZX-compressed sections happens in ChmConvert, then the
    // converted text chunks like the other doc formats
    if (language == "chm")
      return markdownSections(origin,
        PdfConvert.toText(hexToBytes(content)).split("\n", -1), "chm")
    if (language == "json") return jsonSections(origin, lines)
    if (language == "xml") return xmlSections(origin, lines)
    if (language == "l5x") return l5xChunks(origin, lines)
    if (language == "aspx") return aspxChunks(origin, lines)
    if (language == "razor") return razorChunks(origin, lines)
    if (sigs.isEmpty) return wholeFileChunk(origin, language, lines)

    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    val joinSyntax = syntaxOf.getOrElse(language, defaultSyntax)
    // commented-out code is invisible to detection and to the
    // indent-based end scanners (content slicing stays raw)
    val mask = commentMask(lines, language)
    var i = 0
    while (i < lines.length) {
      if (mask(i)) { i += 1 }
      else if (language == "go" &&
          goGroupRe.findFirstMatchIn(lines(i)).isDefined) {
        val goGroupKw = goGroupRe.findFirstMatchIn(lines(i)).get.group(1)
        // go parenthesized const/var/type groups (`const (` … `)`):
        // ONE chunk per spec — the go.chunks.scm per-spec behavior
        // (const/var closed the r11 residual; type groups close the
        // r12 one: a struct/interface spec chunks as class, any other
        // named type as typealias — the same split the top-level
        // `type` line sigs make, so the downstream edge extraction
        // treats group members exactly like their top-level forms).
        // Bare iota-continuation names are specs too; a multi-line
        // value/body extends its spec via exprStmtEnd; comment/blank
        // lines skip.
        // keyword comes from the already-matched group (not a re-parse:
        // takeWhile(_ != ' ') diverged from the regex's \s* on tabs,
        // mislabeling `const\t(` groups as type specs)
        val gkw = goGroupKw match {
          case "const" => "constant"
          case "var" => "variable"
          case _ => "type"
        }
        var j = i + 1
        // closer test is trim-based: a non-gofmt indented `)` must
        // still terminate the group, else the scan consumes the rest
        // of the file and skips every subsequent top-level chunk
        while (j < lines.length && !lines(j).trim.startsWith(")")) {
          if (!mask(j)) {
            goSpecRe.findFirstMatchIn(lines(j)) match {
              case Some(m) =>
                val kind =
                  if (gkw != "type") gkw
                  else if (goTypeSpecClassRe.findFirstIn(lines(j)).isDefined)
                    "class"
                  else "typealias"
                val end = exprStmtEnd(lines, j, mask, "go")
                val body = lines.slice(j, end + 1).mkString("\n")
                out += Chunk(origin, language, kind, m.group(1), j + 1, end + 1,
                  if (body.length > MaxChunkChars) body.take(MaxChunkChars)
                  else body,
                  docCommentAbove(lines, j, language))
                j = end + 1
              case None => j += 1
            }
          } else j += 1
        }
        i = j + 1
      }
      else {
      val line = lines(i)
      // paren-balanced logical line: when a C-family line opens a paren
      // it does not close, the signature regexes (anchored `...$`, and
      // prototype-rejecting via `[^;]*$`) run against the joined text —
      // a multi-line parameter list matches, a multi-line forward
      // declaration (joined text ending `;`) is rejected
      val sigText =
        if (parenJoinLangs.contains(language)) {
          var j = i
          var text = line
          // leading modifiers/return type on their own line ("public
          // static Map<K, V>" ↵ "build(...) {"): join while the text is
          // purely type/modifier tokens with no paren yet — to ANY
          // depth within the join window (a one-modifier-per-line
          // stack is legal C-family style; the old 3-line cap was the
          // round-5 grammar residual). First char must be a letter —
          // doc-comment continuation lines (" * x") must never
          // head-join. Continuation lines are comment-stripped so an
          // interleaved `/* ... */` or trailing `// ...` neither stops
          // the modifier-token check nor pollutes the joined text
          // (parenJoinLangs are all C-comment languages).
          // the comment state is built lazily: most scanned lines never
          // join (no head tokens, balanced parens), and allocating +
          // marker-scanning per line would tax the parser hot path
          var cstLazy: SigCommentState = null
          def strip(l: String): String = {
            if (cstLazy == null) {
              cstLazy = new SigCommentState
              cstLazy.seed(line)
            }
            cstLazy.strip(l)
          }
          while (j - i < MaxSigJoinLines && j + 1 < lines.length &&
            !text.contains("(") &&
            text.matches("""\s*[A-Za-z_][\w<>\[\],.\s\*&:~]*""")) {
            j += 1
            text = text + " " + strip(lines(j)).trim
          }
          // balance runs on the SAME stripped text the oracle counts —
          // a paren inside a comment must not terminate the join early
          var bal = parenDelta(text, joinSyntax)
          while (bal > 0 && j + 1 < lines.length && j - i < MaxSigJoinLines) {
            j += 1
            val stripped = strip(lines(j))
            text = text + " " + stripped.trim
            bal += parenDelta(stripped, joinSyntax)
          }
          text
        } else line
      val hit = sigs.iterator.flatMap { case (re, tpe) =>
        re.findFirstMatchIn(sigText).map(m => (m.group(1), tpe))
      }.nextOption()
      hit match {
        case Some((name, tpe)) =>
          val end =
            if ((tpe == "constant" || tpe == "typealias" ||
                tpe == "variable") &&
                (language == "python" || language == "go"))
              exprStmtEnd(lines, i, mask, language)
            else if ((tpe == "constant" || tpe == "typealias" ||
                tpe == "variable") &&
                (language == "javascript" || language == "typescript"))
              jsStmtEnd(lines, i, language, mask)
            else if (tpe == "constant" || tpe == "typealias" ||
                tpe == "variable")
              stmtEnd(lines, i, language, mask)
            // expression-body arrows carry no brace — braceEnd would
            // scan forward into the NEXT block; the statement `;` (or
            // the sig line itself under ASI) is the span
            else if ((language == "javascript" || language == "typescript") &&
                tpe == "function" && lines(i).contains("=>") &&
                !lines(i).contains("{"))
              jsStmtEnd(lines, i, language, mask)
            else if (language == "python" || language == "yaml" ||
              language == "fsharp")
              pythonEnd(lines, i, mask,
                if (language == "fsharp") Some("(*") else None)
            else if (language == "ruby" || language == "lua" ||
              language == "elixir" || language == "julia") rubyEnd(lines, i, mask)
            else if (language == "sql") sqlEnd(lines, i)
            else if (language == "erlang") erlangEnd(lines, i)
            else if (language == "haskell" || language == "ocaml" ||
              language == "elm") paragraphEnd(lines, i)
            else if (language == "nix") nixEnd(lines, i)
            else if (language == "st") stEnd(lines, i)
            else if (language == "makefile") makefileEnd(lines, i)
            else if (language == "vb") vbEnd(lines, i, tpe)
            else if (language == "objc" && tpe == "class") objcEnd(lines, i)
            else if (language == "matlab") rubyEnd(lines, i, mask)
            else if (language == "tex") texEnd(lines, i)
            else if (language == "fortran") fortranEnd(lines, i)
            else braceEnd(lines, i, language)
          val body = lines.slice(i, end + 1).mkString("\n")
          out += Chunk(origin, language, tpe, name, i + 1, end + 1,
            if (body.length > MaxChunkChars) body.take(MaxChunkChars) else body,
            docCommentAbove(lines, i, language))
          // nested defs are their own chunks in the reference; continue
          // scanning INSIDE class bodies, and inside function bodies
          // for languages with named nested functions — elsewhere skip
          // past the body (type-prefixed packs would false-positive on
          // body statements)
          i = if (tpe == "class" || nestedFnLangs.contains(language)) i + 1
              else end + 1
        case None => i += 1
      }
      }
    }
    if (out.isEmpty) wholeFileChunk(origin, language, lines) else out.toSeq
  }

  private def wholeFileChunk(origin: String, language: String,
                             lines: Array[String]): Seq[Chunk] =
    if (lines.forall(_.trim.isEmpty)) Seq.empty
    else Seq(Chunk(origin, language, "file", origin.split("/").last, 1,
      lines.length, lines.mkString("\n").take(MaxChunkChars), ""))

  private def braceEnd(lines: Array[String], start: Int, language: String): Int = {
    val scanner = new BraceScanner(syntaxOf.getOrElse(language, defaultSyntax))
    var depth = 0
    var seenOpen = false
    var i = start
    while (i < lines.length) {
      val (delta, sawOpen) = scanner.scan(lines(i))
      depth += delta
      if (sawOpen) seenOpen = true
      if (seenOpen && depth <= 0) return i
      // signature without a body (trait/abstract decl ending in ';')
      if (!seenOpen && lines(i).trim.endsWith(";")) return i
      i += 1
    }
    lines.length - 1
  }

  /** Makefile: a target's recipe is its tab-indented lines. */
  private def makefileEnd(lines: Array[String], start: Int): Int = {
    var i = start + 1
    var last = start
    while (i < lines.length &&
      (lines(i).startsWith("\t") || lines(i).trim.isEmpty)) {
      if (lines(i).trim.nonEmpty) last = i
      i += 1
    }
    last
  }

  /** VB: bodies run to the matching `End Sub|Function|Class|Module`. */
  private def vbEnd(lines: Array[String], start: Int, tpe: String): Int = {
    val endRe =
      if (tpe == "class") """(?i)^\s*End\s+(Class|Module|Interface)\b""".r
      else """(?i)^\s*End\s+(Sub|Function)\b""".r
    var i = start + 1
    while (i < lines.length) {
      if (endRe.findFirstIn(lines(i)).isDefined) return i
      i += 1
    }
    lines.length - 1
  }

  /** Objective-C @interface/@implementation run to `@end`. */
  private def objcEnd(lines: Array[String], start: Int): Int = {
    var i = start + 1
    while (i < lines.length) {
      if (lines(i).trim == "@end") return i
      i += 1
    }
    lines.length - 1
  }

  /** Embedded-language extraction for single-file components
    * (vue/svelte — same shape as the reference's ASPX/cshtml injection,
    * /root/reference/src/parser/injection.rs): the `<script>` block is
    * chunked with the javascript pack at file-relative line numbers;
    * `<template>` becomes one section chunk; a file with neither falls
    * back to a whole-file chunk.
    */
  private def embeddedScriptChunks(origin: String, language: String,
                                   lines: Array[String]): Seq[Chunk] = {
    def blockOf(tag: String): Option[(Int, Int)] = {
      val open = lines.indexWhere(_.trim.toLowerCase.startsWith(s"<$tag"))
      if (open < 0) None
      else {
        val close = lines.indexWhere(
          _.trim.toLowerCase.startsWith(s"</$tag"), open + 1)
        if (close < 0) None else Some((open, close))
      }
    }
    val script = blockOf("script").toSeq.flatMap { case (open, close) =>
      chunkFile(origin, "javascript",
          lines.slice(open + 1, close).mkString("\n"))
        .map(c => c.copy(language = language,
          start_line = c.start_line + open + 1,
          end_line = c.end_line + open + 1))
    }
    val template = blockOf("template").map { case (open, close) =>
      Chunk(origin, language, "section", "template", open + 1, close + 1,
        lines.slice(open, close + 1).mkString("\n").take(MaxChunkChars), "")
    }.toSeq
    val out = script ++ template
    if (out.isEmpty) wholeFileChunk(origin, language, lines) else out
  }

  /** TeX: a section runs to the line before the next sectioning command. */
  private def texEnd(lines: Array[String], start: Int): Int = {
    val sec = """^\\(?:sub)*section\*?\{""".r
    var i = start + 1
    while (i < lines.length) {
      if (sec.findFirstIn(lines(i)).isDefined) return i - 1
      i += 1
    }
    lines.length - 1
  }

  /** Fortran: bodies run to the matching `end subroutine|function|module`
    * (or a bare `end`).
    */
  private def fortranEnd(lines: Array[String], start: Int): Int = {
    val endRe = """(?i)^\s*end(?:\s+(?:subroutine|function|module))?\s*(?:\w+)?\s*$""".r
    var i = start + 1
    while (i < lines.length) {
      if (endRe.findFirstIn(lines(i)).isDefined) return i
      i += 1
    }
    lines.length - 1
  }

  /** Erlang: a function clause group runs to the terminating `.` line. */
  private def erlangEnd(lines: Array[String], start: Int): Int = {
    var i = start
    while (i < lines.length) {
      val t = lines(i).trim
      if (t.endsWith(".") && !t.startsWith("%")) return i
      i += 1
    }
    lines.length - 1
  }

  /** Haskell/OCaml: a definition paragraph runs to the last line before
    * the next blank line (type signature + its equations group).
    */
  private def paragraphEnd(lines: Array[String], start: Int): Int = {
    var i = start + 1
    var last = start
    while (i < lines.length && lines(i).trim.nonEmpty) { last = i; i += 1 }
    last
  }

  /** INI/TOML: [section]-header-delimited chunks (preamble before the
    * first header is its own chunk when non-empty).
    */
  private def iniSections(origin: String, language: String,
                          lines: Array[String]): Seq[Chunk] = {
    val headRe = """^\s*\[([^\]]+)\]""".r
    val heads = lines.zipWithIndex.collect {
      case (l, i) if headRe.findFirstIn(l).isDefined => i
    }
    if (heads.isEmpty) return wholeFileChunk(origin, language, lines)
    val pre =
      if (heads.head > 0 && lines.take(heads.head).exists(_.trim.nonEmpty))
        Seq(Chunk(origin, language, "section", "preamble", 1, heads.head,
          lines.take(heads.head).mkString("\n").take(MaxChunkChars), ""))
      else Seq.empty
    pre ++ heads.zipAll(heads.drop(1), -1, lines.length).map { case (s, e) =>
      val name = headRe.findFirstMatchIn(lines(s)).get.group(1).trim
      Chunk(origin, language, "section", name, s + 1, e,
        lines.slice(s, e).mkString("\n").take(MaxChunkChars), "")
    }
  }

  /** Nix: a binding runs until brace depth returns to zero AND the line
    * closes with `;` (single-line bindings end immediately).
    */
  private def nixEnd(lines: Array[String], start: Int): Int = {
    val scanner = new BraceScanner(syntaxOf("nix"))
    var depth = 0
    var i = start
    while (i < lines.length) {
      val (delta, _) = scanner.scan(lines(i))
      depth += delta
      if (depth <= 0 && lines(i).trim.endsWith(";")) return i
      i += 1
    }
    lines.length - 1
  }

  /** Structured Text: bodies run to the matching END_* keyword. */
  private def stEnd(lines: Array[String], start: Int): Int = {
    val endRe = """(?i)^\s*END_(?:FUNCTION_BLOCK|FUNCTION|PROGRAM|ROUTINE)\b""".r
    var i = start + 1
    while (i < lines.length) {
      if (endRe.findFirstIn(lines(i)).isDefined) return i
      i += 1
    }
    lines.length - 1
  }

  /** JSON: the keys at the shallowest key indent are section heads; a
    * section runs to the line before the next head (the reference
    * indexes config formats at section granularity, same as ini/toml).
    */
  private def jsonSections(origin: String, lines: Array[String]): Seq[Chunk] = {
    val keyRe = """^(\s*)"([^"]+)"\s*:""".r
    val keyed = lines.zipWithIndex.flatMap { case (l, i) =>
      keyRe.findFirstMatchIn(l).map(m => (m.group(1).length, m.group(2), i))
    }
    if (keyed.isEmpty) return wholeFileChunk(origin, "json", lines)
    val minIndent = keyed.map(_._1).min
    val heads = keyed.filter(_._1 == minIndent)
    // last section closes at the final non-empty line (the root `}`),
    // not at a trailing empty line from a terminal newline
    val lastLine = lines.lastIndexWhere(_.trim.nonEmpty) + 1
    heads.zipAll(heads.drop(1), null, (0, "", lastLine)).map {
      case ((_, name, s), (_, _, e)) =>
        Chunk(origin, "json", "section", name, s + 1, e,
          lines.slice(s, e).mkString("\n").take(MaxChunkChars), "")
    }
  }

  /** XML: each top-level child element of the root is a section chunk.
    * A tiny tag-depth scanner; declarations (`<?`/`<!`) are skipped, and
    * comment (`<!--`…`-->`) / CDATA (`<![CDATA[`…`]]>`) regions are
    * tracked ACROSS lines so a commented-out element or CDATA text
    * containing '<tag>' cannot desynchronize the depth counter.
    * Attributes never contain `>` in the corpora we target.
    */
  private def xmlSections(origin: String, lines: Array[String]): Seq[Chunk] = {
    val tagRe = """<(/?)([A-Za-z_][\w.-]*)[^>]*?(/?)>""".r
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var depth = 0
    var openName: String = null
    var openLine = 0
    var inComment = false
    var inCdata = false
    // Character ranges of `line` outside comments/CDATA, advancing the
    // cross-line state as a side effect.
    def activeRanges(line: String): Seq[(Int, Int)] = {
      val ranges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var pos = 0
      val n = line.length
      while (pos < n) {
        if (inComment) {
          val e = line.indexOf("-->", pos)
          if (e < 0) pos = n else { inComment = false; pos = e + 3 }
        } else if (inCdata) {
          val e = line.indexOf("]]>", pos)
          if (e < 0) pos = n else { inCdata = false; pos = e + 3 }
        } else {
          val c = line.indexOf("<!--", pos)
          val d = line.indexOf("<![CDATA[", pos)
          val next = Seq(c, d).filter(_ >= 0).minOption.getOrElse(-1)
          if (next < 0) { ranges += ((pos, n)); pos = n }
          else {
            if (next > pos) ranges += ((pos, next))
            if (next == c) { inComment = true; pos = next + 4 }
            else { inCdata = true; pos = next + 9 }
          }
        }
      }
      ranges.toSeq
    }
    lines.zipWithIndex.foreach { case (line, li) =>
      val active = activeRanges(line)
      tagRe.findAllMatchIn(line).foreach { m =>
        val (closing, name, selfClosing) = (m.group(1) == "/", m.group(2), m.group(3) == "/")
        val skip = !active.exists(r => m.start >= r._1 && m.start < r._2) ||
          line.regionMatches(m.start, "<?", 0, 2) ||
          line.regionMatches(m.start, "<!", 0, 2)
        if (!skip) {
          if (selfClosing) {
            if (depth == 1 && openName == null)
              out += Chunk(origin, "xml", "section", name, li + 1, li + 1,
                line.take(MaxChunkChars), "")
          } else if (!closing) {
            if (depth == 1 && openName == null) { openName = name; openLine = li }
            depth += 1
          } else {
            depth -= 1
            if (depth == 1 && openName == name) {
              out += Chunk(origin, "xml", "section", openName, openLine + 1, li + 1,
                lines.slice(openLine, li + 1).mkString("\n").take(MaxChunkChars), "")
              openName = null
            }
          }
        }
      }
    }
    if (out.isEmpty) wholeFileChunk(origin, "xml", lines) else out.toSeq
  }

  /** L5X/L5K PLC export extraction, mirroring the reference's custom
    * parser (/root/reference/src/parser/l5x.rs:1-8): ST code lives in
    * CDATA inside `<STContent>` elements (L5X/XML) or in
    * `ROUTINE … END_ROUTINE` blocks (L5K/ASCII). Each extracted region
    * is chunked with the `st` pack at file-lifted line numbers; a
    * region yielding no ST chunks becomes one synthetic function chunk
    * named after its routine (same fallback as l5x.rs:191-240), with
    * the program name as context lost to the flat schema (the q48
    * golden captures routine granularity).
    */
  private def l5xChunks(origin: String, lines: Array[String]): Seq[Chunk] = {
    val content = lines.mkString("\n")
    if (!content.contains("<STContent")) return l5kChunks(origin, lines)
    val stRe = """(?s)<STContent>(.*?)</STContent>""".r
    val cdataRe = """(?s)<!\[CDATA\[(.*?)]]>""".r
    val routineRe = """<Routine\s+[^>]*Name="([^"]+)"""".r
    def nearestBefore(re: scala.util.matching.Regex, limit: Int): Option[String] =
      re.findAllMatchIn(content.substring(0, limit)).foldLeft(Option.empty[String]) {
        (_, m) => Some(m.group(1))
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    stRe.findAllMatchIn(content).foreach { st =>
      cdataRe.findAllMatchIn(st.group(1)).foreach { cd =>
        val absStart = st.start(1) + cd.start(1)
        val startLine = 1 + content.substring(0, absStart).count(_ == '\n')
        val src = cd.group(1)
        // leading newline right after CDATA open belongs to no code line
        val (regionSrc, regionLine) =
          if (src.startsWith("\n")) (src.drop(1), startLine + 1) else (src, startLine)
        val chunks = chunkFile(origin, "st", regionSrc)
          .filter(_.chunk_type != "file")
          .map(c => c.copy(language = "l5x",
            start_line = c.start_line + regionLine - 1,
            end_line = c.end_line + regionLine - 1))
        if (chunks.nonEmpty) out ++= chunks
        else {
          val name = nearestBefore(routineRe, absStart).getOrElse("region")
          val n = regionSrc.count(_ == '\n') +
            (if (regionSrc.endsWith("\n")) 0 else 1)
          out += Chunk(origin, "l5x", "function", name, regionLine,
            regionLine + math.max(n - 1, 0),
            regionSrc.stripSuffix("\n").take(MaxChunkChars), "")
        }
      }
    }
    if (out.isEmpty) wholeFileChunk(origin, "l5x", lines) else out.toSeq
  }

  /** L5K legacy ASCII: `ROUTINE <name> … END_ROUTINE` blocks. */
  private def l5kChunks(origin: String, lines: Array[String]): Seq[Chunk] = {
    val headRe = """(?i)^\s*ROUTINE\s+(\w+)""".r
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var i = 0
    while (i < lines.length) {
      headRe.findFirstMatchIn(lines(i)) match {
        case Some(m) =>
          val end = stEnd(lines, i)
          out += Chunk(origin, "l5x", "function", m.group(1), i + 1, end + 1,
            lines.slice(i, end + 1).mkString("\n").take(MaxChunkChars), "")
          i = end + 1
        case None => i += 1
      }
    }
    if (out.isEmpty) wholeFileChunk(origin, "l5x", lines) else out.toSeq
  }

  /** ASPX extraction, mirroring the reference's regex-delegation parser
    * (/root/reference/src/parser/aspx.rs:8-11): `<script runat="server">`
    * blocks and multi-line `<% %>` code blocks (directives `<%@` and
    * comments `<%--` excluded) are chunked with the language named by
    * the `<%@ … Language="…" %>` directive (VB default C#); a block
    * yielding no chunks becomes one synthetic chunk covering it.
    */
  private def aspxChunks(origin: String, lines: Array[String]): Seq[Chunk] = {
    val all = lines.mkString("\n")
    val langRe = """(?i)<%@[^%]*Language\s*=\s*"([^"]+)"""".r
    val delegate = langRe.findFirstMatchIn(all).map(_.group(1).toLowerCase) match {
      case Some(l) if l.startsWith("vb") => "vb"
      case _ => "csharp"
    }
    val openRe = """(?i)<script[^>]*\brunat\s*=\s*["']server["'][^>]*>""".r
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var i = 0
    while (i < lines.length) {
      if (openRe.findFirstIn(lines(i)).isDefined) {
        val close = lines.indexWhere(
          _.trim.toLowerCase.startsWith("</script"), i + 1)
        val end = if (close < 0) lines.length - 1 else close
        val inner = lines.slice(i + 1, end)
        val chunks = chunkFile(origin, delegate, inner.mkString("\n"))
          .filter(_.chunk_type != "file")
          .map(c => c.copy(language = "aspx",
            start_line = c.start_line + i + 1, end_line = c.end_line + i + 1))
        if (chunks.nonEmpty) out ++= chunks
        else if (inner.exists(_.trim.nonEmpty))
          out += Chunk(origin, "aspx", "function", "server_script",
            i + 2, end, inner.mkString("\n").take(MaxChunkChars), "")
        i = end + 1
      } else if (lines(i).trim.startsWith("<%") &&
        !lines(i).trim.startsWith("<%@") && !lines(i).trim.startsWith("<%--") &&
        !lines(i).trim.startsWith("<%=") && !lines(i).contains("%>")) {
        val close = lines.indexWhere(_.contains("%>"), i + 1)
        val end = if (close < 0) lines.length - 1 else close
        out += Chunk(origin, "aspx", "function", s"inline_${out.size}",
          i + 1, end + 1,
          lines.slice(i, end + 1).mkString("\n").take(MaxChunkChars), "")
        i = end + 1
      } else i += 1
    }
    if (out.isEmpty) wholeFileChunk(origin, "aspx", lines) else out.toSeq
  }

  /** Razor/cshtml: `@functions { … }` / `@code { … }` blocks delegated
    * to the C# pack (same injection shape as aspx).
    */
  private def razorChunks(origin: String, lines: Array[String]): Seq[Chunk] = {
    val headRe = """^\s*@(functions|code)\s*\{?\s*$""".r
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var i = 0
    while (i < lines.length) {
      headRe.findFirstMatchIn(lines(i)) match {
        case Some(m) =>
          val end = braceEnd(lines, i, "csharp")
          val inner = lines.slice(i + 1, end)
          val chunks = chunkFile(origin, "csharp", inner.mkString("\n"))
            .filter(_.chunk_type != "file")
            .map(c => c.copy(language = "razor",
              start_line = c.start_line + i + 1, end_line = c.end_line + i + 1))
          if (chunks.nonEmpty) out ++= chunks
          else out += Chunk(origin, "razor", "function", m.group(1), i + 1, end + 1,
            lines.slice(i, end + 1).mkString("\n").take(MaxChunkChars), "")
          i = end + 1
        case None => i += 1
      }
    }
    if (out.isEmpty) wholeFileChunk(origin, "razor", lines) else out.toSeq
  }

  /** SQL statements run to the first `;` line (CREATE FUNCTION bodies
    * with $$-quoted blocks close on the terminator line too).
    */
  private def sqlEnd(lines: Array[String], start: Int): Int = {
    var i = start
    while (i < lines.length) {
      if (lines(i).trim.endsWith(";")) return i
      i += 1
    }
    lines.length - 1
  }

  /** Per-line comment/doc-string mask — true means the line lives
    * INSIDE a block comment or doc-string region, so it must be
    * invisible to signature matching and to the indent-based end
    * scanners (content slicing stays raw). Commented-out code is the
    * target: a decoy `fn`/`def` inside a block comment must not emit a
    * chunk, and a dedented `end` inside one must not close the
    * enclosing body early (both found by the r10 fuzz campaign; a
    * grammar-backed parser gets this for free).
    *
    * Region syntax by language: the C-family slash-star block for
    * every blockComment language (mid-line openers leave the opener
    * line unmasked — its code prefix already had its signature
    * chance), lua's long-bracket comment, julia's pound-equals, the
    * haskell/elm curly-dash, ruby's column-0 begin/end markers, and
    * the python/elixir triple-quote doc string (toggled on an odd
    * number of triple-quote markers per line, so one-liners are
    * no-ops).
    */
  /** Line prepared for REGION-OPENER detection (commentMask only): a
    * single left-to-right pass that blanks the interiors of balanced
    * within-line strings (quote chars stay, so multi-char markers that
    * contain a quote — python's tripled kind, csharp's at-quote, rust's
    * r-hash — always survive; only CONTENT disappears), skips matched
    * block-comment pairs whole (markers inside them never cut or open),
    * and cuts at the first real line-comment marker (one that is not
    * itself the prefix of the language's block opener — lua's
    * dash-dash-bracket, julia's hash-equals, matlab's percent-brace).
    * An unclosed quote or block opener leaves the rest of the line raw:
    * failing open reproduces the pre-pass behavior, never worse. Fixes
    * the phantom-region family: a backtick inside a go string, a python
    * tripled marker in a hash comment or single-quoted string, a C
    * block opener inside a string literal — each used to open a region
    * that masked the rest of the file.
    */
  private val rustCharRe = """'(\\u\{[0-9a-fA-F]+\}|\\.|[^'\\])'""".r

  /** Blank the INTERIOR of js/ts regex literals (length-preserving):
    * a backtick inside `/`-delimited regex content must not open a
    * phantom template region. A slash starts a regex only when the
    * previous non-space char is an operator that cannot end an
    * expression (the classic lexer heuristic — division follows an
    * identifier/number/close-paren, which are NOT in the set) or the
    * `return` keyword, and the next char is not another slash or star
    * (comments). Escapes (backslash) and char classes ([...]) are
    * honored in the close search; an unclosed candidate is left raw.
    */
  private[parser] def blankJsRegexLiterals(line: String): String = {
    val sb = new StringBuilder(line)
    val starters = "=(,:;!&|?[{+*%~^"
    var i = 0
    while (i < sb.length) {
      val ch = sb.charAt(i)
      if (ch == '/' && i + 1 < sb.length &&
          sb.charAt(i + 1) != '/' && sb.charAt(i + 1) != '*') {
        var k = i - 1
        while (k >= 0 && sb.charAt(k) == ' ') k -= 1
        val prevOk = k < 0 || starters.indexOf(sb.charAt(k)) >= 0 ||
          (k >= 5 && sb.substring(k - 5, k + 1) == "return" && {
            // left word boundary: `toreturn /a/ b` is division after
            // an identifier, not the keyword
            k == 5 || {
              val c = sb.charAt(k - 6)
              !Character.isLetterOrDigit(c) && c != '_' && c != '$'
            }
          })
        if (prevOk) {
          var j = i + 1
          var inClass = false
          var closed = -1
          while (j < sb.length && closed < 0) {
            val cj = sb.charAt(j)
            if (cj == '\\') j += 2
            else { if (cj == '[') inClass = true
                   else if (cj == ']') inClass = false
                   else if (cj == '/' && !inClass) closed = j
                   j += 1 }
          }
          if (closed > i) {
            ((i + 1) until closed).foreach(p => sb.setCharAt(p, ' '))
            i = closed + 1
          } else i += 1
        } else i += 1
      } else i += 1
    }
    sb.toString
  }

  private[parser] def maskScanPrep(line: String, language: String): String = {
    val quotes: Set[Char] = language match {
      case "rust" | "haskell" | "ocaml" | "elm" => Set('"') // ' = lifetimes/ids
      case "javascript" | "typescript" | "go" => Set('"', '\'', '`')
      case _ => Set('"', '\'')
    }
    val lineMarkers: Seq[String] = callLineComments.getOrElse(language,
      syntaxOf.getOrElse(language, defaultSyntax).lineComments)
    val blockPair: Option[(String, String)] = language match {
      case "lua" => Some(("--[[", "]]"))
      case "julia" => Some(("#=", "=#"))
      case "haskell" | "elm" => Some(("{-", "-}"))
      case "ocaml" | "fsharp" => Some(("(*", "*)"))
      case "matlab" => Some(("%{", "%}"))
      case l if syntaxOf.getOrElse(l, defaultSyntax).blockComment =>
        Some(("/*", "*/"))
      case _ => None
    }
    // rust char literals are exact `'X'` / `'\X'` / `'\u{…}'` shapes —
    // blank them first so `'"'` (a quote char literal, ubiquitous in
    // parsers) never reads as a string delimiter; lifetimes (`'a` with
    // no closing quote after one unit) never match the shape
    // Every transform below is POSITION-PRESERVING up to the line-
    // comment cut: commentMask's region scan locates openers on this
    // prepared line and then searches closers in the RAW line from the
    // same index, so blanking must never shift characters.
    val prepared =
      if (language == "rust")
        // blank the char-literal INTERIOR, keep the quotes and length
        // (the old "' '" replacement shifted every later position by
        // the literal's width)
        rustCharRe.replaceAllIn(line,
          m => "'" + " " * (m.end - m.start - 2) + "'")
      else if (language == "javascript" || language == "typescript")
        blankJsRegexLiterals(line)
      else line
    val sb = new StringBuilder(prepared)
    def startsAt(i: Int, m: String): Boolean =
      i + m.length <= sb.length && {
        var k = 0
        while (k < m.length && sb.charAt(i + k) == m.charAt(k)) k += 1
        k == m.length
      }
    var i = 0
    var cut = -1
    while (i < sb.length && cut < 0) {
      val ch = sb.charAt(i)
      if (lineMarkers.exists(m => startsAt(i, m)) &&
          !blockPair.exists(p => startsAt(i, p._1))) cut = i
      else if (blockPair.exists(p => startsAt(i, p._1))) {
        val (open, close) = blockPair.get
        val c = sb.indexOf(close, i + open.length)
        if (c < 0) {
          // unclosed opener: keep the opener visible (the region
          // machinery needs it) but BLANK the trailing comment text —
          // a quote or marker inside it must not open a phantom
          // string region (the tq scan runs before the block scan)
          ((i + open.length) until sb.length).foreach(k => sb.setCharAt(k, ' '))
          i = sb.length
        } else {
          // closed pair: blank the whole span INCLUDING markers — an
          // apostrophe or quoted marker inside a one-line comment is
          // not code (a closed pair is a no-op for region state)
          (i until (c + close.length)).foreach(k => sb.setCharAt(k, ' '))
          i = c + close.length
        }
      } else if (quotes.contains(ch)) {
        val esc = ch != '`' // raw templates have no backslash escape
        var j = i + 1
        var closed = false
        while (j < sb.length && !closed) {
          if (esc && sb.charAt(j) == '\\') j += 2
          else if (sb.charAt(j) == ch) closed = true
          else j += 1
        }
        if (closed) {
          ((i + 1) until j).foreach(k => sb.setCharAt(k, ' '))
          i = j + 1
        } else i = sb.length // unclosed: a region opener's own line
      } else i += 1
    }
    if (cut >= 0) sb.substring(0, cut) else sb.toString
  }

  private[parser] def commentMask(lines: Array[String],
                                  language: String): Array[Boolean] = {
    val mask = new Array[Boolean](lines.length)
    val delims: Option[(String, String)] = language match {
      case "lua" => Some(("--[[", "]]"))
      case "julia" => Some(("#=", "=#"))
      case "haskell" | "elm" => Some(("{-", "-}"))
      case "ocaml" | "fsharp" => Some(("(*", "*)"))
      case "matlab" => Some(("%{", "%}"))
      case "ruby" | "perl" => None // column-0 =begin/=end / POD below
      case "python" | "elixir" => None // triple-quote handled below
      case l if syntaxOf.getOrElse(l, defaultSyntax).blockComment =>
        Some(("/*", "*/"))
      case _ => None
    }
    // multi-line STRING/doc regions — triple quotes (python's BOTH
    // spellings), js/ts template literals (embedded SQL/templates —
    // this repo's own oracle strings are the canonical example):
    // a definition-shaped line inside one must not chunk and its
    // dedented end must not close a body. A region opened by one
    // marker closes ONLY on that marker (a ''' inside a """ region is
    // content), so the scan carries the opening marker.
    // (open, close) marker pairs; symmetric for quotes/backticks,
    // asymmetric for rust r#"…"#, csharp @"…", C-family R"(…)".
    // Rust raws are covered to FOUR hash levels (r#### — matched
    // longest-first); five-plus remains the documented residual.
    val tqMarkers: Seq[(String, String)] = language match {
      case "python" => Seq(("\"\"\"", "\"\"\""), ("'''", "'''"))
      // java text blocks (JEP 378) are the same triple-quote region;
      // groovy additionally has the triple-SINGLE spelling
      case "scala" | "kotlin" | "julia" | "java" | "swift" | "elm" =>
        Seq(("\"\"\"", "\"\"\""))
      // elixir's charlist heredoc and dart/groovy's triple-single are
      // the same region as their triple-double
      case "elixir" | "groovy" | "dart" =>
        Seq(("\"\"\"", "\"\"\""), ("'''", "'''"))
      case "javascript" | "typescript" | "go" => Seq(("`", "`"))
      // lua long strings (levels 0 and 1; --[[ comments are already
      // cut from the scan line by maskScanPrep, so a remaining [[
      // opener is string content)
      case "lua" => Seq(("[=[", "]=]"), ("[[", "]]"))
      // powershell here-strings: @" … "@ / @' … '@ (the spec pins the
      // closer to column 0; matching it anywhere in raw content is the
      // same approximation every closer in this table makes)
      case "powershell" => Seq(("@\"", "\"@"), ("@'", "'@"))
      // R 4.0 raw strings: paren/bracket/brace delimiters, 0-2 dashes,
      // both capitalizations (r"(…)", r"-[…]-", R"--{…}--"; 3+ dashes
      // are regex-derived in scanRest)
      case "r" =>
        for {
          d <- 2 to 0 by -1
          (o, c) <- Seq(("(", ")"), ("[", "]"), ("{", "}"))
          q <- Seq("r", "R")
        } yield (q + "\"" + "-" * d + o, c + "-" * d + "\"")
      // ocaml quoted string literals — the tagged {id|…|id} form is
      // regex-derived in scanRest (NOT fsharp: its spelling of
      // braces-pipe is the anonymous-record syntax, real code)
      case "ocaml" => Seq(("{|", "|}"))
      // nix indented strings ('' … ''). The empty-string ambiguity is
      // moot: nix's empty indented string is four quotes (''''), which
      // balances on one line; a lone '' at EOL is always an opener.
      // The ''' / ''$ / ''\ escapes are content (findClose skips them)
      case "nix" => Seq(("''", "''"))
      // graphql block strings (schema descriptions quote type shapes)
      case "graphql" => Seq(("\"\"\"", "\"\"\""))
      // sql: plain multi-line '…' strings (doubled-quote '' escapes are
      // content — the csharp rule with the single-quote spelling);
      // balanced one-line strings are blanked by maskScanPrep already
      case "sql" => Seq(("'", "'"))
      // rust: hash-counted raws (eight enumerated levels; nine-plus
      // is regex-derived in scanRest), r#-raws, and PLAIN multi-line
      // strings —
      // viable since maskScanPrep blanks char literals (a quote char
      // literal was the false-open hazard that kept plain strings on
      // the documented-limit list) and the close search below is
      // escape-aware for the bare-quote closer. Ties at one position
      // (r##" vs r#" vs ") resolve to list order: longest first.
      case "rust" =>
        (8 to 1 by -1).map(n =>
          ("r" + "#" * n + "\"", "\"" + "#" * n)) :+ ("\"", "\"")
      // csharp: raw strings (C#11, three THROUGH eight quotes
      // enumerated longest-first; nine-plus is regex-derived in
      // scanRest and wins position ties by length), verbatim @"…" and its
      // interpolated @$"…" spelling ($@"…" already matches via the @"
      // substring); doubled-quote escapes apply only to bare-quote
      // closers
      case "csharp" =>
        (8 to 3 by -1).map(n => ("\"" * n, "\"" * n)) ++
          Seq(("@$\"", "\""), ("@\"", "\""))
      case "c" | "cpp" | "cuda" | "glsl" => Seq(("R\"(", ")\""))
      case _ => Seq.empty
    }
    val rubyBlocks = language == "ruby"
    // heredocs (uppercase tags) are the same string-content hazard;
    // the opener line keeps its code, the region runs to the line
    // whose trimmed text is the tag (php allows a trailing semicolon).
    // Spellings: ruby <<~/<<-/<<, perl <<~ (5.26 indented) + quoted
    // tags, shell/terraform <<- with a lookbehind so the <<< ONE-LINE
    // herestring never opens a region, php <<<TAG / <<<'TAG' nowdoc.
    // Spaced shift operands (a << 2) never match: the tag must start
    // immediately and be uppercase.
    // The lookbehind also rejects UNSPACED shift expressions
    // (1<<BITS, x=$((1<<KB)), close-paren<<2): a real heredoc operator
    // never directly follows an identifier, digit, or close-paren.
    // SPACED shifts with an unspaced operand (`1 <<OPT`) are rejected
    // at match time — see the digit/close-paren check below.
    val heredocRe = language match {
      case "ruby"  => Some("""(?<![\w)])<<[~-]?["']?([A-Z][A-Z0-9_]+)["']?""".r)
      case "perl"  => Some("""(?<![\w)])<<~?["']?([A-Z][A-Z0-9_]+)["']?""".r)
      case "shell" | "terraform" =>
        Some("""(?<![<\w)])<<-?["']?([A-Z][A-Z0-9_]+)["']?""".r)
      case "php"   => Some("""(?<![\w)])<<<["']?([A-Z][A-Z0-9_]+)["']?""".r)
      case _       => None
    }
    // only php terminates a heredoc at `TAG;` — for the others a
    // content line spelled `TAG;` is content
    val heredocSemi = language == "php"
    var heredocTag: Option[String] = None
    // perl POD: any column-0 =word directive opens a doc block that
    // runs to =cut — PODs routinely quote example subs
    val perlPod = language == "perl"
    // makefile define…endef bodies are VARIABLE CONTENT (recipes
    // routinely embed target-shaped lines), not rules
    val makeDefine = language == "makefile"
    // vb XML literals: `Dim x = <tag>` opening a multiline literal
    // runs to the column-anchored `</tag>` close — the body is data
    // (a Function-shaped line inside both leaked a decoy AND swallowed
    // the next real function into its span). Self-closing one-liners
    // (`= <br/>`, `= <thing attr="v"/>`) are complete literals and
    // must NOT open a region: the char before the final `>` may not
    // be `/`.
    val vbXml = language == "vb"
    val vbXmlOpenRe = """=\s*<([A-Za-z][\w.-]*)([^>]*[^/>])?>\s*$""".r
    val vbXmlCloseRe = """^</[A-Za-z][\w.-]*>""".r
    // C-family backslash-continued strings: a line that ends with `\`
    // while inside an unclosed double-quote (odd quote count on the
    // prepared line — balanced pairs keep both quotes) continues the
    // string onto following lines until one does not end with `\`
    val bsCont =
      Set("c", "cpp", "cuda", "glsl", "objc").contains(language)
    // does `line` (from offset) end inside an open region?
    def opensRegion(line: String, open: String, close: String): Boolean = {
      var i = 0
      var inR = false
      var done = false
      while (!done) {
        if (!inR) {
          val o = line.indexOf(open, i)
          if (o < 0) done = true else { inR = true; i = o + open.length }
        } else {
          val c = line.indexOf(close, i)
          if (c < 0) done = true else { inR = false; i = c + close.length }
        }
      }
      inR
    }
    // scan a line's marker occurrences left-to-right, carrying the
    // currently-open region's CLOSE marker; returns the close marker
    // still pending at EOL (a region closes only on its own marker)
    // csharp verbatim strings escape a quote by DOUBLING it — a `""`
    // inside @"…" is content, not the closer; sql doubles its
    // single-quote the same way
    val dblQuoteEscapes = language == "csharp" || language == "sql"
    val dblQuoteChar = if (language == "sql") "'" else "\""
    // rust plain strings escape with backslash: a `\"` (odd backslash
    // run) inside the region is content, not the closer
    val bsQuoteEscapes = language == "rust"
    // nix escapes INSIDE '' strings all start with '': ''' → literal
    // '', ''$ → literal ${, ''\X → escaped X — none of them close
    val nixTicks = language == "nix"
    def escapedAt(line: String, c: Int): Boolean = {
      var k = c - 1
      while (k >= 0 && line.charAt(k) == '\\') k -= 1
      (c - 1 - k) % 2 == 1
    }
    // escape-aware close search over RAW region content
    def findClose(raw: String, from: Int, close: String): Int = {
      var i = from
      var found = -1
      var done = false
      while (!done) {
        val c = raw.indexOf(close, i)
        if (c < 0) done = true
        else if (dblQuoteEscapes && close == dblQuoteChar &&
            c + 1 < raw.length && raw.charAt(c + 1) == dblQuoteChar.charAt(0))
          i = c + 2 // escaped quote: stay inside the region
        else if (bsQuoteEscapes && close == "\"" && escapedAt(raw, c))
          i = c + 1 // backslash-escaped quote: stay inside
        else if (nixTicks && close == "''" && c + 2 < raw.length &&
            (raw.charAt(c + 2) == '\'' || raw.charAt(c + 2) == '$' ||
             raw.charAt(c + 2) == '\\'))
          i = c + 3 // nix '' escape: content, not the closer
        else { found = c; done = true }
      }
      found
    }
    // Scan CODE text for region openers: openers are located on the
    // PREPARED form (string/comment interiors blanked, positions
    // preserved — maskScanPrep), the close search runs on the RAW
    // text (a closer in region content is the real closer by
    // definition). After a close, the REMAINDER is re-prepared from a
    // neutral lexer state before looking for the next opener, so a
    // trailing comment or string on a closer line can never reopen a
    // phantom region. Returns the close marker pending at EOL.
    // ocaml tagged quoted strings {id|…|id}: the close marker is
    // derived from the tag, so the pair cannot live in tqMarkers —
    // scanRest synthesizes a candidate per occurrence
    val ocamlTagRe =
      if (language == "ocaml") Some("""\{([a-z_][a-z0-9_]*)\|""".r)
      else None
    // counted-delimiter spellings ABOVE the enumerated tiers (r13 —
    // closes the last documented masking residuals): rust 9+-hash
    // raws, csharp 9+-quote fences, R 3+-dash raws. The close marker
    // is length-derived per occurrence, so like the ocaml tagged form
    // these cannot live in tqMarkers.
    val rustBigRawRe =
      if (language == "rust") Some(("r(#{9,})\"").r) else None
    val csharpBigFenceRe =
      if (language == "csharp") Some(("(\"{9,})").r) else None
    val rBigRawRe =
      if (language == "r") Some(("[rR]\"(-{3,})([(\\[{])").r) else None
    val rCloseOf = Map("(" -> ")", "[" -> "]", "{" -> "}")
    def scanRest(rest: String): Option[String] =
      if (tqMarkers.isEmpty || rest.isEmpty) None
      else {
        val prep = maskScanPrep(rest, language)
        val tagged = ocamlTagRe.flatMap(_.findFirstMatchIn(prep)).map(m =>
          (m.start, m.matched, "|" + m.group(1) + "}")).toSeq ++
          rustBigRawRe.flatMap(_.findFirstMatchIn(prep)).map(m =>
            (m.start, m.matched, "\"" + m.group(1))) ++
          csharpBigFenceRe.flatMap(_.findFirstMatchIn(prep)).map(m =>
            (m.start, m.matched, m.group(1))) ++
          rBigRawRe.flatMap(_.findFirstMatchIn(prep)).map(m =>
            (m.start, m.matched, rCloseOf(m.group(2)) + m.group(1) + "\""))
        val cands = (tqMarkers.map { case (o, cl) =>
          (prep.indexOf(o), o, cl)
        } ++ tagged).filter(_._1 >= 0)
        if (cands.isEmpty) None
        else {
          // ties at one position resolve LONGEST-FIRST (a 9-quote
          // fence shares its start with the enumerated 8-quote tier;
          // the enumerated lists are already longest-first internally)
          val (p, o, cl) = cands.minBy { case (pos, op, _) =>
            (pos, -op.length) }
          val c = findClose(rest, p + o.length, cl)
          if (c < 0) Some(cl) else scanRest(rest.substring(c + cl.length))
        }
      }
    var inBlock = false
    var tqOpen: Option[String] = None
    var inRb = false
    var inCont = false
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      // INSIDE a region, closers are found in the RAW content (a closer
      // in region content is the real closer by definition); OUTSIDE,
      // openers are detected on the string-blanked/comment-cut line so
      // a marker inside a string literal or line comment never opens a
      // phantom region (maskScanPrep)
      if (inBlock) {
        mask(i) = true
        val close = delims.get._2
        if (line.contains(close))
          inBlock = opensRegion(line.substring(
            line.indexOf(close) + close.length), delims.get._1, close)
      } else if (tqOpen.isDefined) {
        mask(i) = true
        val c = findClose(line, 0, tqOpen.get)
        tqOpen =
          if (c < 0) tqOpen
          else scanRest(line.substring(c + tqOpen.get.length))
      } else if (inCont) {
        mask(i) = true
        if (!line.replaceAll("\\s+$", "").endsWith("\\")) inCont = false
      } else if (heredocTag.isDefined) {
        mask(i) = true
        val ht = line.trim
        if (ht == heredocTag.get ||
            (heredocSemi && ht == heredocTag.get + ";"))
          heredocTag = None
      } else if (inRb) {
        mask(i) = true
        if (rubyBlocks && line.startsWith("=end")) inRb = false
        if (perlPod && line.startsWith("=cut")) inRb = false
        // make permits a trailing comment after endef
        if (makeDefine && {
          val t = line.trim
          t == "endef" || t.startsWith("endef#") || t.startsWith("endef #") ||
            t.startsWith("endef\t#")
        }) inRb = false
        if (vbXml && vbXmlCloseRe.findFirstIn(line.trim).isDefined)
          inRb = false
      } else {
        val scan = maskScanPrep(line, language)
        if (rubyBlocks && scan.startsWith("=begin")) {
          mask(i) = true
          inRb = true
        } else if (perlPod && scan.length > 1 && scan.charAt(0) == '=' &&
            scan.charAt(1).isLetter) {
          mask(i) = true
          inRb = true
        } else if (makeDefine &&
            (scan.startsWith("define ") || scan.trim == "define")) {
          mask(i) = true
          inRb = true
        } else if (vbXml && vbXmlOpenRe.findFirstIn(scan).isDefined) {
          inRb = true // opener line keeps its code prefix unmasked
        } else if (bsCont &&
            line.replaceAll("\\s+$", "").endsWith("\\") && {
          // "ends inside an unclosed double-quote": count UNESCAPED
          // quotes on the prepared line. Balanced strings are blanked
          // interior-only (both delimiters survive, +2 each); an
          // unclosed string's tail stays raw, where `\"` must not
          // count — raw quote parity broke on `"say \" hi \`
          var n = 0; var k = 0
          while (k < scan.length) {
            if (scan.charAt(k) == '\\') k += 2
            else { if (scan.charAt(k) == '"') n += 1; k += 1 }
          }
          n % 2 == 1
        }) {
          inCont = true // opener line keeps its code prefix unmasked
        } else if (tqMarkers.nonEmpty &&
            { tqOpen = scanRest(line); tqOpen.isDefined }) {
          () // opener line keeps its code prefix unmasked
        } else if (heredocRe.isDefined && {
          // QUOTED tags ('EOS', "EOF") are string literals, so
          // maskScanPrep blanks them out of `scan` — match the RAW
          // line instead, but require the operator position to
          // survive in `scan` (blanked to a space inside a string,
          // cut away after a line-comment marker), so an opener
          // quoted in a comment or string never fires
          // first match whose position survives (an earlier opener
          // spelled inside a string must not shadow a real one later
          // on the same line)
          val m = heredocRe.get.findAllMatchIn(line).find { mm =>
            mm.start < scan.length && scan.charAt(mm.start) == '<' && {
              // a spaced shift with an unspaced operand (`x = 1 <<OPT`,
              // `f() <<MASK`) is arithmetic, not a heredoc: a digit or
              // close-paren can never precede a real heredoc operator.
              // Barewords stay openers — `print <<EOF` / `cat <<EOF`
              // are the canonical heredoc spellings, while a
              // variable-receiver shift spelled with no space after <<
              // is vanishingly rare (and ambiguous even to ruby).
              // Only the BARE `<<WORD` spelling is ambiguous, though:
              // `<<~`/`<<-` and quoted tags (<<'EOF', <<"EOF") can
              // never be shifts (`x = foo(1) <<~EOS` is a heredoc), and
              // a digit that is an fd-dup target (`cmd 2>&1 <<EOF`) is
              // a redirect operand, not an arithmetic one.
              val opLen = if (language == "php") 3 else 2
              val afterOp =
                if (mm.start + opLen < line.length)
                  line.charAt(mm.start + opLen) else ' '
              val unambiguous = afterOp == '~' || afterOp == '-' ||
                afterOp == '\'' || afterOp == '"'
              unambiguous || {
                var k = mm.start - 1
                while (k >= 0 &&
                    (scan.charAt(k) == ' ' || scan.charAt(k) == '\t')) k -= 1
                if (k < 0) true
                else if (scan.charAt(k) == ')') false
                else if (scan.charAt(k).isDigit) {
                  var d = k
                  while (d >= 0 && scan.charAt(d).isDigit) d -= 1
                  d >= 0 && (scan.charAt(d) == '&' || scan.charAt(d) == '>')
                } else true
              }
            }
          }
          m.isDefined && { heredocTag = Some(m.get.group(1)); true }
        }) {
          () // opener line keeps its code prefix unmasked
        } else delims.foreach { case (open, close) =>
          if (opensRegion(scan, open, close)) {
            inBlock = true
            // a line that IS the opener (no code prefix) is itself masked
            if (scan.trim.startsWith(open)) mask(i) = true
          }
        }
      }
      i += 1
    }
    mask
  }

  /** Statement items (rust const/static/type aliases): the span runs
    * to the line whose balanced scan ends the statement with `;` —
    * bracket/paren/brace depth is tracked on the string-blanked
    * prepared line, so a `;` inside a nested initializer (`[u32; 4]`)
    * or a string literal never terminates early. MASKED lines
    * (multi-line string-region content — SQL templates in a raw-string
    * const are the canonical case) are depth-invisible; the region's
    * CLOSER line carries the statement's `;` after the close marker,
    * recognized as a masked line ending in `;` whose successor is
    * unmasked (a `;`-final content line mid-region is followed by more
    * masked lines and never matches).
    */
  private def stmtEnd(lines: Array[String], start: Int,
                      language: String, mask: Array[Boolean]): Int = {
    var depth = 0
    var i = start
    while (i < lines.length) {
      if (i > start && mask(i)) {
        if (i + 1 >= lines.length || !mask(i + 1)) {
          // region CLOSER line: a trailing line comment after the
          // close marker (`"#; // schema`) must not hide the
          // statement's `;` — test every `//` split point (the raw
          // content prefix may itself contain `//`, e.g. a URL)
          val t = lines(i).replaceAll("\\s+$", "")
          var ok = t.endsWith(";")
          var ci = t.indexOf("//")
          while (!ok && ci >= 0) {
            ok = t.substring(0, ci).replaceAll("\\s+$", "").endsWith(";")
            ci = t.indexOf("//", ci + 1)
          }
          if (ok) return i
        }
      } else {
        val scan = maskScanPrep(lines(i), language)
        var k = 0
        while (k < scan.length) {
          val c = scan.charAt(k)
          if (c == '(' || c == '[' || c == '{') depth += 1
          else if (c == ')' || c == ']' || c == '}') depth -= 1
          else if (c == ';' && depth <= 0) return i
          k += 1
        }
      }
      i += 1
    }
    start
  }

  /** Line-end characters that continue a js/ts statement under ASI:
    * a dangling comma/assignment/open-bracket/binary operator means
    * the expression cannot be complete. `>` continues only as `=>`
    * (a generic close `Array<T>` ends the statement) and `/` never
    * continues (a regex literal's closing `/` must end the statement)
    * — both handled in [[jsStmtEnd]].
    */
  private val jsContEnd: Set[Char] =
    Set(',', '=', '(', '[', '{', '+', '-', '*', '%',
        '&', '|', '^', '?', ':', '.', '<')

  // first-token-of-next-line continuation starters (ASI: the parser
  // keeps the expression open when the next line leads with one)
  private val jsContStart: Set[Char] =
    Set('.', '+', '-', '?', ':', '*', '%', '&', '|', '^', '=')

  /** ASI-aware statement end for javascript/typescript constants,
    * variables, type aliases, and expression-body arrows. A literal
    * `;` at depth 0 ends the statement (the early exit, so
    * semicolon-full code keeps its exact spans); in semicolon-less
    * (ASI) style the statement ends at the first line where bracket
    * depth is back to 0 and the line does not end in a continuation
    * token — a module `const VERSION = 5` must not swallow every
    * following declaration up to a stray later `;` (and must not
    * rescan to EOF, which was O(n²) on big ASI files). Masked
    * template-literal content is depth-invisible; the region closer
    * (masked line with an unmasked successor) ends the statement
    * unless its code tail dangles a continuation token.
    */
  private def jsStmtEnd(lines: Array[String], start: Int,
                        language: String, mask: Array[Boolean]): Int = {
    def continues(t: String): Boolean =
      t.nonEmpty && {
        val c = t.charAt(t.length - 1)
        // a postfix increment/decrement tail is a complete expression,
        // not a dangling binary operator — `count++` ends the statement
        if (t.endsWith("++") || t.endsWith("--")) false
        else if (c == '>') t.length >= 2 && t.charAt(t.length - 2) == '='
        else if (c == '/') false // a regex literal's blanked interior
          // leaves `/    /` on the scan line — its close must end the
          // statement; an EOL division split is a rare-style miss
        else jsContEnd.contains(c)
      }
    // ASI never inserts before a line whose first token continues the
    // expression (leading `.method(`, leading `+`/`?`/`:` operator
    // style) — peek before ending the statement. `(`/`[` openers are
    // excluded: per-spec they DO continue, but in real code a leading
    // `(` line is overwhelmingly an IIFE-style new statement and the
    // miss cost (truncating a rare call-split) is lower than swallowing
    // the next declaration.
    def nextLineContinues(i: Int): Boolean =
      i + 1 < lines.length && !mask(i + 1) && {
        val nt = lines(i + 1).trim
        // ++/-- are restricted productions: a newline before them
        // forces ASI, so a leading ++/-- line is a NEW statement
        nt.nonEmpty && !nt.startsWith("++") && !nt.startsWith("--") &&
          (jsContStart.contains(nt.charAt(0)) || nt.startsWith("`"))
      }
    var depth = 0
    var i = start
    while (i < lines.length) {
      if (i > start && mask(i)) {
        if ((i + 1 >= lines.length || !mask(i + 1)) &&
            !continues(lines(i).replaceAll("\\s+$", "")) &&
            !nextLineContinues(i))
          return i
      } else {
        val scan = maskScanPrep(lines(i), language)
        var k = 0
        while (k < scan.length) {
          val c = scan.charAt(k)
          if (c == '(' || c == '[' || c == '{') depth += 1
          else if (c == ')' || c == ']' || c == '}') depth -= 1
          else if (c == ';' && depth <= 0) return i
          k += 1
        }
        val t = scan.replaceAll("\\s+$", "")
        if (i > start && t.isEmpty && depth <= 0) return i - 1
        if (depth <= 0 && t.nonEmpty && !continues(t) &&
            !(i + 1 < lines.length && mask(i + 1)) &&
            !nextLineContinues(i)) return i
      }
      i += 1
    }
    start
  }

  /** Expression-statement end (python module constants, go item
    * declarations — languages without a `;` terminator): the statement
    * runs while bracket depth stays open at EOL, a trailing backslash
    * continues it, or the next line is multi-line string content (a
    * triple-quoted / backtick-raw value — the region's last masked
    * line ends the statement).
    */
  private def exprStmtEnd(lines: Array[String], start: Int,
                          mask: Array[Boolean], language: String): Int = {
    var depth = 0
    var i = start
    while (i < lines.length) {
      if (i > start && mask(i)) {
        if (i + 1 >= lines.length || !mask(i + 1)) return i
      } else {
        val scan = maskScanPrep(lines(i), language)
        var k = 0
        while (k < scan.length) {
          val c = scan.charAt(k)
          if (c == '(' || c == '[' || c == '{') depth += 1
          else if (c == ')' || c == ']' || c == '}') depth -= 1
          k += 1
        }
        val cont = scan.replaceAll("\\s+$", "").endsWith("\\")
        if (depth <= 0 && !cont &&
            !(i + 1 < lines.length && mask(i + 1))) return i
      }
      i += 1
    }
    start
  }

  private def pythonEnd(lines: Array[String], start: Int,
                        mask: Array[Boolean],
                        blockOpen: Option[String] = None): Int = {
    def indentOf(s: String): Int = s.takeWhile(_ == ' ').length
    val base = indentOf(lines(start))
    var i = start + 1
    var last = start
    var stop = false
    while (i < lines.length && !stop) {
      val t = lines(i).trim
      if (mask(i)) {
        // a PURE block-comment opener at/below the def's indent (a
        // column-0 fsharp paren-star banner after the body) is not
        // body — stop without absorbing it. String/doc regions whose
        // opener carried code (opener lines stay unmasked) still
        // extend the span, whatever their content lines' indent.
        if (!mask(i - 1) && blockOpen.exists(t.startsWith) &&
            indentOf(lines(i)) <= base) stop = true
        else { if (t.nonEmpty) last = i; i += 1 }
      } else if (t.isEmpty || indentOf(lines(i)) > base) {
        if (t.nonEmpty) last = i
        i += 1
      } else stop = true
    }
    last
  }

  /** Ruby: body runs to the matching `end` at the def's indent level
    * (indent-heuristic, like python, plus the closing keyword line).
    */
  private def rubyEnd(lines: Array[String], start: Int,
                      mask: Array[Boolean]): Int = {
    def indentOf(s: String): Int = s.takeWhile(_ == ' ').length
    val base = indentOf(lines(start))
    var i = start + 1
    while (i < lines.length) {
      val t = lines(i).trim
      if (!mask(i) && t == "end" && indentOf(lines(i)) <= base) return i
      i += 1
    }
    lines.length - 1
  }

  /** A table chunk never exceeds this; longer tables split row-wise
    * into windows with the header rows repeated per window — the
    * reference's emit_table_window policy
    * (/root/reference/src/parser/markdown/tables.rs:16,146-165).
    */
  val MaxTableChars: Int = 1500

  /** Separator row that identifies a markdown table: |---|---|, may use
    * alignment colons (reference detects tables the same way,
    * /root/reference/src/parser/markdown/tables.rs:214-233).
    */
  private val tableSepRe =
    """^\s*\|?\s*:?-{3,}:?\s*(\|\s*:?-{3,}:?\s*)*\|?\s*$""".r

  /** Minimum section size in lines — smaller sections merge into the
    * next larger one (/root/reference/src/parser/markdown/mod.rs:38-46,
    * the CQS_MD_MIN_SECTION_LINES default).
    */
  val MdMinSectionLines: Int = 30

  /** Maximum section size in lines before the overflow split at the
    * next deeper heading level applies (mod.rs:50-58).
    */
  val MdMaxSectionLines: Int = 150

  private[graft] final case class MdHeading(level: Int, text: String, line: Int)

  /** ATX heading level 1-6 of a TRIMMED line, 0 when the line is not a
    * heading: 1-6 hashes followed by a space and non-empty text
    * (headings.rs:55-71 — `#NoSpace` and 7+ hashes are invalid).
    */
  private def atxLevel(t: String): Int = {
    var n = 0
    while (n < t.length && t.charAt(n) == '#') n += 1
    if (n >= 1 && n <= 6 && n < t.length && t.charAt(n) == ' ') n else 0
  }

  /** Fence-aware ATX heading scan: ``` / ~~~ lines toggle a code-block
    * state and heading-shaped lines inside it are ignored
    * (headings.rs:18-52).
    */
  private[graft] def mdHeadings(lines: Array[String]): Vector[MdHeading] = {
    val out = Vector.newBuilder[MdHeading]
    var inFence = false
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      if (t.startsWith("```") || t.startsWith("~~~")) inFence = !inFence
      else if (!inFence) {
        val lvl = atxLevel(t)
        if (lvl > 0) {
          val text = t.drop(lvl).dropWhile(_ == ' ')
          if (text.nonEmpty) out += MdHeading(lvl, text, i)
        }
      }
      i += 1
    }
    out.result()
  }

  /** Adaptive hierarchy detection → (title heading index, primary split
    * level, overflow split level). The title is the first heading when
    * its level appears exactly once; the primary split level is the
    * shallowest level appearing more than once (skipping the title
    * level), falling back to the first heading's level; the overflow
    * level is the next deeper existing level. Handles the inverted
    * converted-doc hierarchy (H2 title above H1 chapters) —
    * headings.rs:75-122.
    */
  private[graft] def detectHeadingLevels(
      hs: Vector[MdHeading]): (Option[Int], Int, Option[Int]) = {
    val freq = hs.groupBy(_.level).map { case (k, v) => (k, v.size) }
    val firstLevel = hs.head.level
    val titleIdx = if (freq(firstLevel) == 1) Some(0) else None
    val levels = freq.keys.toVector.sorted
    val primary = levels.find { lvl =>
      !(titleIdx.isDefined && lvl == firstLevel) && freq(lvl) > 1
    }.getOrElse(firstLevel)
    val titleLevel = titleIdx.map(_ => firstLevel)
    val overflow = levels.find(l => l > primary && !titleLevel.contains(l))
    (titleIdx, primary, overflow)
  }

  /** A markdown section: 0-indexed [start, end) line range plus the
    * parent-heading stack for the breadcrumb signature.
    */
  private final case class MdSection(name: String, stack: Vector[String],
                                     start: Int, end: Int)

  /** Split at primary-level headings (mod.rs:438-525): an optional
    * title-preamble section (only when non-heading content exists
    * between title and first primary heading), then one section per
    * primary heading, each carrying the most recent shallower headings
    * as its parent stack.
    */
  private def buildMdSections(lines: Array[String], heads: Vector[MdHeading],
      titleIdx: Option[Int], primary: Int): Vector[MdSection] = {
    val primaries = heads.zipWithIndex.collect {
      case (h, i) if h.level == primary && !titleIdx.contains(i) => h
    }
    if (primaries.isEmpty)
      return Vector(MdSection(heads(0).text, Vector.empty, 0, lines.length))
    val out = Vector.newBuilder[MdSection]
    titleIdx.foreach { ti =>
      val firstPrimary = primaries(0).line
      if (heads(ti).line < firstPrimary) {
        val cs = heads(ti).line
        val hasContent = (cs until firstPrimary).exists { i =>
          val t = lines(i).trim; t.nonEmpty && !t.startsWith("#")
        }
        if (hasContent)
          out += MdSection(heads(ti).text, Vector.empty, cs, firstPrimary)
      }
    }
    var parentStack = Vector.empty[(Int, String)]
    primaries.zipWithIndex.foreach { case (ph, i) =>
      val start = ph.line
      val end = if (i + 1 < primaries.length) primaries(i + 1).line
                else lines.length
      val searchStart = if (i == 0) 0 else primaries(i - 1).line
      heads.foreach { h =>
        if (h.line >= searchStart && h.line < start && h.level < primary)
          parentStack = parentStack.filter(_._1 < h.level) :+ ((h.level, h.text))
      }
      out += MdSection(ph.text, parentStack.map(_._2), start, end)
    }
    out.result()
  }

  /** Sections longer than MdMaxSectionLines split at overflow-level
    * headings strictly inside them; the piece before the first
    * sub-heading keeps the section's name (mod.rs:528-587).
    */
  private def mdOverflowSplit(sections: Vector[MdSection],
      heads: Vector[MdHeading], ovf: Int): Vector[MdSection] =
    sections.flatMap { s =>
      if (s.end - s.start <= MdMaxSectionLines) Vector(s)
      else {
        val subs = heads.filter(h =>
          h.level == ovf && h.line > s.start && h.line < s.end)
        if (subs.isEmpty) Vector(s)
        else {
          val lead = if (subs(0).line > s.start)
            Vector(MdSection(s.name, s.stack, s.start, subs(0).line))
          else Vector.empty
          lead ++ subs.zipWithIndex.map { case (sh, i) =>
            val end = if (i + 1 < subs.length) subs(i + 1).line else s.end
            MdSection(sh.text, s.stack :+ s.name, sh.line, end)
          }
        }
      }
    }

  /** Sections under MdMinSectionLines merge into the NEXT large section
    * (extending its start); a trailing run of small sections extends
    * the previous large one; an all-small file collapses to a single
    * "Document" section (mod.rs:590-635).
    */
  private def mdMergeSmall(sections: Vector[MdSection]): Vector[MdSection] = {
    if (sections.length <= 1) return sections
    val out = scala.collection.mutable.ArrayBuffer.empty[MdSection]
    var pendingStart: Option[Int] = None
    var pendingEnd = 0
    sections.foreach { s =>
      if (s.end - s.start < MdMinSectionLines) {
        if (pendingStart.isEmpty) pendingStart = Some(s.start)
        pendingEnd = s.end
      } else {
        val st = pendingStart.getOrElse(s.start)
        pendingStart = None
        out += s.copy(start = st)
      }
    }
    pendingStart.foreach { st =>
      if (out.nonEmpty) out(out.length - 1) = out.last.copy(end = pendingEnd)
      else out += MdSection("Document", Vector.empty, st, pendingEnd)
    }
    out.toVector
  }

  /** Breadcrumb signature "Title > Parent > Section-parent" over the
    * ANCESTOR headings (the section's own name is not included), with
    * duplicate parts collapsed (mod.rs:638-652). Carried in the
    * section chunk's `doc` column — the reference stores it in the
    * chunk's `signature` field, a column this schema does not have;
    * sections never have doc comments, so the slot is free and the
    * breadcrumb feeds retrieval text the same way the reference's
    * signature does.
    */
  private[graft] def mdBreadcrumb(title: String, stack: Seq[String]): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    if (title.nonEmpty) parts += title
    stack.foreach(h => if (!parts.contains(h)) parts += h)
    parts.mkString(" > ")
  }

  /** Heading-based markdown chunking with adaptive hierarchy detection
    * (mod.rs:171-336): no headings → one whole-file section named by
    * the file stem; one heading → one whole-file section named by it;
    * otherwise detect levels, split at the primary level, overflow-
    * split oversized sections, merge small ones, and emit one section
    * chunk (+ its table chunks) per final section with a breadcrumb in
    * `doc`. True markdown files additionally promote fenced code
    * blocks to typed code chunks.
    */
  private def markdownSections(origin: String, lines: Array[String],
                               language: String): Seq[Chunk] = {
    val fenced =
      if (language == "markdown") mdFencedChunks(origin, lines) else Seq.empty
    val heads = mdHeadings(lines)
    if (heads.length <= 1) {
      if (lines.forall(_.trim.isEmpty)) return fenced
      val base = origin.split("/").last
      val stem = { val d = base.lastIndexOf('.'); if (d > 0) base.take(d) else base }
      val name = heads.headOption.map(_.text).getOrElse(stem)
      return Seq(Chunk(origin, language, "section", name, 1, lines.length,
        lines.mkString("\n").take(MaxChunkChars), name)) ++
        markdownTables(origin, lines, 0, lines.length, name, language, name) ++
        fenced
    }
    val (titleIdx, primary, overflow) = detectHeadingLevels(heads)
    var sections = buildMdSections(lines, heads, titleIdx, primary)
    overflow.foreach(ovf => sections = mdOverflowSplit(sections, heads, ovf))
    sections = mdMergeSmall(sections)
    val titleText = titleIdx.map(i => heads(i).text).getOrElse("")
    sections.flatMap { s =>
      val crumb = mdBreadcrumb(titleText, s.stack)
      Chunk(origin, language, "section", s.name, s.start + 1, s.end,
        lines.slice(s.start, s.end).mkString("\n").take(MaxChunkChars), crumb) +:
        markdownTables(origin, lines, s.start, s.end, s.name, language, crumb)
    } ++ fenced
  }

  /** Fence-tag language aliases (code_blocks.rs:29-47): every pack's
    * canonical name maps to itself plus the common short tags.
    */
  private[graft] val mdLangAliases: Map[String, String] = {
    val canon: Map[String, String] = signatures.keys.map(n => (n, n)).toMap
    canon ++ Map(
      "py" -> "python", "ts" -> "typescript", "js" -> "javascript",
      "golang" -> "go", "c++" -> "cpp", "cs" -> "csharp", "kt" -> "kotlin",
      "ml" -> "ocaml", "rb" -> "ruby", "yml" -> "yaml", "rs" -> "rust",
      "sh" -> "shell", "bash" -> "shell", "cu" -> "cuda", "md" -> "markdown",
      "hs" -> "haskell")
  }

  /** Fenced code blocks promoted to typed code chunks, line-shifted to
    * FILE coordinates (code_blocks.rs:53-129 and the parse-as-chunks
    * contract its test_fenced_blocks_parsed_as_chunks pins): a fence
    * of 3+ backticks or tildes with a recognized language tag opens a
    * block; the close must use the same character, at least the same
    * length, and nothing else on the line; unclosed or untagged or
    * unknown-language or empty blocks yield nothing. Only the block's
    * function/class chunks are kept (the whole-file fallback would
    * re-chunk prose). Applies to TRUE markdown files only: converted
    * html/pdf spans live in converted line space where block file
    * coordinates would desynchronize — the same reason those formats
    * are excluded from call extraction.
    */
  private def mdFencedChunks(origin: String, lines: Array[String]): Seq[Chunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      val fc: Char =
        if (t.startsWith("```")) '`' else if (t.startsWith("~~~")) '~' else ' '
      if (fc != ' ') {
        val flen = t.takeWhile(_ == fc).length
        val tag = t.drop(flen).trim.split("\\s+").headOption.getOrElse("")
        val lang = mdLangAliases.get(tag.toLowerCase)
        val open = i
        i += 1
        var closed = false
        while (i < lines.length && !closed) {
          val ct = lines(i).trim
          if (ct.length >= flen && ct.takeWhile(_ == fc).length >= flen &&
            ct.dropWhile(_ == fc).trim.isEmpty) closed = true
          else i += 1
        }
        if (closed) {
          lang.filter(l => l != "markdown" && l != "html" && l != "pdf" && l != "chm")
            .foreach { l =>
              val content = lines.slice(open + 1, i).mkString("\n")
              if (content.trim.nonEmpty)
                out ++= chunkFile(origin, l, content)
                  .filter(c => c.chunk_type == "function" || c.chunk_type == "class")
                  .map(c => c.copy(start_line = c.start_line + open + 1,
                    end_line = c.end_line + open + 1))
            }
          i += 1
        }
      } else i += 1
    }
    out.toSeq
  }

  /** Per-table chunks within [from, until): a table is a header line
    * containing `|` directly above a separator row, plus the `|` data
    * rows below. Short tables emit one `table` chunk; long ones emit
    * `table` windows of <= MaxTableChars with the header+separator
    * prefix repeated (name suffix t<idx>w<widx>). Tables carry their
    * section's breadcrumb in `doc` (the reference threads the section
    * signature into TableContext, tables.rs).
    */
  private def markdownTables(origin: String, lines: Array[String],
                             from: Int, until: Int,
                             sectionName: String,
                             language: String = "markdown",
                             crumb: String = ""): Seq[Chunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var i = from
    var tableIdx = 0
    while (i < until) {
      val isSep = tableSepRe.matches(lines(i)) && lines(i).contains("|")
      if (isSep && i - 1 >= from && lines(i - 1).contains("|")) {
        val header = i - 1
        var dataEnd = i + 1
        while (dataEnd < until && lines(dataEnd).contains("|") &&
          lines(dataEnd).trim.nonEmpty) dataEnd += 1
        val headerPrefix = lines(header) + "\n" + lines(i)
        val dataRows = lines.slice(i + 1, dataEnd)
        val full = (Seq(lines(header), lines(i)) ++ dataRows).mkString("\n")
        val baseName = s"${sectionName}_t$tableIdx"
        if (full.length <= MaxTableChars) {
          out += Chunk(origin, language, "table", baseName,
            header + 1, dataEnd, full, crumb)
        } else {
          // row-wise windows, header repeated, greedy char budget
          var window = scala.collection.mutable.ArrayBuffer.empty[String]
          var chars = headerPrefix.length
          var widx = 0
          def emit(): Unit = if (window.nonEmpty) {
            out += Chunk(origin, language, "table", s"${baseName}w$widx",
              header + 1, dataEnd, headerPrefix + "\n" + window.mkString("\n"), crumb)
            window.clear(); chars = headerPrefix.length; widx += 1
          }
          dataRows.foreach { row =>
            if (chars + row.length + 1 > MaxTableChars && window.nonEmpty) emit()
            window += row
            chars += row.length + 1
          }
          emit()
        }
        tableIdx += 1
        i = dataEnd
      } else i += 1
    }
    out.toSeq
  }

  /** Call-site extraction inside a chunk body: `name(` → a direct call
    * edge; `.name(` → a method call (heuristic trust tier, mirroring the
    * reference's CallEdgeKind ranking,
    * /root/reference/src/parser/types.rs:100-154). Keywords and
    * self-recursion are kept (recursion is a real edge); definitions are
    * not (the first line is skipped).
    */
  /** Per-language line-comment markers for CALL extraction (syntaxOf
    * covers the brace family; the hash/dash/percent languages get
    * their own so a python `# note(x)` is never an edge).
    */
  private val callLineComments: Map[String, Seq[String]] = Map(
    "python" -> Seq("#"), "ruby" -> Seq("#"), "shell" -> Seq("#"),
    "elixir" -> Seq("#"), "julia" -> Seq("#"), "yaml" -> Seq("#"),
    "nix" -> Seq("#"), "perl" -> Seq("#"), "r" -> Seq("#"),
    "powershell" -> Seq("#"), "graphql" -> Seq("#"), "toml" -> Seq("#"),
    "lua" -> Seq("--"), "haskell" -> Seq("--"), "elm" -> Seq("--"),
    "sql" -> Seq("--"),
    "erlang" -> Seq("%"), "matlab" -> Seq("%"), "tex" -> Seq("%"),
    "vb" -> Seq("'"), "fortran" -> Seq("!"))

  /** Blank string interiors and cut comments from one line before the
    * call regex — a grammar never yields a call node from a string or
    * comment, so call-shaped text there must not edge. Pipeline (the
    * q49-family oracle mirrors it step for step): blank double-quoted
    * string interiors (escape-aware here, escape-blind regex in the
    * oracle — fixtures carry no escaped quotes) → drop paired C-style
    * blocks → cut from an unclosed block opener → cut at the
    * language's line-comment marker. Cross-LINE regions (block
    * comments, docstrings, template literals) are handled by
    * commentMask in [[callSites]]; this pass is the within-line half.
    */
  private[graft] def blankForCalls(line: String, language: String): String = {
    val cFamily = !callLineComments.contains(language)
    val quoteChars = if (cFamily) Set('"', '`') else Set('"')
    val sb = new StringBuilder(line)
    var i = 0
    while (i < sb.length) {
      val q = sb.charAt(i)
      if (quoteChars.contains(q)) {
        var j = i + 1
        var closed = false
        while (j < sb.length && !closed) {
          if (sb.charAt(j) == '\\') j += 2
          else if (sb.charAt(j) == q) closed = true
          else j += 1
        }
        if (closed) {
          ((i + 1) until j).foreach(k => sb.setCharAt(k, ' '))
          i = j + 1
        } else i = sb.length
      } else i += 1
    }
    var s = sb.toString
    // C-style blocks only where the line-comment family is C-ish —
    // a lua `--[[` line or fortran `!` comment never carries /* */
    if (cFamily) {
      s = s.replaceAll("""/\*.*?\*/""", " ")
      val o = s.indexOf("/*")
      if (o >= 0) s = s.substring(0, o)
    }
    val markers = callLineComments.getOrElse(language,
      syntaxOf.getOrElse(language, defaultSyntax).lineComments)
    markers.foreach { m =>
      val p = s.indexOf(m)
      if (p >= 0) s = s.substring(0, p)
    }
    s
  }

  def callSites(chunk: Chunk): Seq[CallSite] = {
    // html/pdf/chm/webhelp chunks hold CONVERTED text whose line
    // numbering differs from the raw file; prose never yields real
    // call edges, so doc formats are excluded from call extraction
    // entirely (the q49/q50/q53 oracle mirrors this in its files CTE)
    if (chunk.language == "html" || chunk.language == "pdf" ||
      chunk.language == "chm" || chunk.language == "webhelp")
      return Seq.empty
    // markdown chunks use the reference's cross-reference extraction
    // (links + backtick function patterns), not the code call regex
    if (chunk.language == "markdown") return mdChunkRefs(chunk)
    // kind tiers mirror the reference's CallEdgeKind trust ranking
    // (/root/reference/src/parser/types.rs:146-154): a bang directly
    // before the paren in Rust is a macro invocation — kept as its own
    // lower-trust kind (MacroHeuristic); in other languages (TS
    // non-null assertion) the bang is part of a direct call.
    val callRe = """(\.)?\b([A-Za-z_]\w*)(!?)\s*\(""".r
    val lines = chunk.content.split("\n", -1)
    // commented-out and string-content code never edges: cross-line
    // regions masked (the chunk-detection mask), within-line string
    // interiors blanked + comments cut (blankForCalls)
    val mask = commentMask(lines, chunk.language)
    lines.zipWithIndex.drop(1).flatMap { case (rawLine, off) =>
      val line = if (mask(off)) "" else blankForCalls(rawLine, chunk.language)
      callRe.findAllMatchIn(line).flatMap { m =>
        val callee = m.group(2)
        if (keywords.contains(callee)) None
        else Some(CallSite(chunk.origin, chunk.name, callee,
          chunk.start_line + off,
          if (m.group(1) != null) "method"
          else if (m.group(3) == "!" && chunk.language == "rust") "macro"
          else "direct"))
      }
    }.toSeq
  }

  /** Markdown cross-reference regexes — ONE source string interpolated
    * into both the Scala scan and the oracle SQL (plain alternation and
    * char classes only, so Java regex and DuckDB's RE2 agree — the
    * Summaries.injectionFlagsSql discipline). The leading `(!?)`
    * captures an image bang: RE2 has no lookbehind, and leftmost-match
    * semantics make the optional capture equivalent to the reference's
    * preceding-byte check (/root/reference/src/parser/markdown/
    * mod.rs:744-764).
    */
  val mdLinkReSrc: String = """(!?)\[([^\]]+)\]\(([^)]+)\)"""

  /** Backtick function reference: `Name()`, `Module.func()`,
    * `Class::method(args)` (mod.rs:33-34).
    */
  val mdFuncReSrc: String = """`([\w.:]+)\([^)]*\)`"""

  /** File stem of a RELATIVE .md/.mdx link target — external URLs,
    * absolute paths, non-markdown targets, and 0/1-char stems yield
    * none (mod.rs:656-681). The anchor fragment is stripped first.
    */
  private[graft] def mdFileStem(url: String): Option[String] = {
    if (url.startsWith("http://") || url.startsWith("https://") ||
      url.startsWith("//") || url.startsWith("/")) return None
    val pathPart = url.split("#", 2)(0)
    val filename = pathPart.split("[/\\\\]").last
    val stem =
      if (filename.endsWith(".mdx")) filename.dropRight(4)
      else if (filename.endsWith(".md")) filename.dropRight(3)
      else return None
    if (stem.length <= 1) None else Some(stem)
  }

  /** Anchor fragment after the first `#`, when non-empty
    * (mod.rs:685-691).
    */
  private[graft] def mdAnchor(url: String): Option[String] = {
    val idx = url.indexOf('#')
    if (idx < 0) return None
    val a = url.substring(idx + 1)
    if (a.isEmpty) None else Some(a)
  }

  /** Cross-references of one markdown SECTION chunk (tables yield
    * nothing — their text sits inside the section's span). The
    * reference extracts per heading-to-heading span with a per-span
    * first-occurrence dedup, links before backticks
    * (parse_markdown_references + extract_references_from_text,
    * mod.rs:339-419,732-825); section merging does not widen the dedup
    * scope, so the spans are re-derived INSIDE the chunk content —
    * row-local by construction, which keeps the persisted-chunk path
    * (callSitesFromChunks) identical to the files path. Known mirror
    * limit: a fence left unclosed in a PREVIOUS section would
    * desynchronize this rescan's fence state (the reference scans at
    * file level); sections split only at fence-outside headings, so a
    * closed fence can never straddle two sections.
    *
    * Every ref is a DocReference — the lowest trust tier. No keyword
    * stoplist applies (link text is free prose; the reference filters
    * none). The file-stem → title bridge edge (mod.rs:394-416) is NOT
    * emitted here: it has a synthetic caller (the file stem, not a
    * chunk), so the markdown-graph query derives it relationally from
    * the files table on both engine sides.
    */
  private def mdChunkRefs(chunk: Chunk): Seq[CallSite] = {
    if (chunk.chunk_type != "section") return Seq.empty
    val lines = chunk.content.split("\n", -1)
    val heads = mdHeadings(lines)
    val bounds =
      (if (heads.isEmpty || heads.head.line > 0) Vector(0) else Vector.empty) ++
        heads.map(_.line)
    val spanEnds = bounds.drop(1) :+ lines.length
    val linkRe = mdLinkReSrc.r
    val funcRe = mdFuncReSrc.r
    val out = scala.collection.mutable.ArrayBuffer.empty[CallSite]
    bounds.indices.foreach { si =>
      val s = bounds(si); val e = spanEnds(si)
      val seen = scala.collection.mutable.HashSet.empty[String]
      def add(name: String, li: Int): Unit =
        if (name.nonEmpty && seen.add(name))
          out += CallSite(chunk.origin, chunk.name, name,
            chunk.start_line + li, "doc_ref")
      var li = s
      while (li < e) {
        linkRe.findAllMatchIn(lines(li)).foreach { m =>
          if (m.group(1).isEmpty) { // image links carry the bang
            add(m.group(2), li)
            mdFileStem(m.group(3)).foreach(add(_, li))
            mdAnchor(m.group(3)).foreach(add(_, li))
          }
        }
        li += 1
      }
      li = s
      while (li < e) {
        funcRe.findAllMatchIn(lines(li)).foreach(m => add(m.group(1), li))
        li += 1
      }
    }
    out.toSeq
  }

  /** Type-reference extraction from a chunk: parameter annotations
    * (`x: Type`), return annotations (`-> Type` / `): Type` / Rust `->`),
    * struct/class fields (first line of a class body: `name: Type`),
    * and Rust `impl Trait for Type`. Only capitalized identifiers are
    * taken as type names (the convention every supported language
    * follows for user types); primitives stay out of the graph.
    */
  /** Languages whose signatures put the type BEFORE the identifier
    * (`String cfg`) rather than after a colon (`cfg: String`).
    */
  private val typeFirstLangs = Set("java", "csharp", "c", "cpp", "cuda")

  /** Languages whose function signatures carry a parenthesized
    * parameter list — the set where a multi-line signature can be
    * joined back into one logical line by paren balance. Paren-less
    * signature languages (elm, haskell, ocaml, erlang) must NOT join:
    * the first `(` there may be body code.
    */
  private[graft] val sigParenLangs = typeFirstLangs ++ Set(
    "rust", "scala", "kotlin", "swift", "python", "go", "typescript",
    "javascript", "dart", "php", "perl", "r")

  /** Languages whose signatures can carry an angle-bracket generic
    * head that closes AFTER the first paren group (`fn f<F: Fn(&[u8])
    * -> R>(…)`) — the signature join must also track `<`/`>` depth or
    * the bound's own parens end the join mid-generic. Arrow tokens
    * (`->`, `=>`) are removed before counting so a return arrow never
    * reads as a closing angle. Mirrored by the q56 oracle's cum_ang
    * window sum.
    */
  private[graft] val genericSigLangs = Set("rust", "scala", "kotlin",
    "swift", "java", "csharp", "typescript", "dart", "cpp", "cuda")

  /** `<` minus `>` on one line outside strings/comments, with
    * non-bracket angle tokens removed first: arrows (`->`, `=>`),
    * comparisons (`<=`, `>=`), `operator<<`-family names, and
    * SPACE-DELIMITED shift operators (` << `, ` >> ` — a default
    * argument like `mask = 1 << 4` must not open phantom depth, while
    * nested-template closers `>>` are never space-delimited and keep
    * counting as two closers). The q56 oracle's cum_ang applies the
    * SAME strip sequence — the two must agree token-for-token.
    * Residual blindness: an unspaced less-than in an expression
    * (`a<b`) still reads as an opener; no line-level heuristic can
    * separate it from a generic bracket (the tree-sitter seam).
    */
  private def angleDelta(line: String, syntax: LangSyntax): Int = {
    val t = line.replace("->", "").replace("=>", "")
      .replace("<=", "").replace(">=", "")
      .replaceAll("""operator\s*(<<|>>|<|>)+""", "operator")
      .replaceAll("""\s(<<|>>)\s""", " ")
    charDelta(t, syntax, '<', '>')
  }

  /** The chunk's logical signature: content's first line, extended for
    * function chunks in paren-signature languages across leading
    * modifier/return-type head lines and an unclosed parameter list —
    * the same joining [[chunkFile]] applies when matching, so type
    * extraction sees the signature the chunker matched, not its first
    * physical fragment. Single-line signatures return line 0 verbatim.
    */
  private[graft] def signatureText(chunk: Chunk): String = {
    val lines = chunk.content.split("\n", -1)
    if (chunk.chunk_type != "function" ||
      !sigParenLangs.contains(chunk.language) || lines.length == 1)
      return lines(0)
    val syntax = syntaxOf.getOrElse(chunk.language, defaultSyntax)
    // same join discipline as chunkFile: arbitrary-depth modifier
    // heads within the window, stateful C-comment stripping on
    // continuation lines (skipped for #-comment languages where `//`
    // is code)
    val cst = new SigCommentState
    val hashLang = hashCommentSigLangs.contains(chunk.language)
    if (!hashLang) cst.seed(lines(0))
    def cont(l: String): String = if (hashLang) l else cst.strip(l)
    var j = 0
    var sig = lines(0)
    while (j < MaxSigJoinLines && j + 1 < lines.length && !sig.contains("(") &&
      sig.matches("""\s*[A-Za-z_][\w<>\[\],\s\*&:~]*""")) {
      j += 1
      sig = sig + " " + cont(lines(j)).trim
    }
    var bal = parenDelta(sig, syntax)
    // generic heads: a bound like `<F: Fn(&[u8]) -> Result<T, E>>(`
    // closes its own parens before the parameter list opens — keep
    // joining while the angle depth is still open (q56 oracle mirror:
    // the cum_ang window sum in the sig CTE)
    val generic = genericSigLangs.contains(chunk.language)
    var ang = if (generic) angleDelta(sig, syntax) else 0
    while ((bal > 0 || ang > 0) && j + 1 < lines.length && j < MaxSigJoinLines) {
      j += 1
      val stripped = cont(lines(j))
      sig = sig + " " + stripped.trim
      bal += parenDelta(stripped, syntax)
      if (generic) ang += angleDelta(stripped, syntax)
    }
    sig
  }

  def typeRefs(chunk: Chunk): Seq[TypeRef] = {
    // converted-doc prose never yields type edges (same rule as
    // callSites; the q56 oracle excludes these languages already)
    if (chunk.language == "html" || chunk.language == "pdf" ||
      chunk.language == "chm" || chunk.language == "webhelp")
      return Seq.empty
    val tyName = """([A-Z]\w*)"""
    val paramRe = s"""[(,]\\s*\\w+\\s*:\\s*(?:&\\s*)?(?:mut\\s+)?$tyName""".r
    val returnRe = s"""(?:->|\\)\\s*:)\\s*(?:&\\s*)?$tyName""".r
    val fieldRe = s"""^\\s*(?:pub\\s+)?\\w+\\s*:\\s*(?:&\\s*)?$tyName""".r
    val implRe = s"""^\\s*impl(?:\\s*<[^>]*>)?\\s+$tyName(?:\\s+for\\s+$tyName)?""".r
    // C-family shapes: `Type name` params, leading return type
    val cParamRe = s"""[(,]\\s*(?:final\\s+)?$tyName(?:<[^>]*>)?(?:\\[\\])?\\s+\\w+""".r
    val cReturnRe = ("""^\s*(?:public|private|protected|internal)?\s*""" +
      s"""(?:static\\s+)?(?:final\\s+)?$tyName(?:<[^>]*>)?\\s+\\w+\\s*\\(""").r
    val lines = chunk.content.split("\n", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[TypeRef]
    def add(t: String, kind: String): Unit =
      // impl edges keep the trait name even when the chunk is named
      // after it (an `impl Trait for Type` chunk takes the trait's name)
      if (t != null && (t != chunk.name || kind == "impl"))
        out += TypeRef(chunk.origin, chunk.name, t, kind)
    // signature shapes run against the paren-joined LOGICAL signature,
    // so a parameter list spanning physical lines still yields its
    // param/return edges (mirrored in the q56 oracle's sig-join CTE)
    val sig = signatureText(chunk)
    paramRe.findAllMatchIn(sig).foreach(m => add(m.group(1), "param"))
    returnRe.findFirstMatchIn(sig).foreach(m => add(m.group(1), "return"))
    implRe.findFirstMatchIn(sig).foreach { m =>
      add(m.group(1), "impl"); add(m.group(2), "impl")
    }
    if (typeFirstLangs.contains(chunk.language)) {
      cParamRe.findAllMatchIn(sig).foreach(m => add(m.group(1), "param"))
      cReturnRe.findFirstMatchIn(sig).foreach(m => add(m.group(1), "return"))
    }
    if (chunk.chunk_type == "class") {
      // comment/string-region lines never yield field edges (the same
      // rule callSites applies via commentMask — a field-shaped line
      // inside a triple-quoted string or block comment is content)
      val mask = commentMask(lines, chunk.language)
      lines.zipWithIndex.foreach { case (line, idx) =>
        if (idx > 0 && !mask(idx))
          fieldRe.findFirstMatchIn(line).foreach(m => add(m.group(1), "field"))
      }
    }
    out.distinct.toSeq
  }

  /** Distributed form: (origin, language, content) rows → Dataset[Chunk]
    * via flatMap — the 1→N generator at scan parallelism.
    */
  def chunkDataset(files: DataFrame): Dataset[Chunk] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("origin"), col("language"), col("content"))
      .as[(String, String, String)]
      .flatMap { case (o, l, c) => chunkFile(o, l, c) }
  }

  /** Call-edge extraction from an ALREADY-CHUNKED table (the persisted
    * `chunks` index artifact) — the corpus never re-parses when the
    * chunk table exists; extraction is a row-local flatMap over chunk
    * content.
    */
  def callSitesFromChunks(chunks: DataFrame): Dataset[CallSite] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col("origin"), col("language"), col("chunk_type"),
        col("name"), col("start_line"), col("end_line"), col("content"),
        col("doc"))
      .as[Chunk].flatMap(callSites _)
  }

  /** Type-edge extraction from an already-chunked table (same contract
    * as callSitesFromChunks).
    */
  def typeRefsFromChunks(chunks: DataFrame): Dataset[TypeRef] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.select(col("origin"), col("language"), col("chunk_type"),
        col("name"), col("start_line"), col("end_line"), col("content"),
        col("doc"))
      .as[Chunk].flatMap(typeRefs _)
  }
}
