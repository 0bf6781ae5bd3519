package graft.sources

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Recursive source-file discovery with gitignore semantics — the ingest
  * front door (reference: `src/lib.rs:806-1032` enumerate_files_iter;
  * caps `src/limits.rs:212-218`).
  *
  * Filters, in walk order:
  *  - symlinks are never followed (neither file nor directory);
  *  - hidden entries (dot-prefixed names) are skipped unless `noIgnore`;
  *  - a directory whose `.git` child is a regular FILE is a linked git
  *    worktree — pruned wholesale (indexing it would duplicate the tree
  *    under a second prefix);
  *  - hierarchical ignore files: `.gitignore` plus the tool-specific
  *    `.graftignore` layer (same syntax, higher precedence, the
  *    reference's `.cqsignore`). Deeper files beat shallower ones and
  *    the last matching pattern within a file wins; a pruned directory
  *    can never be re-included from below (git semantics);
  *  - depth cap (entries deeper than `maxDepth` segments are pruned),
  *    size cap (`maxFileBytes`), extension filter (case-insensitive; a
  *    file with no extension never matches), and a yielded-file cap
  *    (`maxFiles`) that stops the walk, not just the output.
  *
  * Determinism: children are visited in name order, so the yield order
  * (and therefore which files survive `maxFiles`) is reproducible.
  *
  * Scale: the single-node walk is bounded by the 500k-file DoS rail —
  * the same driver-side listing Spark's own InMemoryFileIndex performs
  * before a scan.
  */
object FileWalk {

  /** Walk configuration. Defaults mirror the reference's DoS rails:
    * depth 64, 500k files, 50 MiB per file. `extensions` empty yields
    * NOTHING (the reference's ext filter has no match-all arm) — pass
    * the language extension set.
    */
  final case class Options(
      extensions: Seq[String],
      noIgnore: Boolean = false,
      maxDepth: Int = 64,
      maxFiles: Int = 500000,
      maxFileBytes: Long = 50L * 1024 * 1024,
      customIgnoreName: String = ".graftignore")

  final case class WalkedFile(path: String, size: Long)

  /** One compiled ignore pattern. `regex` matches a path RELATIVE to
    * the directory holding the ignore file (no leading slash).
    */
  private[graft] final case class IgnoreRule(
      regex: java.util.regex.Pattern, negated: Boolean, dirOnly: Boolean)

  /** One ignore file: its directory (walk-relative, "" = root) and its
    * compiled rules in file order.
    */
  private[sources] final case class IgnoreLayer(
      relDir: String, rules: Seq[IgnoreRule])

  /** gitignore pattern → rule, per the published gitignore(5) grammar:
    * blank/comment lines drop; trailing unescaped spaces strip; leading
    * `!` negates (re-include); trailing `/` restricts to directories; a
    * separator at the start or middle anchors the pattern to the ignore
    * file's directory, otherwise it floats to any level below; `*` and
    * `?` never cross `/`; `**` crosses directories (leading `&#42;&#42;/`
    * = any depth, trailing `/&#42;&#42;` = everything inside, middle =
    * zero or more directories); `[...]` classes pass through with `!`
    * or `^` negation.
    */
  private[graft] def compilePattern(raw: String): Option[IgnoreRule] = {
    var p = raw
    if (p.isEmpty || p.startsWith("#")) return None
    while (p.endsWith(" ") && !p.endsWith("\\ ")) p = p.dropRight(1)
    if (p.isEmpty) return None
    var negated = false
    if (p.startsWith("!")) { negated = true; p = p.substring(1) }
    else if (p.startsWith("\\!") || p.startsWith("\\#")) p = p.substring(1)
    var dirOnly = false
    if (p.endsWith("/")) { dirOnly = true; p = p.dropRight(1) }
    if (p.isEmpty) return None
    val anchored = p.contains('/')
    if (p.startsWith("/")) p = p.substring(1)
    if (p.isEmpty) return None
    val segs = p.split("/", -1)
    val sb = new StringBuilder("^")
    if (!anchored) sb.append("(?:.*/)?")
    var k = 0
    while (k < segs.length) {
      val last = k == segs.length - 1
      if (segs(k) == "**") {
        if (last) sb.append(".+") else sb.append("(?:[^/]+/)*")
      } else {
        sb.append(segmentRegex(segs(k)))
        if (!last) sb.append("/")
      }
      k += 1
    }
    sb.append("$")
    // a malformed class (reversed range `[z-a]`) must not crash the
    // walk — git treats an invalid pattern as simply never matching
    try Some(IgnoreRule(
      java.util.regex.Pattern.compile(sb.toString), negated, dirOnly))
    catch { case _: java.util.regex.PatternSyntaxException => None }
  }

  /** One path segment's glob → regex ( `*` `?` `[...]` + literals). */
  private def segmentRegex(seg: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < seg.length) {
      seg.charAt(i) match {
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case '[' =>
          var j = i + 1
          if (j < seg.length && (seg.charAt(j) == '!' || seg.charAt(j) == '^')) j += 1
          if (j < seg.length && seg.charAt(j) == ']') j += 1
          while (j < seg.length && seg.charAt(j) != ']') j += 1
          if (j < seg.length) {
            val cls = seg.substring(i + 1, j)
            val neg = cls.startsWith("!") || cls.startsWith("^")
            val body = if (neg) cls.substring(1) else cls
            sb.append('[')
            if (neg) sb.append('^')
            sb.append(body.replace("\\", "\\\\")).append(']')
            i = j
          } else sb.append("\\[")
        case '\\' if i + 1 < seg.length =>
          sb.append(java.util.regex.Pattern.quote(seg.charAt(i + 1).toString))
          i += 1
        case c =>
          sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    sb.toString
  }

  private[sources] def parseIgnoreLines(lines: Seq[String]): Seq[IgnoreRule] =
    lines.flatMap(compilePattern)

  /** Is `rel` (walk-relative) ignored under `stack` (deepest layer
    * first; within one directory the custom layer precedes .gitignore)?
    * The deepest layer containing ANY matching rule decides, by its own
    * LAST matching rule — gitignore precedence exactly.
    */
  private def ignoredBy(rel: String, isDir: Boolean,
                        stack: List[IgnoreLayer]): Boolean = {
    var result = false
    var decided = false
    val it = stack.iterator
    while (it.hasNext && !decided) {
      val layer = it.next()
      val sub =
        if (layer.relDir.isEmpty) rel
        else if (rel.startsWith(layer.relDir + "/"))
          rel.substring(layer.relDir.length + 1)
        else null
      if (sub != null) {
        var m: Option[Boolean] = None
        layer.rules.foreach { r =>
          if ((!r.dirOnly || isDir) && r.regex.matcher(sub).matches())
            m = Some(r.negated)
        }
        m.foreach { neg => decided = true; result = !neg }
      }
    }
    result
  }

  /** Per-directory ignore files, precedence order (highest first):
    * the tool-specific custom file, the generic `.ignore` (the
    * ripgrep/WalkBuilder convention the reference also enables), then
    * `.gitignore`.
    */
  private def readIgnoreLayers(dir: Path, rel: String,
                               opts: Options): List[IgnoreLayer] =
    if (opts.noIgnore) Nil
    else Seq(opts.customIgnoreName, ".ignore", ".gitignore").flatMap { name =>
      val f = dir.resolve(name)
      if (Files.isRegularFile(f, LinkOption.NOFOLLOW_LINKS))
        Some(IgnoreLayer(rel,
          parseIgnoreLines(Files.readAllLines(f).asScala.toSeq)))
      else None
    }.toList

  private def extOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot > 0 && dot < name.length - 1)
      name.substring(dot + 1).toLowerCase else ""
  }

  /** Classify one directory child under the full filter chain:
    * Left(dir) = descend, Right(file) = yield, None = skip, by the
    * symlink/hidden/worktree/ignore/depth/size/extension rules. A child
    * vanishing mid-walk (transient FS race) skips that entry, never the
    * walk — the reference's metadata-failure rule.
    */
  private def classify(c: Path, crel: String, childDepth: Int,
                       layers: List[IgnoreLayer], opts: Options,
                       extsLc: Set[String]): Option[Either[Path, WalkedFile]] =
    try {
      val name = c.getFileName.toString
      val hidden = name.startsWith(".") && !opts.noIgnore
      if (Files.isSymbolicLink(c) || hidden) None
      else if (Files.isDirectory(c, LinkOption.NOFOLLOW_LINKS)) {
        val isWorktree = Files.isRegularFile(
          c.resolve(".git"), LinkOption.NOFOLLOW_LINKS)
        if (!isWorktree && childDepth < opts.maxDepth &&
            !ignoredBy(crel, isDir = true, layers)) Some(Left(c))
        else None
      } else if (Files.isRegularFile(c, LinkOption.NOFOLLOW_LINKS)) {
        val ext = extOf(name)
        if (ext.nonEmpty && extsLc.contains(ext) &&
            childDepth <= opts.maxDepth) {
          val size = Files.size(c)
          if (size <= opts.maxFileBytes &&
              !ignoredBy(crel, isDir = false, layers))
            Some(Right(WalkedFile(crel, size)))
          else None
        } else None
      } else None
    } catch { case _: java.io.IOException => None }

  /** Walk one subtree, appending yields to `out` until `opts.maxFiles`.
    * `rel` is ""-for-root; `depth` counts path segments from the walk
    * root (root children = 1). `stack` carries the ancestor layers
    * deepest-first.
    */
  private def visit(dir: Path, rel: String, depth: Int,
                    stack: List[IgnoreLayer], opts: Options,
                    extsLc: Set[String],
                    out: mutable.ArrayBuffer[WalkedFile]): Unit = {
    if (out.length >= opts.maxFiles) return
    val layers = readIgnoreLayers(dir, rel, opts) ::: stack
    // Files.list holds a directory fd until closed — at the 500k-file
    // rail, leaking it to GC exhausts the fd limit
    val children =
      try {
        val s = Files.list(dir)
        try s.iterator().asScala.toArray.sortBy(_.getFileName.toString)
        finally s.close()
      } catch { case _: java.io.IOException => return } // unreadable: skip
    var i = 0
    while (i < children.length && out.length < opts.maxFiles) {
      val c = children(i)
      val crel = if (rel.isEmpty) c.getFileName.toString
        else rel + "/" + c.getFileName.toString
      classify(c, crel, depth + 1, layers, opts, extsLc) match {
        case Some(Left(d))  => visit(d, crel, depth + 1, layers, opts, extsLc, out)
        case Some(Right(f)) => out += f
        case None           => ()
      }
      i += 1
    }
  }

  /** Repo-level `.git/info/exclude` as the LOWEST-precedence layer
    * (git's order: deeper .gitignore > shallower > info/exclude; the
    * reference enables the same via WalkBuilder git_exclude). Patterns
    * are root-relative, like a root .gitignore.
    */
  private def infoExcludeLayer(rootPath: Path, opts: Options): List[IgnoreLayer] = {
    if (opts.noIgnore) return Nil
    val f = rootPath.resolve(".git").resolve("info").resolve("exclude")
    if (Files.isRegularFile(f, LinkOption.NOFOLLOW_LINKS))
      List(IgnoreLayer("",
        parseIgnoreLines(Files.readAllLines(f).asScala.toSeq)))
    else Nil
  }

  /** Enumerate source files under `root`, name-ordered DFS. */
  def walk(root: String, opts: Options): Seq[WalkedFile] = {
    val rootPath = Paths.get(root)
    val out = mutable.ArrayBuffer[WalkedFile]()
    val extsLc = opts.extensions.map(_.toLowerCase).toSet
    visit(rootPath, "", 0, infoExcludeLayer(rootPath, opts), opts, extsLc, out)
    out.toSeq
  }

  /** Extension → Chunker pack name for the ingest handoff (the walk's
    * extension filter runs on raw extensions; this routes survivors to
    * the parser). Unknown extensions pass through as themselves — the
    * Chunker's whole-file fallback owns them.
    */
  val defaultLanguageByExt: Map[String, String] = Map(
    "py" -> "python", "rs" -> "rust", "go" -> "go",
    "js" -> "javascript", "mjs" -> "javascript",
    "ts" -> "typescript", "tsx" -> "typescript",
    "java" -> "java", "scala" -> "scala", "kt" -> "kotlin",
    "c" -> "c", "h" -> "c", "cpp" -> "cpp", "cc" -> "cpp", "hpp" -> "cpp",
    "cs" -> "csharp", "rb" -> "ruby", "lua" -> "lua", "pl" -> "perl",
    "r" -> "r", "jl" -> "julia", "hs" -> "haskell",
    "ex" -> "elixir", "exs" -> "elixir", "zig" -> "zig", "dart" -> "dart",
    "sh" -> "shell", "bash" -> "shell", "sql" -> "sql", "md" -> "markdown",
    "yaml" -> "yaml", "yml" -> "yaml", "toml" -> "toml", "json" -> "json",
    "xml" -> "xml", "ini" -> "ini", "erl" -> "erlang", "ml" -> "ocaml",
    "fs" -> "fsharp", "vb" -> "vb", "m" -> "matlab", "swift" -> "swift",
    "groovy" -> "groovy", "elm" -> "elm", "nix" -> "nix")

  /** The ingest front door end-to-end: walk the tree (driver-side,
    * cap-bounded listing — the same shape as Spark's InMemoryFileIndex),
    * then READ the yielded files distributed (one spark task per path
    * slice; executors read from the shared filesystem), emitting
    * (origin, language, content) rows — exactly what
    * `Chunker.chunkDataset` consumes. The listing is
    * tiny (≤ maxFiles paths); the bytes never touch the driver.
    */
  def readFiles(spark: SparkSession, root: String,
                opts: Options): DataFrame = {
    import spark.implicits._
    val files = walk(root, opts)
    if (files.isEmpty)
      return Seq.empty[(String, String, String)]
        .toDF("origin", "language", "content")
    val rootStr = root
    val slices = math.max(1,
      math.min(files.length, spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(files.map(_.path), slices)
      .map { rel =>
        val ext = extOf(rel.substring(rel.lastIndexOf('/') + 1))
        val bytes = Files.readAllBytes(Paths.get(rootStr, rel))
        (rel, defaultLanguageByExt.getOrElse(ext, ext),
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      }.toDF("origin", "language", "content")
  }
}
