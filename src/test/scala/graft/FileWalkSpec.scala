package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import graft.sources.FileWalk
import graft.sources.FileWalk.{Options, WalkedFile}

/** Filesystem walk: gitignore semantics, caps, symlink/worktree/hidden
  * rules, and distributed==local equality (reference:
  * src/lib.rs:806-1032; caps src/limits.rs:212-218).
  */
class FileWalkSpec extends SparkTestBase {

  private def mkTree(): Path = {
    val root = Files.createTempDirectory("graft_walk")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    }
    put(".gitignore",
      "# build artifacts\n*.log\n!keep.log\nbuild/\n/topsecret.txt\ndocs/**/tmp.md\n")
    put(".graftignore", "vendor/\n")
    put("src/.gitignore", "gen_*.py\n!gen_keep.py\n")
    Seq("src/main.py", "src/gen_a.py", "src/gen_keep.py",
      "src/util/helpers.py", "src/trace.log", "keep.log", "sub/keep.log",
      "build/out.py", "build/keep.log", "vendor/lib.py",
      "docs/a/tmp.md", "docs/tmp.md", "docs/guide.md",
      "topsecret.txt", "sub/topsecret.txt",
      ".hidden/x.py", ".secret.py", "README", "notes.rst",
      "d1/d2/d3/ok.py", "d1/d2/d3/d4/deep.py",
      "wt/w.py").foreach(r => put(r, r))
    put("big.py", "y" * 2048)
    put("wt/.git", "gitdir: /elsewhere/wt\n") // linked-worktree marker FILE
    root
  }

  private def rmTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private val opts = Options(
    extensions = Seq("py", "md", "log", "txt"),
    maxDepth = 4, maxFileBytes = 1024)

  private val expected = Set(
    "src/main.py", "src/gen_keep.py", "src/util/helpers.py",
    "keep.log", "sub/keep.log", "docs/guide.md", "sub/topsecret.txt",
    "d1/d2/d3/ok.py")

  test("gitignore semantics, caps, hidden/worktree rules over a real tree") {
    val root = mkTree()
    try {
      val got = FileWalk.walk(root.toString, opts)
      assert(got.map(_.path).toSet === expected)
      // content == rel path, so size == byte length of the path
      got.foreach(f => assert(f.size === f.path.length.toLong))
      // name-ordered DFS is deterministic
      assert(got === FileWalk.walk(root.toString, opts))
    } finally rmTree(root)
  }

  test("symlinks are never followed") {
    val root = mkTree()
    try {
      Files.createSymbolicLink(root.resolve("alias"), root.resolve("src"))
      Files.createSymbolicLink(root.resolve("alias.py"), root.resolve("src/main.py"))
      val got = FileWalk.walk(root.toString, opts).map(_.path).toSet
      assert(got === expected) // neither the dir nor the file link yields
    } finally rmTree(root)
  }

  test("noIgnore disables ignore files AND the hidden filter") {
    val root = mkTree()
    try {
      val got = FileWalk.walk(root.toString, opts.copy(noIgnore = true))
        .map(_.path).toSet
      // ignored + hidden files reappear; caps and the worktree/symlink
      // rules still hold (wt/ stays pruned, big.py stays oversize,
      // README/notes.rst still fail the extension filter)
      val all = expected ++ Set("src/gen_a.py", "src/trace.log",
        "build/out.py", "build/keep.log", "vendor/lib.py",
        "docs/a/tmp.md", "docs/tmp.md", "topsecret.txt",
        ".hidden/x.py", ".secret.py")
      assert(got === all)
    } finally rmTree(root)
  }

  test(".ignore layers between the custom file and .gitignore") {
    val root = mkTree()
    try {
      // .ignore excludes guide.md; a nested .ignore re-includes a
      // gitignored file (higher precedence than .gitignore)
      Files.write(root.resolve(".ignore"),
        "guide.md\n".getBytes(StandardCharsets.UTF_8))
      Files.write(root.resolve("src/.ignore"),
        "!gen_a.py\n".getBytes(StandardCharsets.UTF_8))
      val got = FileWalk.walk(root.toString, opts).map(_.path).toSet
      assert(got === expected - "docs/guide.md" + "src/gen_a.py")
    } finally rmTree(root)
  }

  test("maxFiles stops the walk at the cap, in walk order") {
    val root = mkTree()
    try {
      val capped = FileWalk.walk(root.toString, opts.copy(maxFiles = 3))
      val full = FileWalk.walk(root.toString, opts)
      assert(capped === full.take(3))
    } finally rmTree(root)
  }

  test("ingest handoff: walk → distributed read → chunk") {
    val root = Files.createTempDirectory("graft_ingest")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    }
    try {
      put(".gitignore", "build/\n")
      put("app/main.py", "def alpha(a):\n    return a\n\ndef beta(b):\n    return b\n")
      put("lib/core.rs", "pub fn gamma(n: u32) -> u32 {\n    n\n}\n")
      put("build/gen.py", "def ghost(x):\n    return x\n")
      val rows = FileWalk.readFiles(spark, root.toString,
        Options(extensions = Seq("py", "rs")))
      val byOrigin = rows.collect().map(r =>
        r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(byOrigin.keySet === Set("app/main.py", "lib/core.rs"))
      assert(byOrigin("app/main.py")._1 === "python")
      assert(byOrigin("lib/core.rs")._1 === "rust")
      assert(byOrigin("lib/core.rs")._2.contains("pub fn gamma"))
      val names = graft.parser.Chunker.chunkDataset(rows)
        .collect().map(_.name).toSet
      assert(Set("alpha", "beta", "gamma").subsetOf(names))
      assert(!names.contains("ghost")) // ignored dir never ingests
    } finally rmTree(root)
  }

  test("pattern grammar: ? and character classes, anchoring, escapes") {
    def rule(p: String) = FileWalk.compilePattern(p).get
    def hits(p: String, rel: String, isDir: Boolean = false): Boolean = {
      val r = rule(p)
      (!r.dirOnly || isDir) && r.regex.matcher(rel).matches()
    }
    assert(hits("a?.py", "ab.py"))
    assert(!hits("a?.py", "a/b.py")) // ? never crosses a slash
    assert(hits("v[0-9].md", "v7.md"))
    assert(!hits("v[!0-9].md", "v7.md"))
    assert(hits("v[!0-9].md", "vx.md"))
    assert(hits("*.log", "deep/nested/x.log")) // unanchored floats down
    assert(!hits("/x.log", "deep/x.log")) // leading slash anchors
    assert(hits("/x.log", "x.log"))
    assert(hits("a/**/b", "a/b")) // ** matches zero directories
    assert(hits("a/**/b", "a/x/y/b"))
    assert(hits("a/**", "a/x/y"))
    assert(!hits("a/**", "a"))
    assert(hits("build/", "build", isDir = true))
    assert(!hits("build/", "build")) // dir-only never matches a file
    assert(FileWalk.compilePattern("# comment").isEmpty)
    assert(FileWalk.compilePattern("").isEmpty)
    assert(hits("\\#literal", "#literal")) // escaped hash is a pattern
    // a malformed class (reversed range) never matches — and never
    // throws: one bad .gitignore line must not crash the walk
    assert(FileWalk.compilePattern("[z-a]*").isEmpty)
  }
}
