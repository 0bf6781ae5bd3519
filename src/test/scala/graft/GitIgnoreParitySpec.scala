package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FileWalk
import graft.sources.FileWalk.Options

/** Differential fuzz of the gitignore matcher against REAL git: seeded
  * random trees + random pattern sets (root + nested .gitignore files),
  * FileWalk's yield vs `git ls-files --others` (untracked non-ignored —
  * exactly the walk's exclusion semantics, including the
  * can't-re-include-below-an-excluded-dir rule). The generator stays
  * inside the grammar both implementations define (no `/` inside char
  * classes, no trailing-space escapes); dotfiles other than the ignore
  * files themselves are never generated, so FileWalk's hidden filter
  * and git's lack of one see the same corpus (git's own `.gitignore`
  * listings are filtered from its output).
  */
class GitIgnoreParitySpec extends AnyFunSuite {

  private def run(cwd: String, cmd: String*): String = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(new java.io.File(cwd))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    assert(rc == 0, s"${cmd.mkString(" ")} failed ($rc):\n$out")
    out
  }

  private def rmTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  // small vocabularies so patterns and paths collide often
  private val segs = Vector("a", "b", "foo", "bar", "v1", "lib", "gen_x")
  private val exts = Vector("py", "log", "txt")

  private def randPath(rnd: scala.util.Random): String = {
    val depth = 1 + rnd.nextInt(3)
    val dirs = Seq.fill(depth - 1)(segs(rnd.nextInt(segs.length)))
    val base = segs(rnd.nextInt(segs.length)) + "." + exts(rnd.nextInt(exts.length))
    (dirs :+ base).mkString("/")
  }

  private def randPattern(rnd: scala.util.Random): String = {
    val neg = if (rnd.nextInt(4) == 0) "!" else ""
    val core = rnd.nextInt(9) match {
      case 0 => "*." + exts(rnd.nextInt(exts.length))
      case 1 => segs(rnd.nextInt(segs.length)) + "/"
      case 2 => "/" + segs(rnd.nextInt(segs.length))
      case 3 => "**/" + segs(rnd.nextInt(segs.length)) + "." + exts(rnd.nextInt(exts.length))
      case 4 => segs(rnd.nextInt(segs.length)) + "/**"
      case 5 => segs(rnd.nextInt(segs.length)) + "/**/" + segs(rnd.nextInt(segs.length)) + ".py"
      case 6 => segs(rnd.nextInt(segs.length)).take(2) + "?" + "*.py"
      case 7 => "[" + (if (rnd.nextBoolean()) "!" else "") + "abf]*"
      case _ => segs(rnd.nextInt(segs.length)) + "." + exts(rnd.nextInt(exts.length))
    }
    neg + core
  }

  test("curated corners: re-include rules, dir-star vs dir-slash, anchored negation") {
    val tree = Seq(
      "lib/keep.py", "lib/drop.py", "lib/sub/deep.py",
      "gen/a.py", "gen/sub/b.py", "top.py", "v1/top.py",
      "bar/x.log", "bar/keep.log", "foo/bar/x.log")
    val corners = Seq(
      // excluded DIR: a child re-include cannot resurrect
      "lib/\n!lib/keep.py\n",
      // excluded CONTENTS (dir-star): child re-include CAN resurrect
      "lib/*\n!lib/keep.py\n",
      // contents excluded, subdir re-included, grandchildren re-included
      "gen/*\n!gen/sub\n",
      "gen/*\n!gen/sub\ngen/sub/b.py\n",
      // anchored vs floating negation interplay
      "top.py\n!/top.py\n",
      "*.log\n!bar/keep.log\n",
      // double-star re-include below a star exclude
      "foo/**\n!foo/bar\n!foo/bar/x.log\n",
      // negation first (no-op), then exclude
      "!keep.py\nlib/\n")
    corners.zipWithIndex.foreach { case (body, i) =>
      val root = Files.createTempDirectory(s"graft_gicorner$i")
      try {
        run(root.toString, "git", "init", "-q")
        tree.foreach { rel =>
          val p = root.resolve(rel)
          Files.createDirectories(p.getParent)
          Files.write(p, rel.getBytes(StandardCharsets.UTF_8))
        }
        Files.write(root.resolve(".gitignore"),
          body.getBytes(StandardCharsets.UTF_8))
        val gitSet = run(root.toString, "git", "ls-files", "--others",
          "--exclude-per-directory=.gitignore")
          .split("\n").filter(_.nonEmpty)
          .filterNot(p => p.split("/").exists(_.startsWith("."))).toSet
        val walked = FileWalk.walk(root.toString,
          Options(extensions = Seq("py", "log"))).map(_.path).toSet
        assert(walked === gitSet, s"corner $i diverged:\n$body")
      } finally rmTree(root)
    }
  }

  test(".git/info/exclude is honored as the lowest-precedence layer") {
    val root = Files.createTempDirectory("graft_giexcl")
    try {
      run(root.toString, "git", "init", "-q")
      Seq("a.py", "drop_me.py", "lib/drop_me.py", "lib/keep.py")
        .foreach { rel =>
          val p = root.resolve(rel)
          Files.createDirectories(p.getParent)
          Files.write(p, rel.getBytes(StandardCharsets.UTF_8))
        }
      Files.write(root.resolve(".git/info/exclude"),
        "drop_me.py\nkeep.py\n".getBytes(StandardCharsets.UTF_8))
      // root .gitignore re-include outranks info/exclude
      Files.write(root.resolve(".gitignore"),
        "!keep.py\n".getBytes(StandardCharsets.UTF_8))
      // --exclude-standard = per-dir chain + info/exclude; global
      // excludes neutralized so the environment can't leak in
      val gitSet = run(root.toString, "git", "-c", "core.excludesFile=/dev/null",
        "ls-files", "--others", "--exclude-standard")
        .split("\n").filter(_.nonEmpty)
        .filterNot(p => p.split("/").exists(_.startsWith("."))).toSet
      val walked = FileWalk.walk(root.toString,
        Options(extensions = Seq("py"))).map(_.path).toSet
      assert(walked === gitSet)
      assert(walked === Set("a.py", "lib/keep.py"))
    } finally rmTree(root)
  }

  test("walk yield == git ls-files --others over 40 random tree+pattern sets") {
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 40) {
      val root = Files.createTempDirectory(s"graft_gipar$round")
      try {
        run(root.toString, "git", "init", "-q")
        val paths = Seq.fill(24)(randPath(rnd)).distinct
        paths.foreach { rel =>
          val p = root.resolve(rel)
          Files.createDirectories(p.getParent)
          Files.write(p, rel.getBytes(StandardCharsets.UTF_8))
        }
        // root .gitignore (4-7 patterns) + sometimes one nested
        def writeIgnore(dirRel: String, n: Int): Unit = {
          val dir = if (dirRel.isEmpty) root else root.resolve(dirRel)
          if (Files.isDirectory(dir)) {
            val body = Seq.fill(n)(randPattern(rnd)).mkString("\n") + "\n"
            Files.write(dir.resolve(".gitignore"),
              body.getBytes(StandardCharsets.UTF_8))
          }
        }
        writeIgnore("", 4 + rnd.nextInt(4))
        if (rnd.nextBoolean()) writeIgnore(segs(rnd.nextInt(segs.length)), 2)
        // --exclude-per-directory applies EXACTLY the hierarchical
        // .gitignore chain (no global excludes, no info/exclude)
        val gitOut = run(root.toString, "git", "ls-files", "--others",
          "--exclude-per-directory=.gitignore")
        val gitSet = gitOut.split("\n").filter(_.nonEmpty)
          .filterNot(p => p.split("/").exists(_.startsWith("."))).toSet
        val walked = FileWalk.walk(root.toString,
          Options(extensions = exts)).map(_.path).toSet
        assert(walked === gitSet,
          s"round $round diverged\n.gitignore:\n" +
            new String(Files.readAllBytes(root.resolve(".gitignore")),
              StandardCharsets.UTF_8))
      } finally rmTree(root)
    }
  }
}
