package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.sources.FileWalk

/** The real code the benchmark indexes: package directories of the
  * Python 3.13 standard library and two C header trees of the same
  * install, shipped in `perfbench/corpus.tar.xz` (see `make_corpus.py`)
  * and unpacked by `run.py` into `Dir`, so a run reads nothing outside
  * its checkout.
  *
  * A repo is one package directory of the standard library or one
  * subtree of the include directory. The file set is pinned by a digest
  * of the sorted relative paths and sizes that `FileWalk.walk` yields;
  * a missing or changed corpus stops the run before anything is
  * measured, so a run never silently indexes less.
  */
object Corpus {
  val Dir: String = new java.io.File(s"${Main.WorkDir}/corpus").getAbsolutePath
  val LibRoot = s"$Dir/python3.13"
  val IncludeRoot = s"$Dir/include"

  /** SHA-256 over "name\tpath\tsize" lines of every repo, in name order. */
  val PinnedDigest = "479e6ce1e0564144047e25685e1c562d3c6211777595ff9aa66fc5312e318c9a"

  val walkOptions: FileWalk.Options =
    FileWalk.Options(extensions = FileWalk.defaultLanguageByExt.keys.toSeq.sorted)

  /** One repo: its name, its directory, and the files the walk yields. */
  final case class Repo(name: String, root: String, files: Seq[FileWalk.WalkedFile]) {
    def bytes: Long = files.map(_.size).sum
  }

  final class CorpusError(msg: String) extends RuntimeException(msg)

  private def subdirs(root: String): Seq[String] = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) throw new CorpusError(s"corpus absent: $root is not a directory")
    val s = Files.list(p)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  /** Every repo of both trees, checked against the pinned digest. */
  lazy val repos: Seq[Repo] = {
    val lib = subdirs(LibRoot)
      .map(d => Repo(d, s"$LibRoot/$d", FileWalk.walk(s"$LibRoot/$d", walkOptions)))
    val inc = subdirs(IncludeRoot)
      .map(d => Repo(s"include/$d", s"$IncludeRoot/$d",
        FileWalk.walk(s"$IncludeRoot/$d", walkOptions)))
    val all = (lib ++ inc).filter(_.files.nonEmpty).sortBy(_.name)
    val d = digest(all)
    if (d != PinnedDigest)
      throw new CorpusError(s"corpus drifted: digest $d, pinned $PinnedDigest " +
        s"(${all.size} repos, ${all.map(_.files.size).sum} files)")
    all
  }

  private def digest(rs: Seq[Repo]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rs.foreach(r => r.files.sortBy(_.path).foreach { f =>
      md.update(s"${r.name}\t${f.path}\t${f.size}\n".getBytes("UTF-8"))
    })
    md.digest().map(b => f"$b%02x").mkString
  }

  def repo(name: String): Repo =
    repos.find(_.name == name).getOrElse(throw new CorpusError(s"corpus absent: repo $name"))
}
