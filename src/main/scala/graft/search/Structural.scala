package graft.search

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Structural code patterns and path filtering (SURVEY §2.2).
  *
  * The reference classifies chunks against a fixed pattern vocabulary
  * with per-pattern marker heuristics (/root/reference/src/structural.rs:
  * builder / error_swallow / async / mutex / unsafe / recursion, generic
  * marker slices at :121-242). Each pattern here is a plain Column
  * predicate — substring/boolean algebra that stays inside whole-stage
  * codegen, applied at scan parallelism with no UDF and no shuffle.
  *
  * Glob path filters (`--path` with `**`-style globs) compile once to
  * an anchored regex and push through `rlike`
  * (/root/reference/src/search/scoring/filter.rs compile_glob_filter).
  */
object Structural {

  /** The pattern vocabulary, in the reference's order. */
  val PatternNames: Seq[String] =
    Seq("builder", "error_swallow", "async", "mutex", "unsafe", "recursion")

  /** Chunk body = content after the signature (first) line; single-line
    * chunks have no body.
    */
  private def bodyOf(content: Column): Column =
    when(instr(content, "\n") === 0, lit(""))
      .otherwise(content.substr(instr(content, "\n") + 1, length(content)))

  /** Predicate for one pattern over (content, name) columns. */
  def predicate(pattern: String, content: Column, name: Column): Column =
    pattern match {
      case "builder" =>
        content.contains("-> Self") || content.contains("-> &Self") ||
          content.contains("-> &mut Self") || content.contains("return self") ||
          content.contains("return this") ||
          (content.contains(".set") && content.contains("return"))
      case "error_swallow" =>
        content.contains("catch (e) {}") || content.contains("catch {}") ||
          content.contains("except:") || content.contains("except Exception:")
      case "async" =>
        content.contains("async") || content.contains("await")
      case "mutex" =>
        content.contains("mutex") || content.contains("Mutex") ||
          content.contains("lock()") || content.contains("Lock()")
      case "unsafe" =>
        content.contains("unsafe")
      case "recursion" =>
        // the function's own name called in its BODY (signature line
        // excluded — every definition contains `name(`)
        val body = bodyOf(content)
        length(name) > 0 &&
          (body.contains(concat(name, lit("("))) ||
            body.contains(concat(name, lit(" ("))))
      case other =>
        throw new IllegalArgumentException(s"unknown pattern: $other")
    }

  /** Compile a glob to an anchored regex: `**` crosses directory
    * separators, `*` and `?` do not; all other regex metacharacters are
    * escaped literally.
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' if i + 1 < glob.length && glob.charAt(i + 1) == '*' =>
          sb.append(".*"); i += 1
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append("$").toString
  }

  /** Glob path filter as a pushable Column predicate. */
  def globFilter(pathCol: Column, glob: String): Column =
    pathCol.rlike(globToRegex(glob))
}
