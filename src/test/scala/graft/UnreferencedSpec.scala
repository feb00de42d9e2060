package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** No library surface without a caller: every member `def` of a
  * top-level object in src/main that is not `private`/`protected` has a
  * reference outside its own definition, in src/main (tools included)
  * or in the perfbench harness. Specs do not count as callers: a def
  * only its spec calls is dead code with a test.
  *
  * A name-level grep like GraftSessionSpec's builder check, not a
  * compiler pass: comments and string-literal text are blanked first
  * (`$name` / `${...}` interpolations still count), a name two objects
  * share counts as used for both, and a recursive call counts as a
  * reference. `main`, `apply` and `unapply` are called without their
  * name appearing, so they are not checked.
  *
  * The same scan of src/main also rejects a scaladoc block directly
  * followed by another: scaladoc keeps only the last of the two, so the
  * first drops out of the generated docs. */
class UnreferencedSpec extends AnyFunSuite {

  /** Defs kept without a caller, each with its reason. */
  private val keep: Map[String, String] = {
    val image = "the real ImageIO decode path; OPERATORS.md documents it as " +
      "the production form of the stub-gated x_mm_* keys"
    val bpe = "the composed reference encoder BpeNativeSpec checks the native encoder against"
    Map(
      "decodeMetaImageIO" -> image,
      "perceptualHashImage" -> image,
      "resizeImage" -> image,
      "extractFeaturesImage" -> image,
      "frameToImage" -> image,
      "bpeEncodeComposed" -> bpe,
      "bpeTokensComposed" -> bpe)
  }

  private def scalaFiles(root: String): List[Path] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList

  /** Source with comments and string-literal text blanked; newlines
    * outside comments and strings are kept, so each def stays on its
    * own line. */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String): Boolean = src.startsWith(s, i)
    def isId(c: Char): Boolean = c.isLetterOrDigit || c == '_'
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        val e = src.indexOf("*/", i + 2)
        i = if (e < 0) n else e + 2
      } else if (at("'\\")) { // escaped char literal, e.g. '\n' or '\t'
        val e = src.indexOf('\'', i + 2)
        i = if (e < 0) n else e + 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3
      } else if (src(i) == '"') {
        val interpolated = i > 0 && isId(src(i - 1))
        val q = if (at("\"\"\"")) "\"\"\"" else "\""
        i += q.length
        out += ' '
        while (i < n && !at(q)) {
          if (q == "\"" && src(i) == '\\') i += 2
          else if (interpolated && at("$$")) i += 2
          else if (interpolated && at("${")) {
            var depth = 0
            i += 1
            do {
              if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
              out += src(i); i += 1
            } while (i < n && depth > 0)
            out += ' '
          } else if (interpolated && src(i) == '$') {
            i += 1
            while (i < n && isId(src(i))) { out += src(i); i += 1 }
            out += ' '
          } else i += 1
        }
        i += q.length
        out += ' '
      } else {
        out += src(i); i += 1
      }
    }
    out.toString
  }

  private val topLevel =
    """^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|case\s+|sealed\s+|abstract\s+|implicit\s+)*(object|class|trait)\b""".r
  private val memberDef = """^  (?:private\[\w+\]\s+|final\s+|@inline\s+)*def\s+(\w+)""".r

  test("every public object def in src/main has a caller outside its own definition") {
    val main = scalaFiles("src/main").map(p => p -> code(Files.readString(p)))
    val harness = scalaFiles("perfbench/harness/src").map(p => code(Files.readString(p)))
    val defs = main.flatMap { case (p, text) =>
      var inObject = false
      text.split("\n").toList.flatMap { line =>
        topLevel.findFirstMatchIn(line).foreach(m => inObject = m.group(1) == "object")
        memberDef.findFirstMatchIn(line).filter(_ => inObject).map(m => m.group(1) -> p)
      }
    }
    assert(defs.size > 500, s"the scan found only ${defs.size} object defs: the parser is broken")
    val all = (main.map(_._2) ++ harness).mkString("\n")
    def uses(name: String): Int = {
      val word = s"(?<![\\w$$])${name}(?![\\w$$])".r
      val definition = s"\\bdef\\s+${name}(?![\\w$$])".r
      word.findAllIn(all).size - definition.findAllIn(all).size
    }
    val checked = defs.filterNot { case (name, _) => Set("main", "apply", "unapply")(name) }
    val unreferenced = checked.filter { case (name, _) => !keep.contains(name) && uses(name) <= 0 }
    assert(unreferenced.isEmpty,
      "back each with a caller or delete it with its spec cases:\n" +
        unreferenced.map { case (name, p) => s"  $name ($p)" }.mkString("\n"))
    val stale = keep.keySet -- defs.map(_._1).toSet
    assert(stale.isEmpty, s"keep-list names no longer defined: ${stale.mkString(", ")}")
  }

  test("no scaladoc block in src/main is directly followed by another") {
    val stranded = """\*/\s*/\*\*""".r
    val sites = scalaFiles("src/main").flatMap { p =>
      val src = Files.readString(p)
      stranded.findAllMatchIn(src).map(m => s"  $p:${src.take(m.start).count(_ == '\n') + 1}")
    }
    assert(sites.isEmpty,
      "merge the two blocks, move the first onto its def, or delete it with its def:\n" +
        sites.mkString("\n"))
  }
}
