package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The Scala sources under `src/main/scala` (and the benchmark harness's
  * under `perfbench/src`), for specs that pin a property of the code
  * itself rather than of a run. */
object MainSources {

  def files: List[Path] = scalaUnder(Paths.get("src", "main", "scala"))

  /** The benchmark harness's sources: it calls into the engine too, and
    * is only ever read here. */
  def perfbenchFiles: List[Path] = scalaUnder(Paths.get("perfbench", "src"))

  private def scalaUnder(root: Path): List[Path] =
    scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted)

  /** `p`'s text with block and line comments blanked out. */
  def code(p: Path): String = strip(Files.readString(p), literals = true)

  /** [[code]] with the contents of string and character literals blanked
    * too, so braces and keywords inside them do not read as structure.
    * Offsets line up with [[code]]'s. */
  def skeleton(p: Path): String = strip(Files.readString(p), literals = false)

  /** `text` with comments (nested block comments included) replaced by
    * spaces, newlines kept; string and character literals are kept when
    * `literals`, else their contents are spaced out. */
  def strip(text: String, literals: Boolean): String = {
    val out = new StringBuilder(text.length)
    def blank(from: Int, to: Int): Unit =
      for (k <- from until to) out += (if (text(k) == '\n') '\n' else ' ')
    def literal(from: Int, to: Int, quote: Int): Unit =
      if (literals) out ++= text.substring(from, to)
      else {
        out ++= text.substring(from, from + quote)
        blank(from + quote, to - quote)
        out ++= text.substring(to - quote, to)
      }
    var i = 0
    while (i < text.length) {
      if (text.startsWith("//", i)) {
        val nl = text.indexOf('\n', i)
        val end = if (nl < 0) text.length else nl
        blank(i, end); i = end
      } else if (text.startsWith("/*", i)) {
        var depth = 0
        var j = i
        while ({
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
          depth > 0 && j < text.length
        }) ()
        blank(i, j); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        val close = text.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) text.length else close + 3
        while (j < text.length && text(j) == '"') j += 1
        literal(i, j, 3); i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < text.length && text(j) != '"')
          j += (if (text(j) == '\\') 2 else 1)
        val end = math.min(j + 1, text.length)
        literal(i, end, 1); i = end
      } else if (text(i) == '\'' && charLiteralEnd(text, i) > 0) {
        val j = charLiteralEnd(text, i)
        literal(i, j, 1); i = j
      } else { out += text(i); i += 1 }
    }
    out.toString
  }

  /** The end (exclusive) of a character literal opening at `i`, or 0. */
  private def charLiteralEnd(text: String, i: Int): Int =
    if (i + 2 < text.length && text(i + 1) != '\\' && text(i + 2) == '\'') i + 3
    else if (i + 1 < text.length && text(i + 1) == '\\') {
      val close = text.indexOf('\'', i + 3)
      if (close > 0 && close - i <= 7) close + 1 else 0
    } else 0
}
