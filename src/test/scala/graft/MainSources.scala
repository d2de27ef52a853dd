package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Searches over the main sources, for the specs that guard what `src/main`
  * holds: one way of doing a thing (each names the one file allowed to do
  * it), and no code that only a test calls.
  */
object MainSources {
  private val root = Paths.get("src/main/scala")

  /** `path:line: text` of every line matching `banned` in a main Scala
    * source other than `allowed` (relative to `src/main/scala`).
    */
  def hits(banned: scala.util.matching.Regex, allowed: String): List[String] =
    scalaFiles(root.toString)
      .filterNot { case (p, _) => root.relativize(p).equals(Paths.get(allowed)) }
      .flatMap { case (p, text) =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }

  /** Every Scala source under `dir`, as (path, text). */
  def scalaFiles(dir: String): List[(Path, String)] = {
    val files = Files.walk(Paths.get(dir))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .sorted.map(p => p -> Files.readString(p))
    finally files.close()
  }

  /** `text` with its `//` and `/* */` comments blanked out, and with the
    * contents of its string literals blanked too unless `keepStrings`.
    * Blanking keeps every offset and line break where it was.
    */
  def code(text: String, keepStrings: Boolean): String = {
    val out = new StringBuilder(text)
    def blank(from: Int, until: Int): Unit =
      for (j <- from until until if out(j) != '\n') out(j) = ' '
    var i = 0
    while (i < text.length) {
      if (text.startsWith("//", i)) {
        val end = text.indexOf('\n', i)
        val stop = if (end < 0) text.length else end
        blank(i, stop); i = stop
      } else if (text.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < text.length && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        var j = text.indexOf("\"\"\"", i + 3)
        j = if (j < 0) text.length else j
        while (j < text.length && text.charAt(j) == '"') j += 1
        if (!keepStrings) blank(i + 3, j - 3)
        i = j
      } else if (text.charAt(i) == '"') {
        var j = i + 1
        while (j < text.length && text.charAt(j) != '"' && text.charAt(j) != '\n')
          j += (if (text.charAt(j) == '\\') 2 else 1)
        if (!keepStrings) blank(i + 1, j)
        i = j + 1
      } else if (text.charAt(i) == '\'' && i + 2 < text.length &&
          (text.charAt(i + 2) == '\'' || text.charAt(i + 1) == '\\')) {
        // a character literal: 'x', '\n', '\u0000'
        val j = text.indexOf('\'', i + 2)
        i = if (j < 0) text.length else j + 1
      } else i += 1
    }
    out.toString
  }
}
