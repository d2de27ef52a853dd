package graft

import org.scalatest.funsuite.AnyFunSuite

/** No main source grows past [[MaxLines]] lines. A file that size mixes
  * concerns a reader has to hold apart: the query builders and their
  * DuckDB oracles live in separate files for this reason, so an engine
  * edit and an edit to the test truth show up in different diffs.
  */
class SourceFileSizeSpec extends AnyFunSuite {
  private val MaxLines = 4600

  test(s"no src/main/scala file has more than $MaxLines lines") {
    val over = MainSources.scalaFiles("src/main/scala")
      .map { case (p, text) => p -> text.linesIterator.size }
      .collect { case (p, n) if n > MaxLines => s"$p: $n lines" }
    if (over.nonEmpty)
      fail(s"split these files (limit $MaxLines lines):\n${over.mkString("\n")}")
  }
}
