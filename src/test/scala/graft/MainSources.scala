package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Line search over the main sources, for the specs that keep one way of
  * doing a thing: each names the one file allowed to do it.
  */
object MainSources {
  private val root = Paths.get("src/main/scala")

  /** `path:line: text` of every line matching `banned` in a main Scala
    * source other than `allowed` (relative to `src/main/scala`).
    */
  def hits(banned: scala.util.matching.Regex, allowed: String): List[String] = {
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !root.relativize(p).equals(Paths.get(allowed)))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
  }
}
