package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine keeps per-application state one way, through
  * `graft.engine.AppState`: no other main source may key anything by
  * the application id.
  */
class OneAppStateSpec extends AnyFunSuite {
  private val allowed = Paths.get("graft/engine/AppState.scala")

  test("only AppState.scala mentions applicationId under src/main") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val hits = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !root.relativize(p).equals(allowed))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("applicationId") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    if (hits.nonEmpty)
      fail(s"keep per-application state in AppState instead:\n" +
        hits.mkString("\n"))
  }
}
