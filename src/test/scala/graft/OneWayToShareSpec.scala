package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine shares an intermediate one way, through
  * `org.apache.spark.sql.graft.Shared`: no other main source may persist,
  * cache or checkpoint a frame or RDD.
  */
class OneWayToShareSpec extends AnyFunSuite {
  private val banned = """\.persist\(|\.cache\(\)|(?i:checkpoint)\(""".r
  private val allowed = Paths.get("org/apache/spark/sql/graft/Shared.scala")

  test("only Shared.scala persists, caches or checkpoints under src/main") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val hits = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !root.relativize(p).equals(allowed))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    if (hits.nonEmpty)
      fail(s"share through Shared instead:\n${hits.mkString("\n")}")
  }
}
