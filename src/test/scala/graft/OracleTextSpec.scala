package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every oracle's SQL text must match its committed hash in
  * `plans/oracles.tsv`: the test truth changes only in a diff that shows
  * it, the way `plans/fingerprints.tsv` shows every plan change. A
  * refactor that moves oracle code proves it changed no oracle by
  * leaving this table as it was.
  *
  * Every run writes the full name → hash table to
  * `target/oracle-text/oracles.tsv`, which can replace the committed one
  * when an oracle is meant to change.
  */
class OracleTextSpec extends AnyFunSuite {
  private val committedFile = Paths.get("plans/oracles.tsv")
  private val outDir = Paths.get("target/oracle-text")

  private def hash(sql: String): String =
    MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
      .take(8).map("%02x".format(_)).mkString

  test("every oracle's SQL text matches plans/oracles.tsv") {
    val current = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (n, sql) => n -> hash(sql) }
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracles.tsv"),
      current.map { case (n, h) => s"$n\t$h\n" }.mkString)
    val committed =
      if (!Files.exists(committedFile)) Map.empty[String, String]
      else Files.readAllLines(committedFile).asScala.iterator
        .map(_.split("\t")).collect { case Array(n, h) => n -> h }.toMap
    val changed = current.collect {
      case (n, h) if !committed.get(n).contains(h) =>
        s"$n: $h != committed ${committed.getOrElse(n, "(none)")}"
    }
    val dropped = (committed.keySet -- current.map(_._1)).toSeq.sorted
      .map(n => s"$n: committed, but no such oracle")
    if (changed.nonEmpty || dropped.nonEmpty)
      fail(s"oracle text differs from $committedFile (table written to " +
        s"${outDir.resolve("oracles.tsv")}):\n" +
        (changed ++ dropped).mkString("\n"))
  }
}
