package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ConfValue
import graft.operators.Layout
import graft.plans.{BroadcastGuard, PartialReduce}

/** Every `spark.graft.*` key the engine parses takes a valid value, and a
  * malformed one (empty, garbage or out of range) falls back to the
  * default with one WARN naming the key and the value. The `keys` table
  * is the list of those keys: a `spark.graft.*` literal in a main source
  * that is neither a row nor a named exception fails the spec. Each key is read through the one site that
  * uses it, and a query that reaches that site runs under each value
  * without throwing. `spark.graft.curatedSinkRoot` takes any path, so
  * it has no garbage value and is tested beside the table: only a blank
  * value is malformed.
  */
class ConfValueSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A key, one valid value with what it parses to, the default, a
    * well-formed value outside the key's range if it has one, the site's
    * reader, and a query that reaches the site.
    */
  private case class Key(key: String, valid: String, parsed: Any,
                         default: Any, outOfRange: Option[String],
                         read: SparkSession => Any,
                         query: SparkSession => Any)

  private val keys = Seq(
    Key("spark.graft.partialReduce", "true", true, false, None,
      s => PartialReduce(s).enabled,
      s => s.range(0, 100, 1, 4).groupBy(col("id") % 3).count().collect()),
    Key(BroadcastGuard(spark).MaxBytesKey, "1024", BigInt(1024),
      BigInt(256L * 1024 * 1024), Some("-1"),
      s => BroadcastGuard(s).maxBytes,
      s => s.range(10).join(broadcast(s.range(5)), "id").collect()))

  /** WARN messages logged by [[ConfValue]] while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("conf-value-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN &&
            e.getLoggerName == ConfValue.getClass.getName.stripSuffix("$"))
          seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  for (k <- keys) {
    test(s"${k.key}: a valid value is read, unset gives the default") {
      assert(k.read(spark) == k.default)
      withConf(k.key, k.valid) {
        assert(k.read(spark) == k.parsed)
        k.query(spark)
      }
    }

    for ((label, bad) <- Seq("an empty" -> "", "a garbage" -> "12x;not-a-value") ++
        k.outOfRange.map("an out-of-range" -> _)) {
      test(s"${k.key}: $label value falls back to the default with " +
        "one WARN naming the key and the value") {
        val warned = warnings {
          withConf(k.key, bad) {
            assert(k.read(spark) == k.default)
            k.query(spark)
            assert(k.read(spark) == k.default)
          }
        }
        val named = warned.filter(w => w.contains(k.key) &&
          w.contains("\"" + bad + "\""))
        assert(named.size == 1, s"warnings: $warned")
      }
    }
  }

  test("spark.graft.curatedSinkRoot: a blank value falls back to the " +
    "tmpdir default with one WARN naming the key and the value") {
    val key = "spark.graft.curatedSinkRoot"
    val default = Layout.sinkRoot(spark)
    assert(default.nonEmpty)
    withConf(key, "/tmp/graft-sink-x") {
      assert(Layout.sinkRoot(spark) == "/tmp/graft-sink-x")
    }
    for (blank <- Seq("", "  ")) {
      val warned = warnings {
        withConf(key, blank) {
          assert(Layout.sinkRoot(spark) == default)
          assert(Layout.sinkDir(spark, "k").startsWith(default + "/"))
        }
      }
      assert(warned.count(w => w.contains(key) &&
        w.contains("\"" + blank + "\"")) == 1, s"warnings: $warned")
    }
  }

  test("every spark.graft.* key literal under src/main is a row of the " +
    "keys table or a named exception") {
    // curatedSinkRoot is tested beside the table; CatalogState's two keys
    // are markers the engine writes for itself, not settings a user parses.
    val exceptions = Set("spark.graft.curatedSinkRoot",
      "spark.graft.catalog.bound", "spark.graft.catalog.fixture")
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val found = MainSources.scalaFiles("src/main/scala").flatMap { case (p, text) =>
      literal.findAllMatchIn(MainSources.code(text, keepStrings = true))
        .map(m => m.group(1) -> p)
    }
    assert(found.nonEmpty, "no spark.graft.* literal found under src/main/scala")
    val listed = keys.map(_.key).toSet ++ exceptions
    val unlisted = found.filterNot { case (k, _) => listed(k) }
    assert(unlisted.isEmpty, "keys neither in the table nor a named exception: " +
      unlisted.map { case (k, p) => s"$k ($p)" }.mkString(", "))
  }

  test("SPARK_GRAFT_CONF-style overrides skip an entry without '='") {
    assert(ConfValue.overrides("a.b=1,oops,,c.d=x=y") ==
      Seq("a.b" -> "1", "c.d" -> "x=y"))
    assert(ConfValue.overrides("").isEmpty)
    // A comma inside [...] belongs to the value.
    assert(ConfValue.overrides("spark.master=local-cluster[2,2,2048],a.b=1") ==
      Seq("spark.master" -> "local-cluster[2,2,2048]", "a.b" -> "1"))
  }

  test("SPARK_GRAFT_BENCH_ITERS: a positive integer is read, anything " +
    "else gives 2 with one WARN") {
    assert(warnings(assert(Bench.iters(None) == 2)).isEmpty)
    assert(warnings(assert(Bench.iters(Some("5")) == 5)).isEmpty)
    for (bad <- Seq("", "0", "-3", "3x", "9999999999")) {
      val w = warnings(assert(Bench.iters(Some(bad)) == 2, s"iters=\"$bad\""))
      assert(w.size == 1 && w.head.contains("SPARK_GRAFT_BENCH_ITERS") &&
        w.head.contains("\"" + bad + "\""), s"iters=\"$bad\" warned $w")
    }
  }
}
