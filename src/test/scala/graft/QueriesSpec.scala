package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graft.SparkInternals
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every SparkEntry query must run at sf0.01, return rows, and keep a
  * stable, fully-named schema (the driver's DuckDB compare sorts columns by
  * name — an auto-generated name like `sum(x)` would silently break it).
  * Mirrors the reference's all-queries correctness runner
  * (`/root/reference/tests/tpch_correctness_test.rs:139-158`).
  *
  * Each query's plans must also match its committed fingerprint in
  * `plans/fingerprints.tsv` (see [[PlanFingerprint]]), the guard that lets
  * a refactor prove it left every plan unchanged — the reference's
  * plan-snapshot practice (`tests/tpch_plans_test.rs`). The fingerprint
  * comes from a second build, after the first build and `count()` have
  * warmed every per-application memo, so test order cannot change it.
  * Every run writes the normalized plan texts to
  * `target/plan-fingerprints/<name>.txt` and the full name → hash table to
  * `target/plan-fingerprints/fingerprints.tsv`.
  *
  * Leak gate, the reference's `tests/stateful_data_cleanup.rs` practice:
  * no query may add a CacheManager entry or change the set of names in
  * the session's function registry, and once the spec's frames are
  * unreachable the ContextCleaner must have taken back every RDD the
  * queries persisted.
  */
class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private val autoNamed = """.*[()].*""".r

  private val committedFile = Paths.get("plans/fingerprints.tsv")
  private val outDir = Paths.get("target/plan-fingerprints")

  private def readTsv(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator.map(_.split("\t"))
      .collect { case Array(n, h) => n -> h }.toMap

  private lazy val committed = readTsv(committedFile)
  private def functionNames(): Set[String] =
    spark.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet
  private val current = TrieMap.empty[String, String]
  private var persistedAtStart = Set.empty[Int]

  override def beforeAll(): Unit = {
    super.beforeAll()
    persistedAtStart = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs, returns rows, schema is stable") {
      val cachedBefore = SparkInternals.cachedPlans(spark)
      val functionsBefore = functionNames()
      val df = fn(spark, sf01)
      val fields = df.schema.fields
      assert(fields.nonEmpty, "empty schema")
      fields.foreach { f =>
        assert(autoNamed.unapplySeq(f.name).isEmpty,
          s"auto-generated column name '${f.name}' — alias it explicitly")
      }
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows at sf0.01")

      val texts = PlanFingerprint.capture(spark, name)(fn(spark, sf01))
      val fp = PlanFingerprint.hash(texts)
      current(name) = fp
      Files.createDirectories(outDir)
      val dump = outDir.resolve(s"$name.txt")
      Files.writeString(dump, PlanFingerprint.report(texts))
      val cachedAdded = SparkInternals.cachedPlans(spark)
        .filterNot(c => cachedBefore.exists(_ eq c))
      if (cachedAdded.nonEmpty)
        fail(s"$name left CacheManager entries over:\n" + cachedAdded
          .map(_.plan.treeString.linesIterator.take(3).mkString("\n"))
          .mkString("\n"))
      val functionsAdded = functionNames() -- functionsBefore
      val functionsDropped = functionsBefore -- functionNames()
      if (functionsAdded.nonEmpty || functionsDropped.nonEmpty)
        fail(s"$name changed the session's function registry: added " +
          s"${functionsAdded.toSeq.sorted.mkString("[", ", ", "]")}, " +
          s"dropped ${functionsDropped.toSeq.sorted.mkString("[", ", ", "]")}")
      val want = committed.get(name)
      assert(want.contains(fp),
        s"$name: plan fingerprint $fp != committed ${want.getOrElse("(none)")}" +
          s" in $committedFile; normalized plans written to $dump")
    }
  }

  test("every query has an oracle or a documented exemption") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // Every query is oracled — p12 (the last holdout) now uses axis-sign
    // LSH buckets that DuckDB recomputes, so even the approximate ANN
    // answer is differentially verified.
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
  }

  test("no persisted RDD outlives the queries once unreachable") {
    val sc = spark.sparkContext
    def leftover = sc.getPersistentRDDs.filter { case (id, _) =>
      !persistedAtStart(id) }
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (sc.getPersistentRDDs.size > persistedAtStart.size &&
           System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    assert(sc.getPersistentRDDs.size <= persistedAtStart.size,
      "persisted RDDs left behind:\n" + leftover.values
        .map(r => s"rdd ${r.id} created at ${SparkInternals.creationSite(r)}")
        .mkString("\n"))
  }

  /** Queries this run did not reach keep their committed hash, so the
    * written table is always complete and can replace the committed one.
    */
  override def afterAll(): Unit = {
    try if (current.nonEmpty) {
      val all = (committed ++ current).toSeq.sortBy(_._1)
      Files.createDirectories(outDir)
      Files.writeString(outDir.resolve("fingerprints.tsv"),
        all.map { case (n, h) => s"$n\t$h\n" }.mkString)
    } finally super.afterAll()
  }
}
