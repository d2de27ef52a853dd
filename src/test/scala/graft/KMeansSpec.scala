package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KMeans

/** Distributed Lloyd training: seed rule, assignment argmin, empty-cell
  * carry, monotone inertia descent, determinism, degradation on
  * empty/malformed input, and the codegen pins for the trained-codebook
  * distance expression.
  */
class KMeansSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Dim = 4

  /** Exact-in-float corpus (quarters): float→decimal conversion is
    * unambiguous, so the driver-side mean re-derivation below has a
    * single correct answer under any cast rule.
    */
  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(Dim)(j =>
        (((i * 7 + j * 13) % 17) - 8) * 0.25f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** Two groups of identical points: the empty-cell-carry corpus. */
  private def twinGroups = {
    import spark.implicits._
    (Seq.fill(10)(Array(0f, 0f, 0f, 0f)) ++ Seq.fill(10)(Array(8f, 8f, 8f, 8f)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
  }

  private def key(id: Long): Long = (id * 2654435761L) % 4294967296L

  test("snapshot 0 is exactly the k seed vectors ranked by the " +
    "scrambled key, elements widened float->double") {
    val df = corpus(40)
    val m = KMeans.train(df, "vec_id", "embedding", k = 5, dim = Dim,
      iters = 1)
    val expectedIds = (0L until 40L).sortBy(id => (key(id), id)).take(5)
    import spark.implicits._
    val vecs = df.as[(Long, Seq[Float])].collect().toMap
    val seeds = expectedIds.flatMap(id => vecs(id).map(_.toDouble)).toArray
    assert(m.snapshots.head.sameElements(seeds))
    assert(m.k == 5)
  }

  test("every final assignment is the true first-min argmin against the " +
    "final centroids (pure double math, driver re-derivation)") {
    val df = corpus(60)
    val m = KMeans.train(df, "vec_id", "embedding", k = 4, dim = Dim,
      iters = 3)
    val dl = KMeans.dists(col("embedding"), m)
    val assigned = df.select(col("vec_id"), col("embedding"), dl.as("dl"))
      .select(col("vec_id"), col("embedding"),
        (array_position(col("dl"), array_min(col("dl"))) - 1).as("cell"))
      .collect()
    assigned.foreach { r =>
      val v = r.getSeq[Float](1)
      val d2 = (0 until m.k).map { l =>
        (0 until Dim).foldLeft(0.0) { (acc, j) =>
          val x = v(j).toDouble - m.centroids(l * Dim + j)
          acc + x * x
        }
      }
      assert(r.getLong(2) == d2.indexOf(d2.min),
        s"vec ${r.getLong(0)}: got cell ${r.getLong(2)}")
    }
  }

  test("iteration means match a driver-side exact re-derivation on the " +
    "quarter-valued corpus (sum/count then round to 6 dp)") {
    val df = corpus(50)
    val m = KMeans.train(df, "vec_id", "embedding", k = 3, dim = Dim,
      iters = 1)
    // re-derive iteration 1 from snapshot 0 in plain Scala
    val c0 = m.snapshots(0)
    import spark.implicits._
    val vecs = df.as[(Long, Seq[Float])].collect().sortBy(_._1)
    val assign = vecs.map { case (id, v) =>
      val d2 = (0 until 3).map { l =>
        (0 until Dim).foldLeft(0.0) { (acc, j) =>
          val x = v(j).toDouble - c0(l * Dim + j); acc + x * x
        }
      }
      (id, d2.indexOf(d2.min), v)
    }
    val expected = c0.clone()
    for (cell <- 0 until 3; j <- 0 until Dim) {
      val members = assign.filter(_._2 == cell)
      if (members.nonEmpty) {
        // quarter sums are exact in double, so the decimal-sum →
        // double cast is the identity; then mirror the engine: one
        // double division, then the 6-dp HALF_UP round.
        val s = members.map(_._3(j).toDouble).sum
        expected(cell * Dim + j) = BigDecimal(s / members.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    assert(m.snapshots(1).sameElements(expected))
  }

  test("a cell that receives no vectors keeps its previous centroid " +
    "(the empty-cell carry)") {
    // two tight groups near (0,0,0,0) and (8,8,8,8), plus one far
    // outlier that seeds a cell and then attracts nothing once the
    // groups' seeds converge — instead force it: 3 seeds, one of them
    // the outlier at (100,...); after iteration 1 the outlier still
    // holds its own cell (it IS its only member), so plant the empty
    // cell differently: k=3 over data where two seeds land in the SAME
    // tight group. The duplicated seed's cell loses every vector to
    // the lower-indexed twin (first-min tie rule) when the twin is
    // strictly closer after the first mean step.
    val m = KMeans.train(twinGroups, "vec_id", "embedding", k = 3, dim = Dim,
      iters = 3)
    // with identical points per group, at least one cell is a twin of
    // another (two seeds from one group) — its centroid must persist
    // unchanged from some earlier snapshot rather than become NaN/0.
    assert(m.centroids.forall(v => !v.isNaN))
    val perCell = (0 until m.k).map(l =>
      m.centroids.slice(l * Dim, (l + 1) * Dim).toSeq)
    assert(perCell.forall(c => c.forall(x => x == 0.0 || x == 8.0)))
    // two seeds came from one identical-point group, so two cells must
    // hold the same centroid — the starved twin carried, didn't decay
    assert(perCell.distinct.size < m.k)
  }

  test("every inertia(t-1) equals a driver re-derivation against " +
    "snapshots(t-1): exact sum of round(min d2, 6), then doubleValue") {
    import spark.implicits._
    for ((df, k) <- Seq(corpus(60) -> 4, twinGroups -> 3)) {
      val m = KMeans.train(df, "vec_id", "embedding", k = k, dim = Dim,
        iters = 3)
      val vecs = df.as[(Long, Seq[Float])].collect()
      val expected = m.snapshots.init.map { c =>
        vecs.map { case (_, v) =>
          val d2 = (0 until c.length / Dim).map { l =>
            (0 until Dim).foldLeft(0.0) { (acc, j) =>
              val x = v(j).toDouble - c(l * Dim + j); acc + x * x
            }
          }
          BigDecimal(d2.min).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .bigDecimal
        }.foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue
      }
      assert(m.inertia.map(java.lang.Double.doubleToRawLongBits) ==
        expected.map(java.lang.Double.doubleToRawLongBits),
        s"inertia ${m.inertia} vs re-derived $expected")
    }
  }

  test("one Lloyd iteration runs the jobs of one grouped collect, with " +
    "AQE on and off") {
    val df = corpus(60)
    def train(iters: Int) =
      KMeans.train(df, "vec_id", "embedding", k = 4, dim = Dim, iters = iters)
    for (aqe <- Seq("true", "false"))
      withSessionConf("spark.sql.adaptive.enabled", aqe) {
        val perIter = jobsOf(train(3)) - jobsOf(train(2))
        val grouped =
          jobsOf(df.groupBy(col("vec_id") % 4).count().collect())
        assert(perIter == grouped,
          s"AQE $aqe: $perIter jobs per iteration, one grouped collect $grouped")
      }
  }

  test("inertia is monotonically non-increasing across iterations " +
    "(Lloyd descent; 6-dp centroid rounding bounded by epsilon)") {
    val m = KMeans.train(
      graft.engine.Tables.load(spark, sf001, "embeddings"),
      "vec_id", "embedding", k = 16, dim = 64, iters = 6)
    assert(m.inertia.length == 6)
    m.inertia.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-3, s"inertia rose: ${m.inertia}")
    }
    // and it actually DESCENDS from the arbitrary seeds
    assert(m.inertia.last < m.inertia.head)
  }

  test("training is deterministic: two runs produce identical snapshots, " +
    "inertia, and centroids") {
    val df = corpus(80)
    val a = KMeans.train(df, "vec_id", "embedding", k = 4, dim = Dim, iters = 3)
    val b = KMeans.train(df, "vec_id", "embedding", k = 4, dim = Dim, iters = 3)
    assert(a.centroids.sameElements(b.centroids))
    assert(a.inertia == b.inertia)
    assert(a.snapshots.size == b.snapshots.size &&
      a.snapshots.zip(b.snapshots).forall(p => p._1.sameElements(p._2)))
  }

  test("empty and all-malformed corpora degrade to an empty model; " +
    "queries over it return no rows, not an exception") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val m = KMeans.train(empty, "vec_id", "embedding", k = 16, dim = Dim,
      iters = 3)
    assert(m.k == 0 && m.inertia.isEmpty)
    assert(m.snapshots.size == 1 && m.snapshots.head.isEmpty)
    val short = Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val m2 = KMeans.train(short, "vec_id", "embedding", k = 16, dim = Dim,
      iters = 3)
    assert(m2.k == 0)
  }

  test("codegen and interpreted eval agree for the trained-codebook " +
    "distance expression; it is not CodegenFallback and stays in WSCG") {
    val df = corpus(30)
    val m = KMeans.train(df, "vec_id", "embedding", k = 4, dim = Dim,
      iters = 2)
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val d = (0 until 30).map { i =>
        val v = Array.tabulate(Dim)(j => (((i * 7 + j * 13) % 17) - 8) * 0.25f)
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
      d.select(col("vec_id"),
          KMeans.distsColumn(col("embedding"), m.bc, Dim).as("dl"))
        .selectExpr("vec_id", "dl[0]", "dl[3]")
        .collect().map(_.toString).sorted
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(run(spark).sameElements(run(interp)))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[KMeans.CentroidDists]))
    val dir = java.nio.file.Files.createTempDirectory("km_wscg").toString
    df.write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .select(KMeans.distsColumn(col("embedding"), m.bc, Dim).as("dl"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"), s"fell out of WSCG:\n$plan")
  }

  test("sampled training trains on EXACTLY the deterministic hash-sample: " +
    "snapshots equal a full train over the pre-filtered slice, and the " +
    "sample sees fewer rows than the corpus") {
    val df = corpus(80)
    val frac = 0.5
    val slice = graft.operators.Sampling
      .deterministicSample(df, "vec_id", frac)
    val nSlice = slice.count()
    assert(nSlice > 0 && nSlice < 80, s"degenerate sample: $nSlice")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val sampled = KMeans.train(df, "vec_id", "embedding", k = 4, dim = Dim,
      iters = 2, sampleFraction = frac)
    val manual = KMeans.train(slice, "vec_id", "embedding", k = 4, dim = Dim,
      iters = 2)
    assert(sampled.snapshots.size == manual.snapshots.size)
    sampled.snapshots.zip(manual.snapshots).foreach { case (a, b) =>
      assert(a.sameElements(b), "sampled train diverged from the slice train")
    }
    assert(sampled.inertia == manual.inertia)
    // The training slice must not stay cached after train returns.
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore), "training slice left persisted")
  }
}
