package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BpeTrain

/** BPE trainer: the distributed merge loop against an independent
  * plain-Scala reference implementation of classic BPE (naive pair
  * counts, greedy left-to-right non-overlapping rewrite), the
  * overlap-run corner (`aaaa`), chained merges (a merged symbol merging
  * again), seeded random vocabularies at every budget up to 12,
  * determinism, early exhaustion, and degradation. The trainer reads its
  * input once and leaves no persisted RDD behind, whether it runs its
  * budget out, exhausts the pairs or fails.
  */
class BpeTrainSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Reference trainer — straight from the Sennrich description, no
    * BpeTrain internals: count every adjacent position, pick (count
    * desc, pair asc), rewrite greedily left-to-right.
    */
  private def refTrain(vocab: Map[String, Long], budget: Int)
      : (Seq[(String, String, Long)], Map[String, Seq[String]]) = {
    var words: Map[String, (Long, Seq[String])] =
      vocab.map { case (w, f) => w -> (f, w.map(_.toString)) }
    val merges = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var done = false
    while (r < budget && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.values.foreach { case (f, syms) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, rr), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((l, rr, c))
        words = words.map { case (w, (f, syms)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
              out += (l + rr); i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> (f, out.toSeq)
        }
        r += 1
      }
    }
    (merges.result(), words.map { case (w, (_, s)) => w -> s })
  }

  private def vocabDf(v: Map[String, Long]) = {
    import spark.implicits._
    v.toSeq.toDF("word", "freq")
  }

  test("trained merges equal the reference on a mixed corpus, rank by " +
    "rank, including counts") {
    val v = Map("their" -> 10L, "there" -> 8L, "then" -> 6L, "the" -> 20L,
      "rat" -> 5L, "rate" -> 4L, "pirate" -> 3L, "at" -> 7L, "a" -> 9L)
    val (ref, _) = refTrain(v, 6)
    val m = BpeTrain.train(vocabDf(v), 6)
    assert(m.merges.map(x => (x.lhs, x.rhs, x.cnt)) == ref)
    // sanity: the fixture really exercises a chained merge (some rank's
    // lhs or rhs is itself a multi-char merged symbol)
    assert(m.merges.exists(x => x.lhs.length > 1 || x.rhs.length > 1))
  }

  test("greedy non-overlap: runs of a repeated symbol merge at even " +
    "offsets (aaaa -> aa,aa; aaa -> aa,a), matching the reference") {
    val v = Map("aaaa" -> 10L, "aaa" -> 7L, "aa" -> 5L, "baaab" -> 3L)
    val (refMerges, refWords) = refTrain(v, 3)
    val m = BpeTrain.train(vocabDf(v), 3)
    assert(m.merges.map(x => (x.lhs, x.rhs, x.cnt)) == refMerges)
    // and the engine's rewritten vocabulary agrees element-wise
    import spark.implicits._
    val syms = vocabDf(v).select(col("word"),
        BpeTrain.applyMerges(BpeTrain.initialSyms(col("word")), m.merges)
          .as("syms"))
      .as[(String, Seq[String])].collect().toMap
    assert(syms == refWords)
  }

  test("tokenizedVocab n_syms equals the rewritten length per word") {
    val v = Map("banana" -> 6L, "bandana" -> 4L, "ana" -> 2L)
    val m = BpeTrain.train(vocabDf(v), 4)
    val (_, refWords) = refTrain(v, 4)
    import spark.implicits._
    val sizes = BpeTrain.tokenizedVocab(vocabDf(v), m)
      .as[(String, Long, Long)].collect().map(t => t._1 -> t._3).toMap
    assert(sizes == refWords.map { case (w, s) => w -> s.length.toLong })
  }

  test("training is deterministic and stops early when every word is a " +
    "single symbol (exhaustion, not an error)") {
    val v = Map("ab" -> 3L, "cd" -> 2L)
    val a = BpeTrain.train(vocabDf(v), 10)
    val b = BpeTrain.train(vocabDf(v), 10)
    assert(a.merges == b.merges)
    // after merging ab and cd nothing adjacent remains: 2 merges only
    assert(a.merges.length == 2)
  }

  test("single-char and empty vocabularies yield an empty model") {
    assert(BpeTrain.train(vocabDf(Map("a" -> 5L, "b" -> 2L)), 5)
      .merges.isEmpty)
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("word", "freq")
    assert(BpeTrain.train(empty, 5).merges.isEmpty)
  }

  test("the input vocabulary is read once, not once per merge round") {
    import spark.implicits._
    val v = Map("their" -> 10L, "there" -> 8L, "then" -> 6L, "the" -> 20L,
      "rat" -> 5L, "rate" -> 4L, "pirate" -> 3L, "at" -> 7L, "a" -> 9L)
    val reads = spark.sparkContext.longAccumulator("bpe-vocab-reads")
    val counted = spark.sparkContext.parallelize(v.toSeq, 4)
      .map { row => reads.add(1); row }.toDF("word", "freq")
    val m = BpeTrain.train(counted, 6)
    assert(m.merges.length == 6)
    assert(reads.sum == v.size, s"read ${reads.sum} rows of ${v.size}")
  }

  /** Seeded vocabulary over a 3-letter alphabet: short words repeat
    * pairs, so several collapse to one symbol while training goes on.
    */
  private def randomVocab(seed: Long): Map[String, Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(40)(Seq.fill(1 + rnd.nextInt(7))("abc"(rnd.nextInt(3))).mkString
        -> (1L + rnd.nextInt(20)))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  test("seeded random vocabularies match the reference for budgets 1-12, " +
    "and training leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    for (seed <- Seq(7L, 19L)) {
      val v = randomVocab(seed)
      val df = vocabDf(v)
      val (full, _) = refTrain(v, 12)
      // some multi-letter word is down to one symbol while merges remain
      assert((1 until full.length).exists(b => refTrain(v, b)._2.exists {
        case (w, syms) => w.length > 1 && syms.length == 1 }),
        s"seed $seed: no word collapses mid-training")
      for (budget <- 1 to 12) {
        val before = sc.getPersistentRDDs.keySet
        val got = BpeTrain.train(df, budget)
        assert(got.merges.map(x => (x.lhs, x.rhs, x.cnt)) ==
          refTrain(v, budget)._1, s"seed $seed, budget $budget")
        assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
          s"seed $seed, budget $budget left persisted RDDs")
      }
    }
  }

  test("an exhausted run and a failed run leave no persisted RDD behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val exhausted = BpeTrain.train(vocabDf(Map("ab" -> 3L, "cd" -> 2L)), 10)
    assert(exhausted.merges.length == 2)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    val failing = sc.parallelize(Seq("ab" -> 1L, "bc" -> 2L), 2)
      .map { row => if (row._1 == "bc") sys.error("unreadable row"); row }
      .toDF("word", "freq")
    intercept[Exception](BpeTrain.train(failing, 3))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("wordVocab restricts to post-norm alphanumeric whitespace tokens " +
    "and counts occurrences, not documents") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat AND the  hat!"),
      (2L, "the cat cat")).toDF("doc_id", "text")
    val v = BpeTrain.wordVocab(docs, col("text"))
      .as[(String, Long)].collect().toMap
    // "hat!" fails ^[a-z0-9]+$ and is excluded; "the" appears 3 times
    assert(v == Map("the" -> 3L, "cat" -> 3L, "and" -> 1L))
  }
}
