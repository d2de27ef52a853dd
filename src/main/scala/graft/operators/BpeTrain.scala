package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shared

/** BPE merge-table TRAINING (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016 — the
  * classic byte-pair-encoding trainer every subword tokenizer ships):
  * the trainer half the p78/p87 encode queries were missing. Iterate a
  * fixed merge budget; each round counts all adjacent symbol pairs over
  * the word vocabulary (weighted by word frequency, every adjacent
  * position counted — the reference `get_stats` rule), picks the most
  * frequent pair (ties: lexicographically smallest (lhs, rhs) — a
  * deterministic stand-in for insertion order), and rewrites every word
  * by merging occurrences of that pair LEFT-TO-RIGHT NON-OVERLAPPING
  * (`aaa` + merge (a,a) → `aa`,`a`).
  *
  * Everything is SQL-recomputable so a DuckDB oracle replays the whole
  * training run: the pair counts are a plain adjacent-position
  * aggregate; the greedy rewrite is expressed two independent ways —
  * the engine folds each symbol array left-to-right with
  * `functions.aggregate` (merging with the array's last element; the
  * merged symbol `lhs+rhs` can never re-match `lhs`, which IS the
  * non-overlap rule), while the oracle marks match-start positions and
  * keeps odd offsets within each run of consecutive starts (runs only
  * arise when lhs = rhs) — the differential check proves the two
  * formulations equivalent.
  *
  * Words are the post-[[graft.functions.TextFunctions.normText]]
  * whitespace tokens restricted to `^[a-z0-9]+$` — the pre-tokenized
  * alphanumeric universe a classic BPE trainer merges over (punctuation
  * and non-ASCII are pre-tokenizer concerns, and the restriction keeps
  * Spark's UTF-16 `substring` and SQL codepoint `substr` trivially
  * agreed).
  *
  * Loop shape: the trainer iterates over the DISTINCT-WORD vocabulary,
  * built by one distributed count with map-side combine. It reads that
  * vocabulary once, into a [[org.apache.spark.sql.graft.Shared]] frame of
  * (freq, syms) that keeps only words of two or more symbols. Each merge
  * round is then one distributed pair-count aggregate over the current
  * frame (the shuffle carries the distinct-pair table), a ONE-ROW driver
  * exchange (the selected merge; the per-rank sequential dependency is
  * inherent to BPE), and one narrow per-row fold that applies that merge
  * to build the next round's frame. A word that collapses to one symbol
  * drops out, since it can never form a pair again. Round t thus folds
  * each surviving word once, not t times, and never re-reads the input.
  * The previous round's frame is released once the next round's
  * aggregate has read it, so training leaves no stored frame behind.
  */
object BpeTrain {

  /** One trained merge: `rank` is 1-based selection order. */
  case class Merge(rank: Int, lhs: String, rhs: String, cnt: Long) {
    def merged: String = lhs + rhs
  }

  case class Model(merges: Seq[Merge])

  /** The trainable word universe — see object doc. */
  val WordPattern = "^[a-z0-9]+$"

  /** (word, freq) over the alphanumeric whitespace tokens of `text`. */
  def wordVocab(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(filter(
        split(graft.functions.TextFunctions.normText(text), " "),
        w => length(w) > 0)).as("word"))
      .filter(col("word").rlike(WordPattern))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** word → array of its single-character symbols, by the same 1-based
    * substring walk the oracle uses (`substr(word, i, 1)`).
    */
  def initialSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** One greedy left-to-right non-overlapping merge application as a
    * pure fold: append each symbol, except when the accumulator's last
    * element is `lhs` and the incoming symbol is `rhs` — then replace
    * the last element with the merged symbol. `lhs+rhs ≠ lhs`, so a
    * just-merged symbol can never immediately re-match: exactly the
    * non-overlap rule, no flag needed.
    */
  def applyMerge(syms: Column, m: Merge): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(m.lhs) && x === lit(m.rhs),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(m.merged))))
        .otherwise(concat(acc, array(x))))

  def applyMerges(syms: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(syms)(applyMerge)

  /** Train a merge table of up to `budget` merges over a (word, freq)
    * vocabulary — see object doc. Stops early when no adjacent pair
    * remains (degenerate corpora; the EmptySweep contract).
    */
  def train(vocab: DataFrame, budget: Int): Model = {
    // (freq, syms) of the words that still have a pair, stored.
    def multiSymbol(df: DataFrame, syms: Column): DataFrame =
      Shared(df.select(col("freq"), syms.as("syms"))
        .filter(size(col("syms")) >= 2))
    val out = Seq.newBuilder[Merge]
    var cur: DataFrame = null
    var prev: DataFrame = null
    try {
      cur = multiSymbol(vocab, initialSyms(col("word")))
      var r = 1
      var exhausted = false
      while (r <= budget && !exhausted) {
        val best = cur
          .select(col("freq"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1)
          .collect()
        // `cur` is stored now; the frame it was folded from is not read again.
        if (prev != null) { Shared.release(prev); prev = null }
        if (best.isEmpty) exhausted = true
        else {
          val m = Merge(r, best(0).getString(0), best(0).getString(1),
            best(0).getLong(2))
          out += m
          if (r < budget) {
            prev = cur
            cur = multiSymbol(cur, applyMerge(col("syms"), m))
          }
          r += 1
        }
      }
    } finally {
      Seq(prev, cur).filter(_ != null).foreach(Shared.release)
    }
    Model(out.result())
  }

  /** (word, freq, n_syms) — the vocabulary tokenized by a trained
    * model (the join side for corpus-wide trained-token counting).
    */
  def tokenizedVocab(vocab: DataFrame, model: Model): DataFrame =
    vocab.select(col("word"), col("freq"),
      size(applyMerges(initialSyms(col("word")), model.merges))
        .cast("long").as("n_syms"))
}
