package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE/upsert: apply a batch of keyed changes to a base table — the
  * incremental-maintenance primitive every periodically-refreshed corpus
  * needs (new crawl snapshot over last month's, fixed documents over a
  * redaction pass, ...).
  *
  * Semantics of [[upsert]]: rows of `updates` replace base rows with the
  * same key; update keys absent from the base are inserts; base rows
  * untouched by any update pass through. Schemas must match. Exactly SQL
  * (FULL OUTER JOIN + COALESCE), so every merge is oracle-verifiable.
  *
  * Scale shape: one equi-join on the key. The typical delta is orders of
  * magnitude smaller than the base, but a plain broadcast would be wrong —
  * the OUTER side must keep every base row — so the join is a full outer
  * hash/sort-merge join and AQE sizes it; when `updates` is small its side
  * builds the hash map. No driver-side collection, no per-row lookups.
  */
object Merge {

  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame = {
    require(base.columns.sameElements(updates.columns),
      s"schema mismatch: base ${base.columns.mkString(",")} vs updates ${updates.columns.mkString(",")}")
    val b = base.columns.foldLeft(base)((d, c) => d.withColumnRenamed(c, s"__b_$c"))
    val u = updates.columns.foldLeft(updates)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
    // Replacement is gated on the PRESENCE of an update row (its key is
    // non-null on a matched join), not per-column coalesce: an update row
    // with a NULL non-key column must write that NULL, not resurrect the
    // base's old value.
    b.join(u, col(s"__b_$keyCol") === col(s"__u_$keyCol"), "full_outer")
      .select(base.columns.map(c =>
        when(col(s"__u_$keyCol").isNotNull, col(s"__u_$c"))
          .otherwise(col(s"__b_$c")).as(c)): _*)
  }
}
