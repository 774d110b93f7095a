package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed snapshot diff — derive a CDC change set from two point-in-time
  * states of the same keyed frame (insert / delete / update), the inverse
  * of the SCD merge family: where `Scd` folds a change stream INTO a
  * dimension, this recovers the change stream BETWEEN two materialized
  * snapshots. The everyday uses are reconciliation (warehouse vs source
  * extract), late-backfill auditing, and bootstrapping CDC for sources
  * that only publish full dumps.
  *
  * Shape: one full-outer shuffle join on the key — the minimal possible
  * data movement for an arbitrary-key diff (both sides hash-partition on
  * the key; no broadcast assumption, since at 100 TB both snapshots are
  * large). Unchanged rows are dropped as early as the join output so the
  * result is change-sized, not snapshot-sized.
  */
object SnapshotDiff {

  /** Diff `newDf` against `oldDf` on `keys`; `compareCols` define row
    * equality. Output: key columns, `old_<c>`/`new_<c>` per compare
    * column, and `change_type` ∈ insert | delete | update.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
           compareCols: Seq[String]): DataFrame = {
    // Explicit presence markers, not is-null probes on compare columns —
    // a snapshot may legitimately carry null metric values.
    val o = compareCols.foldLeft(oldDf)((d, c) => d.withColumnRenamed(c, s"old_$c"))
      .withColumn("__in_old", lit(true))
    val n = compareCols.foldLeft(newDf)((d, c) => d.withColumnRenamed(c, s"new_$c"))
      .withColumn("__in_new", lit(true))
    val joined = o.join(n, keys, "full_outer")
    val inOld = coalesce(col("__in_old"), lit(false))
    val inNew = coalesce(col("__in_new"), lit(false))
    val same = compareCols.map(c => col(s"old_$c") <=> col(s"new_$c")).reduce(_ && _)
    joined
      .withColumn("change_type",
        when(!inOld, lit("insert"))
          .when(!inNew, lit("delete"))
          .when(!same, lit("update")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) ++
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))) :+
        col("change_type"): _*)
  }

  /** Inverse of `diff` — the MERGE-INTO shape: apply a change feed back
    * onto the base snapshot. Keys present in the delta either replace
    * the base row with the feed's `new_*` values (insert/update) or
    * remove it (delete); untouched base rows pass through. Contract:
    * `applyDelta(old, diff(old, new)) == new` (the roundtrip identity),
    * which is exactly how an incremental gold table consumes CDC.
    * One left-anti join (base × touched keys) + one union — both keyed
    * shuffles; the delta is usually a sliver of the base, so the anti
    * join's build side broadcasts at scale.
    */
  def applyDelta(base: DataFrame, delta: DataFrame, keys: Seq[String],
                 compareCols: Seq[String]): DataFrame = {
    val upserts = delta
      .filter(col("change_type").isin("insert", "update"))
      .select(keys.map(col) ++
        compareCols.map(c => col(s"new_$c").as(c)): _*)
    val touched = delta.select(keys.map(col): _*)
    base.join(touched, keys, "left_anti").unionByName(upserts)
  }
}
