package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compaction planning over a bucketed store's manifest — the OPTIMIZE
  * decision of a lakehouse maintenance job (Delta/Iceberg's small-file
  * compaction), planned from METADATA only.
  *
  * Reference analog: the medallion lake the reference lands
  * (local_spotify_dab Autoloader → Delta) relies on the platform's
  * OPTIMIZE for small-file health; this is that planner re-expressed
  * over the repo's own [[Snapshots]] bucket layout.
  *
  * The plan groups ADJACENT buckets into bins of ~`targetRows` by the
  * classic cumulative-offset rule: a bucket joins the bin its STARTING
  * row offset falls in (`(cumsum − rows) div target`). Consequences,
  * all deliberate:
  *   - buckets already at/above target sit alone in their bin (their
  *     start crosses a fresh multiple of target);
  *   - runs of small buckets coalesce until the target fills;
  *   - the rule is a pure function of (bucket order, row counts) — no
  *     float, no heuristics — so the DuckDB oracle replays it exactly.
  *
  * Scale: the input is O(buckets) manifest rows, never data rows — the
  * single unpartitioned cumsum window rides that bounded frame (the
  * q256 discipline: windows without partitions are fine on frames whose
  * size is a CONFIG constant, not a data volume). The expensive part of
  * compaction — rewriting the data — is exactly what this plan lets a
  * maintenance job do selectively.
  */
object Compaction {

  /** Per-bucket bin assignment: (bucketCol, rowsCol, bin_start_offset,
    * bin). Buckets are ordered by `bucketCol`.
    */
  def assignBins(manifest: DataFrame, bucketCol: String, rowsCol: String,
                 targetRows: Long): DataFrame = {
    require(targetRows >= 1, "compaction target must be at least one row")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(bucketCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    manifest
      .withColumn("__cum", sum(col(rowsCol)).over(w))
      .withColumn("bin_start", col("__cum") - col(rowsCol))
      .withColumn("bin", expr(s"bin_start div ${targetRows}L"))
      .drop("__cum")
  }

  /** The per-bin compaction work list: bucket span, bucket count, total
    * rows, and whether the bin still runs under target (the tail bin
    * legitimately can).
    */
  def planBins(manifest: DataFrame, bucketCol: String, rowsCol: String,
               targetRows: Long): DataFrame =
    assignBins(manifest, bucketCol, rowsCol, targetRows)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col(rowsCol)).as("bin_rows"),
        min(col(bucketCol)).as("first_bucket"),
        max(col(bucketCol)).as("last_bucket"))
      .withColumn("under_target", col("bin_rows") < targetRows)
      .orderBy("bin")
}
