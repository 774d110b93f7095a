package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.{Dedup, Scd}
import graft.sources.Snapshots

/** `foreachBatch` SCD sinks — the Spark-native analog of the reference's
  * DLT auto-CDC flows (reference: local_spotify_dab/src/gold/spotify_etl/
  * transformations/FactStream.py:96-105 `create_auto_cdc_flow` scd_type=1;
  * DimArtist.py:99-109 scd_type=2).
  *
  * The target is a BUCKETED parquet snapshot maintained through
  * [[graft.sources.Snapshots.mergeCommitBuckets]]: each micro-batch reads
  * only the key buckets it touches, merges, and commits only those
  * buckets — per-batch read and write are O(batch), not O(state), and the
  * manifest-pointer protocol keeps a crash at ANY point leaving a
  * complete, readable snapshot (the Delta-transactionality analog without
  * a table format). Every batch is idempotent — re-delivery re-derives
  * and re-commits the same buckets. On a real deployment with
  * Delta/Iceberg the commit becomes a MERGE and the merge logic below
  * becomes the MERGE condition; the dataflow shape (union + one keyed
  * shuffle over touched buckets, no read-modify-write loops) is
  * unchanged.
  */
object ScdSinks {

  /** Bucket count pinned at a target's first commit; size so one bucket
    * at full scale is a comfortable rewrite unit.
    */
  val DefaultBuckets = 16

  /** SCD1 (latest-wins) upsert sink: merge each micro-batch into the
    * snapshot at `path`, keeping the winning row per key.
    */
  def scd1(path: String, keys: Seq[String], orderCols: Seq[String],
           buckets: Int = DefaultBuckets)
          (batch: DataFrame, batchId: Long): Unit = {
    Snapshots.mergeCommitBuckets(batch, path, keys, buckets)(
      Dedup.latestByKey(_, keys, orderCols))(
      (base, b) => Scd.scd1Merge(base, b, keys, orderCols))
    Snapshots.maybeCompact(batch.sparkSession, path, Snapshots.CompactAfterRoots)
  }

  /** SCD2 history sink: merge each micro-batch of change rows into the
    * validity-interval history at `path`.
    */
  def scd2(path: String, keys: Seq[String], seqCol: String, tieCols: Seq[String],
           buckets: Int = DefaultBuckets)
          (batch: DataFrame, batchId: Long): Unit = {
    Snapshots.mergeCommitBuckets(batch, path, keys, buckets)(
      Scd.scd2FromChangelog(_, keys, seqCol, tieCols))(
      (hist, b) => Scd.scd2Merge(hist, b, keys, seqCol, tieCols))
    Snapshots.maybeCompact(batch.sparkSession, path, Snapshots.CompactAfterRoots)
  }
}
