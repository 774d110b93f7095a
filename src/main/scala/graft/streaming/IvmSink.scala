package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Incremental
import graft.sources.Snapshots

/** `foreachBatch` signed-delta IVM sink — the streaming half of q240:
  * a change feed carrying inserts (+1) AND retractions (−1) maintains a
  * grouped-aggregate view in a bucketed [[Snapshots]] store, each
  * micro-batch touching only the key buckets it affects (per-batch cost
  * O(batch + touched buckets), never O(view)).
  *
  * Unlike the SCD sinks — whose merges are idempotent by construction,
  * so at-least-once redelivery is absorbed for free — signed ADDITION is
  * NOT idempotent: replaying a committed batch would double-apply it.
  * The sink therefore commits a batch high-water MARKER as a row of the
  * view itself (key = [[MarkerKey]], count = batchId + 1), so marker and
  * data land in ONE atomic manifest commit — the Delta `txnAppId/
  * txnVersion` pattern without a table format. A replayed batch
  * (batchId below the stored marker) rewrites the touched buckets
  * unchanged. The marker's bucket is forced into every batch's touched
  * set by a probe row (sign zeroed AND filtered out of the aggregate
  * domain before it can reach the view), so the marker is always read
  * and re-committed together with the data.
  *
  * Underflow (a retraction of rows the view never held) fails the batch
  * via [[Incremental.applySignedDelta]]'s raise_error — the stream stops
  * rather than committing a plausible-but-wrong view.
  */
object IvmSink {

  /** Reserved key for the batch high-water marker row. Business keys
    * must never use it (documented contract; Long.MinValue is outside
    * every fixture's and any sane surrogate-key domain).
    */
  val MarkerKey: Long = Long.MinValue

  /** The maintained view without its marker row — what readers consume. */
  def readView(spark: org.apache.spark.sql.SparkSession, path: String,
               keyCol: String): DataFrame =
    Snapshots.read(spark, path).filter(col(keyCol) =!= MarkerKey)

  /** The sink: partially aggregate the micro-batch's signed rows and
    * fold them into the bucketed view. `sums` maps output column name →
    * value expression over the batch's columns (the q240 contract).
    */
  def signedView(path: String, keyCol: String, signCol: String,
                 countCol: String, sums: Seq[(String, Column)],
                 buckets: Int = ScdSinks.DefaultBuckets)
                (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val sumNames = sums.map(_._1)

    def partial(b: DataFrame): DataFrame =
      Incremental.signedPartial(b.filter(col(keyCol) =!= MarkerKey),
        Seq(keyCol), col(signCol), countCol, sums)

    /** One marker row typed exactly like the merged view. */
    def marker(like: DataFrame): DataFrame = {
      val sch = like.schema
      spark.range(1).select(
        lit(MarkerKey).cast(sch(keyCol).dataType).as(keyCol) +:
          lit(batchId + 1L).cast(sch(countCol).dataType).as(countCol) +:
          sumNames.map(n => lit(0).cast(sch(n).dataType).as(n)): _*)
    }

    // a zero-signed probe row on the marker key forces the marker's
    // bucket into the touched set. Two independent guards keep it out of
    // the view: partial() filters MarkerKey rows before aggregating, and
    // the sign really IS zeroed — signedPartial books sign-0 rows as
    // no-ops on both aggregates — so a refactor dropping either guard
    // alone still cannot fold the probe's value into the marker bucket.
    val probe = batch.limit(1)
      .withColumn(keyCol, lit(MarkerKey).cast(batch.schema(keyCol).dataType))
      .withColumn(signCol, lit(0).cast(batch.schema(signCol).dataType))
    val updates = batch.unionByName(probe)

    Snapshots.mergeCommitBuckets(updates, path, Seq(keyCol), buckets)(
      init = { u =>
        val dp = partial(u)
        val v = Incremental.applySignedDelta(
          dp.filter(lit(false)), dp, Seq(keyCol), countCol, sumNames)
        v.unionByName(marker(v))
      })(
      merge = { (base, u) =>
        val stored = base.filter(col(keyCol) === MarkerKey)
          .agg(coalesce(max(col(countCol)), lit(0L)).cast("long"))
          .head().getLong(0)
        if (batchId + 1L <= stored) base // replay: rewrite unchanged
        else {
          val v = Incremental.applySignedDelta(
            base.filter(col(keyCol) =!= MarkerKey), partial(u),
            Seq(keyCol), countCol, sumNames)
          v.unionByName(marker(v))
        }
      })
    Snapshots.maybeCompact(spark, path, Snapshots.CompactAfterRoots)
    ()
  }
}
