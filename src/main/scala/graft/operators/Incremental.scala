package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Watermark-window incremental extraction.
  *
  * Reference analog: the ADF ingestion pipeline (reference: pipeline/
  * incremental_ingestion.json — activities `last_cdc` Lookup →
  * `current_time` SetVariable → `sql_to_datalake` Copy → `max_cdc` Script →
  * `update_last_cdc`) copies rows where
  * `updated_at > last_watermark AND updated_at <= current_time`, then
  * persists the new watermark.
  *
  * Scale design: the window predicate is a plain filter on the sequence
  * column, so it reaches the parquet scan as a pushed filter (and prunes
  * partitions when the source is partitioned by time) — the extraction
  * reads only the new slice regardless of total table size.
  */
object Incremental {

  /** Rows in the half-open CDC window (low, high]. */
  def extractWindow(df: DataFrame, seqCol: String, lowExclusive: Column,
                    highInclusive: Column): DataFrame =
    df.filter(col(seqCol) > lowExclusive && col(seqCol) <= highInclusive)

  /** CDC window over a raw epoch-NANOS long column, with the bounds given
    * in epoch MICROS. The predicate is translated exactly to the nanos
    * domain (`micros(ts) > L  ⟺  ts > L*1000 + 999`, since micros is the
    * truncating division by 1000), so the comparison stays a primitive
    * long filter the parquet reader can push down — unlike a filter on the
    * converted timestamp, which is evaluated only after the scan.
    */
  def extractWindowNanos(raw: DataFrame, nanosCol: String,
                         lowExclusiveMicros: Long,
                         highInclusiveMicros: Long): DataFrame =
    raw.filter(col(nanosCol) > lowExclusiveMicros * 1000L + 999L &&
      col(nanosCol) <= highInclusiveMicros * 1000L + 999L)

  /** The next watermark after an extraction: max of the sequence column
    * (ADF `max_cdc` Script activity analog). Single-row aggregate.
    */
  def nextWatermark(extracted: DataFrame, seqCol: String): DataFrame =
    extracted.agg(max(col(seqCol)).as("watermark"))

  /** Incremental aggregate refresh: combine partial aggregates from an
    * already-aggregated base batch and a new batch without rescanning the
    * base data — the re-aggregation merges partial states (sums of sums).
    * All aggregate columns must be decomposable (sum/count/min/max).
    */
  def mergeAggregates(parts: Seq[DataFrame], keys: Seq[String],
                      sumCols: Seq[String]): DataFrame = {
    val unioned = parts.reduce(_ unionByName _)
    unioned.groupBy(keys.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Partial aggregate of a SIGNED delta (the z-set/DBSP change shape:
    * inserts carry sign +1, retractions −1). Per key it emits Σ sign as
    * `countCol` and, for each `(name, valueExpr)`, Σ(±valueExpr) as
    * `name` — computed as `CASE WHEN sign>0 THEN v WHEN sign<0 THEN −v END`
    * so the aggregate keeps the value expression's own type (a DECIMAL
    * money column stays exact decimal, never widened by a sign multiply)
    * AND a sign outside {−1, +1} is a NO-OP on both aggregates: the
    * count adds 0 and the value CASE yields null, which sum() drops —
    * the two can never disagree (an `otherwise(−v)` here would book a
    * sign-0 row's value as a retraction while the count ignored it,
    * corrupting the view below the underflow fail-fast's radar).
    * One hash-agg over the delta only; output is delta-keyspace-sized.
    */
  def signedPartial(delta: DataFrame, keys: Seq[String], sign: Column,
                    countCol: String,
                    sums: Seq[(String, Column)]): DataFrame =
    delta.groupBy(keys.map(col): _*)
      .agg(sum(sign.cast("long")).as(countCol),
        sums.map { case (n, v) =>
          sum(when(sign > 0, v).when(sign < 0, -v)).as(n)
        }: _*)

  /** Signed-delta incremental view maintenance: fold `deltaPartial`
    * (from [[signedPartial]]) into a maintained grouped-aggregate view
    * without rescanning the base data — the refresh costs
    * O(|delta| + |touched keys|) whatever the base table size, which is
    * the whole point at 100 TB (a nightly delta maintains a view over
    * years of facts with zero fact-table rescans). Semantics match a
    * full recompute over (base ∖ retracted) ∪ inserted:
    *   - groups whose count reaches zero VANISH (≡ GROUP BY emitting no
    *     row for an empty group);
    *   - a count going negative means the delta retracted rows the view
    *     never held — that is corrupt input, and the merge FAILS FAST
    *     (raise_error in the count projection) rather than emitting a
    *     plausible-but-wrong view.
    * One keyspace shuffle (the merge hash-agg); at scale both sides
    * bucket by the keys and the merge is exchange-free.
    */
  def applySignedDelta(view: DataFrame, deltaPartial: DataFrame,
                       keys: Seq[String], countCol: String,
                       sumCols: Seq[String]): DataFrame = {
    val merged = view.unionByName(deltaPartial)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(countCol)).as(countCol),
        sumCols.map(c => sum(col(c)).as(c)): _*)
    merged
      .withColumn(countCol,
        when(col(countCol) >= 0, col(countCol))
          .otherwise(raise_error(concat(
            lit(s"IVM underflow: count < 0 after signed merge on $countCol"),
            lit(" — the delta retracted rows the view never held"))))
          .cast("long"))
      .filter(col(countCol) > 0)
  }

  /** Late-arrival audit: watermark CDC silently misses rows whose sequence
    * value lands AT OR BELOW the stored watermark after extraction already
    * passed it (a writer committing out of order) — the blind spot every
    * `updated_at > last_cdc` pipeline shares, the reference's included.
    * This measures it: rows in `arrivals` (e.g. today's raw landing data)
    * whose seq is ≤ the watermark that extraction has already consumed
    * past. Emits one row (n_late, min/max late seq) for a DQ gate; a
    * nonzero count means the affected window needs a targeted re-extract
    * (the predicate is pushed, so the audit reads only the late slice).
    */
  def lateArrivalAudit(arrivals: DataFrame, seqCol: String,
                       consumedWatermark: Column): DataFrame =
    arrivals.filter(col(seqCol) <= consumedWatermark)
      .agg(count(lit(1)).as("n_late"),
        min(col(seqCol)).as("earliest_late"),
        max(col(seqCol)).as("latest_late"))
}
