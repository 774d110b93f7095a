package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT order statistics (medians and quantiles, weighted
  * or not) without the collect-every-value-per-group aggregate.
  *
  * Spark's exact `percentile` materializes each group's full value set
  * in one aggregation buffer — at millions of values per group that is
  * a single-threaded merge + sort per group and a GC storm (q220's
  * first draft: 13.5 s / 4 s GC for 3 groups × 3.1M slopes). The
  * value-bucket decomposition replaces it: one distributed hash-agg to
  * per-(group, bucket) weight sums, a cumulative over the SMALL bucket
  * frame locates the bucket(s) holding the needed ranks, and only THOSE
  * buckets' populations are ever sorted (a per-bucket window — the
  * decomposition's parallel unit). Values never leave the executors; no
  * group's full set is materialized anywhere.
  *
  * One core (`orderStats`) does this for every caller; the public
  * entry points are projections of it. An unweighted value is a row of
  * weight 1, so the unweighted forms are the weighted ones at unit
  * weights, and a median is the quantile q = 0.5.
  *
  * Exactness: the ranked endpoint VALUES are exact order statistics,
  * and the interpolation is the exact expression shape `percentile` /
  * quantile_cont evaluate: `vl·(1−frac) + vu·frac` — NOT the
  * algebraically-equal `vl + (vu−vl)·frac`, which differs in the last
  * ulp (measured: 81364.255 vs 81364.25499999999 at q = 0.75 on the
  * sf0.001 prices). At q = 0.5 that shape is `vl·0.5 + vu·0.5`. The
  * q220/q226/q235 gates prove bit-identity against DuckDB's
  * quantile_cont. Spark's `percentile` agrees bit for bit except at a
  * fractional position between two EQUAL endpoint values: it returns
  * that value as is, where quantile_cont and this operator still
  * evaluate the shape above, which can miss it by an ulp (pinned in
  * QuantileSpec).
  *
  * Input contract: NULL values and weights are ignored (they carry no
  * rank), matching `percentile` / quantile_cont. Values must be FINITE
  * doubles with |v·bucketScale| < 2^63: NaN/±Infinity (and magnitudes
  * past the long range) would trap the bucket cast under ANSI mode
  * rather than silently mis-rank — callers feeding unsanitized measures
  * filter `isnan`/`abs(v) != Infinity` first. Weights are non-negative
  * int64; a zero-weight row carries no rank, and a group whose total
  * weight is zero has no defined quantile and is EXCLUDED.
  *
  * Degenerate case: if a single bucket holds a group's whole value
  * set (near-constant values at the chosen `bucketScale`), the final
  * sort degrades to one task for that group — the same cost the
  * naive form pays ALWAYS; widen `bucketScale` to re-split. The
  * default width 1/64 is the measured sweet spot on q220's slope
  * distribution (9.4M values): fine enough that the median bucket
  * holds ~24k values (sub-second one-task sort), coarse enough that
  * the bucket-count agg collapses 9.4M rows to ~54k groups (1.6 s vs
  * 11.7 s at width 2^-20, where nearly every value was its own group
  * and the agg WAS the naive cost).
  */
object Median {

  /** The one rank search. Semantics are `quantile_cont` over the
    * weight-EXPANDED multiset (each row counted `w` times): pos =
    * q·(tw−1) on the expanded size tw (the same double product
    * `percentile` computes), and the two endpoint EXPANDED ranks
    * rl = floor(pos)+1, ru = ceil(pos)+1 map back to rows through
    * cumulative weights (a row with entry weight c covers expanded
    * ranks (c, c+w]). The expansion is never materialized.
    *
    * The input is executed exactly TWICE however expensive it is to
    * produce: pass 1 is per-(group, bucket) weight sums, checkpointed;
    * the rank table is groups × quantiles (broadcast); pass 2 ranks
    * only the covering buckets' populations by running weight. Ties
    * among equal values need no tiebreak — the ranks covered by an
    * equal-value run map to that value regardless of intra-run order.
    *
    * One row per (group, q): `g`, `q`, `tw` (total weight), `vl`/`vu`
    * (the values at ranks rl/ru) and `frac` (pos − floor(pos)).
    */
  private[graft] def orderStats(df: DataFrame, group: Column, value: Column,
                                weight: Column, quantiles: Seq[Double],
                                bucketScale: Double): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0, 1]: $quantiles")
    val bucketed = df.select(group.as("g"), value.cast("double").as("v"),
        weight.cast("long").as("w"))
      .filter(col("v").isNotNull && col("w").isNotNull && col("w") > 0)
      .withColumn("b", floor(col("v") * lit(bucketScale)).cast("long"))
    // pass 1: per-(group, bucket) weights — O(occupied buckets) rows,
    // checkpointed so every derived frame reads it, not the input
    val bc = bucketed.groupBy("g", "b").agg(sum("w").as("bw"))
      .localCheckpoint(true)
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = bc.groupBy("g").agg(sum("bw").as("tw"))
      .crossJoin(broadcast(quantiles.toDF("q")))
      .withColumn("pos", (col("tw") - 1) * col("q"))
      .select(col("g"), col("q"), col("tw"),
        (floor(col("pos")) + 1).cast("long").as("rl"),
        (ceil(col("pos")) + 1).cast("long").as("ru"),
        (col("pos") - floor(col("pos"))).as("frac"))
    def covers(rank: String, below: Column, upTo: Column): Column =
      col(rank) > below && col(rank) <= upTo
    // buckets whose expanded-rank span covers ANY needed rank (deduped
    // across quantiles)
    val wB = Window.partitionBy("g").orderBy("b")
    val tgt = bc
      .withColumn("cum", sum("bw").over(wB))
      .withColumn("before", col("cum") - col("bw"))
      .join(ranks, "g")
      .filter(covers("rl", col("before"), col("cum")) ||
        covers("ru", col("before"), col("cum")))
      .select("g", "b", "before").distinct()
    // pass 2, within the covering buckets: running EXPANDED rank by
    // value; the row covers expanded ranks (cw − w, cw]
    val wV = Window.partitionBy("g", "b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lower = covers("rl", col("cw") - col("w"), col("cw"))
    val upper = covers("ru", col("cw") - col("w"), col("cw"))
    bucketed.join(broadcast(tgt), Seq("g", "b"))
      .withColumn("cw", col("before") + sum("w").over(wV))
      .join(broadcast(ranks.withColumnRenamed("g", "g2")),
        col("g") === col("g2") && (lower || upper))
      .groupBy("g", "q", "tw", "frac")
      .agg(min(when(lower, col("v"))).as("vl"),
        min(when(upper, col("v"))).as("vu"))
  }

  /** quantile_cont's interpolation between the two ranked endpoints. */
  private def interpolated: Column =
    col("vl") * (lit(1.0) - col("frac")) + col("vu") * col("frac")

  /** One row per group: (`groupCol`, n_values, `out` = exact
    * interpolated median of `valueCol` as double).
    */
  def groupedExactMedian(df: DataFrame, groupCol: String, valueCol: String,
                         out: String,
                         bucketScale: Double = 64.0): DataFrame =
    orderStats(df, col(groupCol), col(valueCol), lit(1L), Seq(0.5), bucketScale)
      .select(col("g").as(groupCol), col("tw").as("n_values"),
        interpolated.as(out))

  /** WEIGHTED lower median, one row per group: (`groupCol`,
    * total_weight, `out`). The emitted value is the row holding
    * expanded rank floor((tw−1)/2)+1 = ceil(tw/2) — the crossing value
    * v* where the running weight first satisfies 2·cw ≥ tw (q196's
    * definition): an exact order statistic, no interpolation.
    */
  def groupedWeightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                            weightCol: String, out: String,
                            bucketScale: Double = 64.0): DataFrame =
    orderStats(df, col(groupCol), col(valueCol), col(weightCol), Seq(0.5),
        bucketScale)
      .select(col("g").as(groupCol), col("tw").as("total_weight"),
        col("vl").as(out))

  /** WEIGHTED interpolated quantiles, one row per (group, q):
    * (`groupCol`, q, total_weight, quantile) — `quantile_cont` over the
    * weight-expanded multiset, so the oracle can replay it by literally
    * expanding the weights.
    */
  def groupedWeightedQuantiles(df: DataFrame, groupCol: String,
                               valueCol: String, weightCol: String,
                               quantiles: Seq[Double],
                               bucketScale: Double = 64.0): DataFrame =
    orderStats(df, col(groupCol), col(valueCol), col(weightCol), quantiles,
        bucketScale)
      .select(col("g").as(groupCol), col("q"), col("tw").as("total_weight"),
        interpolated.as("quantile"))

  /** Interpolated quantiles, one row per (group, q): (`groupCol`, q,
    * quantile) — quantile_cont semantics (pos = q·(n−1)).
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                            quantiles: Seq[Double],
                            bucketScale: Double = 64.0): DataFrame =
    orderStats(df, col(groupCol), col(valueCol), lit(1L), quantiles,
        bucketScale)
      .select(col("g").as(groupCol), col("q"), interpolated.as("quantile"))
}
