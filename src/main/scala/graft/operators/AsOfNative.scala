package graft.operators

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import graft.plans.AsOfJoinPlan

/** DataFrame front-end for the native as-of join operator
  * (plans/AsOfJoinPlan.scala) — same signature and semantics as
  * `AsOf.asOfJoin` (backward/forward, inclusive, optional tolerance),
  * planned as one hash-clustered sort + streaming merge per side instead
  * of the union+window encoding. See the Scaladoc on [[AsOfJoinPlan]]
  * for the plan-shape comparison.
  */
object AsOfNative {

  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightCols: Seq[String], prefix: String = "r_",
               toleranceMicros: Option[Long] = None,
               forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    graft.GraftFunctions.install(spark)
    // Alias EVERY right column: fresh exprIds make the two sides disjoint
    // even when both derive from the same source relation (self as-of),
    // which a hand-built binary node must guarantee itself — the analyzer
    // only deduplicates for its own join operators.
    val rTag = "__asof_r_"
    val rAliased = right.select(
      right.columns.map(c => col(c).as(rTag + c)).toIndexedSeq: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rAliased.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    val joined = GraftColumnBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      leftKeys = keys.map(attr(lPlan, _)),
      rightKeys = keys.map(k => attr(rPlan, rTag + k)),
      leftTs = attr(lPlan, tsCol),
      rightTs = attr(rPlan, rTag + tsCol),
      rightVals = rightCols.map(c => attr(rPlan, rTag + c)),
      toleranceMicros = toleranceMicros, forward = forward))
    rightCols.foldLeft(joined)(
      (d, c) => d.withColumnRenamed(rTag + c, prefix + c))
  }
}
