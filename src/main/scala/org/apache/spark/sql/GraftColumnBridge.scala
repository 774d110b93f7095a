package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private Column↔Expression converters, so
  * graft's custom Catalyst expressions (graft.plans) can surface as
  * ordinary `Column`s. Lives in org.apache.spark.sql because
  * `classic.ExpressionUtils` is private[sql].
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder on a live session's registry unless a
    * function of that name is already registered there (the imperative
    * twin of SparkSessionExtensions.injectFunction, for sessions that
    * already exist).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Materialize a DataFrame over a (resolved) custom logical plan —
    * `Dataset.ofRows` is private[sql], so whole-operator extensions
    * (graft.plans.AsOfJoinPlan) surface through this bridge.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The DataFrame over `rows` typed by `schema`: a leaf whose
    * partitions are `rows`' own, with no materialization.
    */
  def ofInternalRows(spark: SparkSession, rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                     schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** `df`'s rows as the `InternalRow`s its plan produces — what a
    * primitive kernel reads without `df.rdd`'s per-row conversion.
    */
  def internalRows(df: DataFrame): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
}
