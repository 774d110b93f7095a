package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic

/** Eager local checkpoint WITHOUT the plan metadata that
  * `Dataset.localCheckpoint` folds into the resulting `LogicalRDD`
  * leaf (origin statistics + the rewritten constraint ExpressionSet —
  * see `LogicalRDD.fromDataset` in the Spark source).
  *
  * Iterated self-join loops (label propagation, BFS marking,
  * min-label fixpoints) compound that carried metadata round over
  * round: each round's leaf re-derives stats/constraints from a plan
  * whose leaves already carry rewritten metadata of every earlier
  * round. Measured on the q232 basket graph: per-round DRIVER time
  * grew ~2.5× per round at CONSTANT stage/task/record counts
  * (restricted sf0.01 verify 53 s → 695 s from this alone; AQE on/off
  * and `spark.sql.constraintPropagation.enabled=false` made no
  * difference because `fromDataset` captures regardless). With the
  * lean leaf the same loop is flat at ~0.3 s/round.
  *
  * Zero extra serde: rows stay InternalRow end to end, exactly like
  * `Dataset.localCheckpoint` (the `.copy()` mirrors Dataset.checkpoint
  * — operators reuse row buffers, so stored rows must be defensive
  * copies). The only thing lost vs the builtin is the preserved
  * output partitioning/ordering metadata — irrelevant to fixpoint
  * loops, whose every round re-shuffles on different keys anyway.
  *
  * Lives under `org.apache.spark.sql` to reach the `private[sql]`
  * `internalCreateDataFrame`; written from public Spark source
  * knowledge only.
  */
object LeanCheckpoint {

  /** Materialize `df` into executor storage and return a DataFrame
    * whose logical plan is a bare `LogicalRDD` leaf over the stored
    * rows — no origin stats, no origin constraints.
    */
  def localCheckpoint(df: DataFrame): DataFrame = localCheckpointCounted(df)._1

  /** [[localCheckpoint]] that also returns the row count its
    * materializing action computes anyway.
    */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (leaf, counts) = localCheckpointEach(df)((_, rows) => rows.size.toLong)
    (leaf, counts.sum)
  }

  /** [[localCheckpoint]] that also returns `f(partitions, rows)` for each
    * of the `partitions` partitions, computed by the materializing job
    * itself (eager materialization is the localCheckpoint contract: the
    * block store takes the whole partition before `f` reads it, however
    * far `f` reads).
    *
    * The rows come from a query execution of this call's own, so the
    * broadcast relations its plan built serve this one job: they are
    * destroyed as soon as it ends (a local checkpoint never recomputes
    * from its plan), not left on the driver until a GC lets Spark's
    * cleaner find them.
    */
  def localCheckpointEach[T: scala.reflect.ClassTag](df: DataFrame)(
      f: (Int, Iterator[org.apache.spark.sql.catalyst.InternalRow]) => T): (DataFrame, Array[T]) = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = cds.sparkSession.sessionState.executePlan(cds.queryExecution.analyzed)
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val parts = rdd.getNumPartitions
    val each = rdd.mapPartitions(rows => Iterator.single(f(parts, rows))).collect()
    PlanBroadcasts.release(qe.executedPlan)
    (cds.sparkSession.internalCreateDataFrame(rdd, cds.schema), each)
  }

  private object PlanBroadcasts
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    /** Destroys every broadcast relation an adaptive `plan` (subqueries
      * included) has built: those of its materialized broadcast stages.
      */
    def release(plan: org.apache.spark.sql.execution.SparkPlan): Unit =
      collectWithSubqueries(plan) {
        case s: org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
            if s.isMaterialized => s.broadcast.relationFuture.get()
      }.distinct.foreach(_.destroy())
  }

  /** [[localCheckpoint]] of the DataFrame over `rows` (typed by
    * `schema`): a kernel that emits `InternalRow`s runs exactly once,
    * in this call, and later readers — a sort's range sample included —
    * read the stored rows.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
             schema: org.apache.spark.sql.types.StructType): DataFrame =
    localCheckpoint(spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema))

  /** [[localCheckpoint]] in SERIALIZED storage, returning the persisted
    * RDD as an explicit lifetime handle. For loops whose round frames
    * are O(corpus) rather than O(keys) — q273's suffix ranking carries
    * ~0.5 G position rows at the 100× drill — the deserialized
    * `UnsafeRow` objects cost ~5× their serialized bytes in heap, and a
    * loop that keeps every round persisted OOMs (caught by the round-17
    * drill: 31 GB heap, executor death). MEMORY_AND_DISK_SER (set
    * BEFORE `localCheckpoint()`, which preserves a pre-set level and
    * only forces the disk bit) keeps each round at its wire size and
    * spills under pressure, and the handle lets the caller UNPERSIST
    * round k as soon as round k+1 has materialized. A localCheckpointed
    * RDD has no lineage — unpersist only when provably never read again
    * (the returned DataFrame fails, not recomputes, past that point).
    */
  def localCheckpointSer(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cds.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    rdd.localCheckpoint()
    rdd.count() // eager materialization (the localCheckpoint contract)
    (cds.sparkSession.internalCreateDataFrame(rdd, cds.schema), rdd)
  }

  /** `df.leanCheckpoint()` sugar — drop-in for the
    * `.localCheckpoint(true)` iteration discipline.
    */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def leanCheckpoint(): DataFrame = LeanCheckpoint.localCheckpoint(df)
  }

  /** Materialize like [[localCheckpoint]] and, in the SAME job, return
    * the row count and the exact sum of long column `longCol` (BigInt —
    * no overflow whatever the ids). Fixpoint loops need a convergence
    * witness (label sum) and peel loops need a progress witness (row
    * count) immediately after every materialization; as two separate
    * actions that is 2× the job count of the loop, and at fixpoint
    * scale the sequential job latency IS the cost (measured on the
    * q232 SCC: phase wall ∝ jobs, not rows). The fold rides the
    * materializing action itself, so the witness is free. Exactness:
    * the values are the action's RESULT (not accumulators), so task
    * retries cannot double-count.
    */
  def localCheckpointSummed(df: DataFrame,
                            longCol: String): (DataFrame, Long, BigInt) = {
    val idx = df.schema.fieldIndex(longCol)
    require(df.schema(idx).dataType ==
      org.apache.spark.sql.types.LongType,
      s"localCheckpointSummed needs a LongType column, got " +
        s"${df.schema(idx).dataType} for '$longCol'")
    val (leaf, each) = localCheckpointEach(df) { (_, it) =>
      var c = 0L
      var s = BigInt(0)
      it.foreach { r => c += 1; if (!r.isNullAt(idx)) s += r.getLong(idx) }
      (c, s)
    }
    (leaf, each.iterator.map(_._1).sum, each.iterator.map(_._2).sum)
  }
}
