package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive partition count for the iterative graph tier's cached
  * round frames (`Fixpoint.cache`).
  *
  * These caches were previously partitioned by their build join at the
  * session's `spark.sql.shuffle.partitions` — the CORE count in the
  * bench — so every fixpoint round ran (cores) tasks over the cache no
  * matter how small the graph: at sf0.1 that is 32 near-empty tasks ×
  * every round × every query of the tier, and the 8-core bench beat the
  * 32-core one on exactly these rows (BENCH_r18 scaling: q186 0.33,
  * q213 0.49, q153 0.46 — per-round fixed costs, not row work). AQE
  * cannot fix it: cached plans keep their output partitioning
  * (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is off
  * by default), and the co-partitioned per-round join inherits whatever
  * the cache has.
  *
  * Sizing rule (guide §2.2 — partitions sized by DATA, ~100 MB-1 GB
  * each at scale, never a constant tuned to one deployment), measured
  * on the r19 probe matrix (64 MB / 16 MB / 4 MB per-partition targets
  * over the whole tier at sf0.1; 16 MB won nearly every row):
  *
  *   parts = max(bytes / LARGE, min(parallelism, bytes / SMALL)), min 1
  *
  *  - small graphs: at most `defaultParallelism` partitions and never
  *    finer than SMALL (16 MB) each — per-round tasks follow the data,
  *    row-work-heavy rounds (LabelProp's two-level agg) still spread
  *    across cores;
  *  - large graphs: bytes/LARGE (256 MB) partitions regardless of local
  *    core count — the scale regime, where per-partition state must
  *    stay bounded and task count must not explode.
  *
  * Partitioning never affects results (all round operations are keyed
  * joins/aggs over commutative combines), only task counts.
  */
object IterParts {

  private val LargeTarget = 256L << 20
  private val SmallTarget = 16L << 20

  /** Partition count for a cached iteration frame of `rows` rows at
    * ~`rowBytes` each; `df` only supplies the session's parallelism.
    *
    * Floor of 2, not 1: a 1-partition HashPartitioning is NOT reused
    * by EnsureRequirements as the co-partitioning target — the cached
    * side gets re-exchanged to the session default every round
    * (observed on the r19 round-plan dumps for the tiniest graphs),
    * exactly the exchange the cache exists to remove. At 2+ the join
    * adopts the cache's partitioning and only the O(nodes) side
    * shuffles.
    */
  private[operators] def forRows(df: DataFrame, rows: Long, rowBytes: Long): Int = {
    val bytes = rows * rowBytes
    val par = df.sparkSession.sparkContext.defaultParallelism.toLong
    val smallCap = math.max(2L, bytes / SmallTarget)
    val scaleFloor = bytes / LargeTarget
    math.min(1L << 20,
      math.max(2L, math.max(scaleFloor, math.min(par, smallCap)))).toInt
  }
}
