package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector similarity primitives.
  *
  * All math is expressed with `zip_with` / `aggregate` higher-order
  * functions over the raw `Array[Float]` column — codegen'd columnar
  * expressions, no UDFs, no driver-side collection. Elements are cast
  * float→double (exact) and folded strictly left-to-right, which is the
  * identical op order the DuckDB oracle uses (`list_reduce`), so cosine
  * scores are bit-identical across engines.
  *
  * Scale posture: these are the per-pair kernels of candidate-pair
  * paths. Pair GENERATION is the scale problem — the O(n²) brute force
  * (`NearDup.embeddingCosinePairs`) does not use them per pair: it runs
  * the same fold over packed primitive blocks (`graft.plans.CosineBlocks`)
  * and is kept as the correctness baseline; the LSH operators
  * (random-hyperplane bucketing) are the 100 TB path, reducing candidate
  * pairs to near-linear.
  */
object Similarity {

  /** Dot product of two float/double vectors, accumulated sequentially in
    * double — a custom codegen'd kernel (graft.plans.VecDot): Spark's HOFs
    * are CodegenFallback, so the equivalent zip_with+aggregate fold costs
    * ~200 interpreted virtual calls per 64-dim pair; VecDot is one tight
    * primitive loop with the identical left-to-right summation order.
    */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExprs.dot(a, b)

  /** L2 norm, accumulated in double. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity from a precomputed dot and norms — the caller
    * precomputes each row's norm ONCE (cheap column) so an n×m pair join
    * only pays the dot product per pair. A zero vector's cosine is NULL
    * whatever `spark.sql.ansi.enabled` says, as in DuckDB: a threshold
    * drops the pair and a descending rank puts it last.
    */
  def cosineFrom(dotAB: Column, normA: Column, normB: Column): Column =
    try_divide(dotAB, normA * normB)

  /** Cosine similarity of two raw vectors. */
  def cosine(a: Column, b: Column): Column =
    cosineFrom(dot(a, b), l2Norm(a), l2Norm(b))
}
