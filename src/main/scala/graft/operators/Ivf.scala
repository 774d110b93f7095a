package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.Similarity

/** IVF-style approximate nearest neighbor: a coarse quantizer partitions
  * the corpus into inverted lists; queries probe only the `nprobe` most
  * promising lists and run exact search there.
  *
  * The coarse layer here uses the corpus's partition label as the list id
  * and represents each list by its element-wise SUM vector in exact
  * decimal: decimal sums are order-independent (bit-identical on any
  * partitioning and in the DuckDB oracle), and cosine similarity is
  * invariant to positive scaling, so the sum vector ranks lists exactly
  * like the mean centroid would. In production the labels come from a
  * k-means pass; everything downstream is unchanged.
  *
  * Scale shape: centroids are tiny (lists × dim) and broadcast; the
  * corpus is scanned once; only probed lists pay the exact-distance
  * kernel — the classic IVF cost model, expressed as two joins.
  */
object Ivf {

  private val SumDec: DecimalType = DecimalType(20, 10)

  /** Element-wise exact-decimal sum vector per list label, emitted as
    * array<double>. Deterministic: decimal addition is exact, and the
    * array is rebuilt in position order.
    */
  def centroids(emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(col("v").cast(SumDec)).as("s"))
      .groupBy(col(labelCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s").cast("double")).as("centroid"))

  /** Quantization grid for [[meanCentroids]] (2^20 — the q42/q124
    * truncation-quantized-moments scale).
    */
  val MeanQuantScale = 1048576L

  /** Element-wise MEAN centroid per list label (array<double>),
    * TRUNCATION-QUANTIZED for cross-engine exactness: each element is
    * floored onto the 2^20 grid (floor is tie-free, unlike a
    * double→decimal cast whose half-way rounding is engine lottery —
    * measured: 1 of 640 sf0.01 elements diverged under DECIMAL(20,10)),
    * summed as exact int64, and divided once in double by count·2^20.
    * The SUM form ([[centroids]]) serves cosine probing (direction is
    * scale-invariant); residual encoding (v − centroid) needs a true
    * mean, where magnitude matters — the 2^-20 grid error is absorbed
    * into the residual and cancels in any distance COMPARISON (both
    * sides quantize identically).
    */
  def meanCentroids(emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum(floor(col("v") * MeanQuantScale).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col(labelCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          (col("s").cast("double") /
            (col("n") * MeanQuantScale).cast("double")).as("m")))),
        x => x.getField("m")).as("centroid"))

  /** Top-k cosine neighbors per query, searching only the `nprobe` lists
    * whose centroid is most cosine-similar to the query.
    */
  def annIvfTopK(emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
                 queryMaxId: Long, nprobe: Int, k: Int): DataFrame = {
    val corpus = emb.filter(col(idCol) >= queryMaxId)
      .select(col(idCol).as("neighbor_id"), col(labelCol),
        col(vecCol).as("ce"), Similarity.l2Norm(col(vecCol)).as("cn"))
    NearDup.cosTopK(
      probeLists(emb, idCol, vecCol, labelCol, queryMaxId, nprobe)
        .join(corpus, labelCol), k)
  }

  /** The coarse probe: each query's (id < `queryMaxId`) `nprobe` lists by
    * cosine to their exact-decimal sum centroid, ties to the lower label.
    * A zero query or centroid has a NULL cosine (`Similarity.cosineFrom`),
    * which ranks last.
    * Output: (query_id, qe, qn, labelCol) — one row per probed list.
    */
  private[graft] def probeLists(emb: DataFrame, idCol: String, vecCol: String,
                                labelCol: String, queryMaxId: Long,
                                nprobe: Int): DataFrame = {
    val q = NearDup.withNorm(emb, idCol, vecCol)
      .filter(col(idCol) < queryMaxId)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"), col("nrm").as("qn"))
    val cents = centroids(emb.filter(col(idCol) >= queryMaxId), vecCol, labelCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("ccos").desc, col(labelCol))
    q.crossJoin(broadcast(cents))
      .withColumn("ccos",
        Similarity.cosineFrom(Similarity.dot(col("qe"), col("centroid")),
          col("qn"), sqrt(Similarity.dot(col("centroid"), col("centroid")))))
      .withColumn("lr", row_number().over(w))
      .filter(col("lr") <= nprobe)
      .select("query_id", "qe", "qn", labelCol)
  }

  /** List assignment against a trained quantizer: argmax cosine over the
    * unit-normalized centroids, first-wins ties. The centroids are plan
    * literals (k × dim doubles), so assignment is a pure codegen
    * projection — no broadcast variable, no shuffle, one VecDot per list.
    * Right below `LiteralAssignLimit` coefficients; past it the literals
    * alone are tens of MB of generated code — use `assignListsByJoin`.
    */
  def assignList(vec: Column, cents: Seq[Seq[Double]]): Column = {
    val scores = array(unitCents(cents).map(c =>
      graft.plans.VectorExprs.dot(typedLit(c), vec)): _*)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  private def unitCents(cents: Seq[Seq[Double]]): Seq[Seq[Double]] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }

  /** Coefficient count (k × dim) beyond which `assignList`'s plan-literal
    * kernels stop being sane — at k=4096, dim=768 they'd be ~25 MB of
    * constants in generated code — and assignment switches to the
    * broadcast-table path.
    */
  val LiteralAssignLimit = 32768

  /** List assignment for large k: the unit centroids ride a broadcast
    * TABLE (k rows) instead of k plan-literal kernels. Each vector meets
    * the k centroid rows in a broadcast nested-loop join (the corpus is
    * never shuffled by the join) and a lexicographic struct-max picks
    * argmax cosine with ties to the LOWEST list id — exactly
    * `assignList`'s first-wins order. One partial-aggregated shuffle of
    * (id, vec) rows re-collapses the ×k fan-out; plan and codegen size
    * stay O(1) in k.
    *
    * Returns (`idCol`, `vecCol`, `listCol`).
    */
  def assignListsByJoin(emb: DataFrame, idCol: String, vecCol: String,
                        cents: Seq[Seq[Double]], listCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = unitCents(cents).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("graft_list", "graft_ucent")
    emb.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centDf))
      .groupBy(col(idCol))
      .agg(
        first(col(vecCol)).as(vecCol),
        // lexicographic max of (score, -list) → argmax score, ties to the
        // lowest list id; partial aggregation collapses the ×k fan-out
        // map-side, so the shuffle carries one row per vector
        max(struct(
          Similarity.dot(col(vecCol), col("graft_ucent")).as("s"),
          (-col("graft_list")).as("neg"))).as("m"))
      .select(col(idCol), col(vecCol), (-col("m.neg")).cast("int").as(listCol))
  }

  /** Deterministic sampled k-means for the coarse quantizer (the training
    * pass the label-based `annIvfTopK` delegates to production).
    *
    * - '''sample''': a hash-threshold slice of the corpus — at 100 TB the
    *   quantizer trains on a bounded sample, never the full table;
    * - '''seeds''': the k vectors smallest in `xxhash64(id)` order — a
    *   fixed pseudo-random draw, reproducible on any cluster
    *   (`seedByHash = false` seeds by plain id order instead, which a SQL
    *   oracle without Spark's xxhash64 can replicate verbatim);
    * - '''Lloyd iterations''': assignment is the distributed quantizer
    *   projection above (literal kernels, or the broadcast-table join past
    *   `LiteralAssignLimit`); new centroids are exact-decimal element SUMS
    *   cast to double — cosine assignment normalizes every centroid, and
    *   unit(sum) == unit(mean), so the sum IS the mean centroid for this
    *   metric while staying order-independent (bit-identical under any
    *   partitioning AND in a decimal-summing SQL twin, which a mean's
    *   engine-specific decimal-division rounding would break); a list
    *   that loses all members keeps its previous centroid.
    *
    * Driver state is k × dim doubles per iteration — the same bounded
    * footprint MLlib's k-means keeps; nothing corpus-sized ever collects.
    */
  def trainKMeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                  iters: Int, sampleFraction: Double = 1.0,
                  seedByHash: Boolean = true): Seq[Seq[Double]] = {
    val train = (if (sampleFraction >= 1.0) emb
      else emb.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) <
        lit((sampleFraction * 1000000L).toLong)))
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    var cents: Seq[Seq[Double]] = (if (seedByHash)
        train.orderBy(xxhash64(col(idCol)), col(idCol))
      else train.orderBy(col(idCol)))
      .limit(k)
      .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iters) {
      val assigned =
        if (k.toLong * cents.head.size <= LiteralAssignLimit)
          train.withColumn("list", assignList(col("v"), cents))
        else assignListsByJoin(train, idCol, "v", cents, "list")
      val refined = assigned
        .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("list", "pos")
        .agg(sum(col("x").cast(SumDec)).as("s"))
        .groupBy("list")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            col("s").cast("double").as("m")))),
          x => x.getField("m")).as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.indices.map(i => refined.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF over a TRAINED quantizer: k-means on a corpus sample, quantizer
    * list assignment (plan-literal kernels up to `LiteralAssignLimit`
    * coefficients, broadcast-table join beyond), then the unchanged
    * probe/search shape of `annIvfTopK` on the trained labels.
    */
  def annIvfTrainedTopK(emb: DataFrame, idCol: String, vecCol: String,
                        queryMaxId: Long, lists: Int, iters: Int, nprobe: Int,
                        k: Int, sampleFraction: Double = 1.0,
                        seedByHash: Boolean = true): DataFrame = {
    val cents = trainKMeans(emb.filter(col(idCol) >= queryMaxId), idCol, vecCol,
      lists, iters, sampleFraction, seedByHash)
    val labeled =
      if (lists.toLong * cents.head.size <= LiteralAssignLimit)
        emb.withColumn("kmeans_list", assignList(col(vecCol), cents))
      else assignListsByJoin(emb, idCol, vecCol, cents, "kmeans_list")
    annIvfTopK(labeled, idCol, vecCol, "kmeans_list", queryMaxId, nprobe, k)
  }
}
