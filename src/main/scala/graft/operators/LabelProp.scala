package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LeanCheckpoint.Ops
import org.apache.spark.storage.StorageLevel

/** Community detection by SYNCHRONOUS label propagation (Raghavan et
  * al. 2007, "Near linear time algorithm to detect community structures
  * in large-scale networks"): every vertex starts in its own community
  * (label = own id) and each round simultaneously adopts the label most
  * frequent among its neighbors. The classic algorithm breaks frequency
  * ties RANDOMLY, which is useless under an exact oracle — here ties
  * break deterministically by SMALLEST label, making every round a pure
  * function of the edge set (and, at cluster scale, independent of
  * partitioning: both the count and the argmax are keyed aggregations).
  *
  * Rounds are capped: synchronous LPA on bipartite-ish structures can
  * oscillate two-cycles forever, so a fixpoint loop is not even
  * well-defined — the bounded-round form IS the operator (ClickHouse
  * and Neo4j GDS ship maxIterations for the same reason). Per round:
  * one equi-join (edge × label) + two keyed aggregations, all shuffles
  * on vertex keys, one round per `Fixpoint.rounds` job.
  */
object LabelProp {

  /** (node, label) after `rounds` synchronous updates over the
    * undirected edge list (pairs in either orientation, each unordered
    * pair once; vertices with no neighbors keep their own label).
    */
  def propagate(edges: DataFrame, aCol: String, bCol: String,
                rounds: Int): DataFrame = {
    require(rounds >= 1, "label propagation needs at least one round")
    // the raw projection is persisted so the caller's upstream runs once,
    // for both the sizing count and the mirrored cache
    val e0 = edges.select(col(aCol).as("u"), col(bCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val undirected = Fixpoint.cache(
      e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"))),
      "v", 2L * e0.count(), 32)
    val init = undirected.df.select(col("u").as("n"))
      .distinct()
      .withColumn("lbl", col("n"))
      .leanCheckpoint()
    val labels = Fixpoint.rounds(init, rounds, "labelprop") { (lb, _) =>
      val side = undirected.probe(lb.withColumnRenamed("n", "v"), "v")
      undirected.df.join(side, Seq("v"))
        .groupBy(col("u").as("n"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        // argmax by (count DESC, label ASC) as one struct-max: largest
        // cnt wins; within it the largest -lbl = the SMALLEST label
        .groupBy("n")
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("n"), (-col("m.neg")).as("lbl"))
    }
    undirected.unpersist()
    e0.unpersist()
    labels.select(col("n").as("node"), col("lbl").as("label"))
  }

  /** Community size histogram of the final labelling. */
  def communities(edges: DataFrame, aCol: String, bCol: String,
                  rounds: Int): DataFrame =
    propagate(edges, aCol, bCol, rounds)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
}
