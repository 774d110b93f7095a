package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.graft.LeanCheckpoint.Ops

/** Connected components by min-label propagation WITH pointer jumping —
  * the step that turns near-duplicate PAIRS into dedup decisions: each
  * component keeps one canonical document (its minimum id), everything
  * else is a duplicate of it.
  *
  * Algorithm: every node starts labeled with itself; each round, a node
  * takes the minimum of its label, its neighbors' labels, AND its label's
  * own label (path halving — labels are node ids, so `label(label(u))` is
  * one equi-join of the label table with itself). Plain neighbor-min
  * needs O(diameter) rounds — a 100-hop chain takes 100 rounds; the jump
  * halves every label path per round, giving O(log diameter) like the
  * large-star/small-star family but with one extra node-sized join per
  * round instead of re-materializing the edge set. The loop is
  * `Fixpoint.minLabel` over the mirrored edge list, shared with SCC.
  *
  * Scale: each round is two joins + one aggregation, all keyed on node
  * ids — fully distributed, nothing driver-side except the 1-row
  * convergence check.
  */
object Components {

  /** Component label (= min member id) per node. `nodes`: one `id`
    * column; `edges`: `src`/`dst` pairs (either orientation).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIter: Int = 25): DataFrame =
    ccWithRounds(nodes, edges, maxIter)._1

  /** As `connectedComponents`, also reporting the rounds to fixpoint
    * (exercised by the convergence-rate property spec). Fails when
    * `maxIter` binds: partial labels would split components.
    */
  private[graft] def ccWithRounds(nodes: DataFrame, edges: DataFrame,
                                  maxIter: Int): (DataFrame, Int) = {
    // Persist the RAW edge list before mirroring: the union references
    // `edges` twice, and without the persist an expensive upstream (e.g.
    // the Jaccard pair pipeline) would be computed twice into the cache.
    val e0 = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Only nodes INCIDENT to an edge can ever change label: iterate over
    // that subgraph and pass every isolated node through with label = id
    // at the end. In a near-dup corpus the pair subgraph is a sliver of
    // the corpus, so each round shuffles O(|pairs|), not O(|corpus|) —
    // at a billion documents the rounds never touch the billion.
    val touched = e0.select(col("src").as("n"))
      .unionByName(e0.select(col("dst").as("n"))).distinct()
    val (labels, rounds) = Fixpoint.minLabel(touched,
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"))),
      maxIter, "connected components (maxIter)", "components")
    // Materialize the isolated-node side (label = id) BEFORE unpersisting
    // the raw edges: the caller's first action on the result must not
    // recompute the (possibly very expensive) edge pipeline. `labels`
    // holds exactly the touched nodes and is a checkpointed leaf.
    val isolated = nodes.select(col("id"))
      .join(labels.select(col("n").as("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
      .leanCheckpoint()
    e0.unpersist()
    (labels.select(col("n").as("id"), col("c").as("label"))
      .unionByName(isolated), rounds)
  }
}
