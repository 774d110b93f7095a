package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LeanCheckpoint.Ops

/** k-core extraction by iterative peeling (Seidman's cores; the standard
  * distributed formulation — Montresor et al.'s message-passing peel):
  * repeatedly delete every vertex whose CURRENT degree is below k, until
  * no deletion fires. What survives is the maximal subgraph where every
  * vertex keeps ≥ k neighbors — the density filter community detection,
  * spam/bot pruning, and graph-sampling pipelines run before anything
  * expensive (a vertex outside the k-core cannot be in any k-clique or
  * k-dense community).
  *
  * Plan shape per round: one degree hash-agg + two left-semi joins
  * (keep edges whose BOTH endpoints survive) — all equi-joins/aggs on
  * vertex keys, all on executors, one round per `Fixpoint.rounds`
  * job. Per-round cost is O(|remaining edges|), and
  * the edge set only shrinks — the classic peel does O(rounds) passes
  * where rounds is bounded by the graph's degeneracy ordering depth,
  * typically ≤ 10-20 on real power-law graphs.
  *
  * Rounds are CAPPED (`rounds`) so the operator is deterministic run
  * cost and the SQL oracle can unroll the same count: the result after
  * R rounds equals the true k-core iff round R fires no deletion
  * (peeling is monotone, so once stable it is stable forever — the
  * returned frame is the FIXPOINT whenever the cap was not the binding
  * constraint, which the round-12 spec asserts on the fixtures).
  */
object KCore {

  /** Vertices of the `rounds`-round k-core peel of the undirected edge
    * set (pairs in either orientation, each unordered pair once), with
    * each survivor's degree inside the surviving subgraph.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
            k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    require(rounds >= 1, "k-core needs at least one peel round")
    // Null endpoints are dropped up front (ADVICE r18 item 2), BEFORE
    // canonicalization — least/greatest skip nulls, so a (v, null) pair
    // would otherwise collapse into a (v, v) self-loop instead of
    // staying null-keyed. The anti-join peel would also have KEPT any
    // null-keyed edge forever (null never matches the dropped set),
    // where the earlier semi-join form dropped it on round 1. A null
    // endpoint is not a vertex; no caller passes one, and now neither
    // join form could disagree if one did.
    val init = edges
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .leanCheckpoint()
    val e = Fixpoint.rounds(init, rounds, "kcore") { (cur, _) =>
      val deg = cur.select(col("x").as("n"))
        .unionByName(cur.select(col("y").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      // peel by ANTI-joining the DROPPED set rather than semi-joining
      // the kept set — identical semantics (every endpoint of e has a
      // deg row, and keep = deg ≥ k is exactly the complement of
      // dropped = deg < k), but the dropped side is the SMALL one on
      // every round past the first, so AQE's runtime size check turns
      // both joins into broadcasts and the O(edges) frame is neither
      // shuffled nor sorted per round (guide §3.1; scale-adaptive by
      // construction — a round whose dropped set is genuinely large
      // falls back to a shuffled join on its own)
      val dropped = deg.filter(col("deg") < k).select("n")
      cur.join(dropped.select(col("n").as("x")), Seq("x"), "left_anti")
        .join(dropped.select(col("n").as("y")), Seq("y"), "left_anti")
        .select("x", "y")
    }
    e.select(col("x").as("n")).unionByName(e.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("core_deg"))
      .select(col("n").as("node"), col("core_deg"))
  }
}
