package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LeanCheckpoint.Ops
import org.apache.spark.storage.StorageLevel

/** Bounded-depth breadth-first search (single-source shortest hops) as
  * synchronous frontier expansion — the Pregel/Bulk-Synchronous-Parallel
  * formulation (Malewicz et al., SIGMOD'10) expressed as keyed
  * equi-joins: round r joins the current distance frame against the
  * edge list and keeps the per-vertex MIN hop. Every shuffle is on the
  * vertex key, so 1000 executors each own a vertex range and rounds are
  * embarrassingly parallel; one round per `Fixpoint.rounds` job.
  *
  * Depth is CAPPED (`maxHops`) so run cost is deterministic and the SQL
  * oracle can unroll the same count — on small-world graphs (the
  * co-purchase graph's diameter is ~2-3) a small cap already reaches
  * everything reachable; vertices beyond the cap are simply absent from
  * the output (distance "greater than maxHops", not infinity).
  */
object Bfs {

  /** (node, hop) for every vertex within `maxHops` of the source set.
    *
    * @param edges   undirected edge list; pairs in either orientation,
    *                each unordered pair at least once (duplicates are
    *                harmless — min-agg absorbs them)
    * @param sources one-row-or-more frame of starting vertices (column
    *                `n`) — a FRAME, not a literal, so the source can be
    *                data-derived (e.g. the max-degree hub) without any
    *                driver-side collect
    */
  def hops(edges: DataFrame, aCol: String, bCol: String,
           sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "bfs needs at least one hop")
    // the raw projection is persisted so the caller's upstream runs once,
    // for both the sizing count and the mirrored cache
    val e0 = edges.select(col(aCol).as("u"), col(bCol).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val undirected = Fixpoint.cache(
      e0.unionByName(e0.select(col("v").as("u"), col("u").as("v"))),
      "u", 2L * e0.count(), 32)
    val init = sources.select(col("n"), lit(0).as("hop"))
      .groupBy("n").agg(min("hop").as("hop"))
      .leanCheckpoint()
    val dist = Fixpoint.rounds(init, maxHops, "bfs") { (d, r) =>
      // expand ONLY from the newest frontier: a vertex first reached at
      // round r-1 is the only one that can reveal a new vertex at r
      val frontier = undirected.probe(d.filter(col("hop") === (r - 1)), "n")
      val reached = frontier
        .join(undirected.df, frontier("n") === undirected.df("u"))
        .select(col("v").as("n"), lit(r).as("hop"))
      d.unionByName(reached).groupBy("n").agg(min("hop").as("hop"))
    }
    undirected.unpersist()
    e0.unpersist()
    dist.select(col("n").as("node"), col("hop").cast("long").as("hop"))
  }

  /** The (max-degree, min-id) hub of an undirected edge list as a
    * one-row frame — the deterministic "most connected vertex" seed.
    * Tiebreak by SMALLEST id via a single struct-max aggregation (no
    * global sort, no limit): max((deg, -n)) picks the largest degree
    * and, within it, the largest -n = smallest n.
    */
  def maxDegreeHub(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(col(aCol).as("n"))
      .unionByName(edges.select(col(bCol).as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
      .agg(max(struct(col("deg"), (-col("n")).as("neg"))).as("m"))
      // the global agg over an EMPTY edge frame yields one null struct;
      // filter it so an empty graph gives an empty hub, not (null, 0)
      .filter(col("m").isNotNull)
      .select((-col("m.neg")).as("n"))
}
