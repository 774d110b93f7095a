package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LeanCheckpoint

/** Triangle counting over an undirected graph by DEGREE ORIENTATION —
  * the standard distributed plan (Suri & Vassilvitskii's MR triangle
  * counting; Latapy's compact-forward in the serial world): orient every
  * edge from its lower endpoint to its higher endpoint under the total
  * order (degree, id), enumerate wedges only from ORIENTED out-edges,
  * and close each wedge against the undirected edge set.
  *
  * Why this survives scale where the naive wedge join does not: wedges
  * from raw adjacency fan out as Σ d(v)² — a single celebrity node with
  * d = 10^6 contributes 10^12 wedge candidates to one key. Under degree
  * orientation every vertex's OUT-degree is O(√m) (a vertex with
  * out-degree k has k higher-ordered neighbors of degree ≥ its own, so
  * k² ≤ 2m), which bounds the whole wedge enumeration by O(m^{3/2})
  * regardless of the degree distribution — the power-law-proof bound.
  * Each triangle {x,y,z}, ordered x<y<z by (degree, id), is counted
  * exactly once: as the wedge at x closed by the (y,z) edge.
  *
  * All joins are hash equi-joins on node keys; counts are exact longs;
  * the only double is the final clustering-coefficient division.
  *
  * Wedge-pipeline shape (round 19): the O(m^{3/2}) wedge frame is by
  * far the widest intermediate — at sf0.1 the closing join's exchange
  * alone shuffled 1.3 GB of wedge rows (bench diag) while the EDGE
  * frame is a few MB. When the edge frame is small enough to broadcast
  * (measured by an exact count against a bound derived from driver
  * memory, not a planner estimate), both the wedge-generating self-join
  * and the closing join take the edge side as a broadcast hash relation: the
  * wedge frame is then generated, probed and partially aggregated
  * inside ONE codegen pipeline over the cached edge partitions — it
  * never serializes into a shuffle at all (guide §3.1: broadcast the
  * side that fits; §2.3: the heavy intermediate is the thing to keep
  * off the wire). Above the bound the original shuffle plan runs
  * unchanged — the wedge work is intrinsic either way, the gate only
  * decides where the wedge rows live. Identical results by
  * construction: join strategy never changes join semantics.
  */
object Triangles {

  /** Edge-count bound under which the oriented and closing edge frames
    * are broadcast: both hash relations (≈48 B/row each) must fit in the
    * driver's share for one collected graph (`GraphCsr.driverBytes`),
    * since the driver collects their rows and builds them.
    */
  private[graft] def defaultBcastMaxEdges(spark: SparkSession): Long =
    graft.plans.GraphCsr.driverBytes(spark) / (2 * 48)

  /** The shared front of both counts: edges canonicalized to (x, y) =
    * (least, greatest); per-node degrees; every wedge (u; x, y) with
    * x < y by id, enumerated from edges oriented (u, v) from the lower to
    * the higher endpoint under the total order (deg, id); and the edge
    * frame that closes a wedge at its canonical (x, y), broadcast-hinted
    * together with the oriented side when the oriented edge count fits
    * `bcastMaxEdges`.
    *
    * `deg` and `oriented` are each evaluated once, as lean checkpoints:
    * left as plan subtrees, each consumer would re-aggregate the degrees
    * in its own exchange (the `isnotnull` filters pushed into each copy
    * defeat exchange reuse). The gate's edge count rides the
    * materialization of `oriented` (one row per edge with non-null
    * endpoints) instead of taking a pass of its own.
    */
  private final case class Prelude(e: DataFrame, deg: DataFrame,
                                   wedges: DataFrame, closing: DataFrame)

  private def prelude(edges: DataFrame, aCol: String, bCol: String,
                      bcastMaxEdges: Long): Prelude = {
    val e = edges.select(least(col(aCol), col(bCol)).as("x"),
      greatest(col(aCol), col(bCol)).as("y"))
    val deg = LeanCheckpoint.localCheckpoint(e.select(col("x").as("n"))
      .unionByName(e.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg")))
    // struct comparison is lexicographic in both engines
    val withDeg = e
      .join(deg.select(col("n").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("dy")), "y")
    val xFirst = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val (oriented, nEdges) = LeanCheckpoint.localCheckpointCounted(withDeg.select(
      when(xFirst, col("x")).otherwise(col("y")).as("u"),
      when(xFirst, col("y")).otherwise(col("x")).as("v")))
    def hinted(df: DataFrame) = if (nEdges <= bcastMaxEdges) broadcast(df) else df
    val wedges = oriented.alias("e1").join(hinted(oriented).alias("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"),
        least(col("e1.v"), col("e2.v")).as("x"),
        greatest(col("e1.v"), col("e2.v")).as("y"))
    Prelude(e, deg, wedges, hinted(e))
  }

  /** One-row graph summary over undirected edges `(aCol, bCol)` (each
    * unordered pair present once, endpoints distinct): node/edge/wedge/
    * triangle counts and the global clustering coefficient
    * 3·triangles / wedges (null on a wedge-free graph).
    *
    * Edges are canonicalized internally to (least, greatest) — callers
    * may store each unordered pair in either orientation. Without this
    * the closing-edge semi-join (which probes at the canonical
    * representation) would silently miss triangles whose closing edge
    * arrived as (b, a) with a < b.
    */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    triangleStats(edges, aCol, bCol, defaultBcastMaxEdges(edges.sparkSession))

  def triangleStats(edges: DataFrame, aCol: String, bCol: String,
                    bcastMaxEdges: Long): DataFrame = {
    val Prelude(e, deg, wedges, closing) = prelude(edges, aCol, bCol, bcastMaxEdges)
    val tri = wedges.select("x", "y").join(closing, Seq("x", "y"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // open+closed wedge total Σ d(d−1)/2 — exact (d·(d−1) is even)
    val wedgeTotal = deg.agg(
      sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val edgeTotal = e.agg(count(lit(1)).as("n_edges"))
    wedgeTotal.crossJoin(edgeTotal).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double")).as("clustering_coeff"))
  }

  /** Per-vertex triangle participation and LOCAL clustering coefficient
    * 2·tri(v) / (deg(v)·(deg(v)−1)) over vertices with degree ≥ 2 —
    * the node-level refinement of `triangleStats` (same degree-oriented
    * O(m^{3/2}) enumeration; the only change is keeping the triangle
    * TRIPLES instead of their count, so each triangle credits its three
    * corners). Orientation affects only enumeration order, never the
    * triangle set, so per-vertex counts are exact whatever the degree
    * distribution. Vertices on no triangle surface with n_triangles = 0
    * (left join), lcc = 0 — absence of closure is signal for
    * recommender/community work, not a missing row.
    */
  def localTriangleStats(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    localTriangleStats(edges, aCol, bCol, defaultBcastMaxEdges(edges.sparkSession))

  def localTriangleStats(edges: DataFrame, aCol: String, bCol: String,
                         bcastMaxEdges: Long): DataFrame = {
    val Prelude(_, deg, wedges, closing) = prelude(edges, aCol, bCol, bcastMaxEdges)
    // the closing edge is unique, so an INNER join (vs triangleStats'
    // semi join) yields each triangle's full corner set exactly once
    val triples = wedges.join(closing, Seq("x", "y"))
    // ONE evaluation of the wedge-close join: exploding the corner array
    // credits all three vertices in a single pass — a union of three
    // projections of `triples` re-runs the O(m^1.5) join subtree three
    // times (the q76 lesson; measured 30.5 s → 11 s at sf0.1)
    val perVertex = triples
      .select(explode(array(col("u"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("deg") >= 2)
      .join(perVertex, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double")
          / (col("deg") * (col("deg") - 1)).cast("double")).as("lcc"))
  }
}
