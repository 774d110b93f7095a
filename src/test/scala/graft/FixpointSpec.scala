package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bfs, Components, LabelProp, Scc}
import graft.queries.GraphQueries

/** Contracts of the shared iteration code (`operators.Fixpoint`) and
  * the loops built on it.
  */
class FixpointSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** Two triangles bridged by a two-hop chain, a self-loop, a duplicate
    * edge and a separate pair.
    */
  private def graph = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 6L), (6L, 7L), (7L, 5L), (7L, 7L), (6L, 7L), (10L, 11L))

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "pagerank" -> (() => GraphQueries.pagerankRounds(spark, sf, 3)),
    "pagerank_weighted" -> (() => GraphQueries.weightedPagerankRounds(
      graph.map { case (a, b) => (a, b, a + b) }.toDF("src", "dst", "w"), 3)),
    "pagerank_directed" -> (() => GraphQueries.directedPagerankRounds(
      graph.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"), 3)),
    "labelprop" -> (() => LabelProp.propagate(graph.toDF("a", "b"), "a", "b", 3)),
    "bfs" -> (() => Bfs.hops(graph.toDF("a", "b"), "a", "b",
      Seq(1L).toDF("n"), 3)),
    "components" -> (() => Components.connectedComponents(
      spark.range(15).select(col("id")), graph.toDF("src", "dst"))),
    "scc" -> (() => Scc.components(graph.toDF("src", "dst"))),
    "scc_coloring" -> (() => Scc.components(graph.toDF("src", "dst"), -1L,
      Scc.MaxOuterRounds, Scc.MaxPropRounds, Scc.MaxTrimRounds)))

  test("every cache-using loop leaves no persisted frame behind") {
    // the co-purchase memo is a deliberate long-lived persist: build it
    // before the snapshot so only the loops' own caches are judged
    Queries.copurchaseEdges(spark, sf).count()
    loops.foreach { case (name, run) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(run().collect().nonEmpty, s"$name returned no rows")
      // per-round checkpoint blocks are reclaimed by the ContextCleaner
      // once unreachable; a surviving plain persist is a leak
      val stranded = (spark.sparkContext.getPersistentRDDs -- before)
        .values.filterNot(_.isCheckpointed)
      assert(stranded.isEmpty,
        s"$name stranded ${stranded.size} persisted frame(s)")
    }
  }

  test("components fails fast when maxIter binds") {
    val n = 64
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponents(spark.range(n).select(col("id")),
        chain, maxIter = 2)
    }
    assert(e.getMessage.contains("maxIter") &&
      e.getMessage.contains("within 2 rounds"), e.getMessage)
  }

  test("SCC over a mirrored edge list equals connected components") {
    val rnd = new scala.util.Random(20)
    Seq((60, 45), (80, 120), (40, 10)).foreach { case (nNodes, nEdges) =>
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong)).distinct
      val mirrored = (edges ++ edges.map(_.swap)).toDF("src", "dst")
      val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val scc = Scc.components(mirrored).as[(Long, Long)].collect().toMap
      val cc = Components.connectedComponents(ids.toDF("id"),
          edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(scc == cc, s"graph ($nNodes nodes, $nEdges edges)")
    }
  }
}
