package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphStats
import graft.queries.GraphQueries

/** Round-12 third widening: graph-health stats and reciprocal matching.
  * Known-answer fixtures — a star is exactly r = −1, a cycle is
  * degree-regular (null r), and the mutual-best rule keeps exactly the
  * pair that picked each other.
  */
class Round12eSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("assortativity: star graph is exactly -1, cycle is degree-regular null") {
    // star 0-{1,2,3}: degrees (3,1,1,1) — hand-computed r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val s = GraphStats.assortativity(star, "a", "b").collect().head
    assert(s.getLong(s.fieldIndex("n_nodes")) == 4)
    assert(s.getLong(s.fieldIndex("n_edges")) == 3)
    assert(s.getDouble(s.fieldIndex("assortativity")) == -1.0)
    // 4-cycle: every degree 2 — zero variance, r undefined (null)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val c = GraphStats.assortativity(cycle, "a", "b").collect().head
    assert(c.isNullAt(c.fieldIndex("assortativity")))
    assert(c.getDouble(c.fieldIndex("mean_degree")) == 2.0)
  }

  test("reciprocal best: only the mutually-chosen pair survives") {
    // 1's best is 2 (0.9); 2's best is 1 (0.9 > 0.8); 3's best is 2 —
    // unreciprocated, so (2,3) drops; (1,3) never a best for anyone
    val sim = Seq((1L, 2L, 0.9), (1L, 3L, 0.5), (2L, 3L, 0.8))
      .toDF("a", "b", "score")
    val got = GraphStats.reciprocalBest(sim, "a", "b", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.9)))
  }

  test("reciprocal best: score ties break to the smaller partner id on both sides") {
    // 1 ties between 2 and 3 at 0.7 -> picks 2; 2's best is 1; mutual
    val sim = Seq((1L, 2L, 0.7), (1L, 3L, 0.7), (2L, 3L, 0.1))
      .toDF("a", "b", "score")
    val got = GraphStats.reciprocalBest(sim, "a", "b", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 0.7)))
  }

  test("weighted pagerank: one hand-computed round on a weighted path") {
    // a-b (w=1), b-c (w=3); W: a=1, b=4, c=3; p0 = S = 1e9 each.
    // quotients: from a: (85e9 div 100) = 850,000,000;
    //            from b: (85e9 div 400) = 212,500,000;
    //            from c: (85e9 div 300) = 283,333,333.
    // p1(a) = 0.15e9 + 1·212,500,000           = 362,500,000
    // p1(b) = 0.15e9 + 1·850e6 + 3·283,333,333 = 1,849,999,999
    // p1(c) = 0.15e9 + 3·212,500,000           = 787,500,000
    val e = Seq((1L, 2L, 1L), (2L, 3L, 3L)).toDF("src", "dst", "w")
    val got = GraphQueries.weightedPagerankRounds(e, 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 362500000L, 2L -> 1849999999L,
      3L -> 787500000L))
  }

  test("weighted pagerank: heavier edges pull more rank than q155's uniform walk") {
    // same topology, weights skewed: the hub's mass splits 1:3, so the
    // heavy neighbor must strictly out-rank the light one after a round
    val e = Seq((10L, 1L, 1L), (10L, 2L, 3L)).toDF("src", "dst", "w")
    val got = GraphQueries.weightedPagerankRounds(e, 2)
      .as[(Long, Long)].collect().toMap
    assert(got(2L) > got(1L), s"heavy neighbor did not out-rank: $got")
  }

  test("q211/q212 run against the fixture and stay internally consistent") {
    val a = GraphQueries.degreeAssortativity(spark, sf).collect().head
    val r = a.getDouble(a.fieldIndex("assortativity"))
    assert(r >= -1.0 && r <= 1.0)
    assert(a.getLong(a.fieldIndex("n_edges")) > 0)
    val rbm = GraphQueries.reciprocalBestMatch(spark, sf).collect()
    assert(rbm.nonEmpty)
    // mutual-best pairs are a MATCHING: no vertex appears twice
    val verts = rbm.flatMap(x => Seq(x.getLong(0), x.getLong(1)))
    assert(verts.distinct.length == verts.length,
      "reciprocal best-match output is not a matching")
  }
}
