package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KCore, Triangles}
import graft.plans.{EditDistance, TopKAgg}
import graft.queries.{AnalyticsQueries, GraphQueries}

/** Round-12 new-operator contracts: the native TOP-K heap aggregate
  * (order-statistic determinism + window-form equivalence), the true
  * Damerau–Levenshtein kernel (unrestricted transposition semantics),
  * per-vertex triangle stats, the k-core peel (known cores + the
  * cap-not-binding fixpoint assertion on fixtures), and the window
  * funnel's boundary arithmetic.
  */
class Round12bSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- native TOP-K aggregate ----------------------------------------------------

  test("topk aggregate equals the window form and is partitioning-invariant") {
    // adversarial mix: ties on value (tiebreak by key), negatives, a
    // group smaller than k
    val rows = Seq(
      ("a", 10L, 1L), ("a", 10L, 2L), ("a", 9L, 3L), ("a", 11L, 4L),
      ("a", -5L, 5L), ("b", 7L, 6L), ("b", 7L, 7L),
      ("c", 1L, 8L)) // |c| = 1 < k
    val df = rows.toDF("g", "v", "id")
    def run(d: org.apache.spark.sql.DataFrame) = d.groupBy("g")
      .agg(TopKAgg.topKPairs(col("v"), col("id"), 3).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), col("col.value").as("v"), col("col.key").as("id"),
        (col("pos") + 1).as("rank"))
    val got = run(df).as[(String, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("id"))
    val want = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("g", "v", "id", "rank")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want, s"heap top-k diverged from window form:\n$got\n$want")
    // order statistic of the SET ⇒ identical under any partitioning
    val re = run(df.repartition(7, col("id")))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(re == got)
  }

  test("topk SQL surface (graft_topk) works and bounds state at k entries") {
    GraftFunctions.install(spark)
    (1L to 1000L).map(i => (i % 7, i)).toDF("v", "id")
      .createOrReplaceTempView("tk_v")
    val out = spark.sql(
      "SELECT graft_topk(v, id, 5) AS tk FROM tk_v")
      .select(size(col("tk"))).as[Int].head()
    assert(out == 5, "graft_topk must emit exactly k entries")
  }

  // --- true Damerau–Levenshtein --------------------------------------------------

  test("damerau-levenshtein: unrestricted semantics (matches the DuckDB oracle probes)") {
    // (a, b, dl, lev) — dl values probed from DuckDB damerau_levenshtein;
    // CA→ABC = 2 is the UNRESTRICTED distance (OSA would say 3)
    val cases = Seq(
      ("CA", "ABC", 2, 3), ("ab", "ba", 1, 2), ("abcd", "acbd", 1, 2),
      ("kitten", "sitting", 3, 3), ("abc", "ca", 2, 3),
      ("a cat", "an act", 2, 3), ("xabx", "bax", 2, 2),
      ("", "abc", 3, 3), ("abc", "", 3, 3), ("", "", 0, 0),
      ("same", "same", 0, 0))
    val df = cases.map { case (a, b, _, _) => (a, b) }.toDF("a", "b")
      .withColumn("dl", EditDistance.damerauLevenshtein(col("a"), col("b")))
      .withColumn("lev", levenshtein(col("a"), col("b")))
    val got = df.as[(String, String, Int, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    cases.foreach { case (a, b, dl, lev) =>
      assert(got((a, b)) == ((dl, lev)),
        s"($a, $b): got ${got((a, b))}, want ($dl, $lev)")
    }
    // and via SQL
    GraftFunctions.install(spark)
    assert(spark.sql("SELECT graft_dleven('micheal', 'michael') AS d")
      .as[Int].head() == 1, "adjacent swap must cost 1")
  }

  // --- per-vertex triangles ------------------------------------------------------

  test("local triangle stats: known graph, mixed edge orientation") {
    // K4 on {1,2,3,4} plus pendant 5-1: every K4 vertex sits on 3
    // triangles with deg 3 (lcc 1.0) except vertex 1 (deg 4, 3
    // triangles, lcc 0.5); pendant 5 has deg 1 → excluded
    val edges = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L),
      (3L, 4L), (5L, 1L)).toDF("a", "b")
    val got = Triangles.localTriangleStats(edges, "a", "b")
      .orderBy("node")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 3L, 0.5), (2L, 3L, 3L, 1.0),
      (3L, 3L, 3L, 1.0), (4L, 3L, 3L, 1.0)), got.toString)
    // corner-credit conservation: Σ per-vertex = 3 × global count
    val global = Triangles.triangleStats(edges, "a", "b")
      .select("n_triangles").as[Long].head()
    assert(got.map(_._3).sum == 3 * global)
  }

  // --- k-core peel ---------------------------------------------------------------

  test("k-core: clique survives, tendrils peel, cap-not-binding on the fixture") {
    // K4 plus a chain 4-5-6: the 3-core is exactly the K4 (chain peels
    // over two rounds — vertex 6 first, then 5)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core = KCore.kCore(edges, "a", "b", k = 3, rounds = 5)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(core == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), core.toString)
    // k above the max core: empty, not an error
    assert(KCore.kCore(edges, "a", "b", k = 5, rounds = 3).count() == 0)
    // fixture: the q199 cap (KCoreRounds) is NOT the binding constraint —
    // one more round changes nothing, i.e. the gated output IS the
    // fixpoint k-core
    val e = Queries.copurchaseEdges(spark, sf).select("item_a", "item_b")
    val atCap = KCore.kCore(e, "item_a", "item_b",
      GraphQueries.KCoreK, GraphQueries.KCoreRounds)
    val beyond = KCore.kCore(e, "item_a", "item_b",
      GraphQueries.KCoreK, GraphQueries.KCoreRounds + 1)
    assert(atCap.exceptAll(beyond).count() == 0 &&
      beyond.exceptAll(atCap).count() == 0,
      "round cap was binding on the fixture — raise KCoreRounds")
  }

  // --- window funnel boundary arithmetic -----------------------------------------

  test("window funnel: in-window converts, boundary-exact converts, one-past does not") {
    val W = AnalyticsQueries.FunnelWindowMicros
    val rows = Seq(
      // u1: click exactly AT the window edge (inclusive), purchase inside
      (1L, "view", 1L, 1000L), (1L, "click", 2L, 1000L + W),
      (1L, "purchase", 3L, 1000L + W + 5L),
      // u2: click one micro past the window — funnel stops at stage 1,
      // even though an (unqualified) purchase follows
      (2L, "view", 4L, 1000L), (2L, "click", 5L, 1001L + W),
      (2L, "purchase", 6L, 1002L + W),
      // u3: qualifying click, purchase one past the CLICK's window
      (3L, "view", 7L, 1000L), (3L, "click", 8L, 2000L),
      (3L, "purchase", 9L, 2001L + W),
      // u4: purchase before the qualifying click never counts
      (4L, "view", 10L, 1000L), (4L, "purchase", 11L, 1500L),
      (4L, "click", 12L, 2000L))
      .toDF("user_id", "event_type", "event_id", "us")
    val got = AnalyticsQueries.windowFunnelFrom(rows)
      .select("user_id", "stage").as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 2), got.toString)
  }
}
