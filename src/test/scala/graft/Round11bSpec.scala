package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{NearDup, Triangles}
import graft.queries.{DedupQueries, GraphQueries, SketchQueries}

/** Round-11 second batch: triangle counting, prefix-filtered exact
  * Jaccard, and the native HLL aggregate — each pinned against an
  * independent ground truth (brute force / the register-frame twin),
  * plus the plan properties that make them scale.
  */
class Round11bSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- triangles ------------------------------------------------------------------

  test("triangle stats match brute force on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val n = 40
    val edges0 = (for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.15
    } yield (a.toLong, b.toLong)).toIndexedSeq
    val es = edges0.toSet
    var tri = 0L
    for (a <- 0 until n; b <- (a + 1) until n if es((a.toLong, b.toLong));
         c <- (b + 1) until n
         if es((a.toLong, c.toLong)) && es((b.toLong, c.toLong)))
      tri += 1
    val deg = edges0.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map(_._2.size.toLong)
    val wedges = deg.map(d => d * (d - 1) / 2).sum
    val got = Triangles.triangleStats(edges0.toDF("a", "b"), "a", "b")
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles", "clustering_coeff")
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got._1 == deg.size && got._2 == edges0.size)
    assert(got._3 == wedges, s"wedges ${got._3} vs $wedges")
    assert(got._4 == tri, s"triangles ${got._4} vs $tri")
    assert(got._5 == 3.0 * tri / wedges)
  }

  test("q187 plan: wedge enumeration is hash equi-joins, never a cartesian product") {
    val p = GraphQueries.triangleCount(spark, sf)
      .queryExecution.executedPlan.toString
    // the three single-row summary frames combine via broadcast-NLJ by
    // design; the node-keyed joins must never degenerate to a cartesian
    assert(!p.contains("CartesianProduct"), s"triangle join degenerated:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"wedge join must be an equi-join on node keys:\n$p")
  }

  // --- prefix-filtered exact Jaccard ----------------------------------------------

  test("prefix join equals driver-side brute-force Jaccard on the fixture corpus") {
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.plans.SignatureExprs.distinctNGrams(
        graft.functions.TextAnalysis.words(col("text")), DedupQueries.JaccardN).as("sh"))
      .filter(size(col("sh")) > 0)
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.toSet }
    val thr = DedupQueries.PrefixThrNum.toDouble / DedupQueries.PrefixThrDen
    val expected = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ida, sa) = sets(i); (idb, sb) = sets(j)
      common = (sa & sb).size
      jac = common.toDouble / (sa.size + sb.size - common)
      if jac >= thr
    } yield (math.min(ida, idb), math.max(ida, idb), common.toLong)).toSet
    val got = NearDup.prefixJaccardPairs(Tables.documents(spark, sf),
        "doc_id", "text", DedupQueries.JaccardN,
        DedupQueries.PrefixThrNum, DedupQueries.PrefixThrDen)
      .select("doc_a", "doc_b", "common")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"extra=${got -- expected}, missing=${expected -- got}")
    assert(got.nonEmpty, "fixture should contain planted near-dups")
  }

  test("prefix filtering is lossless where the df cap is lossy (boilerplate-only duplicates)") {
    // docs 100/101 are EXACTLY the boilerplate — every one of their
    // shingles has df = 22 (the 20 filler docs all contain it), so the
    // df cap removes their entire shingle domain
    val boiler = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = ((1 to 20).map(i => (i.toLong, s"$boiler unique$i filler$i")) ++
      Seq((100L, boiler), (101L, boiler)))
      .toDF("doc_id", "text")
    // df-capped exact join: every boilerplate shingle has df = 22 > 3,
    // so the 100/101 duplicate pair evaporates with the capped domain
    val capped = NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      DedupQueries.JaccardN, 0.8, maxPostings = 3)
    assert(capped.filter(col("doc_a") === 100 && col("doc_b") === 101).count() == 0,
      "df cap should have dropped the boilerplate-only pair (that's its documented loss)")
    // prefix filtering keeps it: the pair's rare trailing shingles (df=2)
    // sit in the ascending-df prefix
    val prefix = NearDup.prefixJaccardPairs(docs, "doc_id", "text",
      DedupQueries.JaccardN, DedupQueries.PrefixThrNum, DedupQueries.PrefixThrDen)
    val hit = prefix.filter(col("doc_a") === 100 && col("doc_b") === 101)
      .select("jaccard").as[Double].collect()
    assert(hit.toSeq == Seq(1.0), s"lossless path missed the duplicate: got ${hit.toSeq}")
  }

  test("q188 plan: prefix join is an equi-join on tokens, never a cartesian") {
    val p = DedupQueries.prefixJaccard(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix join degenerated:\n$p")
  }

  // --- native HLL aggregate -------------------------------------------------------

  test("native HLL aggregate is bit-identical to the register-frame estimator") {
    val li = Tables.lineitem(spark, sf)
    val viaFrame = graft.functions.Sketches.hllEstimate(
        graft.functions.Sketches.hllRegisters(li, col("l_orderkey"), SketchQueries.HllM),
        Nil, SketchQueries.HllM, "est")
      .as[Double].head()
    val viaAgg = li.agg(graft.plans.SketchAggs
        .hllEstimateAgg(col("l_orderkey"), SketchQueries.HllM).as("est"))
      .as[Double].head()
    assert(viaAgg == viaFrame, s"agg $viaAgg != frame $viaFrame")
  }

  test("graft_hll works from SQL text and equals the DataFrame aggregate") {
    GraftFunctions.install(spark)
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_hll_spec")
    val viaSql = spark.sql(
      s"SELECT graft_hll(l_orderkey, ${SketchQueries.HllM}) AS est FROM li_hll_spec")
      .as[Double].head()
    val viaAgg = Tables.lineitem(spark, sf)
      .agg(graft.plans.SketchAggs
        .hllEstimateAgg(col("l_orderkey"), SketchQueries.HllM).as("est"))
      .as[Double].head()
    assert(viaSql == viaAgg)
  }

  test("q189 plan: the sketch aggregate runs with map-side partials (ObjectHashAggregate)") {
    val df = SketchQueries.hllNativeAgg(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      s"typed-imperative aggregate should plan as ObjectHashAggregate:\n$p")
    assert(p.contains("partial_graft_hll"),
      s"map-side partial aggregation missing — buffer must combine before the shuffle:\n$p")
  }

  test("native HLL per-group estimates stay within the raw-regime error envelope") {
    val got = SketchQueries.hllNativeAgg(spark, sf)
      .select("est_ratio").as[Double].collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r > 0.85 && r < 1.15, s"est_ratio $r outside ±15%"))
  }
}
