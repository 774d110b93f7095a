package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Intervals, Linkage}
import graft.queries.{AnalyticsQueries, SketchQueries, TextQueries}

/** Targeted behavior specs for the q101–q110 family (registered this
  * round): gaps-and-islands, calendar densification, fuzzy linkage, and
  * the report-query invariants their oracles can't express directly.
  */
class RegisteredThirdDecadeSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- Intervals.thresholdIslands ------------------------------------------

  test("thresholdIslands: hand-computed islands on a known interval set") {
    // key 1: intervals [0,9] and [2,5] over span [0,9] (10 days).
    // dur = 10 + 4 = 14; avg concurrency = 14/10 = 1.4 → threshold is
    // cnt·10 > 14, i.e. cnt ≥ 2: exactly days [2,5] — one island.
    val iv = Seq((1L, 0L, 9L), (1L, 2L, 5L)).toDF("k", "st", "en")
    val out = Intervals.thresholdIslands(iv, "k", "st", "en")
      .select("k", "island_seq", "island_start", "island_end", "n_days", "peak_open")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L, 2L, 5L, 4L, 2L)))
  }

  test("thresholdIslands: adjacent qualifying segments merge into one island") {
    // key 7: three stacked intervals make concurrency 1,2,3,2,1 across
    // [0,4]; dur=9, span=5 → threshold cnt·5 > 9 ⟺ cnt ≥ 2 → days [1,3]
    // must merge into a SINGLE island even though the concurrency value
    // changes inside it (segments split at every boundary).
    val iv = Seq((7L, 0L, 4L), (7L, 1L, 3L), (7L, 2L, 2L)).toDF("k", "st", "en")
    val out = Intervals.thresholdIslands(iv, "k", "st", "en")
      .select("island_seq", "island_start", "island_end", "peak_open")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L, 3L, 3L)))
  }

  test("thresholdIslands: keys are independent (per-key thresholds)") {
    val iv = Seq(
      (1L, 0L, 9L), (1L, 2L, 5L),   // key 1: island [2,5] as above
      (2L, 0L, 1L)                   // key 2: constant concurrency → no island
    ).toDF("k", "st", "en")
    val out = Intervals.thresholdIslands(iv, "k", "st", "en")
    assert(out.filter($"k" === 2L).count() === 0)
    assert(out.filter($"k" === 1L).count() === 1)
  }

  // --- Analytics.gapFillForward --------------------------------------------

  test("gapFillForward: gaps carry the last observed value, exactly") {
    val daily = Seq(
      ("a", java.sql.Date.valueOf("2024-01-01"), 10L),
      ("a", java.sql.Date.valueOf("2024-01-04"), 40L),
      ("b", java.sql.Date.valueOf("2024-01-02"), 7L)
    ).toDF("k", "day", "v")
    val out = Analytics.gapFillForward(daily, "k", "day", "v")
      .select($"k", $"day".cast("string"), $"v", $"filled_v", $"is_gap")
      .as[(String, String, Option[Long], Option[Long], Boolean)]
      .collect().toSeq.sortBy(r => (r._1, r._2))
    // global span is 01-01..01-04 for BOTH keys
    assert(out.map(r => (r._1, r._2, r._4, r._5)) === Seq(
      ("a", "2024-01-01", Some(10L), false),
      ("a", "2024-01-02", Some(10L), true),
      ("a", "2024-01-03", Some(10L), true),
      ("a", "2024-01-04", Some(40L), false),
      ("b", "2024-01-01", None, true),       // before first observation: null
      ("b", "2024-01-02", Some(7L), false),
      ("b", "2024-01-03", Some(7L), true),
      ("b", "2024-01-04", Some(7L), true)))
  }

  // --- Linkage.fuzzyPairs ---------------------------------------------------

  test("fuzzyPairs: in-block typo pairs survive, cross-block pairs never join") {
    val dict = Seq(
      ("navy linen shirt", 3L), ("navi linen shirt", 1L),   // dist 1, same block
      ("navy wool shirt", 2L),                               // dist ≥3 from both
      ("navy linen scarf", 5L)                               // different block
    ).toDF("name", "n_rows")
    val out = Linkage.fuzzyPairs(dict, nm => element_at(split(nm, " "), -1), 2)
      .select("name_a", "name_b", "edit_dist")
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("navi linen shirt", "navy linen shirt", 1L)))
  }

  test("fuzzyPairs: pair orientation is strict (no self or reversed pairs)") {
    val dict = Seq(("aa", 1L), ("ab", 1L), ("ba", 1L)).toDF("name", "n_rows")
    val out = Linkage.fuzzyPairs(dict, _ => lit("one"), 2)
      .select("name_a", "name_b").as[(String, String)].collect()
    assert(out.forall { case (a, b) => a < b })
    assert(out.length === 3) // C(3,2), each exactly once
  }

  // --- report-query invariants over the fixtures ---------------------------

  test("q103: prev_revenue is set iff the nation has the adjacent calendar month") {
    val rows = AnalyticsQueries.momGrowth(spark, sf)
      .select("nation", "month_key", "prev_revenue")
      .as[(String, Long, Option[Double])].collect()
    val present = rows.map(r => (r._1, r._2)).toSet
    rows.foreach { case (nation, mk, prev) =>
      val adjKey = if (mk % 100 == 1) mk - 89 else mk - 1
      assert(prev.isDefined === present((nation, adjKey)),
        s"$nation $mk: prev=${prev.isDefined} but adjacent-month presence is ${present((nation, adjKey))}")
    }
  }

  test("q108: gini is defined and in [0,1) for every non-empty source") {
    val rows = TextQueries.tokenGini(spark, sf)
      .select("total_tokens", "gini").as[(Long, Option[Double])].collect()
    rows.foreach { case (tok, gini) =>
      if (tok > 0) {
        assert(gini.isDefined)
        assert(gini.get >= 0.0 && gini.get < 1.0, s"gini ${gini.get} out of range")
      } else assert(gini.isEmpty, "zero-token source must yield null gini, not NaN")
    }
  }

  test("q109: histogram shares sum to 1 and buckets partition the gaps") {
    val rows = AnalyticsQueries.interarrivalHist(spark, sf)
      .select("n_gaps", "share").as[(Long, Double)].collect()
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-9)
    // gap count = events - distinct users (one lag-null per user)
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._1).sum === expected)
  }

  test("q110: the fixture star has zero orphan foreign keys, with full row counts") {
    val byRel = AnalyticsQueries.fkAudit(spark, sf)
      .select("relationship", "n_rows", "n_orphans")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byRel.values.forall(_._2 == 0L), s"orphans found: $byRel")
    assert(byRel("lineitem_orders")._1 === Tables.lineitem(spark, sf).count())
    assert(byRel("orders_customer")._1 === Tables.orders(spark, sf).count())
  }

  test("q107: correlation lands in [-1, 1] and n_rows covers the table") {
    val rows = AnalyticsQueries.metricCorrelation(spark, sf)
      .select("n_rows", "corr_qty_price").as[(Long, Double)].collect()
    assert(rows.map(_._1).sum === Tables.lineitem(spark, sf).count())
    rows.foreach { case (_, c) => assert(c >= -1.0 && c <= 1.0, s"corr $c") }
  }

  test("q106: exactly one modal event type per active user") {
    val out = AnalyticsQueries.topEventType(spark, sf)
    assert(out.count() ===
      Tables.events(spark, sf).select("user_id").distinct().count())
    assert(out.groupBy("user_id").count().filter($"count" > 1).count() === 0)
  }

  // --- HLL sketch (q121/q122) ------------------------------------------------

  test("q121: HLL estimate lands within the sketch's error regime") {
    val row = SketchQueries.hllDistinct(spark, sf).head()
    val ratio = row.getAs[Double]("est_ratio")
    // m=256 → σ ≈ 1.04/√256 = 6.5%; 3σ bound with margin
    assert(ratio > 0.8 && ratio < 1.2, s"est_ratio $ratio outside [0.8, 1.2]")
  }

  test("HLL registers: split-and-max-merge equals the whole-corpus sketch") {
    import graft.functions.Sketches
    val li = Tables.lineitem(spark, sf)
    val a = Sketches.hllRegisters(li.filter($"l_orderkey" % 2 === 0),
      col("l_orderkey"), 64)
    val b = Sketches.hllRegisters(li.filter($"l_orderkey" % 2 =!= 0),
      col("l_orderkey"), 64)
    val merged = a.unionByName(b).groupBy("idx")
      .agg(max("rho").as("rho"))
    val whole = Sketches.hllRegisters(li, col("l_orderkey"), 64)
    assert(merged.except(whole).count() === 0 &&
      whole.except(merged).count() === 0)
  }

  test("HLL rho cascade: integer thresholds match the bit definition") {
    import graft.functions.Sketches
    val w = 10
    val vals = Seq(0L, 1L, 2L, 3L, 511L, 512L, 513L, 1023L, (1L << w) - 1)
    val df = vals.toDF("rest")
    val got = df.select($"rest", Sketches.hllRho(col("rest"), w).as("rho"))
      .as[(Long, Int)].collect().toMap
    vals.foreach { v =>
      val expected =
        if (v == 0L) w + 1
        else w - (63 - java.lang.Long.numberOfLeadingZeros(v))
      assert(got(v) === expected, s"rho($v) = ${got(v)}, expected $expected")
    }
  }

  // --- plan guards ----------------------------------------------------------

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q102: every window partitions by supplier — no global sort task") {
    val p = plan("q102_supplier_load_islands")
    assert(!p.contains("Window [") ||
      !"""Window \[[^\]]*\], \[\]""".r.findFirstIn(p).isDefined,
      "found an unpartitioned window in the islands plan")
    assert("windowspecdefinition\\(suppkey".r.findAllIn(p.toLowerCase).nonEmpty ||
      p.contains("suppkey"), p.take(2000))
  }

  test("q105: the quadratic join runs on the dictionary, inside blocks only") {
    val p = plan("q105_fuzzy_part_names")
    // each join side builds the dictionary from one scan of `part` — two
    // scans total; the PAIR join itself must be keyed on the block, never
    // a cartesian product over names (let alone entities)
    assert("FileScan parquet".r.findAllIn(p).length <= 2, p)
    assert(!p.contains("CartesianProduct"), "blocking must key the join")
  }

  test("q104: dormant filter takes a broadcast anti-join, never SMJ on the fact") {
    val p = plan("q104_dormant_customers")
    assert(p.contains("LeftAnti"), "NOT EXISTS shape lost")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      "recent-order cutoff must push to the orders scan")
  }
}
