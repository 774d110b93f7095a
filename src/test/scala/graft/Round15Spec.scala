package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries._

/** Round-15 contracts: zone maps, signed-delta IVM and the other
  * round-15 operators (its PQ/ANN tests live in AnnSpec, its q236
  * condensation tests in SccSpec).
  */
class Round15Spec extends AnyFunSuite {
  import TestSession._

  test("q238: both zone maps are supersets of truth; time bands prune better two-level") {
    val res = RuntimeQueries.hilbertTwoLevelCompare(spark, sf)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // true matching rows per probe (the floor any zone map must cover)
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey").as("x"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("long").as("y"))
    RuntimeQueries.TwoLevelProbes.foreach { case (id, xlo, xhi, ylo, yhi) =>
      val truth = orders.filter(col("x").between(xlo, xhi) &&
        col("y").between(ylo, yhi)).count()
      val (_, rowsFlat, _, rowsTwo) = res(id)
      assert(rowsFlat >= truth && rowsTwo >= truth,
        s"probe $id: zone maps must be supersets ($rowsFlat/$rowsTwo vs $truth)")
    }
    // the time-band probe (all keys × one month): range-planning the
    // time dimension first must touch no MORE rows than the flat curve
    val (_, fRows, _, tRows) = res(2)
    assert(tRows <= fRows,
      s"time-band probe: two-level touched $tRows > flat $fRows")
  }

  // --- q240: signed-delta IVM -------------------------------------------------

  test("q240: signed merge on a hand fixture — vanish, update, new key") {
    import spark.implicits._
    import graft.operators.Incremental
    // view: u1 {2 rows, 30.00}, u2 {1 row, 5.00}
    val view = Seq((1L, 2L, BigDecimal("30.00")), (2L, 1L, BigDecimal("5.00")))
      .toDF("k", "n", "v")
      .select(col("k"), col("n"),
        col("v").cast("decimal(28,2)").as("v"))
    // delta: retract one u1 row (10.00), retract u2 fully, insert u3
    val delta = Seq((1L, -1, 10.0), (2L, -1, 5.0), (3L, 1, 7.5))
      .toDF("k", "s", "value")
    val dp = Incremental.signedPartial(delta, Seq("k"), col("s"), "n",
      Seq("v" -> Cols.dec2(col("value"))))
    val got = Incremental.applySignedDelta(view, dp, Seq("k"), "n", Seq("v"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).toSeq
    assert(got == Seq((1L, 1L, "20.00"), (3L, 1L, "7.50")))
  }

  test("q240: retracting rows the view never held fails fast") {
    import spark.implicits._
    import graft.operators.Incremental
    val view = Seq((1L, 1L, BigDecimal("10.00"))).toDF("k", "n", "v")
      .select(col("k"), col("n"), col("v").cast("decimal(28,2)").as("v"))
    val delta = Seq((1L, -1, 10.0), (1L, -1, 10.0)).toDF("k", "s", "value")
    val dp = Incremental.signedPartial(delta, Seq("k"), col("s"), "n",
      Seq("v" -> Cols.dec2(col("value"))))
    val ex = intercept[Exception] {
      Incremental.applySignedDelta(view, dp, Seq("k"), "n", Seq("v")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("IVM underflow")),
      s"expected the IVM underflow raise_error, got: $ex")
  }

  test("q240: maintained view equals the full recompute") {
    val got = EtlQueries.ivmSigned(spark, sf)
    val recompute = Tables.events(spark, sf)
      .filter(col("ts") > Cols.utcTs(EtlQueries.SplitTs) ||
        pmod(col("event_id"), lit(EtlQueries.IvmDeleteMod)) =!= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(Cols.dec2(col("value"))).cast("double").as("total_value"))
    assert(got.exceptAll(recompute).isEmpty && recompute.exceptAll(got).isEmpty)
  }

  // --- q241: CMS join-cardinality bound ---------------------------------------

  test("q241: every depth's inner product upper-bounds the exact join size") {
    val rows = RuntimeQueries.joinSizeCms(spark, sf).collect()
    assert(rows.length == SketchQueries.CmsDepth)
    val exact = rows.head.getLong(3)
    val est = rows.head.getLong(2)
    assert(exact > 0L, "fixture sanity: the probe join must be non-empty")
    rows.foreach(r => assert(r.getLong(1) >= exact,
      s"depth ${r.getInt(0)}: dot ${r.getLong(1)} < exact $exact"))
    assert(est == rows.map(_.getLong(1)).min)
  }

  // --- q242: ORC scan contract -------------------------------------------------

  test("q242: the ORC read-back pushes the range filter and prunes columns") {
    val plan = RuntimeQueries.orcRoundtrip(spark, sf).queryExecution.executedPlan
      .toString
    val scan = plan.linesIterator.filter(_.contains("Batched")).mkString("\n")
    assert(plan.contains("PushedFilters: ["), s"no PushedFilters in:\n$plan")
    // the Source-V1 pushed-filter rendering (`GreaterThanOrEqual(col,…)`)
    // appears ONLY in the PushedFilters list — DataFilters renders
    // expressions as `(col#id >= …)` — so this pins the range reaching
    // the ORC reader even when Spark elides the list mid-string
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range not pushed to the ORC reader:\n$scan")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).mkString(";")
    assert(!readSchema.contains("l_orderkey") && readSchema.contains("l_returnflag"),
      s"ORC read not pruned to the 4 written columns: $readSchema")
  }

  // --- q243: bloom path ≡ exact path -------------------------------------------

  test("q243: bloom-prefiltered decontamination is bit-identical to q56") {
    val exact = DedupQueries.decontaminate(spark, sf)
    val bloom = DedupQueries.decontaminateBloom(spark, sf)
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
  }

  // --- q247: join-agg IVM ---------------------------------------------------------

  test("q247: maintained join-agg view equals the full recompute") {
    val got = EtlQueries.ivmJoinAgg(spark, sf)
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= Cols.ntzTs(EtlQueries.IvmJoinCutTs) ||
        pmod(col("l_linenumber"), lit(EtlQueries.IvmJoinDeleteMod)) =!= 0)
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
    val full = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        Cols.moneySum(Cols.discounted(col("l_extendedprice"),
          col("l_discount"))).as("revenue"))
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
  }

  test("q249: dim-change IVM equals the star report over the updated dimension") {
    val got = EtlQueries.ivmDimChange(spark, sf)
    val updated = Tables.customer(spark, sf)
      .select(col("c_custkey"),
        when(pmod(col("c_custkey"), lit(EtlQueries.DimChangeMod)) === 0,
          pmod(col("c_nationkey") + EtlQueries.DimChangeShift, lit(25)))
          .otherwise(col("c_nationkey")).as("c_nationkey"))
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
    val full = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(updated, o("o_custkey") === updated("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        Cols.moneySum(Cols.discounted(col("l_extendedprice"),
          col("l_discount"))).as("revenue"))
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
  }

  test("q250: the split rollup conserves every verified pair") {
    val rows = CurationQueries.splitLeakage(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Queries.verifiedPairs(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == total,
      "rolled-up pair count != verified-pair count")
    rows.foreach(r => assert(r.getString(0) <= r.getString(1),
      "split combination not canonically ordered"))
  }

  test("q251: cluster-hash split closes the leak the doc-hash split measures") {
    val assign = CurationQueries.clusterSplitAssign(spark, sf).select("doc_id", "split")
    val leaks = Queries.verifiedPairs(spark, sf)
      .join(assign.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(assign.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(leaks == 0L, s"$leaks near-dup pairs cross the cluster split")
    // and the fixture's doc-hash split DOES leak — the problem is real,
    // not vacuously absent
    val docLeaks = CurationQueries.splitLeakage(spark, sf)
      .filter(col("split_a") =!= col("split_b"))
      .agg(coalesce(sum("n_pairs"), lit(0L))).head().getLong(0)
    assert(docLeaks > 0L, "fixture sanity: doc-hash split shows no leak to fix")
  }

  test("q252: linear interpolation on a hand fixture — interior exact, edges null") {
    import spark.implicits._
    import graft.operators.Analytics
    def d(n: Int) = java.sql.Date.valueOf(f"2024-01-$n%02d")
    // key A observes 10.00@d2 and 40.00@d5 inside a grid d1..d6 (key B
    // extends the span): d3→20, d4→30, d1/d6 edge gaps stay null
    val daily = Seq(("A", d(2), BigDecimal("10.00")), ("A", d(5), BigDecimal("40.00")),
        ("B", d(1), BigDecimal("1.00")), ("B", d(6), BigDecimal("7.00")))
      .toDF("k", "day", "v")
    val got = Analytics.gapFillLinear(daily, "k", "day", "v")
      .filter(col("k") === "A").orderBy("day").collect()
      .map(r => (r.getDate(1).toString, Option(r.get(3)).map(_.toString), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", None, true),
      ("2024-01-02", Some("10.0"), false),
      ("2024-01-03", Some("20.0"), true),
      ("2024-01-04", Some("30.0"), true),
      ("2024-01-05", Some("40.0"), false),
      ("2024-01-06", None, true)))
  }

  test("q253: planted square + pendant — wedge candidates, edges excluded") {
    import spark.implicits._
    // square 1-2-3-4-1 plus pendant 5 on 1:
    //   diagonals (1,3) and (2,4) have TWO common neighbors each;
    //   (2,5)/(4,5) one (via 1); (3,5) zero (no wedge → absent);
    //   existing edges never appear
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 5L))
      .toDF("a", "b")
    val got = GraphQueries.linkPredictionFrom(e, 10, GraphQueries.LinkMaxMiddleDeg)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set((1L, 3L), (2L, 4L), (2L, 5L), (4L, 5L)))
    // degrees: 1→3, 2→2, 3→2, 4→2, 5→1
    assert(got((1L, 3L)) == (2L, 6L))
    assert(got((2L, 4L)) == (2L, 4L))
    assert(got((2L, 5L)) == (1L, 2L))
    assert(got((4L, 5L)) == (1L, 2L))
  }

  test("q255: a malformed CSV row lands in the rescue column, clean rows parse") {
    import org.apache.spark.sql.types._
    import graft.sources.Sources
    val dir = TestSession.tempDir("graft_csvbad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/x.csv"),
      "l_orderkey,l_returnflag,l_quantity,l_extendedprice\n" +
        "1,N,5.0,100.0\n" +
        "2,R,notanumber,50.0\n")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_returnflag", StringType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType)))
    val (clean, quarantine) = Sources.splitRescued(
      Sources.csvWithRescue(spark, dir, schema))
    assert(clean.count() == 1L && quarantine.count() == 1L)
    assert(quarantine.select("l_orderkey").head().getLong(0) == 2L)
  }

  // --- q248: pattern-match semantics ---------------------------------------------

  test("q248: planted sequences — greedy runs, interruption, non-overlap") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def evs(u: Long, types: Seq[String]) =
      types.zipWithIndex.map { case (t, i) => (u, ts(i), (u * 100 + i), t) }
    val events = (
      // u1: vvcp | e | vp → 2 matches, lens 4 + 2
      evs(1L, Seq("view", "view", "click", "purchase", "error", "view", "purchase")) ++
      // u2: v e p → interruption kills the run, 0 matches
      evs(2L, Seq("view", "error", "purchase")) ++
      // u3: vcvp → ONE greedy match spanning all four
      evs(3L, Seq("view", "click", "view", "purchase")) ++
      // u4: pure signups → empty-match aggregates stay 0, not null
      evs(4L, Seq("signup", "signup"))
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = AnalyticsQueries.journeyReport(events).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 6L, 4L),
      (2L, 0L, 0L, 0L),
      (3L, 1L, 4L, 4L),
      (4L, 0L, 0L, 0L)))
  }

  // --- q244: temporal alignment ------------------------------------------------

  test("q244: alignment on a hand fixture — staggered versions, open tails") {
    import spark.implicits._
    import graft.operators.Scd
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // A changes at d1 and d5 (versions [1,5), [5,∞));
    // B changes at d3        (version  [3,∞))
    val a = Seq((1L, "a1", ts(1), 1L), (1L, "a2", ts(5), 2L))
      .toDF("user_id", "a_type", "ts", "event_id")
      .withColumnRenamed("a_type", "event_type")
    val b = Seq((1L, "b1", ts(3), 3L))
      .toDF("user_id", "b_type", "ts", "event_id")
      .withColumnRenamed("b_type", "event_type")
    def hist(side: org.apache.spark.sql.DataFrame, attr: String) =
      Scd.scd2FromChangelog(side, Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("event_type").as(attr),
          col("effective_from"), col("effective_to"))
    val got = Scd.alignHistories(hist(a, "a_type"), hist(b, "b_type"),
        Seq("user_id"), Seq("a_type"), Seq("b_type"))
      .orderBy("valid_from")
      .collect()
      .map(r => (r.getString(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)))).toSeq
    // a1 × b1 on [3,5); a2 × b1 on [5,∞) — a1's [1,3) has no B partner
    assert(got == Seq(
      ("a1", "b1", ts(3), Some(ts(5))),
      ("a2", "b1", ts(5), None)))
  }

  test("q244: segment set covers exactly the pairwise overlaps (no dup segments)") {
    val rows = EtlQueries.temporalAlign(spark, sf)
    // every closed segment is strictly positive-length, and within a user
    // segments for a fixed (a_type run) never overlap each other:
    // elementary segments tile, they don't stack
    val bad = rows.filter(col("valid_to").isNotNull &&
      col("valid_to") <= col("valid_from")).count()
    assert(bad == 0L, s"$bad non-positive-length closed segments")
    val n = rows.count()
    val distinct = rows.distinct().count()
    assert(n == distinct, "duplicate aligned segments")
  }

}
