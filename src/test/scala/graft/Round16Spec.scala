package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Incremental, Scd}
import graft.queries._

/** Round-16 contracts: the q255 rescue guard is ALIVE in the executed
  * plan (not pruned — ADVICE r15), signed-delta algebra treats an
  * out-of-domain sign as a no-op on BOTH aggregates, the IvmSink
  * marker/probe protocol drilled through direct batch calls, q253's
  * enforced middle-vertex quarantine (planted hub + fixture
  * non-bindingness), q248's enforced per-user event cap (planted bot +
  * fixture non-bindingness), and the q258 EXCEPT-form tracked SCD2
  * (complement equivalence, value-churn collapse, merge ≡ rebuild,
  * redelivery idempotence, q115-style validity audit).
  */
class Round16Spec extends AnyFunSuite {
  import TestSession._

  // --- q255: the in-plan rescue guard (ADVICE r15 medium) -------------------

  test("q255: raise_error guard survives column pruning into the executed plan") {
    val plan = SparkEntry.queries("q255_csv_roundtrip")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("raise_error"),
      "the rescue guard was pruned out of the executed plan — it must ride " +
        "a column the aggregate consumes")
  }

  // --- signed-delta algebra: sign ∉ {−1,+1} is a NO-OP (ADVICE r15 low) -----

  test("signedPartial: a zero sign contributes to neither the count nor the sums") {
    import spark.implicits._
    val delta = Seq((1L, 10.0, 1), (1L, 20.0, 0), (1L, 30.0, -1))
      .toDF("k", "v", "s")
    val r = Incremental.signedPartial(delta, Seq("k"), col("s"), "n",
      Seq("sv" -> col("v"))).collect().head
    // +1 and −1 cancel; the stray sign-0 row is invisible to BOTH
    // aggregates (before the fix its value was booked as a retraction
    // while the count ignored it — silently corrupting the view)
    assert(r.getAs[Long]("n") == 0L, s"count saw the sign-0 row: $r")
    assert(r.getAs[Double]("sv") == -20.0, s"sums saw the sign-0 row: $r")
  }

  // --- IvmSink: marker protocol drilled via direct batch calls --------------

  test("IvmSink: view matches signed recompute, marker carries only the high-water, replay is a no-op") {
    import spark.implicits._
    val path = tempDir("ivmsink16_") + "/view"
    val sink = graft.streaming.IvmSink.signedView(
      path, "k", "s", "n", Seq("tv" -> col("v"))) _
    val b0 = Seq((1L, 5.0, 1), (2L, 7.0, 1)).toDF("k", "v", "s")
    val b1 = Seq((1L, 5.0, -1), (2L, 1.0, 1)).toDF("k", "v", "s")
    sink(b0, 0L)
    sink(b1, 1L)
    def viewRows = graft.streaming.IvmSink.readView(spark, path, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // key 1 retracted to count 0 → vanishes; key 2 accumulates
    assert(viewRows == Set((2L, 2L, 8.0)), viewRows.toString)
    // the marker row holds batchId+1 and ZERO in every sum column — the
    // probe row (sign zeroed + filtered) can never fold value into it
    val marker = graft.sources.Snapshots.read(spark, path)
      .filter(col("k") === graft.streaming.IvmSink.MarkerKey)
      .collect()
    assert(marker.length == 1 && marker.head.getLong(1) == 2L &&
      marker.head.getDouble(2) == 0.0, marker.mkString(","))
    sink(b1, 1L) // at-least-once redelivery of a committed batch
    assert(viewRows == Set((2L, 2L, 8.0)), "replayed batch was re-applied")
  }

  // --- q253: enforced middle-vertex quarantine ------------------------------

  test("q253: a hub middle vertex above the cap is quarantined whole; bounded wedges survive") {
    import spark.implicits._
    // star: spokes 1..10 all meet at hub 100 (deg 10); plus an
    // independent wedge 201–202–203 (middle deg 2)
    val edges = ((1L to 10L).map(i => (i, 100L)) ++
      Seq((201L, 202L), (202L, 203L))).toDF("a", "b")
    val capped = GraphQueries.linkPredictionFrom(edges, topK = 100, maxMiddleDeg = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // hub-mediated spoke pairs are gone; the bounded wedge remains, and
    // pref_attach still uses TRUE degrees (quarantine bounds wedge
    // enumeration, not the degree table)
    assert(capped.toSeq == Seq((201L, 203L, 1L, 1L)), capped.mkString(","))
    val uncapped = GraphQueries.linkPredictionFrom(edges, topK = 100,
      maxMiddleDeg = 100L).collect()
    // cap lifted: the hub mediates all C(10,2) spoke pairs again
    assert(uncapped.length == 45 + 1, uncapped.length.toString)
  }

  test("q253: LinkMaxMiddleDeg is non-binding on the fixture co-purchase graph") {
    val e = Queries.copurchaseEdges(spark, sf)
      .filter(col("n_baskets") >= AnalyticsQueries.CoMinSupport)
      .select(col("item_a").as("a"), col("item_b").as("b"))
    val maxDeg = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .groupBy("a").agg(count(lit(1)).as("deg"))
      .agg(max(col("deg"))).head().getLong(0)
    assert(maxDeg <= GraphQueries.LinkMaxMiddleDeg,
      s"fixture max degree $maxDeg exceeds the quarantine cap — the gate " +
        "output would change; re-derive the cap")
  }

  // --- q248: enforced per-user event cap ------------------------------------

  test("q248: an over-cap bot user is quarantined whole; organic users are untouched") {
    import spark.implicits._
    val organic = Seq((2L, 1L, 10L, "view"), (2L, 2L, 11L, "purchase"))
    val bot = (1L to 6L).map(i => (1L, i + 10L, i, "view"))
    val df = (organic ++ bot).toDF("user_id", "ts", "event_id", "event_type")
    val got = AnalyticsQueries.journeyReport(df, maxEvents = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bot (6 events > cap 5) dropped WHOLE — not truncated; organic user
    // 2's v→p journey matches
    assert(got.toSeq == Seq((2L, 1L, 2L, 2L)), got.mkString(","))
  }

  test("q248: JourneyMaxEvents is non-binding on the fixture event stream") {
    val maxN = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    assert(maxN <= AnalyticsQueries.JourneyMaxEvents,
      s"fixture max per-user events $maxN exceeds the cap — the gate " +
        "output would change; re-derive the cap")
  }

  // --- q258: EXCEPT-form tracked SCD2 ---------------------------------------

  private def exceptSlice = Tables.events(spark, sf)
    .select(col("user_id"), col("event_id"), col("event_type"),
      col("value"), Cols.utcDate(col("ts")).as("day"), col("ts"))

  test("q258: except-form equals include-form with the complement track list") {
    val viaExcept = Scd.scd2FromChangelogTrackedExcept(exceptSlice,
      Seq("user_id"), "ts", Seq("event_id"), exceptCols = Seq("value"))
    val viaInclude = Scd.scd2FromChangelogTracked(exceptSlice,
      Seq("user_id"), "ts", Seq("event_id"),
      trackCols = Seq("event_type", "day"))
    assert(viaExcept.exceptAll(viaInclude).count() == 0 &&
      viaInclude.exceptAll(viaExcept).count() == 0)
  }

  test("q258: value-only churn updates the current version in place") {
    import spark.implicits._
    val d0 = java.sql.Date.valueOf("2024-01-01")
    val changelog = Seq(
      (1L, 10L, "a", 1.0, d0, 100L),
      (1L, 11L, "a", 2.0, d0, 200L),
      (1L, 12L, "a", 3.0, d0, 300L))
      .toDF("user_id", "event_id", "event_type", "value", "day", "ts")
    val got = Scd.scd2FromChangelogTrackedExcept(changelog,
      Seq("user_id"), "ts", Seq("event_id"), exceptCols = Seq("value"))
      .collect()
    // tracked tuple (event_type, day) never changes → ONE version whose
    // excepted value is the LATEST, effective_from the run's opening seq
    assert(got.length == 1, got.mkString(","))
    val r = got.head
    assert(r.getAs[Double]("value") == 3.0 &&
      r.getAs[Long]("effective_from") == 100L &&
      r.getAs[Boolean]("is_current"), r.toString)
  }

  test("q258: incremental merge fold ≡ full rebuild; redelivery is idempotent") {
    val slice = exceptSlice
    val cut = lit(EtlQueries.SplitTs).cast("timestamp")
    val b1 = slice.filter(col("ts") < cut)
    val b2 = slice.filter(col("ts") >= cut)
    val keys = Seq("user_id")
    val h1 = Scd.scd2FromChangelogTrackedExcept(b1, keys, "ts",
      Seq("event_id"), Seq("value"))
    val folded = Scd.scd2MergeTrackedExcept(h1, b2, keys, "ts",
      Seq("event_id"), Seq("value"))
    val rebuilt = Scd.scd2FromChangelogTrackedExcept(slice, keys, "ts",
      Seq("event_id"), Seq("value"))
    assert(folded.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(folded).count() == 0)
    val redelivered = Scd.scd2MergeTrackedExcept(folded, b2, keys, "ts",
      Seq("event_id"), Seq("value"))
    assert(redelivered.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(redelivered).count() == 0)
  }

  // --- q261: compaction planner ---------------------------------------------

  test("q261: cumulative-offset bin rule on a planted manifest") {
    import spark.implicits._
    val manifest = Seq((0L, 100L), (1L, 100L), (2L, 3900L), (3L, 100L),
      (4L, 8000L), (5L, 50L)).toDF("bucket", "n_rows")
    val plan = graft.sources.Compaction
      .planBins(manifest, "bucket", "n_rows", targetRows = 4000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    // starts 0,100,200,4100,4200,12200 → bins 0,0,0,1,1,3: small buckets
    // coalesce, the oversized bucket rides its start's bin, the tail
    // fragment honestly reads under_target
    assert(plan.toSeq == Seq(
      (0L, 3L, 4100L, 0L, 2L, false),
      (1L, 2L, 8100L, 3L, 4L, false),
      (3L, 1L, 50L, 5L, 5L, true)), plan.mkString(","))
  }

  // --- q262: sliding HLL max algebra ----------------------------------------

  test("q262: the trailing-window register max equals the union sketch exactly") {
    import spark.implicits._
    import graft.functions.Sketches
    val m = SketchQueries.HllSlideM
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val ev = ((1L to 20L).map(u => (u, d1)) ++ (21L to 40L).map(u => (u, d2)))
      .toDF("user_id", "day")
    val daily = Sketches.groupedHllRegisters(ev, "day", col("user_id"), m)
      .withColumn("day_num", datediff(col("day"),
        lit("1970-01-01").cast("date")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("idx").orderBy("day_num").rangeBetween(-6L, 0L)
    val slidEst = Sketches.hllEstimate(
      daily.withColumn("rho7", max(col("rho")).over(w))
        .select(col("day").as("window_end"), col("idx"),
          col("rho7").as("rho")),
      Seq("window_end"), m, "est").filter(col("window_end") === d2)
      .head().getDouble(1)
    // the same 40 users sketched as ONE set — the max algebra makes the
    // sliding combine EXACTLY the union sketch, not an approximation of it
    val unionEst = Sketches.hllEstimate(
      Sketches.hllRegisters(ev.select("user_id"), col("user_id"), m),
      Nil, m, "est").head().getDouble(0)
    assert(slidEst == unionEst, s"sliding $slidEst != union $unionEst")
  }

  // --- q264: water-fill invariants ------------------------------------------

  test("q264: planted supplies allocate the exact closed form") {
    import spark.implicits._
    val got = CurationQueries.waterfillFrom(
      Seq(("a", 10L), ("b", 20L), ("c", 100L)).toDF("source", "supply_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // budget = 130 div 2 = 65: a and b fit whole, c capped at the level
    assert(got.toSeq == Seq(("a", 10L, 10L, false), ("b", 20L, 20L, false),
      ("c", 100L, 35L, true)), got.mkString(","))
  }

  test("q264: Σ allocations ≡ budget and no allocation exceeds supply, remainder split") {
    import spark.implicits._
    // budget = 18 div 2 = 9 over supplies 5,6,7: nobody fits whole
    // (5+5·2=15 > 9) → level 3, remainder 0 → 3,3,3
    val even = CurationQueries.waterfillFrom(
      Seq(("x", 5L), ("y", 6L), ("z", 7L)).toDF("source", "supply_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(even.toSeq == Seq(("x", 3L), ("y", 3L), ("z", 3L)),
      even.mkString(","))
    // budget = 20 div 2 = 10 → level 3 rem 1: the asc-first source
    // takes the extra token, Σ = 10 exactly
    val rem = CurationQueries.waterfillFrom(
      Seq(("x", 5L), ("y", 6L), ("z", 9L)).toDF("source", "supply_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(rem.map(_._2).sum == 10L, rem.mkString(","))
    assert(rem.toSeq == Seq(("x", 4L), ("y", 3L), ("z", 3L)),
      rem.mkString(","))
    // fixture invariants: Σ alloc ≡ budget (= total div 2), alloc ≤ supply
    val fix = CurationQueries.budgetWaterfill(spark, sf).collect()
    val total = fix.map(_.getLong(1)).sum
    assert(fix.map(_.getLong(2)).sum == total / CurationQueries.WaterfillDen)
    fix.foreach(r => assert(r.getLong(2) <= r.getLong(1), r.toString))
  }

  // --- q263: left-outer stream interval join --------------------------------

  test("q263: unmatched purchases emit null-click rows; matches equal the inner join") {
    val out = StreamingQueries.streamedIntervalLeftJoin(spark, sf)
    val rows = out.collect()
    val matched = rows.filter(!_.isNullAt(3))
    val unmatched = rows.filter(_.isNullAt(3))
    // the outer join's matched subset IS the inner join...
    val inner = StreamingQueries.streamedIntervalJoin(spark, sf).collect()
    assert(matched.length == inner.length,
      s"matched ${matched.length} != inner ${inner.length}")
    // ...and every purchase appears exactly once among (match-keys ∪ unmatched)
    val nPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    val purchasesSeen = rows.map(_.getLong(1)).distinct.length
    assert(purchasesSeen.toLong == nPurchases,
      s"purchases seen $purchasesSeen != $nPurchases")
    assert(unmatched.forall(_.isNullAt(4)), "null click_id with non-null ts")
    assert(unmatched.nonEmpty,
      "fixture has no click-less purchase — the outer path is untested")
  }

  // --- q265: time-in-state conservation -------------------------------------

  test("q265: per-user validity windows partition [first event, horizon) exactly") {
    val ev = Tables.events(spark, sf)
    val close = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    // q03's versions chain gaplessly from each user's first event to the
    // horizon, so total time-in-state must equal Σ_user (horizon − first)
    // to the microsecond — any window bug (overlap, gap, open-version
    // mishandling) breaks the identity
    val expect = ev.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("f"))
      .agg(sum(lit(close) - col("f"))).head().getLong(0)
    val rep = AnalyticsQueries.timeInState(spark, sf)
    val got = rep.agg(sum(col("micros_in_state"))).head().getLong(0)
    assert(got == expect, s"$got != $expect")
    val shares = rep.agg(sum(col("share"))).head().getDouble(0)
    assert(math.abs(shares - 1.0) < 1e-9, shares.toString)
  }

  // --- q266: Neyman allocation invariants -----------------------------------

  test("q266: allocations sum to the budget and sit within 1 of the exact share") {
    val rep = CurationQueries.neymanAllocation(spark, sf).collect()
    assert(rep.map(_.getLong(3)).sum == CurationQueries.NeymanBudget)
    // largest-remainder property: every allocation is floor or ceil of
    // its exact share — recompute the share from the reported columns
    val wsum = rep.map(r => r.getLong(1).toDouble * r.getDouble(2)).sum
    rep.foreach { r =>
      val exact = CurationQueries.NeymanBudget.toDouble *
        (r.getLong(1).toDouble * r.getDouble(2)) / wsum
      val a = r.getLong(3).toDouble
      assert(a >= math.floor(exact) && a <= math.floor(exact) + 1.0,
        s"${r.getString(0)}: allocated $a vs exact $exact")
    }
  }

  // --- q267: SRM check formula ----------------------------------------------

  test("q267: chi-square column is exactly (a-b)^2/(a+b) and gates the flag") {
    AnalyticsQueries.srmCheck(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getLong(1), r.getLong(2))
      val chi2 = ((a - b) * (a - b)).toDouble / (a + b).toDouble
      assert(r.getDouble(3) == chi2, r.toString)
      assert(r.getBoolean(4) == (chi2 > AnalyticsQueries.SrmCritical), r.toString)
    }
  }

  // --- q268/q269: streaming window algebra ----------------------------------

  test("q268: each flushed sliding cell equals the sum of its member tumbling days") {
    val slide = StreamingQueries.streamedSlidingAgg(spark, sf).collect()
      .map(r => ((r.getTimestamp(0), r.getString(2)),
        (r.getLong(3), r.getLong(4)))).toMap
    val daily = StreamingQueries.streamedDailyAgg(spark, sf).collect()
      .map(r => ((r.getTimestamp(0), r.getString(2)),
        (r.getLong(3), r.getLong(4))))
    assert(slide.nonEmpty && daily.nonEmpty)
    // window algebra: the 7-day cell starting at d = Σ of the tumbling
    // day cells in [d, d+7) for the same type — but only where ALL
    // member days flushed (the sliding window's end is 6 days past the
    // last member day's end, so compare only cells fully inside both
    // emitted ranges)
    val dayMs = 86400000L
    var checked = 0
    slide.foreach { case ((ws, et), (n, cents)) =>
      val members = (0 until 7).map(i =>
        new java.sql.Timestamp(ws.getTime + i * dayMs))
      if (members.forall(m => daily.exists(_._1._1 == m))) {
        val exp = members.flatMap(m => daily.filter(d =>
          d._1._1 == m && d._1._2 == et).map(_._2))
        assert((n, cents) == ((exp.map(_._1).sum, exp.map(_._2).sum)),
          s"cell ($ws, $et)")
        checked += 1
      }
    }
    assert(checked > 0, "no fully-covered sliding cell to check")
  }

  test("q269: full outer = left outer plus purchase-less clicks") {
    val full = StreamingQueries.streamedIntervalFullJoin(spark, sf)
    val left = StreamingQueries.streamedIntervalLeftJoin(spark, sf)
    // the purchase-bearing subset of the full join IS the left join
    val purchSide = full.filter(col("purchase_id").isNotNull)
    assert(purchSide.exceptAll(left).count() == 0 &&
      left.exceptAll(purchSide).count() == 0)
    // right-only rows: null purchase columns, and every click appears
    // somewhere (matched or right-only)
    val rightOnly = full.filter(col("purchase_id").isNull)
    assert(rightOnly.filter(col("purchase_ts").isNotNull).count() == 0)
    val nClicks = Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    val clicksSeen = full.filter(col("click_id").isNotNull)
      .select("click_id").distinct().count()
    assert(clicksSeen == nClicks, s"$clicksSeen != $nClicks")
    assert(rightOnly.count() > 0, "fixture has no purchase-less click")
  }

  test("q258: validity audit — no overlaps, no gaps, exactly one current per key") {
    val scd = AnalyticsQueries.scd2TrackedExcept(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("effective_from"), col("event_id"))
    val bad = scd
      .withColumn("__prev_to", lag(col("effective_to"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("__prev_to") > col("effective_from"), 1L).otherwise(0L))
          .as("n_overlaps"),
        sum(when(col("__prev_to") < col("effective_from"), 1L).otherwise(0L))
          .as("n_gaps"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"))
      .filter(col("n_overlaps") > 0 || col("n_gaps") > 0 ||
        col("n_current") =!= 1)
    assert(bad.count() == 0, bad.collect().mkString(","))
  }
}
