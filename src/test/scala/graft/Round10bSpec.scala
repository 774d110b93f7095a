package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ZOrderExprs
import graft.queries._

/** Property specs for the q147–q152 batch (Z-order layout, sequence
  * mining, range planning, cross-source similarity, RRF, FD profiling).
  */
class Round10bSpec extends AnyFunSuite {
  import TestSession._

  // --- q147: Z-order -----------------------------------------------------

  test("spread16/morton16 match the bit-interleave definition") {
    def slowSpread(v: Long): Long =
      (0 until 16).map(i => ((v >> i) & 1L) << (2 * i)).reduce(_ | _)
    val cases = Seq(0L, 1L, 2L, 3L, 0xFFL, 0xFFFFL, 0xA5C3L, 54321L)
    for (v <- cases) assert(ZOrderExprs.spread16(v) == slowSpread(v), s"v=$v")
    assert(ZOrderExprs.spread16(0xFFFFL) == 0x55555555L)
    // morton16 in the engine (codegen path) equals the Scala definition
    import spark.implicits._
    val df = cases.flatMap(x => cases.map(y => (x, y))).toDF("x", "y")
      .select(col("x"), col("y"), ZOrderExprs.morton16(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      val exp = ZOrderExprs.spread16(r.getLong(0)) | (ZOrderExprs.spread16(r.getLong(1)) << 1)
      assert(r.getLong(2) == exp, s"(${r.getLong(0)},${r.getLong(1)})")
    }
  }

  test("q147: every Z-block is an aligned grid rectangle with tight bounds") {
    // blockShift=6 on an interleaved code ⇒ each block covers an 8×8 tile
    // of the 256×256 grid: per-block min/max must sit inside one tile.
    val rows = SparkEntry.queries("q147_zorder_manifest")(spark, sf).collect()
    assert(rows.nonEmpty)
    val tile = 1 << (RuntimeQueries.ZBlockShift / 2)
    rows.foreach { r =>
      val (minX, maxX) = (r.getAs[Long]("min_x"), r.getAs[Long]("max_x"))
      val (minY, maxY) = (r.getAs[Long]("min_y"), r.getAs[Long]("max_y"))
      assert(maxX - minX < tile && maxY - minY < tile,
        s"block ${r.getAs[Long]("block")} spans ($minX..$maxX, $minY..$maxY)")
      assert(minX / tile == maxX / tile && minY / tile == maxY / tile,
        s"block ${r.getAs[Long]("block")} crosses a tile boundary")
    }
    // and the manifest accounts for every order
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.orders(spark, sf).count())
  }

  // --- q148: trigram mining ----------------------------------------------

  test("q148: trigram total equals sum over users of max(0, n-2)") {
    val total = SparkEntry.queries("q148_event_trigrams")(spark, sf)
      .agg(sum("n_seq")).collect()(0).getLong(0)
    val expected = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .select(sum(greatest(col("n") - 2, lit(0L)))).collect()(0).getLong(0)
    assert(total == expected)
  }

  // --- q149: range planner -----------------------------------------------

  test("q149: buckets cover all rows and are value-monotone") {
    val rows = SparkEntry.queries("q149_range_plan")(spark, sf)
      .orderBy("bucket").collect()
    assert(rows.map(_.getAs[Long]("bucket")).forall(b => b >= 0 && b < RuntimeQueries.RangeK))
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.lineitem(spark, sf).count())
    // assignment is monotone in the value ⇒ bucket ranges don't overlap
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("max_price") <= b.getAs[Double]("min_price"),
          s"bucket ${a.get(0)} overlaps ${b.get(0)}")
      case _ =>
    }
  }

  // --- q150: source similarity matrix ------------------------------------

  test("q150: pair matrix is upper-triangular with jaccard in (0,1]") {
    val rows = SparkEntry.queries("q150_source_similarity")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20 * 19 / 2)
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard $j out of range")
      assert(r.getAs[Long]("common") >= 1L)
    }
  }

  // --- q151: RRF fusion ---------------------------------------------------

  test("q151: fused ranks are permutations and rrf is the stated formula") {
    val rows = SparkEntry.queries("q151_rrf_fusion")(spark, sf).collect()
    assert(rows.length == AnnQueries.HybridK)
    rows.foreach { r =>
      val exp = 1.0 / (AnnQueries.RrfC + r.getAs[Int]("r_lex")) +
        1.0 / (AnnQueries.RrfC + r.getAs[Int]("r_dense"))
      assert(r.getAs[Double]("rrf") == exp)
    }
    // descending by rrf with doc_id tiebreak
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Double]("rrf") >= b.getAs[Double]("rrf"))
      case _ =>
    }
    // ranks within the candidate pool are distinct
    val lex = rows.map(_.getAs[Int]("r_lex"))
    assert(lex.distinct.length == lex.length)
  }

  // --- q152: FD profile ---------------------------------------------------

  test("q152: key-determined dependencies hold; non-keys fail") {
    val rows = SparkEntry.queries("q152_fd_profile")(spark, sf).collect()
      .map(r => r.getAs[String]("lhs") -> r.getAs[Long]("fd_holds")).toMap
    assert(rows("orders.o_orderkey") == 1L, "primary key must determine custkey")
    assert(rows("customer.c_custkey") == 1L)
    assert(rows("nation.n_nationkey") == 1L)
    assert(rows("orders.o_custkey") == 0L, "customer places many orders")
    assert(rows("events.user_id") == 0L, "a user emits many event types")
  }

  // --- q153: entity clusters ----------------------------------------------

  test("q153: roster partitions the dictionary and merges fuzzy pairs") {
    val rows = SparkEntry.queries("q153_entity_clusters")(spark, sf).collect()
    val nNames = rows.map(_.getAs[Long]("n_names")).sum
    val nParts = rows.map(_.getAs[Long]("n_parts")).sum
    val dictSize = Tables.part(spark, sf).select("p_name").distinct().count()
    assert(nNames == dictSize, "every name lands in exactly one cluster")
    assert(nParts == Tables.part(spark, sf).count())
    val nPairs = SparkEntry.queries("q105_fuzzy_part_names")(spark, sf).count()
    if (nPairs > 0)
      assert(rows.length < dictSize, "fuzzy edges must merge some clusters")
  }

  // --- q154: pseudonymization audit ---------------------------------------

  test("q154: tokenization is injective and join-consistent on this data") {
    val r = SparkEntry.queries("q154_pseudonym_audit")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_users") == r.getAs[Long]("n_user_tokens"))
    assert(r.getAs[Long]("n_custs") == r.getAs[Long]("n_cust_tokens"))
    assert(r.getAs[Long]("joined_raw") == r.getAs[Long]("joined_tok"))
    assert(r.getAs[Long]("joined_raw") > 0, "audit needs a non-trivial join")
  }

  // --- q155: integer PageRank ----------------------------------------------

  test("q155: ranks cover all incident items and respect the damping floor") {
    val rows = SparkEntry.queries("q155_pagerank_copurchase")(spark, sf).collect()
    val floor = 15L * GraphQueries.PrScale / 100L
    assert(rows.forall(_.getAs[Long]("rank_score") >= floor))
    // node set = items appearing in at least one co-purchase pair
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).distinct()
    val incident = items.alias("a")
      .join(items.alias("c"), col("a.b") === col("c.b") && col("a.i") =!= col("c.i"))
      .select(col("a.i")).distinct().count()
    assert(rows.length == incident)
    // mass concentrates: not all ranks equal (the graph is not regular)
    assert(rows.map(_.getAs[Long]("rank_score")).distinct.length > 1)
  }

  // --- q156: grouping sets --------------------------------------------------

  test("q156: lattice levels carry consistent totals") {
    val rows = SparkEntry.queries("q156_grouping_sets")(spark, sf).collect()
    val gids = rows.map(_.getAs[Long]("gid")).toSet
    assert(gids == Set(0L, 1L, 3L), s"unexpected grouping ids $gids")
    val total = Tables.lineitem(spark, sf).count()
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1 && grand(0).getAs[Long]("n_items") == total)
    val detailSum = rows.filter(_.getAs[Long]("gid") == 0L)
      .map(_.getAs[Long]("n_items")).sum
    assert(detailSum == total, "detail level must partition the rows")
  }

  // --- q157: basket lift ----------------------------------------------------

  test("q157: lift is positive, pairs oriented, descending order") {
    val rows = SparkEntry.queries("q157_basket_lift")(spark, sf).collect()
    assert(rows.length == AnalyticsQueries.LiftTopK)
    rows.foreach { r =>
      assert(r.getAs[Long]("item_a") < r.getAs[Long]("item_b"))
      assert(r.getAs[Double]("lift") > 0.0)
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Double]("lift") >= b.getAs[Double]("lift"))
      case _ =>
    }
  }

  // --- q159: pruning simulator ----------------------------------------------

  test("q159: control probe reads everything; point probes prune") {
    val rows = SparkEntry.queries("q159_pruning_simulator")(spark, sf).collect()
      .map(r => r.getAs[Int]("probe_id") -> r).toMap
    val full = rows(6)
    assert(full.getAs[Long]("n_blocks_read") == full.getAs[Long]("n_blocks_total"))
    assert(full.getAs[Long]("rows_read") == full.getAs[Long]("rows_total"))
    // the single-cell probe must touch strictly fewer blocks than full scan
    assert(rows(5).getAs[Long]("n_blocks_read") < full.getAs[Long]("n_blocks_total"))
    // a one-stripe probe on either dimension prunes most of the corpus
    assert(rows(1).getAs[Long]("rows_read") < full.getAs[Long]("rows_total") / 2,
      "customer stripe should skip at least half the rows")
    assert(rows(2).getAs[Long]("rows_read") < full.getAs[Long]("rows_total") / 2,
      "day band should skip at least half the rows")
  }

  // --- q160: EWMA fold -------------------------------------------------------

  test("q160: engine trajectory equals an independent sequential fold") {
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("day"))
      .agg((sum(Cols.dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .collect()
      .groupBy(_.getAs[String]("priority"))
      .map { case (p, rs) =>
        p -> rs.sortBy(_.getAs[java.sql.Date]("day").toString)
          .map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Long]("cents"))
      }
    val expected = daily.toSeq.flatMap { case (p, vs) =>
      var prev = -1L
      vs.toSeq.map { case (d, v) =>
        prev = if (prev < 0) v else Math.floorDiv(v + prev, 2)
        (p, d) -> prev
      }
    }.toMap
    val got = SparkEntry.queries("q160_ewma_revenue")(spark, sf).collect()
      .map(r => (r.getAs[String]("priority"),
        r.getAs[java.sql.Date]("day").toString) -> r.getAs[Long]("ewma_cents"))
      .toMap
    assert(got.size == expected.size)
    expected.foreach { case (k, v) =>
      assert(got(k) == v, s"EWMA mismatch at $k")
    }
  }

  // --- q161: stream-static enrich -------------------------------------------

  test("q161: streamed emission set equals the batch join") {
    val streamed = SparkEntry.queries("q161_stream_static_enrich")(spark, sf)
    val batch = Tables.events(spark, sf).select("event_id", "user_id")
      .join(Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_nationkey")),
        col("user_id") === col("c_custkey"))
      .select("event_id", "user_id", "c_nationkey")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  // --- q162: funnel lag percentiles ------------------------------------------

  test("q162: percentiles are ordered and count matches stage-3 users") {
    val r = SparkEntry.queries("q162_funnel_lag_percentiles")(spark, sf).collect()(0)
    val n3 = SparkEntry.queries("q66_funnel")(spark, sf)
      .filter(col("stage") === 3).count()
    assert(r.getAs[Long]("n_converted") == n3 && n3 > 0)
    val qs = Seq("p25_us", "p50_us", "p75_us", "p90_us").map(r.getAs[Double])
    assert(qs == qs.sorted, s"percentiles out of order: $qs")
    assert(qs.head >= 0.0, "conversion lag cannot be negative")
  }

  // --- q163/q164: salted + bucketed joins -----------------------------------

  test("q163: salted join aggregates exactly as the plain join") {
    val salted = SparkEntry.queries("q163_salted_join")(spark, sf)
    val plain = Tables.events(spark, sf)
      .select(col("user_id").as("c_custkey"), Cols.dec2(col("value")).as("v"))
      .join(Tables.customer(spark, sf).select("c_custkey", "c_nationkey"),
        "c_custkey")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("value_sum"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("q164: bucketed join answers the plain join; scan is bucket-pruned") {
    val df = SparkEntry.queries("q164_bucketed_join")(spark, sf)
    val plain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("revenue"))
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
  }

  // --- q165: golden records ---------------------------------------------------

  test("q165: golden records agree with the q153 roster and pick real names") {
    val gr = SparkEntry.queries("q165_golden_records")(spark, sf).collect()
    val roster = SparkEntry.queries("q153_entity_clusters")(spark, sf).collect()
      .map(r => r.getAs[Long]("root_key") ->
        (r.getAs[Long]("n_names"), r.getAs[Long]("n_parts"))).toMap
    assert(gr.length == roster.size, "one golden record per cluster")
    val names = Tables.part(spark, sf).select("p_name").distinct()
      .collect().map(_.getString(0)).toSet
    gr.foreach { r =>
      val k = r.getAs[Long]("root_key")
      assert(roster(k) == (r.getAs[Long]("n_names"), r.getAs[Long]("n_parts")))
      assert(names.contains(r.getAs[String]("canon_name")),
        "canonical name must be an existing variant")
    }
  }

  // --- q166: CDC apply roundtrip ----------------------------------------------

  test("q166: applyDelta(t1, diff(t1, t2)) reconstructs t2 exactly") {
    // the oracle already proves it against SQL; here prove it against
    // the ENGINE's own t2 snapshot (pure operator identity)
    import graft.operators.SnapshotDiff
    val mk = (asOf: String) => {
      val hi = java.time.LocalDate.parse(asOf)
      val lo = hi.minusDays(RuntimeQueries.SnapWindowDays)
      Tables.orders(spark, sf)
        .filter(col("o_orderdate") >= Cols.ntzTs(s"$lo 00:00:00") &&
          col("o_orderdate") < Cols.ntzTs(s"$asOf 00:00:00"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(Cols.dec2(col("o_totalprice"))).as("rev_dec"))
    }
    val (t1, t2) = (mk(RuntimeQueries.SnapT1), mk(RuntimeQueries.SnapT2))
    val applied = SnapshotDiff.applyDelta(t1,
      SnapshotDiff.diff(t1, t2, Seq("o_custkey"), Seq("n_orders", "rev_dec")),
      Seq("o_custkey"), Seq("n_orders", "rev_dec"))
    assert(applied.exceptAll(t2).isEmpty && t2.exceptAll(applied).isEmpty)
  }

  // --- q167: clipped balance ---------------------------------------------------

  test("q167: engine trajectory equals an independent clipped fold") {
    val daily = Tables.lineitem(spark, sf)
      .select(col("l_partkey").as("part"), to_date(col("l_shipdate")).as("day"),
        when(col("l_returnflag") === "R", -col("l_quantity"))
          .otherwise(col("l_quantity")).cast("long").as("delta"))
      .groupBy("part", "day").agg(sum("delta").as("d")).collect()
      .groupBy(_.getAs[Long]("part"))
    val expected = daily.toSeq.flatMap { case (p, rs) =>
      var bal = 0L
      rs.sortBy(_.getAs[java.sql.Date]("day").toString).map { r =>
        bal = Math.max(0L, bal + r.getAs[Long]("d"))
        (p, r.getAs[java.sql.Date]("day").toString) -> bal
      }
    }.toMap
    val got = SparkEntry.queries("q167_inventory_balance")(spark, sf).collect()
      .map(r => (r.getAs[Long]("part"),
        r.getAs[java.sql.Date]("day").toString) -> r.getAs[Long]("balance"))
      .toMap
    assert(got.size == expected.size)
    expected.foreach { case (k, v) => assert(got(k) == v, s"balance at $k") }
    // the clip actually fires somewhere (otherwise this is just a cumsum)
    assert(got.values.exists(_ == 0L), "floor never engaged — weak fixture")
  }

  // --- q168: share-of-parent ----------------------------------------------------

  test("q168: shares sum to one within each parent level") {
    val rows = SparkEntry.queries("q168_share_of_parent")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("region")).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Double]("share_in_region")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"region shares sum to $s")
    }
    val regionShares = rows.map(r =>
      r.getAs[String]("region") -> r.getAs[Double]("region_share"))
      .distinct.map(_._2).sum
    assert(math.abs(regionShares - 1.0) < 1e-9)
  }

  // --- q169: audio RMS through the real codec ---------------------------------

  test("q169: codec round-trip features equal a direct PCM computation") {
    import graft.operators.Multimodal
    // one doc computed by hand, bypassing the engine entirely
    val id = 0L
    val samples = Array.tabulate(CurationQueries.AudioSamples) { i =>
      (((id * 31 + i * 7) % 2048) - 1024).toShort
    }
    val viaCodec = Multimodal.audioFeatures(id,
      Multimodal.encodeWav16(samples), CurationQueries.AudioWindow)
    assert(viaCodec.length == CurationQueries.AudioSamples / CurationQueries.AudioWindow)
    viaCodec.foreach { w =>
      val lo = w.window_idx * CurationQueries.AudioWindow
      val win = samples.slice(lo, lo + CurationQueries.AudioWindow).map(_.toInt)
      val rms = math.sqrt(win.map(s => s.toDouble * s).sum / win.length)
      assert(w.rms == rms, s"window ${w.window_idx}")
      assert(w.peak == win.map(math.abs).max)
    }
    // and the registered query emits one row per (doc, window)
    val n = SparkEntry.queries("q169_audio_rms")(spark, sf).count()
    val docs = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(CurationQueries.AudioDocMod)) === 0).count()
    assert(n == docs * (CurationQueries.AudioSamples / CurationQueries.AudioWindow))
  }

  // --- q170: profile drift -----------------------------------------------------

  test("q170: profiles carry sane invariants") {
    val rows = SparkEntry.queries("q170_profile_drift")(spark, sf).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("ndv_t1") <= r.getAs[Long]("n_t1"))
      assert(r.getAs[Long]("ndv_t2") <= r.getAs[Long]("n_t2"))
      assert(r.getAs[Long]("nulls_t1") == 0L && r.getAs[Long]("nulls_t2") == 0L)
    }
    val pri = rows.find(_.getAs[String]("col_name") == "o_orderpriority").get
    assert(pri.getAs[Long]("ndv_t1") <= 5L, "priority domain is 5 values")
  }

  // --- q171: session entry/exit --------------------------------------------------

  test("q171: session count matches the sessionizer's") {
    val total = SparkEntry.queries("q171_session_entry_exit")(spark, sf)
      .agg(sum("n_sessions")).collect()(0).getLong(0)
    val sessions = graft.operators.Sessionize.sessions(
      Tables.events(spark, sf), "user_id", "ts", Seq("event_id"),
      "value", AnalyticsQueries.SessionGapMicros).count()
    assert(total == sessions)
  }

  // --- q172: image decode ------------------------------------------------------

  test("q172: PNG round-trip preserves the raster exactly") {
    import graft.operators.Multimodal
    val img = new java.awt.image.BufferedImage(CurationQueries.ImgW, CurationQueries.ImgH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var expected = 0L
    for (y <- 0 until CurationQueries.ImgH; x <- 0 until CurationQueries.ImgW) {
      val g = ((3L * 7 + x * 3 + y * 5) % 256).toInt
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
      expected += 3L * g
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val meta = Multimodal.decodeImage(3L, bos.toByteArray)
    assert(meta.width == CurationQueries.ImgW && meta.height == CurationQueries.ImgH)
    assert(meta.px_sum == expected, "PNG must be lossless for this raster")
  }

  // --- q173: rescue audit -------------------------------------------------------

  test("q173: clean + rescued partitions cover every written row") {
    val r = SparkEntry.queries("q173_rescue_audit")(spark, sf).collect()(0)
    val total = Tables.events(spark, sf).count()
    assert(r.getAs[Long]("n_clean") + r.getAs[Long]("n_rescued") == total)
    assert(r.getAs[Long]("n_rescued") > 0, "poison pattern must fire")
    assert(r.getAs[Long]("rescued_ids") == r.getAs[Long]("n_rescued"),
      "event ids survive into the quarantine")
  }

  // --- q174: time travel ---------------------------------------------------------

  test("q174: versions grow monotonically toward the live table") {
    val rows = SparkEntry.queries("q174_time_travel")(spark, sf).collect()
    val byVer = rows.groupBy(_.getAs[Int]("version"))
      .map { case (v, rs) => v -> rs.map(_.getAs[Long]("n_events")).sum }
    assert(byVer.keySet == Set(1, 2, 3))
    assert(byVer(1) <= byVer(2) && byVer(2) <= byVer(3),
      "each snapshot extends the last")
    val live = Tables.events(spark, sf)
      .filter(col("ts") < Cols.utcTs(RuntimeQueries.TravelTs.last)).count()
    assert(byVer(3) == live)
  }

  // --- q175: medallion pipeline --------------------------------------------------

  test("q175: two incremental runs converge to the one-shot gold table") {
    val gold = SparkEntry.queries("q175_medallion_run")(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val oneShot = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
      .filter(col("user_id").isNotNull &&
        col("ts") <= Cols.utcTs(EtlQueries.WmHigh))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    assert(gold.exceptAll(oneShot).isEmpty && oneShot.exceptAll(gold).isEmpty)
  }

  // --- q176: schema evolution -----------------------------------------------------

  test("q176: evolved read pads exactly the first generation") {
    val r = SparkEntry.queries("q176_schema_evolution")(spark, sf).collect()(0)
    val total = Tables.events(spark, sf).count()
    assert(r.getAs[Long]("n_rows") == total)
    assert(r.getAs[Long]("n_padded") > 0 &&
      r.getAs[Long]("n_padded") < total, "both generations must exist")
    assert(r.getAs[Long]("n_types") > 0)
  }

  // --- q177: streaming SCD1 sink --------------------------------------------------

  test("q177: streamed upsert store equals the batch latest-per-key") {
    val streamed = SparkEntry.queries("q177_streamed_scd1")(spark, sf)
    val batch = graft.operators.Dedup.latestByKey(
      Tables.events(spark, sf)
        .select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), Seq("ts", "event_id"))
      .select("user_id", "ts", "event_id", "event_type")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  // --- q178: partitioned write + pruning ------------------------------------------

  test("q178: the day predicate prunes at the partition-directory level") {
    val df = SparkEntry.queries("q178_partitioned_write")(spark, sf)
    df.collect() // run once (writes the layout, finalizes AQE)
    val p = df.queryExecution.executedPlan.toString
    val m = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(m.isDefined, s"no PartitionFilters in scan:\n$p")
    assert(m.get.group(1).contains("day"),
      s"day range must reach the partition filter: ${m.get.group(1)}")
  }

  // --- q179: SQL function surface -----------------------------------------------

  test("q179: SQL-surface kernels equal their Column-API twins") {
    val viaSql = SparkEntry.queries("q179_sql_functions")(spark, sf)
    val viaApi = Tables.documents(spark, sf)
      .filter(col("text").isNotNull &&
        size(graft.functions.TextAnalysis.words(col("text"))) >= DedupQueries.JaccardN)
      .select(col("doc_id"),
        graft.plans.VectorExprs.polyFingerprint(col("text")).as("fp"))
    val joined = viaSql.select("doc_id", "fp")
      .join(viaApi.withColumnRenamed("fp", "fp2"), "doc_id")
    assert(joined.filter(col("fp") =!= col("fp2")).isEmpty)
    assert(viaSql.count() == viaApi.count())
  }

  // --- q180/q181: audits -----------------------------------------------------------

  test("q180: late-arrival audit bounds sit inside the watermark") {
    val r = SparkEntry.queries("q180_late_arrivals")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_late") > 0)
    val wm = java.time.LocalDateTime.parse(EtlQueries.WmHigh.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
    assert(!r.getAs[java.sql.Timestamp]("latest_late").toInstant.isAfter(wm))
  }

  test("q181: quarantine count equals rows violating at least one rule") {
    val total = SparkEntry.queries("q181_quarantine_report")(spark, sf)
      .agg(sum("n_rows")).collect()(0).getLong(0)
    val expected = Tables.events(spark, sf)
      .filter(col("value") >= 450.0 || pmod(col("user_id"), lit(97L)) === 0)
      .count()
    assert(total == expected && total > 0)
  }

  // --- q182: rendered star -----------------------------------------------------------

  test("q182: rendered SQL equals the DataFrame star composer") {
    val rendered = SparkEntry.queries("q182_rendered_star")(spark, sf)
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_discount") >= 0.05)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(Cols.dec2(col("l_extendedprice"))).cast("double").as("revenue"))
    assert(rendered.exceptAll(direct).isEmpty && direct.exceptAll(rendered).isEmpty)
  }

  // --- q183: bitmap membership -----------------------------------------------

  test("q183: bitmap popcounts equal real distinct-user counts") {
    val rows = SparkEntry.queries("q183_bitmap_overlap")(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_a") == exact(r.getAs[String]("type_a")))
      assert(r.getAs[Long]("n_b") == exact(r.getAs[String]("type_b")))
      val both = r.getAs[Long]("n_both")
      assert(both <= math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  // --- q184: LSH evaluation ----------------------------------------------------

  test("q184: the gated LSH geometry scores high recall against truth") {
    val r = SparkEntry.queries("q184_lsh_evaluation")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_true") > 0)
    assert(r.getAs[Double]("recall") >= 0.9,
      s"16x4 banding must catch >=90% of true 0.8-Jaccard pairs: $r")
    assert(r.getAs[Double]("precision") > 0.0)
    assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("n_candidates"))
  }

  // --- q158: distance histogram ---------------------------------------------

  test("q158: histogram accounts for exactly the in-block pair count") {
    import graft.functions.Sketches
    val total = SparkEntry.queries("q158_distance_histogram")(spark, sf)
      .agg(sum("n_pairs")).collect()(0).getLong(0)
    val blockSizes = Tables.embeddings(spark, sf)
      .filter(pmod(Sketches.keyHash(pmod(col("vec_id"), lit(Sketches.P))),
        lit(AnnQueries.DistSampleMod)) === 0)
      .groupBy(pmod(Sketches.keyHash(pmod(col("vec_id") * lit(31L),
        lit(Sketches.P))), lit(AnnQueries.DistBlocks)))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    val expected = blockSizes.map(n => n * (n - 1) / 2).sum
    assert(total == expected)
  }
}
