package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{AnalyticsQueries, EtlQueries, SketchQueries}

object TestSession {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"

  /** Test scratch dir, deleted at JVM exit. */
  def tempDir(tag: String): String = Sessions.tempDir(tag)
}

class CoreOperatorsSpec extends AnyFunSuite {
  import TestSession._

  test("every declared query runs and returns rows") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query has matching column names with its oracle declaration") {
    // Columns must match by NAME for the driver's hash compare; at minimum
    // the Spark side must not emit auto-generated aggregate names.
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sf).columns
      cols.foreach { c =>
        assert(!c.contains("("), s"$name column '$c' looks auto-generated")
      }
    }
  }

  test("dedup_latest yields one row per key and keeps the max sequence") {
    val out = EtlQueries.dedupLatest(spark, sf)
    assert(out.groupBy("user_id", "event_type").count().filter(col("count") > 1).count() == 0)
    // kept ts must equal the max ts per key
    val ev = Tables.events(spark, sf)
    val mx = ev.groupBy("user_id", "event_type").agg(max("ts").as("mx"))
    val bad = out.join(mx, Seq("user_id", "event_type"))
      .filter(col("ts") =!= col("mx")).count()
    assert(bad == 0)
  }

  test("scd2 intervals: exactly one current row per key, from < to") {
    val scd2 = EtlQueries.scd2Build(spark, sf)
    val perKeyCurrent = scd2.filter(col("is_current"))
      .groupBy("user_id").count().filter(col("count") =!= 1).count()
    assert(perKeyCurrent == 0)
    assert(scd2.filter(col("effective_to").isNotNull &&
      col("effective_from") >= col("effective_to")).count() == 0)
  }

  test("as-of snapshot has at most one row per key and brackets the timestamp") {
    val snap = EtlQueries.validityAsOf(spark, sf)
    assert(snap.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
  }

  test("grouped KMV: small groups emit no sketch row; estimates are hash-exact") {
    import spark.implicits._
    import graft.functions.Sketches
    // group "big" has 500 distinct keys, "small" only 3 — below k, so it
    // must emit NO row (the documented regime split: exact is cheaper
    // there), never a garbage estimate from a partial rank
    val df = ((0 until 500).map(i => ("big", i.toLong)) ++
      Seq(("small", 1L), ("small", 2L), ("small", 3L), ("small", 3L)))
      .toDF("g", "key")
    val got = Sketches.groupedKmvDistinct(df, "g", "key", 64).collect()
    assert(got.length == 1 && got.head.getString(0) == "big")
    // reference: the k-th smallest distinct affine hash, computed driver-side
    val kth = (0 until 500).map(i =>
      (Sketches.HA * i + Sketches.HB) % Sketches.P).distinct.sorted.apply(63)
    assert(got.head.getDouble(2) == 63.0 / (kth.toDouble / Sketches.P.toDouble))
  }

  test("sketch percentiles land within one bin width of the exact answer") {
    val exact = AnalyticsQueries.percentileReport(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val sketch = SketchQueries.sketchPercentiles(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(sketch.keySet == exact.keySet)
    // q68 asks (0.25, 0.5, 0.75, 0.99), q88 the same list: each estimate
    // must sit within one bin width of the true percentile
    sketch.foreach { case (flag, ests) =>
      ests.zip(exact(flag)).zipWithIndex.foreach { case ((est, ex), i) =>
        assert(math.abs(est - ex) <= SketchQueries.SketchBinWidth,
          f"flag $flag q#$i: sketch $est%.2f vs exact $ex%.2f")
      }
    }
    // mergeability: the sketch over two disjoint halves, merged by ADDING
    // bin counts, equals the whole-table sketch — here expressed as the
    // union of halves (bin counting is a plain sum, so union ≡ vector add)
    val li = Tables.lineitem(spark, sf).select("l_returnflag", "l_extendedprice")
    val whole = graft.functions.Sketches.histogramQuantiles(li,
      "l_returnflag", "l_extendedprice", SketchQueries.SketchBinWidth,
      SketchQueries.SketchBins, SketchQueries.SketchQs)
    val halves = graft.functions.Sketches.histogramQuantiles(
      li.filter(col("l_extendedprice") < 50000)
        .unionByName(li.filter(col("l_extendedprice") >= 50000)),
      "l_returnflag", "l_extendedprice", SketchQueries.SketchBinWidth,
      SketchQueries.SketchBins, SketchQueries.SketchQs)
    assert(whole.except(halves).count() == 0 && halves.except(whole).count() == 0,
      "merge (union of disjoint halves) must reproduce the whole-table sketch")
  }

  test("as-of join: boundary semantics for direction and tolerance") {
    import spark.implicits._
    import graft.operators.AsOf
    val us = (s: Long) => new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, us(10000), "a"), (1L, us(20000), "b"), (2L, us(10000), "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, us(10000), 100L), (1L, us(15000), 150L), (2L, us(30000), 300L))
      .toDF("k", "ts", "v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("tag", "m_v").as[(String, Option[Long])].collect().toMap
    // backward: equal ts matches (inclusive); latest preceding wins
    val back = rows(AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v"), "m_"))
    assert(back == Map("a" -> Some(100L), "b" -> Some(150L), "c" -> None))
    // backward tolerance: a match exactly AT the bound stays, one past it nulls
    val tolIn = rows(AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v"), "m_",
      toleranceMicros = Some(5000L * 1000000L)))
    assert(tolIn("b") == Some(150L), "distance == tolerance is inclusive")
    val tolOut = rows(AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v"), "m_",
      toleranceMicros = Some(4999L * 1000000L)))
    assert(tolOut("b") == None, "distance > tolerance must null out")
    assert(tolOut("a") == Some(100L), "distance 0 always matches")
    // forward: equal ts matches; earliest following wins; tolerance bounds it
    val fwd = rows(AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v"), "m_",
      forward = true))
    assert(fwd == Map("a" -> Some(100L), "b" -> None, "c" -> Some(300L)))
    val fwdTol = rows(AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v"), "m_",
      toleranceMicros = Some(19999L * 1000000L), forward = true))
    assert(fwdTol("c") == None, "forward distance > tolerance must null out")
  }

  test("as-of join: the ts column itself in rightCols returns the matched timestamp") {
    import spark.implicits._
    import graft.operators.AsOf
    val us = (s: Long) => new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, us(10000), "a"), (1L, us(20000), "b"), (2L, us(10000), "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, us(9000), 90L), (1L, us(15000), 150L), (2L, us(30000), 300L))
      .toDF("k", "ts", "v")
    // round-7 advice: "__r_ts" as an internal sentinel collided with the
    // renamed right ts column, breaking the union's type agreement — the
    // natural "give me the matched row's timestamp" ask must just work.
    val got = AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("v", "ts"), "m_")
      .select("tag", "m_v", "m_ts")
      .as[(String, Option[Long], Option[java.sql.Timestamp])].collect()
      .map(r => r._1 -> ((r._2, r._3.map(_.getTime / 1000)))).toMap
    assert(got == Map(
      "a" -> ((Some(90L), Some(9000L))),
      "b" -> ((Some(150L), Some(15000L))),
      "c" -> ((None, None))))
    val fwd = AsOf.asOfJoin(left, right, Seq("k"), "ts", Seq("ts"), "m_",
      forward = true)
      .select("tag", "m_ts").as[(String, Option[java.sql.Timestamp])].collect()
      .map(r => r._1 -> r._2.map(_.getTime / 1000)).toMap
    assert(fwd == Map("a" -> Some(15000L), "b" -> None, "c" -> Some(30000L)))
  }

  test("quality split quarantines with per-row failure reasons") {
    import spark.implicits._
    import graft.operators.Quality
    val df = Seq((1L, 10.0), (2L, -5.0), (-3L, -1.0)).toDF("id", "v")
    val rules = Seq(Quality.Rule("id_positive", col("id") <= 0),
      Quality.Rule("v_non_negative", col("v") < 0))
    val (clean, quarantine) = Quality.split(df, rules)
    assert(clean.select("id").as[Long].collect().toSeq == Seq(1L))
    val q = quarantine.select(col("id"), col("failed_rules")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(q == Map(2L -> Set("v_non_negative"),
      -3L -> Set("id_positive", "v_non_negative")))
    // split's clean side equals enforce
    val enforced = Quality.enforce(df, rules)
    assert(clean.except(enforced).count() == 0 && enforced.except(clean).count() == 0)
  }

  test("late-arrival audit counts rows behind the consumed watermark") {
    import spark.implicits._
    import graft.operators.Incremental
    val arrivals = Seq((1L, 100L), (2L, 205L), (3L, 90L), (4L, 150L))
      .toDF("id", "seq")
    val r = Incremental.lateArrivalAudit(arrivals, "seq", lit(150L)).head
    assert(r.getLong(0) == 3 && r.getLong(1) == 90L && r.getLong(2) == 150L)
  }

  test("incremental window extraction is bounded by the watermarks") {
    val out = EtlQueries.incrementalExtract(spark, sf)
    val viol = out.filter(col("ts") <= lit(EtlQueries.WmLow).cast("timestamp") ||
      col("ts") > lit(EtlQueries.WmHigh).cast("timestamp")).count()
    assert(viol == 0)
  }

  test("incremental agg merge equals full recompute") {
    val merged = EtlQueries.aggMerge(spark, sf)
    val full = Tables.events(spark, sf).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(Cols.dec2(col("value"))).cast("double").as("total_value"))
    assert(merged.except(full).count() == 0 && full.except(merged).count() == 0)
  }

  test("dq report counts violations in a single pass") {
    val rep = EtlQueries.dqValidate(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("custkey_not_null") == 0)
    assert(rep("name_format") == 0)
    assert(rep.contains("acctbal_non_negative"))
  }

  test("star revenue flagship returns one row per (region, nation) present") {
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.groupBy("region", "nation").count().filter(col("count") > 1).count() == 0)
  }

  test("dim_date keys are consistent with their date") {
    val dd = EtlQueries.dimDate(spark, sf)
    val bad = dd.filter(col("date_key") =!=
      (col("year") * 10000 + col("month") * 100 + col("day"))).count()
    assert(bad == 0)
  }
}
