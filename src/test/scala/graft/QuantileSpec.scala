package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Median
import graft.queries.AnalyticsQueries

/** The order-statistic family: `operators/Median`'s exact medians and
  * quantiles (weighted and unweighted) and the queries built on them —
  * q196/q231 weighted medians, q220 Theil–Sen, q235 weighted quantiles.
  * Exactness is pinned against Spark's own `percentile`, driver-side
  * references and hand-expanded fixtures, at bucket scales from one
  * bucket per group to one bucket per value.
  */
class QuantileSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val Scales = Seq(math.pow(2, -20), 1.0 / 64, 1.0, math.pow(2, 20))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("unweighted quantiles and median equal Spark's exact percentile bit for bit") {
    val rnd = new scala.util.Random(11)
    val prices = Seq(-999.93, -0.07, 0.1, 19.99, 81364.255, 104.35)
    // group 0: wide negative/positive money-like values with ties;
    // group 1: heavy ties on a quarter grid; group 2: one constant value
    // (one bucket at every scale); group 3: a single row; group 4: only
    // NULLs; group 5: heavy ties on full-mantissa prices; NULLs
    // sprinkled through groups 0-2 and 5
    val rows: Seq[(Int, java.lang.Double)] = (0 until 1500).map { i =>
      val g = if (i == 0) 3 else if (i < 6) 4 else Seq(0, 1, 2, 5)(rnd.nextInt(4))
      val v: java.lang.Double =
        if (g == 4 || (g != 3 && rnd.nextInt(25) == 0)) null
        else g match {
          case 0 => (rnd.nextInt(2000000) - 1000000) / 100.0
          case 1 => (rnd.nextInt(81) - 40) / 4.0
          case 2 => 3.75
          case 3 => -12.5
          case _ => prices(rnd.nextInt(prices.size))
        }
      (g, v)
    }
    val df = rows.toDF("g", "v")
    val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    val pcts = qs.map(q => s"${q}D").mkString(", ")
    val spark1 = df.groupBy("g")
      .agg(expr(s"percentile(v, array($pcts))").as("p"),
        expr("percentile(v, 0.5D)").as("m"))
      .collect()
    // an all-NULL group has no quantile: percentile says NULL, the
    // decomposition emits no row
    assert(spark1.filter(_.isNullAt(1)).map(_.getInt(0)).toSeq == Seq(4))
    val sparkQ = spark1.filter(!_.isNullAt(1)).flatMap { r =>
      qs.zip(r.getSeq[Double](1)).map { case (q, p) => (r.getInt(0), q) -> bits(p) }
    }.toMap
    val sparkM = spark1.filter(!_.isNullAt(1))
      .map(r => r.getInt(0) -> bits(r.getDouble(2))).toMap
    // Spark's percentile returns a tied endpoint pair's value as is;
    // quantile_cont (the oracle) and the decomposition still evaluate
    // vl·(1−frac) + vu·frac there, which can miss vl by an ulp. Those
    // cells are checked against that shape on the sorted values.
    val sorted = rows.filter(_._2 != null).groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2.doubleValue).sorted.toIndexedSeq
    }
    def endpoints(g: Int, q: Double): (Double, Double, Double) = {
      val s = sorted(g)
      val pos = (s.size - 1L) * q
      (s(math.floor(pos).toInt), s(math.ceil(pos).toInt), pos - math.floor(pos))
    }
    val tied = sparkQ.keys.filter { case (g, q) =>
      val (lo, hi, frac) = endpoints(g, q)
      lo == hi && frac != 0 && bits(lo * (1.0 - frac) + hi * frac) != bits(lo)
    }.toSet
    assert(tied.nonEmpty, "no tied endpoint pair where the two engines differ")
    tied.foreach { case k @ (g, q) => assert(sparkQ(k) == bits(endpoints(g, q)._1)) }
    val wantQ = sparkQ.map { case (k @ (g, q), p) =>
      if (!tied(k)) k -> p
      else {
        val (lo, hi, frac) = endpoints(g, q)
        k -> bits(lo * (1.0 - frac) + hi * frac)
      }
    }
    val wantN = sorted.map { case (g, s) => g -> s.size.toLong }
    for (scale <- Scales) {
      val gotQ = Median.groupedExactQuantiles(df, "g", "v", qs, scale).collect()
        .map(r => (r.getInt(0), r.getDouble(1)) -> bits(r.getDouble(2))).toMap
      assert(gotQ == wantQ, s"quantiles at bucketScale=$scale")
      val gotM = Median.groupedExactMedian(df, "g", "v", "m", scale).collect()
      assert(gotM.map(r => r.getInt(0) -> r.getLong(1)).toMap == wantN)
      assert(gotM.map(r => r.getInt(0) -> bits(r.getDouble(2))).toMap == sparkM,
        s"median at bucketScale=$scale")
    }
  }

  test("q231: weighted median is bucketScale-invariant and matches a reference") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 1500).map { _ =>
      (rnd.nextInt(5).toLong, // group
        (rnd.nextInt(40000) - 20000) / 100.0, // money-like, ties likely
        rnd.nextInt(6).toLong) // weights incl. ZERO
    }
    val df = rows.toDF("g", "v", "w")
    // driver reference: smallest v with 2·cumw >= total (zero-weight
    // rows carry no mass; all-zero groups undefined => excluded)
    val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val tw = rs.map(_._3).sum
      if (tw == 0) None
      else {
        val sorted = rs.sortBy(_._2)
        var cw = 0L
        Some(g -> sorted.find { r => cw += r._3; 2 * cw >= tw }.get._2)
      }
    }
    for (scale <- Seq(math.pow(2, -20), 1.0 / 64, 1.0, 2048.0, math.pow(2, 20))) {
      val got = Median.groupedWeightedMedian(df, "g", "v", "w", "m", scale)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got == expected, s"bucketScale=$scale: $got != $expected")
    }
  }

  test("q231: the public weighted-median entry point equals q196 bit-for-bit") {
    val twin = SparkEntry.queries("q231_weighted_median_decomposed")(spark, sf)
    val q196 = SparkEntry.queries("q196_weighted_median")(spark, sf)
    assert(twin.exceptAll(q196).isEmpty && q196.exceptAll(twin).isEmpty)
  }

  test("groupedWeightedMedian ignores NULL values and weights, exact on a hand fixture") {
    val df = Seq[(String, java.lang.Double, java.lang.Long)](
      ("a", 1.0, 1L), ("a", 2.0, 2L), ("a", 3.0, 1L), // tw=4, crossing at 2.0
      ("a", null, 9L), ("a", 5.0, null),              // both ignored
      ("b", 10.0, 1L)).toDF("g", "v", "w")
    val got = Median.groupedWeightedMedian(df, "g", "v", "w", "wm")
      .orderBy("g").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 4L, 2.0), ("b", 1L, 10.0)))
  }

  test("q235: unit weights reduce to the unweighted quantile decomposition bit-for-bit") {
    val base = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"))
      .withColumn("w", lit(1L))
    val weighted = Median.groupedWeightedQuantiles(base, "g", "v", "w",
        AnalyticsQueries.WqQuantiles, bucketScale = 1.0 / 64.0)
      .select(col("g"), col("q"), col("quantile"))
      .orderBy("g", "q").collect()
    val plain = Median.groupedExactQuantiles(base, "g", "v",
        AnalyticsQueries.WqQuantiles, bucketScale = 1.0 / 64.0)
      .orderBy("g", "q").collect()
    assert(weighted.length == plain.length && weighted.length > 0)
    weighted.zip(plain).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) &&
        a.getDouble(1) == b.getDouble(1), s"$a vs $b")
      assert(a.getDouble(2) == b.getDouble(2),
        s"group ${a.getString(0)} q=${a.getDouble(1)}: " +
          s"${a.getDouble(2)} != ${b.getDouble(2)}")
    }
  }

  test("q235: hand-expanded fixture (weights as copies)") {
    // expanded multiset: 10,10,20,20,20,30 — quantile_cont positions
    val df = Seq(("a", 10.0, 2L), ("a", 20.0, 3L), ("a", 30.0, 1L))
      .toDF("g", "v", "w")
    val got = Median.groupedWeightedQuantiles(df, "g", "v", "w",
        Seq(0.0, 0.25, 0.5, 1.0), bucketScale = 1.0)
      .orderBy("q").collect()
      .map(r => (r.getDouble(1), r.getLong(2), r.getDouble(3))).toSeq
    // pos = q·5: 0 → 10; 1.25 → 10·.75 + 20·.25 = 12.5; 2.5 → 20; 5 → 30
    assert(got == Seq((0.0, 6L, 10.0), (0.25, 6L, 12.5),
      (0.5, 6L, 20.0), (1.0, 6L, 30.0)))
  }

  test("q235: zero-weight rows carry no rank; all-zero groups are excluded") {
    val df = Seq(("a", 1.0, 0L), ("a", 2.0, 1L), ("b", 9.0, 0L))
      .toDF("g", "v", "w")
    val got = Median.groupedWeightedQuantiles(df, "g", "v", "w", Seq(0.5))
      .collect()
    assert(got.length == 1 && got(0).getString(0) == "a" &&
      got(0).getDouble(3) == 2.0)
  }

  test("theilSenFromDaily shrugs off the outlier that would own the OLS fit") {
    // y = 2x on days 0..3, then a corrupted day 4 (y = 1000): 6 of the
    // 10 pairwise slopes are exactly 2, so the median is 2.0 — the
    // breakdown property that motivates the estimator
    val daily = Seq(("A", 0L, 0L), ("A", 1L, 2L), ("A", 2L, 4L),
      ("A", 3L, 6L), ("A", 4L, 1000L)).toDF("l_returnflag", "x", "y")
    val r = AnalyticsQueries.theilSenFromDaily(daily).collect()
    assert(r.length == 1)
    assert(r.head.getLong(1) == 10L)
    assert(r.head.getDouble(2) == 2.0)
  }
}
