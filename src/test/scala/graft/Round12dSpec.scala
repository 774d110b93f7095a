package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Cols.dec2
import graft.operators.Fifo
import graft.queries.AnalyticsQueries

/** Round-12 second widening: FIFO allocation, seasonal anomalies,
  * rolling correlation. Known-answer FIFO fixture (multi-lot spans,
  * claim-once under small buckets, shortfall); structural invariants
  * for the two monitoring queries — values are gated by the oracle.
  */
class Round12dSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("fifo: lots split across demands exactly once, shortfall unmatched") {
    // supply [0,5),[5,8); demand [0,2),[2,6),[6,15):
    // A→X 2, A→Y 3, B→Y 1, B→Z 2; demand Z's tail [8,15) unmatched
    val supply = Seq((1L, 1L, 10L, 5L), (1L, 2L, 11L, 3L))
      .toDF("key", "ord", "id", "qty")
    val demand = Seq((1L, 1L, 20L, 2L), (1L, 2L, 21L, 4L), (1L, 3L, 22L, 9L))
      .toDF("key", "ord", "id", "qty")
    // bucketSize 4 forces multi-bucket intervals — exercises claim-once
    val got = Fifo.allocate(supply, demand, bucketSize = 4L)
      .select("s_id", "d_id", "matched_qty")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((10L, 20L, 2L), (10L, 21L, 3L), (11L, 21L, 1L),
      (11L, 22L, 2L)))
  }

  test("fifo: allocation is conservation-exact at sf0.001 (lots never over-consumed)") {
    val rows = AnalyticsQueries.fifoAllocation(spark, sf)
    // per-lot matched total never exceeds the lot quantity. NB: join on
    // (part, supply_id) — the synthetic lineitem reuses (orderkey,
    // linenumber) across parts, so the id is only unique per key (which
    // is all Fifo.allocate requires)
    val lots = Tables.lineitem(spark, sf)
      .filter(col("l_linestatus") === "F")
      .select(col("l_partkey").as("part"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("supply_id"),
        dec2(col("l_quantity")).cast("long").as("lot_qty"))
    val over = rows.groupBy("part", "supply_id")
      .agg(sum(col("matched_qty")).as("m"))
      .join(lots, Seq("part", "supply_id"))
      .filter(col("m") > col("lot_qty"))
    assert(over.count() == 0, "a lot was over-consumed")
    // and the grand matched total = min(total supply, total demand) per key
    val byKey = rows.groupBy("part").agg(sum("matched_qty").as("m"))
    val totals = Tables.lineitem(spark, sf)
      .filter(col("l_linestatus").isin("F", "O"))
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(when(col("l_linestatus") === "F",
          dec2(col("l_quantity")).cast("long")).otherwise(0L)).as("sup"),
        sum(when(col("l_linestatus") === "O",
          dec2(col("l_quantity")).cast("long")).otherwise(0L)).as("dem"))
    val bad = byKey.join(totals, Seq("part"))
      .filter(col("m") =!= least(col("sup"), col("dem")))
    assert(bad.count() == 0, "matched total != min(supply, demand) somewhere")
  }

  test("q208: one row per event type; extreme flag agrees with the integer test") {
    val rows = AnalyticsQueries.seasonalAnomalies(spark, sf).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length
      && rows.nonEmpty)
    rows.foreach { r =>
      val d = r.getLong(r.fieldIndex("dev"))
      val v = r.getLong(r.fieldIndex("var_num"))
      val z = r.getDouble(r.fieldIndex("z"))
      assert(v > 0)
      assert(r.getBoolean(r.fieldIndex("is_extreme")) == (d * d > 4 * v))
      assert(math.abs(z - d.toDouble / math.sqrt(v.toDouble)) == 0.0)
      assert(Set(0L, 1L, 2L, 3L, 4L, 5L, 6L)
        .contains(r.getLong(r.fieldIndex("dow"))))
    }
  }

  test("q209: correlation bounded, window never exceeds 28 days, thin head nulls") {
    val rows = AnalyticsQueries.rollingCorrelation(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_days"))
      assert(n >= 1 && n <= AnalyticsQueries.RollCorrDays)
      if (!r.isNullAt(r.fieldIndex("corr_28d"))) {
        assert(n >= AnalyticsQueries.RollCorrMinDays)
        val c = r.getDouble(r.fieldIndex("corr_28d"))
        assert(c >= -1.0000001 && c <= 1.0000001)
      }
    }
    // the first day's window holds one day — must be null
    assert(rows.head.isNullAt(rows.head.fieldIndex("corr_28d")))
  }
}
