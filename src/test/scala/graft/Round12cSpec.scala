package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bfs, LabelProp}
import graft.queries.AnalyticsQueries

/** Round-12 widening: BFS hops, label-propagation communities, the
  * Kaplan–Meier life table, integer-CUSUM changepoints, the
  * integer-Gram power-iteration principal component, and U-shaped
  * attribution. Known-answer fixtures for the graph operators; exact
  * structural invariants (conservation, monotonicity, normalization)
  * for the data-bound queries — the value-level gate is the DuckDB
  * oracle.
  */
class Round12cSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- Bfs -----------------------------------------------------------------------

  test("bfs: path graph hops from the max-degree hub, min-id tiebreak") {
    // path 1-2-3-4-5: vertices 2,3,4 all have degree 2; hub = min id = 2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val hub = Bfs.maxDegreeHub(e, "a", "b").as[Long].collect()
    assert(hub.toSeq == Seq(2L))
    val got = Bfs.hops(e, "a", "b", Bfs.maxDegreeHub(e, "a", "b"), 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("bfs: depth cap truncates the frontier, reversed-orientation edges work") {
    val e = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)).toDF("a", "b")
    val got = Bfs.hops(e, "a", "b", Bfs.maxDegreeHub(e, "a", "b"), 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 0L, 1L -> 1L, 3L -> 1L))
  }

  // --- LabelProp -----------------------------------------------------------------

  test("lpa: two bridged triangles settle into two communities in 4 rounds") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    // hand-traced synchronous rounds with the min-label tiebreak:
    // r4 labels = {1,2,3}->1, {4,5,6}->3
    val got = LabelProp.communities(e, "a", "b", 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 3L -> 3L))
    val lbl = LabelProp.propagate(e, "a", "b", 4)
      .as[(Long, Long)].collect().toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  // --- q202 life table -----------------------------------------------------------

  test("q202: life-table accounting — risk set telescopes, hazard bounded") {
    val lt = AnalyticsQueries.survivalLifeTable(spark, sf).collect()
    assert(lt.nonEmpty)
    val total = lt.map(r => r.getLong(r.fieldIndex("n_deaths"))
      + r.getLong(r.fieldIndex("n_censored"))).sum
    // the first (smallest-duration) row has EVERYONE at risk
    assert(lt.head.getLong(lt.head.fieldIndex("n_risk")) == total)
    // risk set shrinks by exactly the users ending at each duration
    lt.sliding(2).foreach { case Array(a, b) =>
      val ended = a.getLong(a.fieldIndex("n_deaths")) +
        a.getLong(a.fieldIndex("n_censored"))
      assert(b.getLong(b.fieldIndex("n_risk")) ==
        a.getLong(a.fieldIndex("n_risk")) - ended)
    }
    lt.foreach { r =>
      val h = r.getDouble(r.fieldIndex("hazard"))
      assert(h >= 0.0 && h <= 1.0)
    }
  }

  // --- q204 CUSUM ----------------------------------------------------------------

  test("q204: one changepoint per event type, score in [0,1), sign consistent") {
    val cp = AnalyticsQueries.cusumChangepoint(spark, sf).collect()
    assert(cp.map(_.getString(0)).toSeq.distinct.size == cp.length)
    cp.foreach { r =>
      val score = r.getDouble(r.fieldIndex("shift_score"))
      assert(score >= 0.0 && score < 1.0)
      val sign = r.getInt(r.fieldIndex("shift_sign"))
      assert(Set(-1, 0, 1).contains(sign))
      assert(r.getLong(r.fieldIndex("max_abs_cusum")) >= 0L)
    }
  }

  test("q204: planted mean shift is found at the shift boundary") {
    // 10 days at 2/day then 10 days at 12/day: |CUSUM| peaks at day 9
    // (the last pre-shift day) — n*cum - i*S with n=20, S=140
    val ev = (0 until 10).flatMap(d => Seq.fill(2)(d)) ++
      (10 until 20).flatMap(d => Seq.fill(12)(d))
    val df = ev.zipWithIndex.map { case (d, i) =>
      (i.toLong, new java.sql.Timestamp(d * 86400000L), 1L, "shift", 0.0, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = df.groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("c"))
    // drive the same arithmetic the query uses, via a scratch dir-free path:
    // reuse the production column pipeline by writing a temp view is
    // overkill — assert on the full query against a temp parquet dir
    val dir = tempDir("cusum")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val row = AnalyticsQueries.cusumChangepoint(spark, dir)
      .filter(col("event_type") === "shift").collect().head
    assert(row.getDate(row.fieldIndex("change_day")).toLocalDate
      == java.time.LocalDate.ofEpochDay(9L))
    assert(row.getInt(row.fieldIndex("shift_sign")) == -1) // below-mean run
    assert(out.count() == 20)
  }

  // --- q205 principal component ---------------------------------------------------

  test("q205: iterate is max-normalized, lambda positive, one row per dim") {
    val pc = AnalyticsQueries.principalComponent(spark, sf).collect()
    assert(pc.length == 64)
    val comps = pc.map(r => r.getLong(r.fieldIndex("pc_q")))
    assert(comps.map(math.abs).max == AnalyticsQueries.PcScale)
    // Gram is PSD and v0 = all-ones is not orthogonal to the top space
    assert(pc.head.getDouble(pc.head.fieldIndex("lambda")) > 0.0)
  }

  test("q205: power iteration recovers a planted dominant direction") {
    // vectors clustered along e0 with small e1 noise: top PC ~ e0
    val vecs = (0 until 50).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(sign * 0.9f, (i % 5 - 2) * 0.01f, 0.0f, 0.0f), 0)
    }
    val dir = tempDir("pc")
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents"))
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val pc = AnalyticsQueries.principalComponent(spark, dir).collect()
    val byPos = pc.map(r => r.getLong(r.fieldIndex("pos"))
      -> r.getLong(r.fieldIndex("pc_q"))).toMap
    assert(math.abs(byPos(0L)) == AnalyticsQueries.PcScale,
      s"dominant direction should be dim 0, got $byPos")
    assert(math.abs(byPos(1L)) < 16 && byPos(2L) == 0L && byPos(3L) == 0L)
  }

  // --- q207 U-shaped attribution ---------------------------------------------------

  test("q207: credits conserve the purchase cents exactly at every touch count") {
    val rows = AnalyticsQueries.ushapeAttribution(spark, sf).collect()
    assert(rows.nonEmpty)
    var sawMulti = false
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_touches"))
      val cents = r.getLong(r.fieldIndex("cents"))
      def g(c: String): Long = r.getLong(r.fieldIndex(c))
      if (n == 0) assert(r.isNullAt(r.fieldIndex("first_credit_cents")))
      else if (n == 1) assert(g("first_credit_cents") == cents
        && g("last_credit_cents") == 0L)
      else if (n == 2) assert(g("first_credit_cents")
        + g("last_credit_cents") == cents)
      else {
        sawMulti = true
        val mid = g("mid_credit_each_cents") * (n - 2) +
          g("mid_remainder_cents")
        assert(g("first_credit_cents") + g("last_credit_cents") + mid == cents)
      }
    }
    assert(sawMulti, "fixture has no n>=3 purchases — fixture too thin")
  }
}
