package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Sketches
import graft.operators.{Analytics, Skew, Triangles}
import graft.plans.SketchAggs
import graft.queries.AnalyticsQueries

/** Round-12 contracts: hash totality of the native sketch aggregates
  * (negative / overflow-wrapping keys must degrade gracefully, never
  * throw AIOOBE), Triangles' internal edge canonicalization, the q191
  * emit-no-row contract on thin groups, explicit salt columns for
  * duplicate-heavy facts, and the shared co-purchase edge memo.
  */
class Round12Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- sketch-hash totality (ADVICE r11, medium) ---------------------------------

  // keys chosen to hit every non-crash regime the % arithmetic mishandled:
  // plain positives, zero, and negatives (where % keeps the sign and the
  // old code indexed buffer(-n)). Magnitudes stay under 2^63/HA so the
  // FRAME twin (Column arithmetic, which ANSI mode aborts on long
  // overflow) evaluates — frame/native bit-agreement is asserted here.
  private val hostileKeys = Seq(
    0L, 1L, 42L, -1L, -42L, -1000000007L, 3000000000L, -3000000000L)

  // keys where HA·k wraps past 2^63 — the overflow regime ADVICE flagged
  // as reachable by TPC-H orderkeys at large SF. The frame form under
  // ANSI rejects these loudly (long-overflow error); the native agg
  // wraps deterministically and must neither crash nor vary.
  private val wrappingKeys = Seq(
    Long.MaxValue, Long.MinValue, Long.MinValue + 1,
    7777777777777L, -7777777777777L)

  test("graft_hll survives negative and wrapping keys and matches the register frame") {
    val df = hostileKeys.toDF("k")
    // native aggregate: must not throw
    val native = df.agg(SketchAggs.hllEstimateAgg(col("k"), 64).as("est"))
      .as[Double].head()
    assert(native > 0.0 && !native.isNaN)
    // frame form on the same keys — bit-identical estimate (both sides
    // now share the floorMod/pmod hash, so the registers agree exactly)
    val frame = Sketches.hllEstimate(
      Sketches.hllRegisters(df, col("k"), 64), Nil, 64, "est")
      .select("est").as[Double].head()
    assert(native == frame, s"native $native != frame $frame")
    // wrapping regime: native-only (ANSI frame arithmetic rejects the
    // overflow loudly) — no crash, and bit-deterministic across runs
    val wdf = (hostileKeys ++ wrappingKeys).toDF("k")
    val w1 = wdf.agg(SketchAggs.hllEstimateAgg(col("k"), 64).as("est"))
      .as[Double].head()
    val w2 = wdf.repartition(5)
      .agg(SketchAggs.hllEstimateAgg(col("k"), 64).as("est"))
      .as[Double].head()
    assert(w1 > 0.0 && w1 == w2)
  }

  test("graft_kmv survives hostile keys; estimate matches the frame-form k-th hash") {
    val k = 8
    // enough distinct hostile + filler keys to exceed k
    val keys = hostileKeys ++ (100L to 120L)
    val df = keys.toDF("key")
    val native = df.agg(SketchAggs.kmvEstimateAgg(col("key"), k).as("est"))
      .as[Double].head()
    assert(native > 0.0 && !native.isNaN)
    // frame twin: k-th smallest distinct keyHash → (k−1)/(kth/P)
    val kth = df.select(Sketches.keyHash(col("key")).as("h")).distinct()
      .orderBy("h").limit(k).orderBy(col("h").desc).limit(1)
      .as[Long].head()
    val expected = (k - 1).toDouble / (kth.toDouble / Sketches.P.toDouble)
    assert(native == expected, s"native $native != frame $expected")
    // totality of the shared hash: every hostile key lands in [0, P)
    val bad = df.select(Sketches.keyHash(col("key")).as("h"))
      .filter(col("h") < 0 || col("h") >= Sketches.P).count()
    assert(bad == 0, "keyHash left [0, P) on a hostile key")
    // wrapping regime, native-only: no crash, deterministic
    val wdf = (keys ++ wrappingKeys).toDF("key")
    val w1 = wdf.agg(SketchAggs.kmvEstimateAgg(col("key"), k).as("est"))
      .as[Double].head()
    val w2 = wdf.repartition(3)
      .agg(SketchAggs.kmvEstimateAgg(col("key"), k).as("est"))
      .as[Double].head()
    assert(w1 > 0.0 && w1 == w2)
  }

  test("graft_cms survives out-of-range fingerprints and matches the counter frame") {
    val df = hostileKeys.toDF("fp")
    val native = df.agg(SketchAggs.cmsCountersAgg(col("fp"), 4, 32).as("c"))
      .select(explode(col("c")).as("c"))
      .select(col("c.d"), col("c.bucket"), col("c.cnt"))
    val frame = Sketches.cmsCounters(df, col("fp"), 4, 32)
    assert(native.exceptAll(frame).count() == 0 &&
      frame.exceptAll(native).count() == 0,
      "native CMS counters diverge from the frame form on hostile fingerprints")
    // every key contributes to every depth row (nothing crashed or skipped)
    assert(native.groupBy("d").agg(sum("cnt").as("n"))
      .filter(col("n") =!= hostileKeys.size.toLong).count() == 0)
    // wrapping regime, native-only: all depth·|keys| increments land
    val wdf = (hostileKeys ++ wrappingKeys).toDF("fp")
    val wTotal = wdf.agg(SketchAggs.cmsCountersAgg(col("fp"), 4, 32).as("c"))
      .select(explode(col("c")).as("c"))
      .agg(sum(col("c.cnt")).as("n")).as[Long].head()
    assert(wTotal == 4L * (hostileKeys.size + wrappingKeys.size))
  }

  // --- Triangles edge canonicalization (ADVICE r11) ------------------------------

  test("triangleStats counts triangles regardless of stored edge orientation") {
    // triangle {1,2,3} with every edge deliberately reversed (b, a) with
    // a < b — pre-fix the closing-edge semi-join missed all of them
    val reversed = Seq((2L, 1L), (3L, 2L), (3L, 1L)).toDF("a", "b")
    val canonical = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val got = Triangles.triangleStats(reversed, "a", "b")
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
      .as[(Long, Long, Long, Long)].head()
    val want = Triangles.triangleStats(canonical, "a", "b")
      .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
      .as[(Long, Long, Long, Long)].head()
    assert(got == want, s"orientation changed the stats: $got vs $want")
    assert(got == ((3L, 3L, 3L, 1L)))
  }

  // --- q191 thin-group contract (ADVICE r11) -------------------------------------

  test("kmv native agg emits no row for groups with fewer than k distinct keys") {
    val k = 8
    val thin = (1L to 3L).map(("thin", _))
    val fat = (1L to 50L).map(("fat", _))
    val df = (thin ++ fat).toDF("g", "key")
    val out = df.groupBy("g")
      .agg(SketchAggs.kmvEstimateAgg(col("key"), k).as("est"))
      .filter(col("est").isNotNull) // the q191 projection's guard
    val groups = out.select("g").as[String].collect().toSet
    assert(groups == Set("fat"),
      s"thin group leaked (or fat group lost): $groups")
    // and without the guard the thin group's estimate is null, never a
    // crash or a bogus number — the documented sub-k regime
    val raw = df.groupBy("g")
      .agg(SketchAggs.kmvEstimateAgg(col("key"), k).as("est"))
      .as[(String, Option[Double])].collect().toMap
    assert(raw("thin").isEmpty && raw("fat").nonEmpty)
  }

  // --- explicit salt columns (ADVICE r11) ----------------------------------------

  test("explicit saltCols spread bit-identical duplicate rows; full-row hash cannot") {
    // a hot key with 64 BIT-IDENTICAL rows apart from the row id — the
    // duplicate-heavy fact where content salting degrades
    val fact = (0L until 64L).map(id => (id, 7L, 1.0))
      .toDF("event_id", "key", "v")
    val dupOnly = fact.drop("event_id")
    val salts = 8
    // full-row hash on the id-less frame: all clones share ONE salt
    val collapsed = dupOnly
      .withColumn("s", Skew.saltExpr(dupOnly, salts))
      .select("s").distinct().count()
    assert(collapsed == 1, "identical rows must share a content salt by definition")
    // explicit distinguishing column: every shard gets work
    val spread = fact
      .withColumn("s", Skew.saltExpr(fact, salts, saltCols = Seq("event_id")))
      .groupBy("s").count().as[(Long, Long)].collect().toMap
    assert(spread.keySet == (0L until salts.toLong).toSet,
      s"empty salt shards under explicit saltCols: $spread")
    // and the join result is salt-invariant (the correctness contract)
    val dim = Seq((7L, "x")).toDF("key", "tag")
    val a = Skew.saltedJoin(fact, dim, "key", salts, saltCols = Seq("event_id"))
    val b = fact.join(dim, "key")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  // --- shared co-purchase edge memo (VERDICT r11 item 2) -------------------------

  test("copurchaseEdges is memoized per (session, dir) and equals the direct build") {
    val m1 = Queries.copurchaseEdges(spark, sf)
    val m2 = Queries.copurchaseEdges(spark, sf)
    assert(m1 eq m2, "memo must return the same cached frame instance")
    assert(m1.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "memoized edge frame must be registered for caching")
    val direct = Analytics.coOccurrencePairs(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", minSupport = 1L,
      maxBasketSize = AnalyticsQueries.CoMaxBasket)
    assert(m1.exceptAll(direct).count() == 0 &&
      direct.exceptAll(m1).count() == 0)
    // the minSupport≥2 consumers are a pure filter of the shared frame
    val filtered = m1.filter(col("n_baskets") >= AnalyticsQueries.CoMinSupport)
    val directMs2 = Analytics.coOccurrencePairs(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", AnalyticsQueries.CoMinSupport,
      maxBasketSize = AnalyticsQueries.CoMaxBasket)
    assert(filtered.exceptAll(directMs2).count() == 0 &&
      directMs2.exceptAll(filtered).count() == 0)
  }
}
