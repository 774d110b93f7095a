package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.SketchAggs
import graft.queries.SketchQueries

/** Round-11 third batch: the Misra–Gries and KMV native aggregates and
  * Cramér's V — guarantee/determinism properties the oracle gate can't
  * see (the gate pins values on the fixtures; these pin the contracts
  * on adversarial inputs).
  */
class Round11cSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("Misra-Gries guarantee: planted heavy hitters survive any partitioning; state stays <= k") {
    // 100k-key noise floor + 3 planted heavy hitters at ~10% each —
    // far above the N/(k+1) guarantee line for k = 16
    val noise = (0 until 60000).map(i => (i % 20000) + 1000L)
    val heavy = Seq.fill(8000)(1L) ++ Seq.fill(7000)(2L) ++ Seq.fill(6000)(3L)
    val data = new scala.util.Random(7).shuffle(noise ++ heavy)
    def candidates(partitions: Int): Set[Long] =
      data.toDF("k").repartition(partitions)
        .agg(SketchAggs.misraGriesTopK(col("k"), 16).as("cs"))
        .select(explode(col("cs")).as("c"))
        .select(col("c.item")).as[Long].collect().toSet
    Seq(1, 4, 13).foreach { parts =>
      val c = candidates(parts)
      assert(Set(1L, 2L, 3L).subsetOf(c),
        s"guarantee violated at $parts partitions: heavy hitters missing from $c")
      assert(c.size <= 16, s"summary exceeded k entries: ${c.size}")
    }
  }

  test("KMV native aggregate is bit-identical to the frame estimator, globally and per group") {
    val li = Tables.lineitem(spark, sf)
    val globalFrame = graft.functions.Sketches
      .kmvDistinctEstimate(li, "l_orderkey", SketchQueries.KmvK)
      .select("est_distinct").as[Double].head()
    val globalAgg = li.agg(SketchAggs
        .kmvEstimateAgg(col("l_orderkey"), SketchQueries.KmvK).as("e"))
      .as[Double].head()
    assert(globalAgg == globalFrame)
    val perGroupFrame = graft.functions.Sketches
      .groupedKmvDistinct(li, "l_returnflag", "l_orderkey", SketchQueries.KmvK)
      .select(col("l_returnflag"), col("est_distinct"))
      .as[(String, Double)].collect().toMap
    val perGroupAgg = li.groupBy("l_returnflag")
      .agg(SketchAggs.kmvEstimateAgg(col("l_orderkey"), SketchQueries.KmvK).as("e"))
      .as[(String, Double)].collect().toMap
    assert(perGroupAgg == perGroupFrame)
  }

  test("KMV aggregate returns null below k distinct keys (the exact-count regime)") {
    val tiny = (1L to 10L).toDF("k")
    val got = tiny.agg(SketchAggs.kmvEstimateAgg(col("k"), SketchQueries.KmvK).as("e"))
      .select(col("e").isNull).as[Boolean].head()
    assert(got, "sub-k group must yield null, not a garbage estimate")
  }

  test("graft_kmv and graft_mg are callable from SQL text") {
    GraftFunctions.install(spark)
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_kmv_spec")
    val viaSql = spark.sql(
      s"SELECT graft_kmv(l_orderkey, ${SketchQueries.KmvK}) AS e FROM li_kmv_spec")
      .as[Double].head()
    val viaAgg = Tables.lineitem(spark, sf)
      .agg(SketchAggs.kmvEstimateAgg(col("l_orderkey"), SketchQueries.KmvK).as("e"))
      .as[Double].head()
    assert(viaSql == viaAgg)
    val mg = spark.sql(
      "SELECT graft_mg(l_orderkey, 8) AS cs FROM li_kmv_spec")
    assert(mg.select(explode(col("cs"))).count() <= 8)
  }

  test("Cramér's V: exactly 1 on perfect association, exactly 0 on exact independence") {
    def v(df: org.apache.spark.sql.DataFrame): Double =
      graft.operators.Analytics.cramersV(df, "a", "b")
        .select("cramers_v").as[Double].head()
    // perfect association: b is a function of a (and vice versa) — the
    // densified grid's structural zeros are what push chi2 to its
    // maximum N·(min−1); without them V would read sqrt(2/3)
    // (up to fp rounding in e = 10000/300, which is not representable)
    val dep = (1 to 300).map(i => (s"x${i % 3}", s"y${i % 3}")).toDF("a", "b")
    assert(math.abs(v(dep) - 1.0) < 1e-12, s"got ${v(dep)}")
    // exact independence: uniform product grid → o == e in every cell
    val ind = (for (i <- 0 until 3; j <- 0 until 4; _ <- 0 until 25)
      yield (s"x$i", s"y$j")).toDF("a", "b")
    assert(v(ind) == 0.0)
  }

  test("CMS native aggregate emits exactly the frame path's counter cells") {
    val words = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextAnalysis.words(col("text"))).as("word"))
    val fp = graft.plans.VectorExprs.polyFingerprint(col("word"))
    val viaFrame = graft.functions.Sketches
      .cmsCounters(words, fp, SketchQueries.CmsDepth, SketchQueries.CmsWidth)
      .as[(Int, Long, Long)].collect().toSet
    val viaAgg = words
      .agg(SketchAggs.cmsCountersAgg(fp, SketchQueries.CmsDepth, SketchQueries.CmsWidth).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.d"), col("c.bucket"), col("c.cnt"))
      .as[(Int, Long, Long)].collect().toSet
    assert(viaAgg == viaFrame,
      s"extra=${viaAgg -- viaFrame}, missing=${viaFrame -- viaAgg}")
    // additive determinism: a different partitioning sums to the same grid
    val viaAgg2 = words.repartition(7)
      .agg(SketchAggs.cmsCountersAgg(fp, SketchQueries.CmsDepth, SketchQueries.CmsWidth).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.d"), col("c.bucket"), col("c.cnt"))
      .as[(Int, Long, Long)].collect().toSet
    assert(viaAgg2 == viaFrame)
  }

  test("graft_cms is callable from SQL text") {
    GraftFunctions.install(spark)
    Tables.lineitem(spark, sf).createOrReplaceTempView("li_cms_spec")
    val cells = spark.sql(
      s"SELECT graft_cms(l_orderkey, ${SketchQueries.CmsDepth}, ${SketchQueries.CmsWidth}) AS cs FROM li_cms_spec")
      .select(explode(col("cs")).as("c"))
    assert(cells.count() > 0)
    // every row lands in exactly depth cells: total mass = depth x rows
    val mass = cells.select(sum(col("c.cnt"))).as[Long].head()
    assert(mass == SketchQueries.CmsDepth * Tables.lineitem(spark, sf).count())
  }

  test("every registered query has a DuckDB oracle (full-strength gate, no silent rows-only fallback)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without a query: ${o -- q}")
    // the maps are built by toMap, which keeps the last of two equal
    // names silently: the declared list itself must be duplicate-free
    val names = SparkEntry.specs.map(_.name)
    assert(names.diff(names.distinct).isEmpty,
      s"query names declared twice: ${names.diff(names.distinct)}")
    assert(names.size == 283, s"${names.size} declared queries, expected 283")
  }

  test("q190 output equals the plain exact heavy-hitter query") {
    val got = SketchQueries.mgHeavyHitters(spark, sf)
      .select("event_type", "n_events").as[(String, Long)].collect().toSet
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val exp = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .filter(col("n") * SketchQueries.MgHeavyDen >= total)
      .as[(String, Long)].collect().toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }
}
