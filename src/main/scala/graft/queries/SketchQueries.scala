package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Cols._
import graft.operators._
import graft.functions.TextAnalysis
import OracleSql._

/** Sketch queries: README "Query-surface index", section "Sketches (frame +
  * native agg)". Each query is declared once, by the `query(...)` call
  * after its implementation, with its DuckDB oracle SQL beside it.
  */
object SketchQueries extends QueryFamily {

  // --- q38: KMV distinct-count sketch vs exact ---------------------------------
  val KmvK = 256

  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val est = graft.functions.Sketches.kmvDistinctEstimate(li, "l_orderkey", KmvK)
    val exact = li.agg(count_distinct(col("l_orderkey")).as("exact_distinct"))
    est.crossJoin(exact)
      .select(col("k"), col("exact_distinct"), col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double")).as("est_ratio"))
  }

  query("q38_distinct_sketch", distinctSketch, {
      import graft.functions.Sketches._
      s"""WITH kmv AS (
            SELECT MAX(h) AS kth FROM (
              SELECT DISTINCT ($HA * l_orderkey + $HB) % $P AS h
              FROM lineitem ORDER BY h LIMIT ${KmvK})),
          ex AS (SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem)
          SELECT ${KmvK} AS k, exact_distinct,
                 ${(KmvK - 1).toDouble} / (CAST(kth AS DOUBLE) / ${P.toDouble})
                   AS est_distinct,
                 (${(KmvK - 1).toDouble} / (CAST(kth AS DOUBLE) / ${P.toDouble}))
                   / CAST(exact_distinct AS DOUBLE) AS est_ratio
          FROM kmv, ex"""
    })

  // --- q88: histogram-sketch percentiles — q68's one-pass mergeable twin -------
  // Same report shape as q68 without the distributed per-group sort: one
  // hash-agg over (flag, price-bin), a cumulative over ≤1100 tiny rows
  // per flag, linear interpolation inside the boundary bin. Error ≤ the
  // 100-unit bin width (~0.1% of the price range); bin counts are
  // ADDITIVE, so day-over-day / cluster-over-cluster merges are vector
  // adds with no merge-order sensitivity — the property rank-based
  // sketches (KLL/GK) give up. The spec pins every estimate within one
  // bin width of q68's exact answer.
  val SketchBinWidth = 100.0
  val SketchBins = 1100
  val SketchQs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.99)

  def sketchPercentiles(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.histogramQuantiles(
        Tables.lineitem(spark, dir).select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", SketchBinWidth, SketchBins, SketchQs)
      .orderBy("l_returnflag")

  query("q88_sketch_percentiles", sketchPercentiles, {
      val w = SketchBinWidth
      val cap = SketchBins - 1
      val qList = SketchQs
        .map(q => s"CAST($q AS DOUBLE)").mkString("[", ", ", "]")
      val qCols = SketchQs.map { q =>
        s"MAX(CASE WHEN q = $q THEN est END) AS est_${q.toString.replace('.', '_')}"
      }.mkString(",\n                 ")
      s"""WITH b AS (SELECT l_returnflag AS g,
                  CAST(least(greatest(floor(l_extendedprice / $w), 0), $cap)
                       AS BIGINT) AS bin
           FROM lineitem),
          c AS (SELECT g, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
          cc AS (SELECT g, bin, cnt,
                   CAST(SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
                 FROM c),
          qq AS (SELECT unnest($qList) AS q),
          sel AS (SELECT g, q,
                    $w * (CAST(bin AS DOUBLE) + (q * n - (cum - cnt)) / cnt)
                      AS est
                  FROM cc, qq
                  WHERE cum >= q * n AND cum - cnt < q * n)
          SELECT g AS l_returnflag,
                 $qCols
          FROM sel GROUP BY 1"""
    })

  // --- q90: per-group KMV distinct sketches (q38 partitioned) ------------------
  // "Distinct users/ids per segment" without a per-segment COUNT(DISTINCT)
  // over the raw table: the k-th smallest distinct hash per group. The
  // report joins the exact count only to expose est_ratio for monitoring;
  // the sketch side alone is the production shape (exact COUNT(DISTINCT)
  // per group re-shuffles every raw row; the sketch dedups (group, hash)
  // pairs once and ranks a tiny distinct frame).
  // k sized to the SMALLEST corpus the library contracts to run on
  // (sf0.001 has ~190 distinct ids per type; a group below k emits no
  // sketch row by design, and the surface contract is rows > 0)
  val GroupKmvK = 128

  def groupedDistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_type", "event_id")
    graft.functions.Sketches.groupedKmvDistinct(ev, "event_type", "event_id", GroupKmvK)
      .join(ev.groupBy("event_type")
        .agg(countDistinct("event_id").as("exact_distinct")), "event_type")
      .select(col("event_type"), col("k"), col("exact_distinct"),
        col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double")).as("est_ratio"))
      .orderBy("event_type")
  }

  query("q90_grouped_distinct_sketch", groupedDistinctSketch, {
      import graft.functions.Sketches._
      val k = GroupKmvK
      s"""WITH h AS (SELECT DISTINCT event_type,
                       ($HA * event_id + $HB) % $P AS h FROM events),
          kth AS (SELECT event_type, h AS kth FROM (
                    SELECT event_type, h,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY h) AS rn
                    FROM h) WHERE rn = $k),
          ex AS (SELECT event_type, COUNT(DISTINCT event_id) AS exact_distinct
                 FROM events GROUP BY 1)
          SELECT event_type, $k AS k, exact_distinct,
                 ${(k - 1).toDouble} / (CAST(kth AS DOUBLE) / ${P.toDouble})
                   AS est_distinct,
                 (${(k - 1).toDouble} / (CAST(kth AS DOUBLE) / ${P.toDouble}))
                   / CAST(exact_distinct AS DOUBLE) AS est_ratio
          FROM kth JOIN ex USING (event_type)"""
    })

  // --- q94: count-min-sketch word frequencies -----------------------------------
  // The bounded-memory frequency monitor: depth×width integer cells from
  // one corpus pass, additive across shards/days/batches (vector add — the
  // mergeability that lets a 100 TB run sketch per-partition and combine).
  // The report joins the head words' exact counts with their CMS
  // estimates, exposing the overestimate the ε·N bound promises.
  val CmsDepth = 4
  val CmsWidth = 512
  val CmsTopK = 50

  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.words(col("text"))).as("word"))
    val fp = graft.plans.VectorExprs.polyFingerprint(col("word"))
    val counters = graft.functions.Sketches.cmsCounters(words, fp, CmsDepth, CmsWidth)
    val top = words.groupBy("word").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word")).limit(CmsTopK)
    graft.functions.Sketches.cmsEstimates(top, fp, counters,
        CmsDepth, CmsWidth, "cms_est")
      .withColumn("overcount", col("cms_est") - col("exact_n"))
      .orderBy(col("exact_n").desc, col("word"))
  }

  // q194 runs the SAME report with counters built by the native
  // additive aggregate — identical cells, identical oracle
  query("q94_cms_heavy_hitters", cmsHeavyHitters, cmsHeavySql)

  // --- q121: HyperLogLog distinct sketch -------------------------------------------
  // The KMV estimator's classic sibling, with a different merge algebra:
  // KMV merges by re-selecting k minima, HLL registers merge by per-index
  // MAX — idempotent (re-delivered batches are absorbed), O(m) state.
  // Portable-exact: register indices/rhos are pure integer ops on the
  // shared affine hash, and the Σ2^−rho sum is a sum of exact powers of
  // two (order-independent), so DuckDB reproduces the ESTIMATE bit-for-
  // bit — an oracle-verified approximate sketch. Raw-regime estimator by
  // design (n ≳ 2.5m); below that regime KMV (q38) is the right tool.
  val HllM = 256

  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val regs = graft.functions.Sketches.hllRegisters(li, col("l_orderkey"), HllM)
    val est = graft.functions.Sketches.hllEstimate(regs, Nil, HllM, "est_distinct")
    val exact = li.agg(countDistinct(col("l_orderkey")).as("exact_distinct"))
    est.crossJoin(broadcast(exact))
      .select(lit(HllM.toLong).as("m"), col("exact_distinct"),
        col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double"))
          .as("est_ratio"))
  }

  query("q121_hll_distinct", hllDistinct, {
      import graft.functions.Sketches._
      val m = HllM
      val p = java.lang.Integer.numberOfTrailingZeros(m)
      val w = hllRestBits(m)
      val amm = hllNumerator(m)
      s"""WITH h0 AS (SELECT ($HA * l_orderkey + $HB) % $P AS h FROM lineitem),
          h AS (SELECT (((h*h) % $P) * h) % $P AS h FROM h0),
          s AS (SELECT h % $m AS idx, ${hllRhoSql(s"h // ${1L << p}", w)} AS rho
                FROM h),
          r AS (SELECT idx, MAX(rho) AS rho FROM s GROUP BY 1),
          g AS (SELECT unnest(generate_series(0, ${m - 1})) AS idx),
          d AS (SELECT g.idx, COALESCE(r.rho, 0) AS rho
                FROM g LEFT JOIN r USING (idx)),
          z AS (SELECT SUM(CAST(1.0 AS DOUBLE) / CAST((1::BIGINT << rho) AS DOUBLE)) AS z
                FROM d),
          ex AS (SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct
                 FROM lineitem)
          SELECT CAST($m AS BIGINT) AS m, exact_distinct,
                 CAST($amm AS DOUBLE) / z AS est_distinct,
                 (CAST($amm AS DOUBLE) / z)
                   / CAST(exact_distinct AS DOUBLE) AS est_ratio
          FROM z, ex"""
    })

  // --- q122: per-group HLL distinct ------------------------------------------------
  // q90's grouped-KMV counterpart on the HLL algebra: per-(group,
  // register) MAX, a groups×m dense grid, one estimate row per group.
  val HllGroupM = 64

  def groupedHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val regs = graft.functions.Sketches.groupedHllRegisters(ev, "event_type", col("event_id"),
      HllGroupM)
    val est = graft.functions.Sketches.hllEstimate(regs, Seq("event_type"), HllGroupM,
      "est_distinct")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("event_id")).as("exact_distinct"))
    est.join(exact, "event_type")
      .select(col("event_type"), lit(HllGroupM.toLong).as("m"),
        col("exact_distinct"), col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double"))
          .as("est_ratio"))
      .orderBy("event_type")
  }

  query("q122_hll_grouped", groupedHllDistinct, {
      import graft.functions.Sketches._
      val m = HllGroupM
      val p = java.lang.Integer.numberOfTrailingZeros(m)
      val w = hllRestBits(m)
      val amm = hllNumerator(m)
      s"""WITH h0 AS (SELECT event_type, ($HA * event_id + $HB) % $P AS h
                      FROM events),
          h AS (SELECT event_type, (((h*h) % $P) * h) % $P AS h FROM h0),
          s AS (SELECT event_type, h % $m AS idx,
                       ${hllRhoSql(s"h // ${1L << p}", w)} AS rho
                FROM h),
          r AS (SELECT event_type, idx, MAX(rho) AS rho FROM s GROUP BY 1, 2),
          g AS (SELECT et.event_type, gs.idx
                FROM (SELECT DISTINCT event_type FROM events) et
                CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS idx) gs),
          d AS (SELECT g.event_type, g.idx, COALESCE(r.rho, 0) AS rho
                FROM g LEFT JOIN r USING (event_type, idx)),
          z AS (SELECT event_type,
                       SUM(CAST(1.0 AS DOUBLE) / CAST((1::BIGINT << rho) AS DOUBLE)) AS z
                FROM d GROUP BY 1),
          ex AS (SELECT event_type, COUNT(DISTINCT event_id) AS exact_distinct
                 FROM events GROUP BY 1)
          SELECT event_type, CAST($m AS BIGINT) AS m, exact_distinct,
                 CAST($amm AS DOUBLE) / z AS est_distinct,
                 (CAST($amm AS DOUBLE) / z)
                   / CAST(exact_distinct AS DOUBLE) AS est_ratio
          FROM z JOIN ex USING (event_type)"""
    })

  // --- q141: KMV set operations (union / intersection across event sets) ----------
  // Theta-sketch-style set algebra on the portable KMV sketch: the k
  // smallest distinct hashes of A ∪ B estimate the union cardinality,
  // the fraction of them present in BOTH sides estimates Jaccard, and
  // intersection = J × union (inclusion via two broadcast semi-joins of
  // the k-row sketch — never a join of the full sets). Elements are
  // (user, UTC day) activity keys; A = click-days, B = purchase-days.
  // Exact counts ride along for calibration.
  val SetOpK = 128

  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val keyed = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        (col("user_id") * 100000L +
          datediff(utcDate(col("ts")), epoch)).as("k"))
    // pre-reduce the composite key mod P so the affine hash's HA·k
    // product stays inside int64 for ANY user-id magnitude (ANSI mode
    // makes a long overflow a runtime error, not a wraparound)
    def side(t: String) = keyed.filter(col("event_type") === t)
      .select(graft.functions.Sketches.keyHash(
        pmod(col("k"), lit(graft.functions.Sketches.P))).as("h")).distinct()
    val a = side("click")
    val b = side("purchase")
    val kmin = a.union(b).distinct().orderBy("h").limit(SetOpK)
    val both = kmin.join(a, "h", "leftsemi").join(b, "h", "leftsemi")
      .agg(count(lit(1)).as("n_both"))
    val kth = kmin.agg(max(col("h")).as("kth"))
    val exact = keyed.select(col("event_type"), col("k")).distinct()
      .groupBy("k").agg(count(lit(1)).as("sides"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("sides") === 2, 1L).otherwise(0L)).as("exact_inter"))
    val p = graft.functions.Sketches.P.toDouble
    kth.crossJoin(both).crossJoin(exact)
      .select(lit(SetOpK.toLong).as("k"),
        col("exact_union"), col("exact_inter"),
        (lit((SetOpK - 1).toDouble) / (col("kth").cast("double") / lit(p)))
          .as("est_union"),
        (col("n_both").cast("double") / lit(SetOpK.toDouble))
          .as("est_jaccard"),
        ((col("n_both").cast("double") / lit(SetOpK.toDouble)) *
          (lit((SetOpK - 1).toDouble) / (col("kth").cast("double") / lit(p))))
          .as("est_intersection"))
  }

  // Identical KMV algebra on both sides: union k-min, kth-normalized
  // union estimate, membership-fraction Jaccard, product intersection.
  query("q141_kmv_set_ops", kmvSetOps, {
      import graft.functions.Sketches.{HA, HB, P}
      val k = SetOpK
      val pd = P.toDouble
      val estU = s"${(k - 1).toDouble} / (CAST(kth AS DOUBLE) / $pd)"
      val estJ = s"CAST(n_both AS DOUBLE) / ${k.toDouble}"
      s"""WITH keyed AS (
            SELECT event_type,
                   user_id * 100000
                     + date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                     AS k
            FROM events WHERE event_type IN ('click', 'purchase')),
          a AS (SELECT DISTINCT ($HA * (k % $P) + $HB) % $P AS h FROM keyed
                WHERE event_type = 'click'),
          b AS (SELECT DISTINCT ($HA * (k % $P) + $HB) % $P AS h FROM keyed
                WHERE event_type = 'purchase'),
          kmin AS (SELECT h FROM (SELECT DISTINCT h FROM
                     (SELECT h FROM a UNION ALL SELECT h FROM b))
                   ORDER BY h LIMIT $k),
          kth AS (SELECT MAX(h) AS kth FROM kmin),
          nboth AS (SELECT COUNT(*) AS n_both FROM kmin
                    WHERE h IN (SELECT h FROM a)
                      AND h IN (SELECT h FROM b)),
          ex AS (SELECT COUNT(*) AS exact_union,
                        CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS exact_inter
                 FROM (SELECT k, COUNT(*) AS sides
                       FROM (SELECT DISTINCT event_type, k FROM keyed)
                       GROUP BY 1))
          SELECT CAST($k AS BIGINT) AS k, exact_union, exact_inter,
                 $estU AS est_union,
                 $estJ AS est_jaccard,
                 ($estJ) * ($estU) AS est_intersection
          FROM kth, nboth, ex"""
    })

  // --- q189: native HLL sketch AGGREGATE -------------------------------------------
  // q121's estimator as a TypedImperativeAggregate (plans/SketchAggs):
  // the m-byte register buffer rides Spark's partial-aggregation
  // machinery — map-side partials absorb rows locally, the shuffle
  // moves ONE buffer per (partition × group), and the sketch composes
  // with other aggregates in the same agg() — one scan, one shuffle,
  // the shape the register-frame form can't express. Estimate
  // arithmetic identical to q121 ⇒ oracle-exact per group.
  def hllNativeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(graft.plans.SketchAggs.hllEstimateAgg(col("l_orderkey"), HllM)
          .as("est_distinct"),
        countDistinct(col("l_orderkey")).as("exact_distinct"))
      .select(col("l_returnflag"), col("exact_distinct"), col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double"))
          .as("est_ratio"))
      .orderBy("l_returnflag")

  query("q189_hll_native_agg", hllNativeAgg, {
      import graft.functions.Sketches._
      val m = HllM
      val p = java.lang.Integer.numberOfTrailingZeros(m)
      val w = hllRestBits(m)
      val amm = hllNumerator(m)
      s"""WITH h0 AS (SELECT l_returnflag AS g,
                             ($HA * l_orderkey + $HB) % $P AS h
                      FROM lineitem),
          h AS (SELECT g, (((h*h) % $P) * h) % $P AS h FROM h0),
          s AS (SELECT g, h % $m AS idx,
                       ${hllRhoSql(s"h // ${1L << p}", w)} AS rho
                FROM h),
          r AS (SELECT g, idx, MAX(rho) AS rho FROM s GROUP BY 1, 2),
          z AS (SELECT g,
                       SUM(CAST(1.0 AS DOUBLE)
                           / CAST((1::BIGINT << rho) AS DOUBLE))
                       + ($m - COUNT(*)) * CAST(1.0 AS DOUBLE) AS z
                FROM r GROUP BY 1),
          ex AS (SELECT l_returnflag AS g,
                        COUNT(DISTINCT l_orderkey) AS exact_distinct
                 FROM lineitem GROUP BY 1)
          SELECT g AS l_returnflag, exact_distinct,
                 CAST($amm AS DOUBLE) / z AS est_distinct,
                 (CAST($amm AS DOUBLE) / z) / CAST(exact_distinct AS DOUBLE)
                   AS est_ratio
          FROM z JOIN ex USING (g)"""
    })

  // --- q190: Misra–Gries heavy hitters (candidates → exact filter) ----------------
  // The O(k)-state frequent-items path: the MG aggregate's candidate set
  // is partition-order dependent (inherent), but its GUARANTEE — every
  // item with frequency > N/(k+1) survives the merged summary — is not.
  // So the deterministic pipeline is candidates → exact counts of
  // candidates ONLY (the second scan's agg is candidate-bounded, not
  // key-cardinality-bounded) → integer threshold filter. At 100 TB this
  // replaces a billion-key hash-agg with a 64-counter buffer per
  // partition plus a tiny candidate count. Oracle = plain GROUP BY
  // HAVING — the gate fails if MG ever drops a true heavy hitter.
  val MgK = 64
  val MgHeavyDen = 8L

  def mgHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), xxhash64(col("event_type")).as("k"))
    val cands = ev
      .agg(graft.plans.SketchAggs.misraGriesTopK(col("k"), MgK).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.item").as("k"))
    val total = Tables.events(spark, dir).agg(count(lit(1)).as("total"))
    ev.join(broadcast(cands), Seq("k"), "left_semi")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(total))
      .filter(col("n_events") * lit(MgHeavyDen) >= col("total"))
      .select(col("event_type"), col("n_events"),
        (col("n_events").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy("event_type")
  }

  query("q190_mg_heavy_hitters", mgHeavyHitters,
      // the MG candidate pass is semantics-neutral (guarantee: no true
      // heavy hitter dropped), so the oracle is the plain HAVING query
      s"""WITH t AS (SELECT COUNT(*) AS total FROM events),
          c AS (SELECT event_type, COUNT(*) AS n_events
                FROM events GROUP BY 1)
          SELECT event_type, n_events,
                 CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share
          FROM c, t
          WHERE n_events * ${MgHeavyDen} >= total""")

  // --- q191: native KMV aggregate --------------------------------------------------
  // q38's estimator as a TypedImperativeAggregate: the k-min distinct
  // hash set is a pure SET function of the input (no insertion-order
  // dependence, unlike MG), so per-group estimates are bit-deterministic
  // and ORACLE-EXACT — the second member of the native mergeable-sketch
  // family next to q189's HLL (max algebra vs k-min algebra).
  def kmvNativeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(graft.plans.SketchAggs.kmvEstimateAgg(col("l_orderkey"), KmvK)
          .as("est_distinct"),
        countDistinct(col("l_orderkey")).as("exact_distinct"))
      // groups with fewer than k distinct keys estimate to null (exact
      // counting is cheaper than any sketch there) — drop them, matching
      // BOTH the oracle's inner join on the k-th hash (which has no row
      // for a sub-k group) and groupedKmvDistinct's emit-no-row contract;
      // without this a thin group would surface a null-estimate row the
      // oracle doesn't have
      .filter(col("est_distinct").isNotNull)
      .select(col("l_returnflag"), col("exact_distinct"), col("est_distinct"),
        (col("est_distinct") / col("exact_distinct").cast("double"))
          .as("est_ratio"))
      .orderBy("l_returnflag")

  query("q191_kmv_native_agg", kmvNativeAgg, {
      import graft.functions.Sketches.{HA, HB, P}
      val k = KmvK
      s"""WITH h AS (SELECT DISTINCT l_returnflag AS g,
                            ($HA * l_orderkey + $HB) % $P AS h
                     FROM lineitem),
          r AS (SELECT g, h,
                       row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                FROM h),
          kth AS (SELECT g, h AS kth FROM r WHERE rn = $k),
          ex AS (SELECT l_returnflag AS g,
                        COUNT(DISTINCT l_orderkey) AS exact_distinct
                 FROM lineitem GROUP BY 1)
          SELECT g AS l_returnflag, exact_distinct,
                 CAST(${k - 1} AS DOUBLE)
                   / (CAST(kth AS DOUBLE) / CAST($P AS DOUBLE))
                   AS est_distinct,
                 (CAST(${k - 1} AS DOUBLE)
                   / (CAST(kth AS DOUBLE) / CAST($P AS DOUBLE)))
                   / CAST(exact_distinct AS DOUBLE) AS est_ratio
          FROM kth JOIN ex USING (g)"""
    })

  // --- q194: q94's CMS report through the NATIVE additive aggregate ----------------
  // Fourth member of the native sketch-aggregate family (HLL max / KMV
  // k-min / MG counters / CMS additive): the depth×width grid rides
  // partial aggregation as ONE long[] buffer per partition — the explode
  // ×depth + shuffle of the frame form collapses to a vector-add merge.
  // Non-zero cells come back as exactly the cmsCounters frame, so the
  // report (head words' exact counts vs CMS estimates) and its oracle
  // are IDENTICAL to q94's — the gate proves the two construction paths
  // agree cell-for-cell.
  def cmsNativeAgg(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.words(col("text"))).as("word"))
    val fp = graft.plans.VectorExprs.polyFingerprint(col("word"))
    val counters = words
      .agg(graft.plans.SketchAggs.cmsCountersAgg(fp, CmsDepth, CmsWidth).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.d").as("d"), col("c.bucket").as("bucket"),
        col("c.cnt").as("cnt"))
    val top = words.groupBy("word").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word")).limit(CmsTopK)
    graft.functions.Sketches.cmsEstimates(top, fp, counters,
        CmsDepth, CmsWidth, "cms_est")
      .withColumn("overcount", col("cms_est") - col("exact_n"))
      .orderBy(col("exact_n").desc, col("word"))
  }

  query("q194_cms_native_agg", cmsNativeAgg, cmsHeavySql)

  // --- q197: native grouped TOP-K aggregate ----------------------------------------
  // q11's result through the heap aggregate instead of the window sort:
  // `row_number().over(partitionBy(brand).orderBy(rev desc))` sorts every
  // brand's FULL part set inside the shuffle partition just to keep 3
  // rows; TopKPairsAgg carries a 3-entry buffer through partial
  // aggregation (map-side locals, k entries per partition-group on the
  // wire, no sort). Revenue rides as an exact scale-4 long (cents ×
  // (1−disc) centi-units, every step integer) so the heap's total order
  // equals the oracle's DECIMAL order bit-for-bit; the output double is
  // the one correctly-rounded division v/10^4, which equals the oracle's
  // decimal→double cast for |v| < 2^53 (at larger corpus scale widen the
  // unit, same recipe as q93's kilodollar quantization). Shares q11's
  // oracle verbatim — same rows, different physical plan, like the
  // q144-146 as-of twins.
  def topKNativeAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pc = (dec2(col("l_extendedprice")) * lit(100)).cast("long")
    val fc = (dec2(lit(1.0) - col("l_discount")) * lit(100)).cast("long")
    val rev = li.groupBy("l_partkey").agg(sum(pc * fc).as("v"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand")
    rev.join(broadcast(p), rev("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(graft.plans.TopKAgg.topKPairs(col("v"), col("p_partkey"), 3).as("tk"))
      .select(col("p_brand"), posexplode(col("tk")))
      .select(col("p_brand"), col("col.key").as("p_partkey"),
        (col("col.value").cast("double") / lit(10000.0)).as("revenue"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy("p_brand", "rank")
  }

  // q197 = q11 through the heap aggregate: same rows, different
  // physical plan (the q144-146 twin pattern)
  query("q197_topk_native_agg", topKNativeAgg, EtlQueries.topNPerGroupSpec.oracle)

  // --- q262: sliding 7-day HLL distinct (the q95 ↔ q121 compose) --------------------------
  // q95's rolling reach with SKETCH state: per-(day, register) max-rho
  // partials (one corpus scan, the q122 grouped-register build keyed by
  // day), then the trailing window is a REGISTER-WISE max over the
  // O(days × m) frame — HLL's max algebra makes the sliding combine
  // free, where q95's exact decomposition explodes each row ×7. At
  // 100 TB the day×register frame is still days × m; the estimate is
  // the q121 engine-portable exact-arithmetic form (powers of two sum
  // exactly), so even the APPROXIMATE column hash-matches the oracle.
  // Exact counts ride along for calibration (the q95 decomposition).
  // m=32 keeps the raw-regime estimator honest at sf0.01 window
  // cardinalities (n/m ≈ 4.7 ≥ 2.5).
  val HllSlideM = 32

  def slidingHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Cols.utcDate(col("ts")).as("day"))
    val daily = Sketches.groupedHllRegisters(ev, "day", col("user_id"),
        HllSlideM)
      .withColumn("day_num",
        datediff(col("day"), lit("1970-01-01").cast("date")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("idx").orderBy("day_num")
      .rangeBetween(-(AnalyticsQueries.SlidingWindowDays - 1L), 0L)
    val slid = daily.withColumn("rho7", max(col("rho")).over(w))
      .select(col("day").as("window_end"), col("idx"),
        col("rho7").as("rho"))
    val est = Sketches.hllEstimate(slid, Seq("window_end"), HllSlideM,
      "est_users_7d")
    val exact = Analytics.slidingDistinctCount(ev, "user_id", "day",
      AnalyticsQueries.SlidingWindowDays, "exact_users_7d")
    est.join(exact, "window_end")
      .select(col("window_end"), lit(HllSlideM.toLong).as("m"),
        col("exact_users_7d"), col("est_users_7d"),
        (col("est_users_7d") / col("exact_users_7d").cast("double"))
          .as("est_ratio"))
      .orderBy("window_end")
  }

  // q262 — the q122 grouped-register chain keyed by day, a
  // register-wise trailing-window max, the q121 exact-arithmetic
  // estimate, and q95's exact decomposition riding along
  query("q262_sliding_hll", slidingHll, {
      import graft.functions.Sketches._
      val m = HllSlideM
      val p = java.lang.Integer.numberOfTrailingZeros(m)
      val wbits = hllRestBits(m)
      val amm = hllNumerator(m)
      val wd = AnalyticsQueries.SlidingWindowDays - 1
      s"""WITH h0 AS (SELECT CAST(ts AS DATE) AS day,
                             ($HA * user_id + $HB) % $P AS h FROM events),
          h AS (SELECT day, (((h*h) % $P) * h) % $P AS h FROM h0),
          s AS (SELECT day, h % $m AS idx,
                       ${hllRhoSql(s"h // ${1L << p}", wbits)} AS rho
                FROM h),
          r AS (SELECT day, idx, MAX(rho) AS rho FROM s GROUP BY 1, 2),
          g AS (SELECT d.day, gs.idx
                FROM (SELECT DISTINCT day FROM h0) d
                CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1}))
                            AS idx) gs),
          dns AS (SELECT g.day, g.idx, COALESCE(r.rho, 0) AS rho
                  FROM g LEFT JOIN r USING (day, idx)),
          sl AS (SELECT day AS window_end, idx,
                        MAX(rho) OVER (PARTITION BY idx ORDER BY day
                          RANGE BETWEEN INTERVAL $wd DAY PRECEDING
                            AND CURRENT ROW) AS rho
                 FROM dns),
          z AS (SELECT window_end,
                       SUM(CAST(1.0 AS DOUBLE)
                           / CAST((1::BIGINT << rho) AS DOUBLE)) AS z
                FROM sl GROUP BY 1),
          ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
          days AS (SELECT DISTINCT d AS window_end FROM ud),
          ex AS (SELECT w.window_end,
                        COUNT(DISTINCT u.user_id) AS exact_users_7d
                 FROM days w JOIN ud u
                   ON u.d <= w.window_end AND u.d >= w.window_end - $wd
                 GROUP BY 1)
          SELECT z.window_end, CAST($m AS BIGINT) AS m, exact_users_7d,
                 CAST($amm AS DOUBLE) / z AS est_users_7d,
                 (CAST($amm AS DOUBLE) / z)
                   / CAST(exact_users_7d AS DOUBLE) AS est_ratio
          FROM z JOIN ex USING (window_end)"""
    })

  // --- oracle SQL fragments the specs above share --------------------------

  /** The CMS heavy-hitter report (shared by q94's frame path and q194's
    * native-aggregate path — the counter cells are identical by the
    * additive algebra, so one oracle gates both construction paths).
    */
  private lazy val cmsHeavySql: String = {
    import graft.functions.{Lsh, Sketches}
    val d = CmsDepth
    val wdt = CmsWidth
    val buckets = (0 until d).map(i =>
      s"((${Lsh.A(i)} * f + ${Lsh.B(i)}) % ${Sketches.P}) % $wdt AS b$i").mkString(", ")
    s"""WITH w AS (SELECT unnest($ws) AS word FROM documents),
        fp AS (SELECT word, ${fpSql("word")} AS f FROM w),
        cells AS (SELECT word, $buckets FROM fp),
        counters AS (
          SELECT d, bucket, COUNT(*) AS cnt FROM (
            ${(0 until d).map(i => s"SELECT $i AS d, b$i AS bucket FROM cells")
              .mkString(" UNION ALL ")})
          GROUP BY 1, 2),
        top AS (SELECT word, COUNT(*) AS exact_n FROM w GROUP BY 1
                ORDER BY exact_n DESC, word LIMIT ${CmsTopK}),
        est AS (SELECT t.word, t.exact_n, MIN(c.cnt) AS cms_est
                FROM top t
                JOIN (SELECT DISTINCT word, ${(0 until d).map(i => s"b$i")
                        .mkString(", ")} FROM cells) x ON t.word = x.word
                JOIN counters c ON (
                  ${(0 until d).map(i => s"(c.d = $i AND c.bucket = x.b$i)")
                    .mkString(" OR ")})
                GROUP BY 1, 2)
        SELECT word, exact_n, cms_est, cms_est - exact_n AS overcount
        FROM est"""
  }
}
