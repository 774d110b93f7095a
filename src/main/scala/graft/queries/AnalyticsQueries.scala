package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Cols._
import graft.operators._
import graft.functions.TextAnalysis
import org.apache.spark.sql.graft.LeanCheckpoint.Ops
import OracleSql._

/** Analytics and reporting queries: README "Query-surface index", section
  * "Analytics & reporting". Each query is declared once, by the
  * `query(...)` call after its implementation, with its DuckDB oracle SQL
  * beside it.
  */
object AnalyticsQueries extends QueryFamily {

  // --- q43: CUBE multi-dimensional aggregate (all grouping-set combinations) --
  def cubeReport(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(dec2(col("o_totalprice"))).as("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  query("q43_cube_report", cubeReport,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")

  // --- q42: per-dimension embedding statistics ---------------------------------
  // Moments over values TRUNCATED to integer units of 1e-10: truncation
  // (unlike decimal rounding) has no tie cases, so the quantized value is
  // bit-identical in any engine; integer/decimal sums are then exact and
  // order-independent. (Decimal HALF_UP vs HALF_EVEN tie handling differs
  // between engines — measured one-quantum divergences at scale 10.)
  def embedStats(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(12, 0)
    val e = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"),
        (col("v").cast("double") * lit(1.0e10)).cast("long").cast(dec).as("q"))
    // Variance numerator n*sq - s^2 computed EXACTLY in decimal — leaving
    // only sqrt and two divisions in float. (With s^2/n in float, one
    // engine's compiler contracted the expression differently, giving
    // 1-ulp divergences.)
    val d8 = org.apache.spark.sql.types.DecimalType(8, 0)
    val d18 = org.apache.spark.sql.types.DecimalType(18, 0)
    e.groupBy("pos")
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("sq"))
      .withColumn("var_num",
        col("sq") * col("n").cast(d8) - col("s").cast(d18) * col("s").cast(d18))
      .select(
        col("pos"),
        col("n"),
        (col("s").cast("double") / col("n") / lit(1.0e10)).as("mean"),
        (sqrt(col("var_num").cast("double")) / col("n") / lit(1.0e10)).as("std"))
      .orderBy("pos")
  }

  query("q42_embed_stats", embedStats,
      """SELECT pos, n,
                CAST(s AS DOUBLE) / n / 1.0e10 AS mean,
                sqrt(CAST(CAST(sq AS DECIMAL(30,0)) * CAST(n AS DECIMAL(8,0))
                          - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(18,0))
                          AS DOUBLE)) / n / 1.0e10 AS std
         FROM (SELECT CAST(i - 1 AS INT) AS pos, COUNT(*) AS n,
                      SUM(q) AS s, SUM(CAST(q AS DECIMAL(25,0)) * q) AS sq
               FROM (SELECT i,
                            CAST(CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1.0e10)
                                      AS BIGINT) AS DECIMAL(12,0)) AS q
                     FROM embeddings,
                          (SELECT unnest(generate_series(1, 64)) AS i) g)
               GROUP BY 1)""")

  // --- q39: deterministic stratified sampling by language ----------------------
  // Corpus-mixing rates: downsample dominant languages, keep the rest.
  val SampleRates: Seq[(String, Double)] =
    Seq("en" -> 0.5, "de" -> 1.0, "fr" -> 1.0, "es" -> 1.0, "zh" -> 0.25)

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.tail.foldLeft(
      when(col("lang") === SampleRates.head._1, SampleRates.head._2)) {
      case (acc, (l, r)) => acc.when(col("lang") === l, r)
    }.otherwise(lit(0.0))
    Tables.documents(spark, dir)
      .withColumn("h", graft.functions.Sketches.keyHash(col("doc_id")))
      .filter(graft.functions.Sketches.hashSampled(col("h"), rate))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  query("q39_stratified_sample", stratifiedSample, {
      import graft.functions.Sketches._
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")
      s"""SELECT doc_id, lang FROM documents
          WHERE CAST(($HA * doc_id + $HB) % $P AS DOUBLE) / ${P.toDouble}
                < (CASE $rateCase ELSE 0.0 END)"""
    })

  // --- q35: pivot report (status columns per priority) ------------------------
  val OrderStatuses = Seq("F", "O", "P")

  def pivotReport(spark: SparkSession, dir: String): DataFrame =
    Analytics.pivotCounts(Tables.orders(spark, dir),
      "o_orderpriority", "o_orderstatus", OrderStatuses, "n_")
      .orderBy("o_orderpriority")

  query("q35_pivot_report", pivotReport,
      """SELECT o_orderpriority,
                COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY 1""")

  // --- q36: share-of-total within partition (percent-of-region revenue) -------
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c  = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    val byNation = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
    byNation
      .withColumn("share", Analytics.shareOfTotal(byNation, Seq("region"), "rev_dec"))
      .select(col("region"), col("nation"),
        col("rev_dec").cast("double").as("revenue"), col("share"))
      .orderBy("region", "nation")
  }

  query("q36_revenue_share", revenueShare,
      s"""WITH byn AS (
            SELECT r_name AS region, n_name AS nation,
                   SUM($discTerm) AS rev_dec
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2)
          SELECT region, nation, CAST(rev_dec AS DOUBLE) AS revenue,
                 CAST(rev_dec AS DOUBLE) /
                   CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE) AS share
          FROM byn""")

  // --- q37: rolling 7-day revenue over ship dates ------------------------------
  def rollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate").cast("date").as("ship_day"))
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
      .withColumn("day_num", datediff(col("ship_day"), lit("1970-01-01").cast("date")))
    daily
      .withColumn("rolling_dec", Analytics.rollingSumDays("day_num", "rev_dec", 7))
      .select(col("ship_day"),
        col("rev_dec").cast("double").as("daily_revenue"),
        col("rolling_dec").cast("double").as("rolling_7d_revenue"))
      .orderBy("ship_day")
  }

  query("q37_rolling_revenue", rollingRevenue,
      s"""WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS ship_day,
                   SUM($discTerm) AS rev_dec,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_num
            FROM lineitem GROUP BY 1, 3)
          SELECT ship_day, CAST(rev_dec AS DOUBLE) AS daily_revenue,
                 CAST(SUM(rev_dec) OVER (ORDER BY day_num
                        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS rolling_7d_revenue
          FROM daily""")

  // --- q71: session concurrency via global prefix-sum (q64's scale twin) ------
  // Same semantics and SAME oracle as q64, different algorithm: instead of
  // materializing (session × contained-event) pairs — whose cardinality
  // grows with user density squared — count events at each window boundary
  // with ONE global running count (PrefixSum over day buckets) and
  // subtract: n_in = cum(end⁺) − cum(start⁻), minus the session's own
  // n_events (its window contains exactly its own events, by the gap
  // construction). Boundary kinds order start(0) < event(1) < end(2) at
  // equal micros, so start excludes and end includes equal-timestamp
  // events — matching the inclusive [start, end] contract. O(n log n)
  // versus q64's O(pairs); the pair join wins when concurrency is low,
  // this wins unboundedly as it grows.
  def sessionConcurrencyFast(spark: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessions(
        Tables.events(spark, dir).select("user_id", "event_id", "ts", "value"),
        "user_id", "ts", Seq("event_id"), "value", SessionGapMicros)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"))
    // BOTH window boundaries explode out of ONE pass over the sessions
    // (the sessionize shuffle+sort runs once, not once per boundary
    // kind), carrying n_events and the start micros so the final rollup
    // needs no join back to the session frame.
    val bounds = sess.select(col("user_id"), col("session_seq"),
        col("n_events"), unix_micros(col("session_start")).as("st"),
        explode(array(
          struct(unix_micros(col("session_start")).as("us"), lit(0).as("kind")),
          struct(unix_micros(col("session_end")).as("us"), lit(2).as("kind"))))
          .as("e"))
      .select(col("e.us").as("us"), col("e.kind").as("kind"), lit(0L).as("w"),
        col("user_id"), col("session_seq"), col("n_events"), col("st"))
    val evr = Tables.events(spark, dir).select(
      unix_micros(col("ts")).as("us"), lit(1).as("kind"), lit(1L).as("w"),
      lit(null).cast("long").as("user_id"), lit(null).cast("long").as("session_seq"),
      lit(null).cast("long").as("n_events"), lit(null).cast("long").as("st"))
    val all = bounds.unionByName(evr)
      .withColumn("bucket", floor(col("us") / lit(86400000000L)).cast("long"))
    val cum = PrefixSum.runningSum(all, "bucket",
      Seq(col("us"), col("kind"), col("user_id"), col("session_seq")),
      col("w"), "cum")
    cum.filter(col("kind") =!= 1)
      .groupBy("user_id", "session_seq")
      .agg(min(when(col("kind") === 0, col("cum"))).as("c_start"),
        max(when(col("kind") === 2, col("cum"))).as("c_end"),
        max(col("n_events")).as("n_events"), max(col("st")).as("st"))
      .select(col("user_id"), col("session_seq"),
        timestamp_micros(col("st")).as("session_start"),
        (col("c_end") - col("c_start") - col("n_events")).as("n_concurrent"))
      .orderBy("user_id", "session_seq")
  }

  // q71 computes the same answer by global prefix-sum instead of a pair
  // join — one oracle, two physical strategies (see PLANS.md crossover)
  query("q71_session_concurrency_fast", sessionConcurrencyFast, sessionConcurrencySql)

  // --- q72: global revenue rank over the whole fact table ----------------------
  // `row_number() OVER (ORDER BY ...)` with no PARTITION BY collapses any
  // engine's window to one task; this computes the identical ranking with
  // PrefixSum (weight 1) over value-derived buckets — parallel everywhere,
  // same bit-exact ranks. Descending rank r = N − ascending_rank + 1 under
  // the fully reversed tiebreak order, which is what the oracle declares.
  def globalRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    // price ∈ [~900, ~105k): 4096-wide buckets ≈ dozens of parallel slices,
    // monotone in the (price, orderkey, linenumber) ascending order
    val bucketed = li.withColumn("bucket",
      floor(col("l_extendedprice") / lit(4096.0)).cast("long"))
    val asc = PrefixSum.runningSum(bucketed, "bucket",
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      lit(1L), "asc_rank")
    val n = li.agg(count(lit(1)).as("n_rows"))
    asc.crossJoin(broadcast(n))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        (col("n_rows") - col("asc_rank") + lit(1L)).as("revenue_rank"))
      .orderBy("revenue_rank")
  }

  query("q72_global_rank", globalRank,
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
                row_number() OVER (ORDER BY l_extendedprice DESC,
                                            l_orderkey DESC,
                                            l_linenumber DESC) AS revenue_rank
         FROM lineitem""")

  // --- q76: session overlap via prefix-sums (q73's scale twin) -----------------
  // Same oracle as q73, O(n log n): sessions overlapping [st, en] =
  // startsUpTo(en) − endsBefore(st) − 1 (the −1 removes the session
  // itself; other own-user sessions can never overlap, by the gap
  // construction). Two global running counts — one over session STARTS
  // (boundary after equal starts: start == en counts as overlap), one
  // over session ENDS (boundary before equal ends: end == st counts as
  // overlap, so it must NOT land in endsBefore).
  def sessionOverlapFast(spark: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessions(
        Tables.events(spark, dir).select("user_id", "event_id", "ts", "value"),
        "user_id", "ts", Seq("event_id"), "value", SessionGapMicros)
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"))
    // Each session explodes into its two boundary rows in ONE pass (the
    // sessionize shuffle+sort runs once), and the single kind order
    // start(0) < end(1) serves BOTH counts at once: at an end row the
    // start-weight cum is startsUpTo(en) (equal-ts starts sort before),
    // at a start row the end-weight cum is endsBefore(st) (equal-ts ends
    // sort after, so end == st is correctly NOT counted). One window +
    // one bucket-prefix pass via runningSums; the start micros rides the
    // rows, so no join back to the session frame.
    val bounds = sess.select(col("user_id"), col("session_seq"),
        unix_micros(col("session_start")).as("st"),
        explode(array(
          struct(unix_micros(col("session_start")).as("us"), lit(0).as("kind"),
            lit(1L).as("ws"), lit(0L).as("we")),
          struct(unix_micros(col("session_end")).as("us"), lit(1).as("kind"),
            lit(0L).as("ws"), lit(1L).as("we")))).as("e"))
      .select(col("user_id"), col("session_seq"), col("st"),
        col("e.us").as("us"), col("e.kind").as("kind"),
        col("e.ws").as("ws"), col("e.we").as("we"))
      .withColumn("bucket", floor(col("us") / lit(86400000000L)).cast("long"))
    val cum = PrefixSum.runningSums(bounds, "bucket",
      Seq(col("us"), col("kind"), col("user_id"), col("session_seq")),
      Seq(col("ws") -> "c_starts", col("we") -> "c_ends"))
    cum.groupBy("user_id", "session_seq")
      .agg(max(when(col("kind") === 1, col("c_starts"))).as("su"),
        min(when(col("kind") === 0, col("c_ends"))).as("eb"),
        max(col("st")).as("st"))
      .select(col("user_id"), col("session_seq"),
        timestamp_micros(col("st")).as("session_start"),
        (col("su") - col("eb") - lit(1L)).as("n_overlapping"))
      .orderBy("user_id", "session_seq")
  }

  // q76 computes q73's answer with two global running counts instead of
  // materializing overlap pairs — one oracle, two physical strategies
  query("q76_session_overlap_fast", sessionOverlapFast, sessionOverlapSql)

  // --- q74: daily active + cumulative distinct users ---------------------------
  // Running COUNT(DISTINCT) is not decomposable — but "distinct users so
  // far" ≡ "users whose FIRST day is ≤ this day": one per-user min-day
  // agg turns the running distinct into a running SUM of first-seen
  // counts over the tiny per-day frame. No growing state, no
  // sort-the-world; the only windows run over one row per day.
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Cols.utcDate(col("ts")).as("day"))
    val daily = ev.groupBy("day").agg(countDistinct(col("user_id")).as("n_active"))
    val firsts = ev.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily.join(firsts, Seq("day"), "left")
      .select(col("day"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy("day")
  }

  query("q74_cumulative_users", cumulativeUsers,
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
          daily AS (SELECT day, COUNT(DISTINCT user_id) AS n_active
                    FROM e GROUP BY 1),
          firsts AS (SELECT day, COUNT(*) AS n_new
                     FROM (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1)
                     GROUP BY 1)
          SELECT day, n_active, COALESCE(n_new, 0) AS n_new,
                 CAST(SUM(COALESCE(n_new, 0))
                      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_users
          FROM daily LEFT JOIN firsts USING (day)""")

  // --- q75: event-type transition matrix ---------------------------------------
  // Markov transition counts over each user's event sequence: one shuffle
  // (the per-user window), then a hash-agg on the (from, to) pair — the
  // behavioral-analytics matrix behind session-flow dashboards.
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_type", "to_type")
  }

  query("q75_event_transitions", eventTransitions,
      """SELECT from_type, event_type AS to_type, COUNT(*) AS n_transitions
         FROM (SELECT event_type,
                      lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS from_type
               FROM events)
         WHERE from_type IS NOT NULL
         GROUP BY 1, 2""")

  // --- q66: conversion funnel — view → click → purchase per user --------------
  // The chain (first view, first click AFTER it, first purchase after
  // THAT) resolves with conditional min-aggregations joined back on
  // user_id — three hash-aggs and two equi-joins, every row constant
  // size. (A collect_list-per-user form is one shuffle cheaper but puts a
  // user's whole step history into a single row — one bot account with
  // 10M clicks OOMs an executor; min/filter aggs have no such row.) All
  // shuffles share the user_id key, so AQE coalesces them over one
  // partitioning. Comparison domain is integer epoch-micros, shared with
  // the oracle.
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelFrom(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us")))

  val funnelSpec = query("q66_funnel", funnel,
      """WITH b AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
                  list(epoch_us(ts)) FILTER (WHERE event_type = 'click') AS clicks,
                  list(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS purchases
           FROM events GROUP BY 1),
          c AS (SELECT user_id, t_view, purchases,
                       list_min(list_filter(clicks, c -> c > t_view)) AS t_click
                FROM b),
          d AS (SELECT user_id, t_view, t_click,
                       list_min(list_filter(purchases, p -> p > t_click)) AS t_purchase
                FROM c)
          SELECT user_id,
                 make_timestamp(t_view) AS view_ts,
                 make_timestamp(t_click) AS click_ts,
                 make_timestamp(t_purchase) AS purchase_ts,
                 CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                           WHEN t_click IS NOT NULL THEN 2
                           WHEN t_view IS NOT NULL THEN 1
                           ELSE 0 END AS INT) AS stage
          FROM d""")

  /** The funnel over any (user_id, event_type, event_id, us) frame —
    * factored out so the randomized spec can drive it with adversarial
    * tie patterns.
    */
  def funnelFrom(ev: DataFrame): DataFrame = {
    // ONE scan, one shuffle: the chain (first view → first click after it
    // → first purchase after that) resolves with two running mins over
    // the SAME per-user time-ordered window — `rv` is the first view so
    // far, `rc` the first QUALIFYING click so far (strictly after the
    // first view; a null rv compares false, exactly the join-filter
    // semantics) — then one grouped aggregate reads the chain off the
    // rows. The second window references the first's output, so the two
    // Window nodes stack on one sort with no new exchange, and the final
    // groupBy rides the same user_id partitioning. Equivalent to the
    // former three conditional-min-agg + join-back form (which scanned
    // events seven times); rows stay constant-size — no per-user
    // collected histories, so a bot with 10M clicks still costs one
    // running min, not one giant row.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val chained = ev
      .withColumn("rv",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("rc",
        min(when(col("event_type") === "click" && col("rv") < col("us"),
          col("us"))).over(w))
    chained.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("us"))).as("t_view"),
        min(when(col("event_type") === "click" && col("rv") < col("us"),
          col("us"))).as("t_click"),
        min(when(col("event_type") === "purchase" && col("rc") < col("us"),
          col("us"))).as("t_purchase"))
      .select(col("user_id"),
        timestamp_micros(col("t_view")).as("view_ts"),
        timestamp_micros(col("t_click")).as("click_ts"),
        timestamp_micros(col("t_purchase")).as("purchase_ts"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0).as("stage"))
      .orderBy("user_id")
  }

  // --- q78: robust outliers — median/MAD instead of mean/stddev ----------------
  // q70's z-score breaks when the contamination itself inflates the
  // moments; median absolute deviation is the robust form. Two rounds of
  // the exact percentile aggregate (bit-matched to quantile_cont, q68),
  // each a distributed per-group sort over a tiny group dim broadcast
  // back over the fact scan. Flag |v − median| > 3·MAD.
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val withMed = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = withMed.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5D)").as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .filter(col("dev") > lit(3.0) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"))
      .orderBy("event_id")
  }

  query("q78_robust_outliers", robustOutliers,
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY 1),
          d AS (SELECT event_id, e.event_type, value, med,
                       abs(value - med) AS dev
                FROM events e JOIN med USING (event_type)),
          mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
                  FROM d GROUP BY 1)
          SELECT event_id, d.event_type, value, med, mad
          FROM d JOIN mad USING (event_type)
          WHERE dev > 3.0 * mad""")

  // --- q67: cohort retention matrix over events --------------------------------
  // cohort = a user's first active day; cell (cohort_day, day_offset) counts
  // the cohort's users active that many days later. Two hash-aggs and one
  // equi-join on user_id (broadcastable per-user cohort dim at any scale
  // where users ≪ events; AQE picks it).
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), Cols.utcDate(col("ts")).as("day"))
    val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  query("q67_retention", retention,
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
          f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
          SELECT cohort_day,
                 CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
                 COUNT(DISTINCT e.user_id) AS n_users
          FROM e JOIN f USING (user_id)
          GROUP BY 1, 2""")

  // --- q68: exact per-group percentile report ----------------------------------
  // Exact `percentile` (sort-based, linear interpolation — the same
  // definition as SQL quantile_cont), NOT percentile_approx: the report is
  // per-group, groups are few, and the per-group sort distributes with the
  // hash-agg. At 100 TB switch the caller to approx_percentile only when
  // the group cardinality itself explodes.
  def percentileReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.99D))").as("qs"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"),
        element_at(col("qs"), 4).as("p99"))
      .orderBy("l_returnflag")

  val percentileReportSpec = query("q68_percentile_report", percentileReport,
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.25) AS p25,
                quantile_cont(l_extendedprice, 0.5)  AS p50,
                quantile_cont(l_extendedprice, 0.75) AS p75,
                quantile_cont(l_extendedprice, 0.99) AS p99
         FROM lineitem GROUP BY 1""")

  // --- q92: market-basket co-purchase pairs ------------------------------------
  // "Customers whose order contained X also bought Y": item-pair support
  // over orders, the recommender co-occurrence primitive. Fan-out is the
  // basket size squared (TPC-H orders hold ≤ ~13 distinct parts), so the
  // pair explosion is bounded per order; the support filter + top-k keep
  // the output tiny however large the corpus. Top-k is a total order
  // (support DESC, then both keys) so ties can't flap between engines.
  // CoMaxBasket is the ENFORCED basket bound (coOccurrencePairs
  // quarantines larger baskets whole): far above any real order (TPC-H
  // tops out ~13 distinct parts) so clean-data results are unchanged,
  // and low enough that a poisoned 10^4-item bot basket can never fan
  // out 10^8 pairs into one straggler task.
  val CoMinSupport = 2L
  val CoTopK = 100
  val CoMaxBasket = 256L

  def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    Queries.copurchaseEdges(spark, dir)
      .filter(col("n_baskets") >= CoMinSupport)
      .orderBy(col("n_baskets").desc, col("item_a"), col("item_b"))
      .limit(CoTopK)

  query("q92_copurchase_pairs", copurchasePairs,
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)
          SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_baskets
          FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
          GROUP BY 1, 2
          HAVING COUNT(*) >= ${CoMinSupport}
          ORDER BY n_baskets DESC, item_a, item_b
          LIMIT ${CoTopK}""")

  // --- q93: trailing-window revenue anomaly flags -------------------------------
  // Daily revenue vs its own trailing 28-day baseline: exact decimal daily
  // sums (one hash-agg over the fact table — the only scan), then the
  // trailing mean/var/z ride the tiny O(days) daily frame. The time-series
  // ops-report twin of q70's per-group z-scores. Baseline stats run on the
  // day total quantized to KILODOLLAR units (q42/q70's quantize-then-moment
  // recipe): integer Σv and Σv² stay exactly double-representable, so the
  // z is bit-stable cross-engine; the unit is the operator's knob — size
  // it so Σv² over the window < 2^53 at your scale (a 1e-4 relative
  // quantization is noise against a 2σ alarm threshold).
  val AnomalyWindowDays = 28
  val AnomalyMinPrior = 8
  val AnomalyZ = 2.0
  val AnomalyUnit = 1000.0

  def revenueAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate").cast("date").as("ship_day"))
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
      .withColumn("day_num", datediff(col("ship_day"), lit("1970-01-01").cast("date")))
      // the decimal→double conversion is ≤ 15 significant digits (exact
      // same nearest-double in any engine); the floor is unambiguous
      // except at exact multiples of the unit, where the division is
      // itself exact — deterministic either way
      .withColumn("rev_ku",
        floor(col("rev_dec").cast("double") / lit(AnomalyUnit)).cast("long"))
    Analytics.trailingZScore(daily, "day_num", "rev_ku",
        AnomalyWindowDays, AnomalyMinPrior)
      .select(col("ship_day"),
        col("rev_dec").cast("double").as("daily_revenue"),
        col("n_prior"), col("trailing_mean"), col("z_score"),
        (abs(col("z_score")) > lit(AnomalyZ)).as("is_anomaly"))
      .orderBy("ship_day")
  }

  query("q93_revenue_anomaly", revenueAnomaly, {
      val wd = AnomalyWindowDays
      s"""WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS ship_day,
                   SUM($discTerm) AS rev_dec,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day_num
            FROM lineitem GROUP BY 1, 3),
          ku AS (
            SELECT ship_day, rev_dec, day_num,
                   CAST(floor(CAST(rev_dec AS DOUBLE) / ${AnomalyUnit})
                        AS BIGINT) AS rev_ku
            FROM daily),
          st AS (
            SELECT ship_day, rev_dec, rev_ku,
                   COUNT(*) OVER tw AS n_prior,
                   SUM(rev_ku) OVER tw AS s,
                   SUM(rev_ku * rev_ku) OVER tw AS ss
            FROM ku
            WINDOW tw AS (ORDER BY day_num RANGE BETWEEN $wd PRECEDING AND 1 PRECEDING)),
          z AS (
            SELECT ship_day, CAST(rev_dec AS DOUBLE) AS daily_revenue, n_prior,
                   CASE WHEN n_prior >= ${AnomalyMinPrior}
                        THEN CAST(s AS DOUBLE) / n_prior END AS trailing_mean,
                   CASE WHEN n_prior >= ${AnomalyMinPrior}
                         AND (CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_prior)
                             / (n_prior - 1.0) > 0.0
                        THEN (CAST(rev_ku AS DOUBLE) - CAST(s AS DOUBLE) / n_prior)
                             / sqrt((CAST(ss AS DOUBLE)
                                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_prior)
                                    / (n_prior - 1.0)) END AS z_score
            FROM st)
          SELECT ship_day, daily_revenue, n_prior, trailing_mean, z_score,
                 (abs(z_score) > ${AnomalyZ}) AS is_anomaly
          FROM z"""
    })

  // --- q95: sliding 7-day distinct active users ---------------------------------
  // Rolling reach (the WAU curve): sliding COUNT(DISTINCT user) per window
  // end, decomposed into a bounded ×7 explode + two hash-dedups — never a
  // day-range join (whose probe side grows with the window) and never a
  // growing distinct state. Same decomposition family as q74.
  val SlidingWindowDays = 7

  def slidingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    Analytics.slidingDistinctCount(
      Tables.events(spark, dir)
        .select(col("user_id"), Cols.utcDate(col("ts")).as("day")),
      "user_id", "day", SlidingWindowDays, "n_users_7d")
      .orderBy("window_end")

  query("q95_sliding_active_users", slidingActiveUsers, {
      val w = SlidingWindowDays - 1
      s"""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
          days AS (SELECT DISTINCT d AS window_end FROM ud)
          SELECT w.window_end, COUNT(DISTINCT u.user_id) AS n_users_7d
          FROM days w JOIN ud u
            ON u.d <= w.window_end AND u.d >= w.window_end - $w
          GROUP BY 1"""
    })

  // --- q97: item-item cosine similarity (normalized co-occurrence) --------------
  // q92's support counts normalized to the bipartite-projection cosine
  // n_ab / √(n_a·n_b) — the actual item-recommender score (raw support
  // just ranks popular items). Same bounded join; the per-item frequency
  // table joins in by hash. Deterministic: integer counts, one sqrt, one
  // division, total tiebreak order.
  val SimTopK = 100

  def copurchaseSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).distinct()
    val freq = items.groupBy("i").agg(count(lit(1)).as("n"))
    Queries.copurchaseEdges(spark, dir)
      .filter(col("n_baskets") >= CoMinSupport)
      .join(freq.select(col("i").as("item_a"), col("n").as("na")), Seq("item_a"))
      .join(freq.select(col("i").as("item_b"), col("n").as("nb")), Seq("item_b"))
      .withColumn("cosine",
        col("n_baskets").cast("double") /
          sqrt((col("na") * col("nb")).cast("double")))
      .select("item_a", "item_b", "n_baskets", "cosine")
      .orderBy(col("cosine").desc, col("item_a"), col("item_b"))
      .limit(SimTopK)
  }

  query("q97_copurchase_similarity", copurchaseSimilarity,
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
          freq AS (SELECT i, COUNT(*) AS n FROM items GROUP BY 1),
          pairs AS (
            SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_baskets
            FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
            GROUP BY 1, 2
            HAVING COUNT(*) >= ${CoMinSupport})
          SELECT item_a, item_b, n_baskets,
                 CAST(n_baskets AS DOUBLE)
                   / sqrt(CAST(fa.n * fb.n AS DOUBLE)) AS cosine
          FROM pairs JOIN freq fa ON item_a = fa.i
                     JOIN freq fb ON item_b = fb.i
          ORDER BY cosine DESC, item_a, item_b
          LIMIT ${SimTopK}""")

  // --- q98: cross-source quality-distribution drift ------------------------------
  // Has one source's quality distribution drifted from another's? The
  // monitoring question behind every ingestion mix decision. Per-source
  // decile histograms (one hash-agg), then pairwise chi-square distance
  // Σ (p−q)²/(p+q) over the 10 bins — folded in FIXED bin order via an
  // array fold (sort_array + aggregate), never a float SUM whose
  // combination order floats with partitioning. Counts are integers,
  // proportions one division each: bit-stable cross-engine.
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val binned = docs.select(col("source"),
        least(floor(Queries.docQuality * lit(10.0)), lit(9.0)).cast("long").as("bin"))
      .groupBy("source", "bin").agg(count(lit(1)).as("cnt"))
    // densify to the full 0..9 bin domain BEFORE building the per-source
    // arrays: zip_with aligns positionally, so a bin empty in one source
    // but not the other would otherwise misalign every later bin
    val grid = docs.select("source").distinct()
      .crossJoin(spark.range(10).select(col("id").as("bin")))
    val full = grid.join(binned, Seq("source", "bin"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val withP = full
      .withColumn("total", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .withColumn("p", col("cnt").cast("double") / col("total").cast("double"))
    val hist = withP.groupBy("source")
      .agg(sort_array(collect_list(struct(col("bin"), col("p")))).as("h"))
    val a = hist.select(col("source").as("source_a"), col("h").as("ha"))
    val b = hist.select(col("source").as("source_b"), col("h").as("hb"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("chi2", expr(
        """aggregate(
             zip_with(ha, hb, (x, y) ->
               CASE WHEN x.p + y.p = 0.0D THEN 0.0D
                    ELSE (x.p - y.p) * (x.p - y.p) / (x.p + y.p) END),
             0.0D, (acc, v) -> acc + v)"""))
      .select("source_a", "source_b", "chi2")
      .orderBy("source_a", "source_b")
  }

  query("q98_source_drift", sourceDrift, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""WITH q AS (SELECT source,
                       least(floor((0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops))
                                           AS DOUBLE) / len($ws))
                              + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0))
                             * 10.0), 9.0) AS bin
                FROM documents),
          binned AS (SELECT source, CAST(bin AS BIGINT) AS bin, COUNT(*) AS cnt
                     FROM q GROUP BY 1, 2),
          grid AS (SELECT s.source, g.bin
                   FROM (SELECT DISTINCT source FROM documents) s,
                        (SELECT unnest(generate_series(0, 9)) AS bin) g),
          full_h AS (SELECT grid.source, grid.bin,
                            COALESCE(binned.cnt, 0) AS cnt
                     FROM grid LEFT JOIN binned
                       ON grid.source = binned.source AND grid.bin = binned.bin),
          p AS (SELECT source, bin,
                       CAST(cnt AS DOUBLE)
                         / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE) AS p
                FROM full_h),
          hist AS (SELECT source,
                          list_transform(
                            list_sort(list({'bin': bin, 'p': p})),
                            s -> s.p) AS h
                   FROM p GROUP BY 1)
          SELECT a.source AS source_a, b.source AS source_b,
                 list_reduce(
                   list_transform(generate_series(1, 10), i ->
                     CASE WHEN a.h[i] + b.h[i] = 0.0 THEN 0.0
                          ELSE (a.h[i] - b.h[i]) * (a.h[i] - b.h[i])
                               / (a.h[i] + b.h[i]) END),
                   (x, y) -> x + y) AS chi2
          FROM hist a JOIN hist b ON a.source < b.source"""
    })

  // --- q99: time-decayed customer value ------------------------------------------
  // Recency-weighted lifetime value: Σ over the customer's order days of
  // day_revenue · 2^−age. The decay weight is an EXACT power of two
  // (1/(1<<age), ages capped at 50): multiplying by it only shifts the
  // exponent — no rounding — so the only float rounding left is the
  // per-day decimal→double conversion and the final fold, which runs in
  // FIXED day order via sort_array+aggregate (both engines fold
  // sequentially over the same sorted list). The per-customer list is
  // bounded by the customer's distinct order days, never the corpus.
  val DecayCapDays = 50

  def decayedCustomerValue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val daily = o.groupBy(col("o_custkey"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    val maxDay = daily.agg(max(col("day")).as("max_day"))
    daily.crossJoin(broadcast(maxDay))
      .withColumn("age",
        least(datediff(col("max_day"), col("day")), lit(DecayCapDays)).cast("int"))
      .withColumn("wv",
        col("rev_dec").cast("double") / expr("cast(shiftleft(1L, age) as double)"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
      .groupBy("o_custkey")
      .agg(expr("""aggregate(
             transform(sort_array(collect_list(struct(day_num, wv))), s -> s.wv),
             0.0D, (acc, v) -> acc + v)""").as("decayed_value"),
        count(lit(1)).as("n_days"))
      .orderBy("o_custkey")
  }

  query("q99_decayed_value", decayedCustomerValue,
      s"""WITH daily AS (
            SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                     AS day_num
            FROM orders GROUP BY 1, 2, 4),
          mx AS (SELECT MAX(day) AS max_day FROM daily),
          wv AS (SELECT o_custkey, day_num,
                        rev / CAST(1::BIGINT << least(
                                date_diff('day', day, max_day),
                                ${DecayCapDays}) AS DOUBLE) AS wv
                 FROM daily, mx)
          SELECT o_custkey,
                 list_reduce(
                   list_transform(list_sort(list({'d': day_num, 'w': wv})),
                                  s -> s.w),
                   (x, y) -> x + y) AS decayed_value,
                 COUNT(*) AS n_days
          FROM wv GROUP BY 1""")

  // --- q100: local-supplier-volume star (TPC-H Q5 shape) --------------------------
  // The join-GRAPH query the plain star lacks: lineitem ⋈ orders ⋈
  // customer ⋈ supplier with the cross-dimension equality
  // c_nationkey = s_nationkey (revenue where the customer's nation
  // supplied the part), closed through broadcast nation/region. Exercises
  // a join cycle — the optimizer must place the nationkey filter after
  // both dim joins — while revenue stays decimal-exact.
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .filter(c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        moneySum(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("region", "nation")
  }

  query("q100_local_supplier_volume", localSupplierVolume,
      s"""SELECT r_name AS region, n_name AS nation, COUNT(*) AS n_items,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE c_nationkey = s_nationkey
          GROUP BY 1, 2""")

  // --- q70: per-group z-score outliers ----------------------------------------
  // Anomaly flagging with EXACT group moments: Σv and Σv² accumulate as
  // decimals (partition-order independent, bit-identical in any engine),
  // and only the final mean/variance/z arithmetic runs in doubles with a
  // fixed operation order. One hash-agg over a tiny group dim, broadcast
  // back over one fact scan.
  def valueOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "event_type", "value")
    val d = Cols.dec2(col("value"))
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(d).as("s"), sum(d * d).as("ss"))
    val n = col("n").cast("double")
    val s = col("s").cast("double")
    val variance = (col("ss").cast("double") - s * s / n) / (n - lit(1.0))
    val z = (col("value") - s / n) / sqrt(variance)
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
      .filter(abs(col("z")) > lit(3.0))
      .orderBy("event_id")
  }

  query("q70_value_outliers", valueOutliers,
      """WITH s AS (SELECT event_type, COUNT(*) AS n,
                           SUM(CAST(value AS DECIMAL(18,2))) AS sv,
                           SUM(CAST(value AS DECIMAL(18,2))
                               * CAST(value AS DECIMAL(18,2))) AS ss
                    FROM events GROUP BY 1)
          SELECT event_id, event_type, value, z FROM (
            SELECT event_id, e.event_type, value,
                   (value - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt((CAST(ss AS DOUBLE)
                             - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1.0)) AS z
            FROM events e JOIN s ON e.event_type = s.event_type)
          WHERE abs(z) > 3.0""")

  // --- q81: parameterized star — the composer's WHERE slot --------------------
  // The reference's most common star parameterization is a run-time date
  // filter (`WHERE date >= '{{ parameters.start_date }}'` — reference:
  // local_spotify_dab/Jinja/jinja_notebook.py:270). Both filter slots are
  // exercised: the fact-level `where` (a one-year order window, applied
  // before the joins so it reaches the scan) and a per-dim `filter` (one
  // market segment, restricting the broadcast side). The oracle runs the
  // SAME config through renderSql — the SQL text IS the oracle query.
  val StarFilterFrom = "1996-01-01 00:00:00"
  val StarFilterTo = "1997-01-01 00:00:00"
  val StarFilterSegment = "BUILDING"

  def starFiltered(spark: SparkSession, dir: String): DataFrame =
    StarSchema.compose(
        fact = Tables.orders(spark, dir),
        factCols = Seq("o_orderkey", "o_totalprice", "o_orderdate"),
        dims = Seq(StarSchema.Dim(Tables.customer(spark, dir), Seq("c_mktsegment"),
          factKey = "o_custkey", dimKey = "c_custkey", broadcastHint = true,
          filter = Some(col("c_mktsegment") === StarFilterSegment))),
        where = Some(col("o_orderdate") >= Cols.ntzTs(StarFilterFrom) &&
          col("o_orderdate") < Cols.ntzTs(StarFilterTo)))
      .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(dec2(col("o_totalprice"))).as("total_price"))
      .orderBy("month")

  query("q81_star_filtered", starFiltered, {
      // The oracle RUNS the composer's rendered SQL: the same config that
      // drives the DataFrame path renders the filtered-star text, and the
      // rollup wraps it — so the WHERE slot is verified end-to-end, not
      // hand-transcribed.
      val inner = StarSchema.renderSql(
        "orders", Seq("o_orderkey", "o_totalprice", "o_orderdate"),
        Seq(StarSchema.DimRef("customer", Seq("c_mktsegment"),
          factKey = "o_custkey", dimKey = "c_custkey",
          filter = Some(s"c_mktsegment = '${StarFilterSegment}'"))),
        where = Some(
          s"o_orderdate >= TIMESTAMP '${StarFilterFrom}' AND " +
            s"o_orderdate < TIMESTAMP '${StarFilterTo}'"))
      s"""SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
          FROM ($inner)
          GROUP BY 1"""
    })

  // --- q32: gap-based sessionization ------------------------------------------
  val SessionGapMicros: Long = 6L * 3600 * 1000000 // 6 hours

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(
      Tables.events(spark, dir).select("user_id", "event_id", "ts", "value"),
      "user_id", "ts", Seq("event_id"), "value", SessionGapMicros)
      .orderBy("user_id", "session_seq")

  query("q32_sessionize", sessionize,
      s"""WITH e AS (SELECT user_id, event_id, ts, value,
                  epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
          s AS (SELECT user_id, ts, value,
                  CAST(SUM(CASE WHEN gap > ${SessionGapMicros} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
                FROM e)
          SELECT user_id, session_seq,
                 MIN(ts) AS session_start, MAX(ts) AS session_end,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          FROM s GROUP BY 1, 2""")

  // --- q49: corpus mixing report (token share per source × language) ----------
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.words(col("text")))
    val per = Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(nTok.cast("long")).as("total_tokens"))
    // the global window runs over the aggregated frame (|sources|x|langs|
    // rows), not the corpus — same shape as q36's share-of-total
    per.withColumn("token_share",
        col("total_tokens").cast("double") /
          sum("total_tokens").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .orderBy("source", "lang")
  }

  query("q49_source_mix", sourceMix,
      s"""WITH per AS (
            SELECT source, lang, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(len($ws) AS BIGINT)) AS BIGINT) AS total_tokens
            FROM documents GROUP BY 1, 2)
          SELECT source, lang, n_docs, total_tokens,
                 CAST(total_tokens AS DOUBLE) /
                   CAST(SUM(total_tokens) OVER () AS DOUBLE) AS token_share
          FROM per""")

  // --- q101: calendar densification + forward fill --------------------------------
  // Daily revenue per market segment with EVERY day of the global span
  // materialized and gap days carrying the segment's last observed value
  // (Analytics.gapFillForward — the gap-and-island rewrite of
  // last(ignoreNulls)). The fill runs on the exact DECIMAL column, so the
  // carried value is bit-identical to the observed one; doubles appear
  // only in the final projection.
  def gapFillRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val daily = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    Analytics.gapFillForward(daily, "segment", "day", "rev_dec")
      .select(col("segment"), col("day"),
        col("rev_dec").cast("double").as("revenue"),
        col("filled_rev_dec").cast("double").as("filled_revenue"),
        col("is_gap"))
      .orderBy("segment", "day")
  }

  query("q101_gap_fill_revenue", gapFillRevenue,
      """WITH daily AS (
           SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
          span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
          grid AS (
            SELECT s.segment, CAST(g.d AS DATE) AS day
            FROM (SELECT DISTINCT segment FROM daily) s
            CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
                        FROM span) g),
          j AS (
            SELECT g.segment, g.day, d.rev_dec,
                   COUNT(d.rev_dec) OVER (PARTITION BY g.segment ORDER BY g.day
                                          ROWS UNBOUNDED PRECEDING) AS island
            FROM grid g LEFT JOIN daily d
              ON d.segment = g.segment AND d.day = g.day)
          SELECT segment, day,
                 CAST(rev_dec AS DOUBLE) AS revenue,
                 CAST(MAX(rev_dec) OVER (PARTITION BY segment, island)
                      AS DOUBLE) AS filled_revenue,
                 (rev_dec IS NULL) AS is_gap
          FROM j""")

  // --- q102: per-supplier load islands (gaps-and-islands) --------------------------
  // For each supplier, the maximal day spans where the count of
  // concurrently OPEN order lines (interval = the order↔ship milestone
  // span; this synthetic data draws the two dates independently, so the
  // span is least..greatest) exceeds the supplier's own average
  // concurrency. Intervals.thresholdIslands: boundary ±1 rows, per-key
  // prefix-sum concurrency, integer threshold compare, adjacent
  // qualifying segments merged — all windows hash-partitioned by
  // supplier.
  def supplierLoadIslands(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val epoch = lit("1970-01-01").cast("date")
    val od = datediff(col("o_orderdate").cast("date"), epoch)
    val sd = datediff(col("l_shipdate").cast("date"), epoch)
    val iv = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_suppkey").as("suppkey"),
        least(od, sd).cast("long").as("st"),
        greatest(od, sd).cast("long").as("en"))
    Intervals.thresholdIslands(iv, "suppkey", "st", "en")
      .select(col("suppkey"), col("island_seq"),
        date_add(epoch, col("island_start").cast("int")).as("start_day"),
        date_add(epoch, col("island_end").cast("int")).as("end_day"),
        col("n_days"), col("peak_open"))
      .orderBy("suppkey", "island_seq")
  }

  query("q102_supplier_load_islands", supplierLoadIslands,
      """WITH iv AS (
           SELECT l_suppkey AS suppkey,
                  LEAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
                        date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)))
                    AS st,
                  GREATEST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)),
                           date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)))
                    AS en
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          tot AS (SELECT suppkey, SUM(en - st + 1) AS dur,
                         MIN(st) AS lo, MAX(en) AS hi
                  FROM iv GROUP BY 1),
          bounds AS (
            SELECT suppkey, st AS ts, 1 AS delta FROM iv
            UNION ALL
            SELECT suppkey, en + 1 AS ts, -1 AS delta FROM iv),
          run AS (
            SELECT suppkey, ts, delta,
                   SUM(delta) OVER (PARTITION BY suppkey ORDER BY ts, delta
                                    ROWS UNBOUNDED PRECEDING) AS cnt,
                   LEAD(ts) OVER (PARTITION BY suppkey ORDER BY ts, delta) AS nxt
            FROM bounds),
          seg AS (
            SELECT r.suppkey, r.ts, r.nxt, r.cnt
            FROM run r JOIN tot t ON r.suppkey = t.suppkey
            WHERE r.nxt IS NOT NULL AND r.nxt > r.ts
              AND r.cnt * (t.hi - t.lo + 1) > t.dur),
          isl AS (
            SELECT *, CASE WHEN LAG(nxt) OVER (PARTITION BY suppkey ORDER BY ts)
                                = ts THEN 0 ELSE 1 END AS f
            FROM seg),
          isl2 AS (
            SELECT *, CAST(SUM(f) OVER (PARTITION BY suppkey ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                        AS island_seq
            FROM isl)
          SELECT suppkey, island_seq,
                 DATE '1970-01-01' + CAST(MIN(ts) AS INT) AS start_day,
                 DATE '1970-01-01' + CAST(MAX(nxt) - 1 AS INT) AS end_day,
                 CAST(MAX(nxt) - MIN(ts) AS BIGINT) AS n_days,
                 CAST(MAX(cnt) AS BIGINT) AS peak_open
          FROM isl2 GROUP BY 1, 2""")

  // --- q103: month-over-month revenue growth ---------------------------------------
  // Period-over-period comparison on the aggregated monthly frame: exact
  // decimal monthly sums per nation, a per-nation lag window (the frame is
  // O(nations × months) — report-sized), absolute change in exact
  // decimals, and pct change as ONE double division of two decimal-exact
  // values. The lag is gated on CALENDAR adjacency: if a nation has no
  // orders in the previous calendar month, prev/change/pct are null
  // rather than silently comparing against a multi-month-older value.
  def momGrowth(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val monthKey = (year(col("o_orderdate")) * lit(100) + month(col("o_orderdate")))
      .cast("long")
    val m = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"), monthKey.as("month_key"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("nation").orderBy("month_key")
    // yyyymm arithmetic: January's calendar predecessor is December of the
    // prior year (yyyymm - 89); any other month's is yyyymm - 1.
    val adjacentPrevKey = when(col("month_key") % 100 === 1,
      col("month_key") - 89).otherwise(col("month_key") - 1)
    m.withColumn("__lag_key", lag(col("month_key"), 1).over(w))
      .withColumn("__lag_rev", lag(col("rev"), 1).over(w))
      .withColumn("prev",
        when(col("__lag_key") === adjacentPrevKey, col("__lag_rev")))
      .select(col("nation"), col("month_key"),
        col("rev").cast("double").as("revenue"),
        col("prev").cast("double").as("prev_revenue"),
        (col("rev") - col("prev")).cast("double").as("change"),
        when(col("prev").isNull, lit(null).cast("double"))
          .otherwise((col("rev") - col("prev")).cast("double") /
            col("prev").cast("double")).as("pct_change"))
      .orderBy("nation", "month_key")
  }

  query("q103_mom_growth", momGrowth,
      """WITH m AS (
           SELECT n_name AS nation,
                  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                    AS month_key,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders JOIN customer ON o_custkey = c_custkey
                       JOIN nation ON c_nationkey = n_nationkey
           GROUP BY 1, 2),
          l AS (
            SELECT nation, month_key, rev,
                   LAG(month_key) OVER w AS lag_key,
                   LAG(rev) OVER w AS lag_rev
            FROM m WINDOW w AS (PARTITION BY nation ORDER BY month_key)),
          g AS (
            SELECT nation, month_key, rev,
                   CASE WHEN lag_key = CASE WHEN month_key % 100 = 1
                                            THEN month_key - 89
                                            ELSE month_key - 1 END
                        THEN lag_rev END AS prev
            FROM l)
          SELECT nation, month_key,
                 CAST(rev AS DOUBLE) AS revenue,
                 CAST(prev AS DOUBLE) AS prev_revenue,
                 CAST(rev - prev AS DOUBLE) AS change,
                 CASE WHEN prev IS NOT NULL
                      THEN CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE)
                 END AS pct_change
          FROM g""")

  // --- q104: dormant high-value customers (TPC-H Q22 shape) ------------------------
  // Above-average-balance customers with NO orders since the cutoff: a
  // broadcast scalar threshold (exact decimal sum / count, one double
  // division), then a LEFT ANTI join against the distinct custkeys of the
  // recent order window — the NOT EXISTS plan shape. The anti join's
  // build side is the distinct-key aggregate, not the raw fact table.
  val DormantCutoff = "2000-06-01 00:00:00"

  def dormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val thr = c.filter(col("c_acctbal") > 0.0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("__t"))
    val recent = o.filter(col("o_orderdate") >= ntzTs(DormantCutoff))
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("__t"))
      .join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_balance"))
      .orderBy("segment")
  }

  query("q104_dormant_customers", dormantCustomers, {
      s"""WITH thr AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*) AS t
            FROM customer WHERE c_acctbal > 0.0),
          recent AS (
            SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '${DormantCutoff}')
          SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_balance
          FROM customer CROSS JOIN thr
          WHERE c_acctbal > t
            AND NOT EXISTS (SELECT 1 FROM recent
                            WHERE recent.o_custkey = customer.c_custkey)
          GROUP BY 1"""
    })

  // --- q105: fuzzy product-name linkage (blocking + edit distance) -----------------
  // Duplicate-listing detection over the part catalog: dictionary of
  // distinct names (64 strings for 20k parts at sf0.1), blocked on the
  // LAST name token (edits in this class live in the qualifier token, so
  // the block preserves recall), verified by levenshtein ≤ 2 — the
  // quadratic work never touches the entity table.
  val FuzzyMaxDist = 2

  def fuzzyPartNames(spark: SparkSession, dir: String): DataFrame = {
    val dict = Linkage.nameDictionary(Tables.part(spark, dir), "p_name")
    Linkage.fuzzyPairs(dict, nm => element_at(split(nm, " "), -1), FuzzyMaxDist)
      .select(col("name_a"), col("name_b"), col("edit_dist"),
        col("n_rows_a").as("n_parts_a"), col("n_rows_b").as("n_parts_b"))
      .orderBy("name_a", "name_b")
  }

  query("q105_fuzzy_part_names", fuzzyPartNames, {
      val d = FuzzyMaxDist
      s"""WITH dict AS (SELECT p_name AS name, COUNT(*) AS n_rows
                        FROM part GROUP BY 1),
          b AS (SELECT name, n_rows,
                       list_extract(string_split(name, ' '), -1) AS blk
                FROM dict)
          SELECT a.name AS name_a, b2.name AS name_b,
                 CAST(levenshtein(a.name, b2.name) AS BIGINT) AS edit_dist,
                 a.n_rows AS n_parts_a, b2.n_rows AS n_parts_b
          FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
          WHERE levenshtein(a.name, b2.name) <= $d"""
    })

  // --- q106: per-user modal event type ---------------------------------------------
  // Mode per group with a deterministic tiebreak (highest count, then
  // lexicographic min): one hash-agg to (user, type) counts, then a
  // row_number window over the tiny per-user frame.
  def topEventType(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("cnt").desc, col("event_type"))
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type").as("top_event_type"),
        col("cnt").as("n_events"))
      .orderBy("user_id")
  }

  query("q106_top_event_type", topEventType,
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
                    FROM events GROUP BY 1, 2),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY cnt DESC, event_type) AS rn
                FROM c)
          SELECT user_id, event_type AS top_event_type, cnt AS n_events
          FROM r WHERE rn = 1""")

  // --- q107: integer-quantized Pearson correlation ---------------------------------
  // Correlation of quantity vs (kilodollar-quantized) price per return
  // flag from EXACT integer moments: x, y, x², y², xy all sum in longs
  // (ranges sized so every sum stays far below 2^63 at bench scales; at
  // larger corpora quantize coarser or lift the sums to DECIMAL(38,0)),
  // and doubles appear only in the final fixed-shape corr expression —
  // long→double conversion is IEEE round-to-nearest in both engines, so
  // the result is bit-stable. The built-in corr() is NOT used: its
  // streaming-moment implementation is partitioning-order dependent.
  def metricCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val q = li.select(col("l_returnflag").as("returnflag"),
      dec2(col("l_quantity")).cast("long").as("x"),
      expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) div 100000")
        .as("y"))
    val s = q.groupBy("returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    s.select(col("returnflag"), col("n").as("n_rows"),
        (num / (sqrt(denx) * sqrt(deny))).as("corr_qty_price"))
      .orderBy("returnflag")
  }

  query("q107_metric_correlation", metricCorrelation,
      """WITH q AS (
           SELECT l_returnflag AS returnflag,
                  CAST(trunc(CAST(l_quantity AS DECIMAL(18,2))) AS BIGINT) AS x,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    // 100000 AS y
           FROM lineitem),
          s AS (SELECT returnflag, COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x*x) AS BIGINT) AS sxx,
                       CAST(SUM(y*y) AS BIGINT) AS syy,
                       CAST(SUM(x*y) AS BIGINT) AS sxy
                FROM q GROUP BY 1)
          SELECT returnflag, n AS n_rows,
                 CAST(n*sxy - sx*sy AS DOUBLE) /
                   (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                    * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_qty_price
          FROM s""")

  // --- q109: inter-arrival gap histogram -------------------------------------------
  // Distribution of per-user inter-event gaps in fixed log-ish buckets:
  // one per-user lag window in exact epoch micros, a CASE bucket, one
  // hash-agg; the share division is the only double op (two exact longs).
  def interarrivalHist(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(unix_micros(col("ts")), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    val bucket = when(col("__gap") < 1000000L, "0_lt_1s")
      .when(col("__gap") < 60000000L, "1_1s_1m")
      .when(col("__gap") < 3600000000L, "2_1m_1h")
      .when(col("__gap") < 86400000000L, "3_1h_1d")
      .otherwise("4_ge_1d")
    val counts = Tables.events(spark, dir)
      .withColumn("__gap", gap)
      .filter(col("__gap").isNotNull)
      .select(bucket.as("gap_bucket"))
      .groupBy("gap_bucket")
      .agg(count(lit(1)).as("n_gaps"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy()  // ≤5 rows: the histogram frame, not the events
    counts
      .withColumn("share",
        col("n_gaps").cast("double") / sum(col("n_gaps")).over(wAll).cast("double"))
      .orderBy("gap_bucket")
  }

  query("q109_interarrival_hist", interarrivalHist,
      """WITH g AS (
           SELECT epoch_us(ts) - LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  AS gap
           FROM events),
          b AS (SELECT CASE WHEN gap < 1000000 THEN '0_lt_1s'
                            WHEN gap < 60000000 THEN '1_1s_1m'
                            WHEN gap < 3600000000 THEN '2_1m_1h'
                            WHEN gap < 86400000000 THEN '3_1h_1d'
                            ELSE '4_ge_1d' END AS gap_bucket
                FROM g WHERE gap IS NOT NULL),
          c AS (SELECT gap_bucket, COUNT(*) AS n_gaps FROM b GROUP BY 1)
          SELECT gap_bucket, n_gaps,
                 CAST(n_gaps AS DOUBLE)
                   / CAST(SUM(n_gaps) OVER () AS DOUBLE) AS share
          FROM c""")

  // --- q110: referential-integrity audit (orphan foreign keys) ---------------------
  // DQ over the star's join graph: for each FK relationship, total rows
  // and rows whose key misses the dimension — ONE scan per fact side (a
  // left join against the distinct-key aggregate, nulls counted), never a
  // second anti-join pass. Zero orphans is the expected healthy answer;
  // the query's value is that it PROVES it, per edge.
  def fkAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    def audit(name: String, fact: DataFrame, fk: String,
              dim: DataFrame, pk: String): DataFrame = {
      val keys = dim.select(col(pk)).distinct()
      fact.select(col(fk)).join(keys, fact(fk) === keys(pk), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_rows"), col("n_orphans"))
    }
    audit("lineitem_orders", li, "l_orderkey", o, "o_orderkey")
      .unionByName(audit("lineitem_part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(audit("lineitem_supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(audit("orders_customer", o, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .orderBy("relationship")
  }

  query("q110_fk_audit", fkAudit,
      """WITH a1 AS (
           SELECT 'lineitem_orders' AS relationship, COUNT(*) AS n_rows,
                  CAST(SUM(CASE WHEN k.o_orderkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_orphans
           FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) k
             ON l.l_orderkey = k.o_orderkey),
          a2 AS (
           SELECT 'lineitem_part' AS relationship, COUNT(*) AS n_rows,
                  CAST(SUM(CASE WHEN k.p_partkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_orphans
           FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) k
             ON l.l_partkey = k.p_partkey),
          a3 AS (
           SELECT 'lineitem_supplier' AS relationship, COUNT(*) AS n_rows,
                  CAST(SUM(CASE WHEN k.s_suppkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_orphans
           FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) k
             ON l.l_suppkey = k.s_suppkey),
          a4 AS (
           SELECT 'orders_customer' AS relationship, COUNT(*) AS n_rows,
                  CAST(SUM(CASE WHEN k.c_custkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_orphans
           FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) k
             ON o.o_custkey = k.c_custkey)
          SELECT * FROM a1 UNION ALL SELECT * FROM a2
          UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4""")

  // --- q112: linear multi-touch attribution ----------------------------------------
  // For each purchase, every click by the same user EARLIER in the
  // (ts, event_id) order shares the conversion credit equally (1/n).
  // One per-user window computes the strictly-preceding click count via
  // a ROWS frame ending at -1 — no self-join, no per-pair blowup.
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .filter(col("event_type").isin("click", "purchase"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(unix_micros(col("ts")), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    ev.withColumn("n_touches",
        coalesce(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .over(w), lit(0L)))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts").as("purchase_ts"), col("n_touches"),
        when(col("n_touches") > 0L,
          lit(1.0) / col("n_touches").cast("double")).as("credit_per_touch"))
      .orderBy("user_id", "purchase_event_id")
  }

  query("q112_multi_touch", multiTouchAttribution,
      """WITH ev AS (
           SELECT user_id, event_id, ts, event_type FROM events
           WHERE event_type IN ('click', 'purchase')),
          n AS (
           SELECT *, COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1
                                       ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS n_touches
           FROM ev)
          SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts,
                 CAST(n_touches AS BIGINT) AS n_touches,
                 CASE WHEN n_touches > 0
                      THEN 1.0 / CAST(n_touches AS DOUBLE) END
                   AS credit_per_touch
          FROM n WHERE event_type = 'purchase'""")

  // --- q113: global decile assignment without a global sort ------------------------
  // NTILE over the whole corpus (token-count deciles) from the q72
  // PrefixSum rank: bucket by tok div 8 (monotone in the (tok, doc_id)
  // order), two-level cumsum for the global rank, then the exact-integer
  // ntile formula ((rank-1)·K) div n — all integer ops, bit-deterministic,
  // and the only unpartitioned work is the O(buckets) prefix task.
  val NtileK = 10

  def tokenDeciles(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir).select(col("doc_id"),
      coalesce(size(TextAnalysis.words(col("text"))).cast("long"), lit(0L))
        .as("tok"))
    val bucketed = t.withColumn("bucket", (col("tok") / lit(8L)).cast("long"))
    val ranked = PrefixSum.runningSum(bucketed, "bucket",
      Seq(col("tok"), col("doc_id")), lit(1L), "rnk")
    val n = t.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      // SQL `div` = exact integer division on longs (Column./ would go
      // through doubles) — identical to DuckDB's `//` by construction
      .withColumn("decile",
        least(expr(s"((rnk - 1) * $NtileK) div __n"),
          lit((NtileK - 1).toLong)).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("tok")).as("lo_tokens"), max(col("tok")).as("hi_tokens"),
        sum(col("tok")).as("total_tokens"))
      .orderBy("decile")
  }

  query("q113_token_deciles", tokenDeciles, {
      val k = NtileK
      s"""WITH t AS (
            SELECT doc_id,
                   COALESCE(CAST(len($ws) AS BIGINT), 0) AS tok
            FROM documents),
          r AS (SELECT tok,
                       CAST(ROW_NUMBER() OVER (ORDER BY tok, doc_id) AS BIGINT)
                         AS rnk,
                       CAST(COUNT(*) OVER () AS BIGINT) AS n
                FROM t)
          SELECT CAST(least(((rnk - 1) * $k) // n, ${k - 1}) AS BIGINT)
                   AS decile,
                 COUNT(*) AS n_docs,
                 MIN(tok) AS lo_tokens, MAX(tok) AS hi_tokens,
                 CAST(SUM(tok) AS BIGINT) AS total_tokens
          FROM r GROUP BY 1"""
    })

  // --- q114: lag-k autocorrelation of daily revenue --------------------------------
  // Time-series self-similarity at 1-day and 7-day lags, on the
  // aggregated daily frame: kilodollar-quantized integer values (the
  // q93/q107 quantize-then-moment recipe), pairs (x_t, x_{t−k}) via an
  // equi-join of the O(days) frame against itself shifted k days
  // (calendar shift, not row lag — a missing day contributes no pair),
  // exact integer moments, one fixed-shape corr expression in doubles.
  val AutocorrLags: Seq[Int] = Seq(1, 7)
  val AutocorrUnit = 1000.0

  def revenueAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate").cast("date").as("d"))
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
      .select(datediff(col("d"), epoch).cast("long").as("day_num"),
        floor(col("rev_dec").cast("double") / lit(AutocorrUnit)).cast("long")
          .as("v"))
    val lagged = AutocorrLags.map { k =>
      val a = daily.select(col("day_num"), col("v").as("x"))
      val b = daily.select((col("day_num") + lit(k.toLong)).as("day_num"),
        col("v").as("y"))
      val s = a.join(b, "day_num").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      s.select(lit(k.toLong).as("lag_days"), col("n").as("n_pairs"),
        (num / (sqrt(denx) * sqrt(deny))).as("autocorr"))
    }
    lagged.reduce(_ unionByName _).orderBy("lag_days")
  }

  query("q114_revenue_autocorr", revenueAutocorr, {
      val u = AutocorrUnit
      def one(k: Int) =
        s"""SELECT CAST($k AS BIGINT) AS lag_days, n AS n_pairs,
                   CAST(n*sxy - sx*sy AS DOUBLE) /
                     (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                      * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS autocorr
            FROM (SELECT COUNT(*) AS n,
                         CAST(SUM(a.v) AS BIGINT) AS sx,
                         CAST(SUM(b.v) AS BIGINT) AS sy,
                         CAST(SUM(a.v*a.v) AS BIGINT) AS sxx,
                         CAST(SUM(b.v*b.v) AS BIGINT) AS syy,
                         CAST(SUM(a.v*b.v) AS BIGINT) AS sxy
                  FROM daily a JOIN daily b ON a.day_num = b.day_num + $k)"""
      s"""WITH daily AS (
            SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                     AS day_num,
                   CAST(floor(CAST(SUM($discTerm) AS DOUBLE) / $u) AS BIGINT)
                     AS v
            FROM lineitem GROUP BY 1)
          ${AutocorrLags.map(one).mkString("\n UNION ALL \n")}"""
    })

  // --- q115: SCD2 validity audit ---------------------------------------------------
  // DQ over the q03 SCD2 build: per key, version count, overlap count
  // (previous effective_to AFTER this effective_from), gap count
  // (previous effective_to BEFORE this effective_from — half-open
  // intervals must chain exactly), and current-row count. The build is
  // correct iff overlaps = gaps = 0 and exactly one current row per key —
  // this PROVES it per key instead of assuming it.
  def scd2Audit(spark: SparkSession, dir: String): DataFrame = {
    val scd = EtlQueries.scd2Build(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("effective_from"), col("event_id"))
    scd.withColumn("__prev_to", lag(col("effective_to"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("__prev_to") > col("effective_from"), 1L).otherwise(0L))
          .as("n_overlaps"),
        sum(when(col("__prev_to") < col("effective_from"), 1L).otherwise(0L))
          .as("n_gaps"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"))
      .orderBy("user_id")
  }

  query("q115_scd2_audit", scd2Audit,
      """WITH scd AS (
           SELECT user_id, event_id, ts AS effective_from,
                  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS effective_to
           FROM events),
          l AS (
           SELECT user_id, effective_from, effective_to,
                  (effective_to IS NULL) AS is_current,
                  LAG(effective_to) OVER (PARTITION BY user_id
                                          ORDER BY effective_from, event_id)
                    AS prev_to
           FROM scd)
          SELECT user_id, COUNT(*) AS n_versions,
                 CAST(SUM(CASE WHEN prev_to > effective_from THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_overlaps,
                 CAST(SUM(CASE WHEN prev_to < effective_from THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_gaps,
                 CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_current
          FROM l GROUP BY 1""")

  // --- q116: event-transition probability matrix -----------------------------------
  // The Markov-chain estimate over q75's transition counts: row-normalize
  // by the from-state marginal (a keyed window over the tiny
  // types×types frame) — exact long counts, one double division.
  def transitionProbs(spark: SparkSession, dir: String): DataFrame = {
    val counts = eventTransitions(spark, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
    counts
      .withColumn("n_from", sum(col("n_transitions")).over(w))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from").cast("double"))
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  query("q116_transition_probs", transitionProbs,
      """WITH c AS (
           SELECT from_type, event_type AS to_type, COUNT(*) AS n_transitions
           FROM (SELECT event_type,
                        lag(event_type) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS from_type
                 FROM events)
           WHERE from_type IS NOT NULL
           GROUP BY 1, 2)
          SELECT from_type, to_type, n_transitions,
                 CAST(n_transitions AS DOUBLE) /
                   CAST(SUM(n_transitions) OVER (PARTITION BY from_type)
                        AS DOUBLE) AS p
          FROM c""")

  // --- q117: join-key skew diagnostic ----------------------------------------------
  // The frequency-of-frequency histogram of a join key (l_partkey) — the
  // report that decides salting/AQE-skew settings BEFORE a 100 TB join:
  // per-key counts (one hash-agg), then the distribution of those counts
  // (a second, tiny hash-agg), with each class's share of total rows.
  def joinKeySkew(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val perKey = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("key_rows"))
    val total = li.agg(count(lit(1)).as("__total"))
    perKey.groupBy(col("key_rows")).agg(count(lit(1)).as("n_keys"))
      .withColumn("n_rows", col("key_rows") * col("n_keys"))
      .crossJoin(broadcast(total))
      .withColumn("row_share",
        col("n_rows").cast("double") / col("__total").cast("double"))
      .drop("__total")
      .orderBy(col("key_rows").desc)
  }

  query("q117_join_key_skew", joinKeySkew,
      """WITH pk AS (SELECT l_partkey, COUNT(*) AS key_rows
                     FROM lineitem GROUP BY 1),
          t AS (SELECT COUNT(*) AS total FROM lineitem)
          SELECT key_rows, COUNT(*) AS n_keys,
                 CAST(key_rows * COUNT(*) AS BIGINT) AS n_rows,
                 CAST(key_rows * COUNT(*) AS DOUBLE) / CAST(total AS DOUBLE)
                   AS row_share
          FROM pk CROSS JOIN t
          GROUP BY key_rows, total""")

  // --- q118: per-user behavioral diversity (Gini–Simpson) --------------------------
  // Diversity of each user's event-type mix as 1 − Σ(c/n)² — chosen over
  // Shannon entropy deliberately: the Simpson form needs only exact
  // integer sums (Σc² in longs) and ONE double division, so it is
  // bit-stable across engines and partitionings, where a float Σ p·log p
  // would depend on libm rounding and fold order.
  def userDiversity(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("cnt") * col("cnt")).as("__ss"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (lit(1.0) - col("__ss").cast("double") /
          (col("n_events") * col("n_events")).cast("double"))
          .as("simpson_diversity"))
      .orderBy("user_id")
  }

  query("q118_user_diversity", userDiversity,
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
                    FROM events GROUP BY 1, 2)
          SELECT user_id,
                 CAST(SUM(cnt) AS BIGINT) AS n_events,
                 COUNT(*) AS n_types,
                 1.0 - CAST(SUM(cnt*cnt) AS DOUBLE)
                         / CAST(SUM(cnt) * SUM(cnt) AS DOUBLE)
                   AS simpson_diversity
          FROM c GROUP BY 1""")

  // --- q120: customer-segment activity conformance ---------------------------------
  // Cross-domain join of the behavioral stream onto the customer
  // dimension: per market segment, how many customers exist, how many
  // are active in the events stream, and the engagement depth. The
  // events side collapses to a per-user aggregate FIRST and broadcasts —
  // the dimension is never shuffled, the fact is read once.
  def segmentActivity(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
    val c = Tables.customer(spark, dir)
    c.join(broadcast(perUser), c("c_custkey") === perUser("user_id"), "left")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_ev").isNotNull, 1L).otherwise(0L)).as("n_active"),
        sum(coalesce(col("n_ev"), lit(0L))).as("n_events"))
      .withColumn("activity_rate",
        col("n_active").cast("double") / col("n_customers").cast("double"))
      .withColumn("events_per_active",
        when(col("n_active") > 0L,
          col("n_events").cast("double") / col("n_active").cast("double")))
      .orderBy("segment")
  }

  query("q120_segment_activity", segmentActivity,
      """WITH pu AS (SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY 1),
          s AS (
           SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
                  CAST(SUM(CASE WHEN pu.user_id IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_active,
                  CAST(SUM(COALESCE(pu.n_ev, 0)) AS BIGINT) AS n_events
           FROM customer LEFT JOIN pu ON c_custkey = pu.user_id
           GROUP BY 1)
          SELECT segment, n_customers, n_active, n_events,
                 CAST(n_active AS DOUBLE) / CAST(n_customers AS DOUBLE)
                   AS activity_rate,
                 CASE WHEN n_active > 0
                      THEN CAST(n_events AS DOUBLE) / CAST(n_active AS DOUBLE)
                 END AS events_per_active
          FROM s""")

  // --- q124: embedding dimension health --------------------------------------------
  // Per-dimension moment audit of the embedding corpus — the QA report
  // that catches collapsed/dead/shifted dimensions before a similarity
  // index is built on them. Values quantize by 2^20 (multiply by a power
  // of two is EXACT on doubles, floor is exact → deterministic longs),
  // moments sum exactly, and the fixed-shape mean/variance doubles are
  // engine-identical (the q107 integer-moment recipe on floats).
  val DimQuantScale = 1048576L // 2^20

  def embeddingDimHealth(spark: SparkSession, dir: String): DataFrame = {
    val scale2 = DimQuantScale.toDouble * DimQuantScale.toDouble
    val x = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("v"))
      .withColumn("qv", floor(col("v") * lit(DimQuantScale.toDouble)).cast("long"))
    x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("qv")).as("__sq"),
        sum(col("qv") * col("qv")).as("__sqq"),
        min(col("v")).as("min_val"), max(col("v")).as("max_val"))
      .select(col("dim"), col("n_vecs"),
        (col("__sq").cast("double") /
          (col("n_vecs") * lit(DimQuantScale)).cast("double")).as("mean_val"),
        ((col("n_vecs") * col("__sqq") - col("__sq") * col("__sq")).cast("double")
          / (col("n_vecs").cast("double") * (col("n_vecs") - lit(1L)).cast("double")
             * lit(scale2))).as("var_val"),
        col("min_val"), col("max_val"))
      .orderBy("dim")
  }

  query("q124_embedding_dim_health", embeddingDimHealth, {
      val sc = DimQuantScale
      val sc2 = sc.toDouble * sc.toDouble
      s"""WITH x AS (
            SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
            FROM embeddings),
          q AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
                       CAST(embedding[i] AS DOUBLE) AS v,
                       CAST(floor(CAST(embedding[i] AS DOUBLE) * $sc) AS BIGINT)
                         AS qv
                FROM x),
          s AS (SELECT dim, COUNT(*) AS n_vecs,
                       CAST(SUM(qv) AS BIGINT) AS sq,
                       CAST(SUM(qv*qv) AS BIGINT) AS sqq,
                       MIN(v) AS min_val, MAX(v) AS max_val
                FROM q GROUP BY 1)
          SELECT dim, n_vecs,
                 CAST(sq AS DOUBLE) / CAST(n_vecs * $sc AS BIGINT) AS mean_val,
                 CAST(n_vecs*sqq - sq*sq AS DOUBLE)
                   / (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE)
                      * $sc2) AS var_val,
                 min_val, max_val
          FROM s"""
    })

  // --- q133: ABC / Pareto revenue classification -----------------------------------
  // Parts classed A (first 80% of cumulative revenue), B (to 95%), C
  // (tail) along the global revenue-descending order — the classic
  // inventory-curation rollup. The global running sum rides PrefixSum
  // (bucketed by a monotone revenue band — no global sort, no
  // unpartitioned window over the parts), and class boundaries compare
  // exact decimals via integer cross-multiplication (cum·5 ≤ total·4),
  // so no float share ever exists to drift.
  def abcClassification(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount")))
        .as("rev_dec"))
    // bucket ascends along the (rev desc, partkey) global order
    val bucketed = perPart.withColumn("qb",
      -floor(col("rev_dec") / lit(1000)).cast("long"))
    val ranked = PrefixSum.runningSum(bucketed, "qb",
      Seq(col("rev_dec").desc, col("l_partkey")), col("rev_dec"), "cum_dec")
    val total = perPart.agg(sum(col("rev_dec")).as("__total"))
    ranked.crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(col("cum_dec") * 5 <= col("__total") * 4, "A")
          .when(col("cum_dec") * 20 <= col("__total") * 19, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev_dec")).cast("double").as("revenue"))
      .orderBy("abc_class")
  }

  // Class boundaries via integer cross-multiplication on exact
  // decimals — no float shares on either side.
  query("q133_abc_classification", abcClassification,
      s"""WITH pp AS (SELECT l_partkey, SUM($discTerm) AS rev
                      FROM lineitem GROUP BY 1),
          r AS (SELECT rev,
                       SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum,
                       SUM(rev) OVER () AS total
                FROM pp)
          SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                      WHEN cum * 20 <= total * 19 THEN 'B'
                      ELSE 'C' END AS abc_class,
                 COUNT(*) AS n_parts, CAST(SUM(rev) AS DOUBLE) AS revenue
          FROM r GROUP BY 1""")

  // --- q134: Benford first-digit audit ---------------------------------------------
  // First-significant-digit distribution of order totals vs Benford's
  // law — the standard fraud/synthetic-data smell test. The digit comes
  // from the DECIMAL(18,2) rendering (both engines format plain
  // "1234.56", so the first character is engine-stable — no float log10
  // in the digit path); expected shares are plan-embedded literals
  // computed once in Scala, so both sides subtract the same doubles.
  val BenfordExpected: Seq[Double] = (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(dec2(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_orders"))
    val total = digits.agg(sum(col("n_orders")).as("__total"))
    digits.crossJoin(broadcast(total))
      .withColumn("obs_share",
        col("n_orders").cast("double") / col("__total").cast("double"))
      .withColumn("expected_share",
        element_at(lit(BenfordExpected.toArray), col("digit")))
      .withColumn("delta", col("obs_share") - col("expected_share"))
      .select("digit", "n_orders", "obs_share", "expected_share", "delta")
      .orderBy("digit")
  }

  // Expected shares are the SAME Scala-computed literals the Spark plan
  // embeds. E-notation forces DuckDB to parse them as DOUBLE (a plain
  // decimal literal would go through DECIMAL and land one ulp off);
  // %.17e round-trips every double exactly.
  query("q134_benford_digits", benfordDigits, {
      val arr = BenfordExpected
        .map(d => String.format("%.17e", Double.box(d)))
        .mkString("[", ",", "]")
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                   AS VARCHAR), 1, 1) AS INT) AS digit
                     FROM orders),
          g AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY 1),
          t AS (SELECT SUM(n_orders) AS tot FROM g)
          SELECT digit, n_orders,
                 CAST(n_orders AS DOUBLE) / CAST(tot AS DOUBLE) AS obs_share,
                 ($arr)[digit] AS expected_share,
                 CAST(n_orders AS DOUBLE) / CAST(tot AS DOUBLE)
                   - ($arr)[digit] AS delta
          FROM g, t"""
    })

  // --- q135: per-brand 2-D skyline (Pareto frontier) -------------------------------
  // Parts on each brand's (minimize size, minimize price) frontier via
  // the linear sweep in operators/Skyline.scala — the oracle runs the
  // independent quadratic NOT EXISTS formulation, so the sweep's
  // dominance algebra is checked against the definition, not against
  // itself.
  def partSkyline(spark: SparkSession, dir: String): DataFrame =
    Skyline.pareto2d(
        Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size",
          "p_retailprice"),
        "p_size", "p_retailprice", partitionBy = Seq("p_brand"))
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
      .orderBy("p_brand", "p_size", "p_partkey")

  // Independent quadratic NOT-EXISTS dominance formulation — checks the
  // sweep against the skyline definition, not against itself.
  query("q135_part_skyline", partSkyline,
      """SELECT p_partkey, p_brand, p_size, p_retailprice FROM part p
         WHERE NOT EXISTS (
           SELECT 1 FROM part q
           WHERE q.p_brand = p.p_brand
             AND q.p_size <= p.p_size
             AND q.p_retailprice <= p.p_retailprice
             AND (q.p_size < p.p_size OR q.p_retailprice < p.p_retailprice))""")

  // --- q136: bot-regularity detector (exact integer dispersion) --------------------
  // Inhumanly regular event cadence per user: inter-arrival gaps in
  // whole seconds (exact integer micros div), then the squared
  // coefficient of variation compared via cross-multiplication —
  // n·Σg² − (Σg)² against (Σg)²/100 — entirely in int64, so the flag is
  // bit-deterministic (no float variance anywhere). One per-user window
  // for the lag + one hash-agg.
  val BotMinGaps = 20L

  def botRegularity(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("m"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("m"))
      .withColumn("prev", lag(col("m"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), expr("(m - prev) div 1000000").as("gap_s"))
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sum_gap_s"),
        sum(col("gap_s") * col("gap_s")).as("__sumsq"))
      .filter(col("n_gaps") >= BotMinGaps)
      .withColumn("var_num",
        col("n_gaps") * col("__sumsq") - col("sum_gap_s") * col("sum_gap_s"))
      .withColumn("is_regular",
        col("var_num") * 100 < col("sum_gap_s") * col("sum_gap_s"))
      .select("user_id", "n_gaps", "sum_gap_s", "var_num", "is_regular")
      .orderBy("user_id")
  }

  query("q136_bot_regularity", botRegularity,
      s"""WITH g AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                     PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                     AS dm
            FROM events),
          s AS (SELECT user_id, CAST(dm // 1000000 AS BIGINT) AS gap_s
                FROM g WHERE dm IS NOT NULL),
          a AS (SELECT user_id, COUNT(*) AS n_gaps,
                       CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
                       CAST(SUM(gap_s * gap_s) AS BIGINT) AS ssq
                FROM s GROUP BY 1)
          SELECT user_id, n_gaps, sum_gap_s,
                 n_gaps * ssq - sum_gap_s * sum_gap_s AS var_num,
                 (n_gaps * ssq - sum_gap_s * sum_gap_s) * 100
                   < sum_gap_s * sum_gap_s AS is_regular
          FROM a WHERE n_gaps >= ${BotMinGaps}""")

  // --- q148: frequent event-type trigrams ---------------------------------------
  // Sequential-pattern mining at fixed length: per-user ordered walk
  // (deterministic tie on event_id), two leads, one hash-agg over the
  // ≤|event_types|³ trigram domain. Per-user windows partition freely;
  // the aggregate is map-side combinable — nothing grows with the corpus
  // except the linear scan.
  def eventTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull && col("e2").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_seq"))
      .orderBy(col("n_seq").desc, col("e1"), col("e2"), col("e3"))
  }

  query("q148_event_trigrams", eventTrigrams,
      """SELECT e1, e2, e3, COUNT(*) AS n_seq FROM (
           SELECT event_type AS e1,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS e2,
                  lead(event_type, 2) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS e3
           FROM events)
         WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         GROUP BY 1, 2, 3""")

  // --- q150: cross-source shingle similarity matrix ----------------------------
  // Corpus-health view of near-dup pressure BETWEEN sources: exact
  // Jaccard over each source's distinct word-trigram set. The gram-level
  // join fans out per gram only to the sources sharing it (≤ |sources|,
  // a fixed catalog — never corpus-sized), and the per-source set sizes
  // are one hash-agg; at 100 TB this is two corpus scans and a
  // sources²-bounded join, the same posture as decontamination (q56).
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(graft.plans.SignatureExprs.distinctNGrams(
          TextAnalysis.words(col("text")), DedupQueries.JaccardN)).as("s"))
      .distinct()
    val counts = g.groupBy("source").agg(count(lit(1)).as("n"))
    val l = g.alias("l")
    val r = g.alias("r")
    val inter = l.join(r,
        col("l.s") === col("r.s") && col("l.source") < col("r.source"))
      .groupBy(col("l.source").as("src_a"), col("r.source").as("src_b"))
      .agg(count(lit(1)).as("common"))
    inter
      .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("common"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  query("q150_source_similarity", sourceSimilarity,
      s"""WITH g AS (SELECT DISTINCT source, s FROM (
                 SELECT source, unnest($shinglesSql) AS s
                 FROM documents WHERE text IS NOT NULL)),
          c AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
          p AS (SELECT a.source AS src_a, b.source AS src_b,
                       COUNT(*) AS common
                FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
                GROUP BY 1, 2)
          SELECT src_a, src_b, common,
                 CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard
          FROM p JOIN c ca ON ca.source = p.src_a
                 JOIN c cb ON cb.source = p.src_b""")

  // --- q152: functional-dependency profile --------------------------------------
  // Data-profiling pass over declared candidate FDs: A → B holds iff
  // |distinct A| = |distinct (A,B)|. Each candidate is two distinct-count
  // aggregates in ONE scan of its table (struct-tuple distinct for the
  // pair), unpivoted to a row per candidate — the warehouse-audit twin
  // of the DQ expectation family (q06/q18/q110).
  private def fdCandidate(df: DataFrame, table: String, lhs: String,
                          rhs: String): DataFrame =
    df.agg(countDistinct(col(lhs)).as("n_lhs"),
        countDistinct(struct(col(lhs), col(rhs))).as("n_pairs"))
      .select(lit(s"$table.$lhs").as("lhs"), lit(rhs).as("rhs"),
        col("n_lhs"), col("n_pairs"),
        when(col("n_lhs") === col("n_pairs"), 1L).otherwise(0L).as("fd_holds"))

  def fdProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val e = Tables.events(spark, dir)
    fdCandidate(o, "orders", "o_orderkey", "o_custkey")
      .unionAll(fdCandidate(o, "orders", "o_custkey", "o_orderpriority"))
      .unionAll(fdCandidate(c, "customer", "c_custkey", "c_name"))
      .unionAll(fdCandidate(n, "nation", "n_nationkey", "n_regionkey"))
      .unionAll(fdCandidate(e, "events", "user_id", "event_type"))
      .orderBy("lhs", "rhs")
  }

  query("q152_fd_profile", fdProfile,
      """WITH c AS (
           SELECT 'orders.o_orderkey' AS lhs, 'o_custkey' AS rhs,
                  (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_lhs,
                  (SELECT COUNT(*) FROM (SELECT DISTINCT o_orderkey, o_custkey
                                         FROM orders)) AS n_pairs
           UNION ALL
           SELECT 'orders.o_custkey', 'o_orderpriority',
                  (SELECT COUNT(DISTINCT o_custkey) FROM orders),
                  (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey, o_orderpriority
                                         FROM orders))
           UNION ALL
           SELECT 'customer.c_custkey', 'c_name',
                  (SELECT COUNT(DISTINCT c_custkey) FROM customer),
                  (SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey, c_name
                                         FROM customer))
           UNION ALL
           SELECT 'nation.n_nationkey', 'n_regionkey',
                  (SELECT COUNT(DISTINCT n_nationkey) FROM nation),
                  (SELECT COUNT(*) FROM (SELECT DISTINCT n_nationkey, n_regionkey
                                         FROM nation))
           UNION ALL
           SELECT 'events.user_id', 'event_type',
                  (SELECT COUNT(DISTINCT user_id) FROM events),
                  (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, event_type
                                         FROM events)))
         SELECT lhs, rhs, n_lhs, n_pairs,
                CAST(CASE WHEN n_lhs = n_pairs THEN 1 ELSE 0 END AS BIGINT)
                  AS fd_holds
         FROM c""")

  // --- q153: entity-resolution clusters (fuzzy linkage → components) -----------
  // The full ER pipeline q105 only started: fuzzy name pairs (dictionary
  // blocking + edit-distance verification, Linkage.scala) become edges,
  // pointer-jumping connected components (Components.scala — O(log d)
  // rounds, shuffles O(|pairs|) not O(|corpus|)) merge them into
  // entities, and the output is the entity roster: canonical id (min
  // part key in the cluster), variant-name count, total rows absorbed.
  // Same compute-once/many-readers posture as the q34/q65 dedup layer.
  def entityClusters(spark: SparkSession, dir: String): DataFrame = {
    // the dictionary is read THREE times (both fuzzy-join sides via the
    // shared CTE, the id map, the final roster join) and each driver
    // action inside the Components loop would otherwise re-run the
    // part-table scan+agg — one eager lean checkpoint of the O(names)
    // frame makes every re-read a stored-rows scan
    val dict = org.apache.spark.sql.graft.LeanCheckpoint.localCheckpoint(
      Tables.part(spark, dir)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"), min("p_partkey").as("id")))
    val pairs = Linkage.fuzzyPairs(
      dict.select("name", "n_rows"),
      nm => element_at(split(nm, " "), -1), FuzzyMaxDist)
    val ids = dict.select("name", "id")
    val edges = pairs
      .join(ids.select(col("name").as("name_a"), col("id").as("src")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("id").as("dst")), "name_b")
      .select("src", "dst")
    val labels = Components.connectedComponents(dict.select("id"), edges)
    dict.join(labels, "id")
      .groupBy(col("label").as("root_key"))
      .agg(count(lit(1)).as("n_names"), sum("n_rows").as("n_parts"))
      .orderBy("root_key")
  }

  query("q153_entity_clusters", entityClusters,
      // fuzzy edges ≡ q105 (same blocking + edit distance), closure via
      // the recursive-CTE pattern of componentCtes, roster grouped by the
      // component's min part key
      s"""$entityLabCtes
          SELECT root_key, COUNT(*) AS n_names,
                 CAST(SUM(d3.n_rows) AS BIGINT) AS n_parts
          FROM lab JOIN dict d3 ON lab.name = d3.name GROUP BY 1""")

  // --- q154: pseudonymization consistency audit ---------------------------------
  // Governance op: replace user ids with a keyed deterministic token and
  // PROVE the vault is sound — no token collisions (injective on each id
  // domain) and join-consistency (tokenized tables join exactly where the
  // raw tables did). All counts are distinct-aggregations over id sets —
  // tiny compared to the fact tables they come from.
  val PseudoA = 2246822519L
  val PseudoB = 3266489917L

  private def pseudo(id: Column): Column =
    pmod(lit(PseudoA) * pmod(id, lit(graft.functions.Sketches.P)) + lit(PseudoB),
      lit(graft.functions.Sketches.P))

  def pseudonymAudit(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir).select(col("user_id").as("id"))
      .filter(col("id").isNotNull).distinct()
    val custs = Tables.customer(spark, dir).select(col("c_custkey").as("id"))
      .distinct()
    val uTok = users.select(col("id"), pseudo(col("id")).as("tok"))
    val cTok = custs.select(col("id"), pseudo(col("id")).as("tok"))
    val joinedRaw = users.join(custs, "id").agg(count(lit(1)).as("joined_raw"))
    val joinedTok = uTok.select("tok").join(cTok.select("tok"), "tok")
      .agg(count(lit(1)).as("joined_tok"))
    uTok.agg(count(lit(1)).as("n_users"),
        countDistinct(col("tok")).as("n_user_tokens"))
      .crossJoin(cTok.agg(count(lit(1)).as("n_custs"),
        countDistinct(col("tok")).as("n_cust_tokens")))
      .crossJoin(joinedRaw)
      .crossJoin(joinedTok)
      .select("n_users", "n_user_tokens", "n_custs", "n_cust_tokens",
        "joined_raw", "joined_tok")
  }

  query("q154_pseudonym_audit", pseudonymAudit, {
      import graft.functions.Sketches.P
      val (a, b) = (PseudoA, PseudoB)
      s"""WITH u AS (SELECT DISTINCT user_id AS id FROM events
                     WHERE user_id IS NOT NULL),
          c AS (SELECT DISTINCT c_custkey AS id FROM customer),
          ut AS (SELECT id, ($a * (id % $P) + $b) % $P AS tok FROM u),
          ct AS (SELECT id, ($a * (id % $P) + $b) % $P AS tok FROM c)
          SELECT (SELECT COUNT(*) FROM ut) AS n_users,
                 (SELECT COUNT(DISTINCT tok) FROM ut) AS n_user_tokens,
                 (SELECT COUNT(*) FROM ct) AS n_custs,
                 (SELECT COUNT(DISTINCT tok) FROM ct) AS n_cust_tokens,
                 (SELECT COUNT(*) FROM u JOIN c USING (id)) AS joined_raw,
                 (SELECT COUNT(*) FROM (SELECT tok FROM ut) uu
                    JOIN (SELECT tok FROM ct) cc USING (tok)) AS joined_tok"""
    })

  // --- q156: GROUPING SETS report ------------------------------------------------
  // The explicit grouping-sets lattice (detail, per-flag, grand total)
  // with grouping_id disambiguating the null-vs-aggregated levels —
  // one expand + one hash-agg, decimal-exact sums.
  def groupingSetsReport(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"),
        sum(Cols.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n_items"))
      .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n_items")
      .orderBy("gid", "l_returnflag", "l_linestatus")

  query("q156_grouping_sets", groupingSetsReport,
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                COUNT(*) AS n_items
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())""")

  // --- q157: market-basket association lift --------------------------------------
  // Support / lift for co-purchased part pairs: lift = (n_ab · N) /
  // (n_a · n_b) as ONE integer-product ratio (single fp division —
  // bit-identical cross-engine). Pair generation reuses the
  // basket-bounded co-occurrence join; item frequencies and the basket
  // total are broadcast scalars/aggs.
  val LiftTopK = 100

  def basketLift(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i")).distinct()
    val nOrders = baskets.select("b").distinct().agg(count(lit(1)).as("n_orders"))
    val freq = baskets.groupBy("i").agg(count(lit(1)).as("n"))
    Queries.copurchaseEdges(spark, dir)
      .filter(col("n_baskets") >= CoMinSupport)
      .join(freq.select(col("i").as("item_a"), col("n").as("na")), Seq("item_a"))
      .join(freq.select(col("i").as("item_b"), col("n").as("nb")), Seq("item_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("item_a"), col("item_b"), col("n_baskets"),
        ((col("n_baskets") * col("n_orders")).cast("double")
          / (col("na") * col("nb")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(LiftTopK)
  }

  query("q157_basket_lift", basketLift,
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                         FROM lineitem),
          no AS (SELECT COUNT(DISTINCT b) AS n_orders FROM items),
          f AS (SELECT i, COUNT(*) AS n FROM items GROUP BY 1),
          p AS (SELECT a.i AS item_a, b2.i AS item_b, COUNT(*) AS n_baskets
                FROM items a JOIN items b2 ON a.b = b2.b AND a.i < b2.i
                GROUP BY 1, 2
                HAVING COUNT(*) >= ${CoMinSupport})
          SELECT item_a, item_b, n_baskets,
                 CAST(n_baskets * n_orders AS DOUBLE)
                   / CAST(fa.n * fb.n AS DOUBLE) AS lift
          FROM p JOIN f fa ON fa.i = p.item_a
                 JOIN f fb ON fb.i = p.item_b, no
          ORDER BY lift DESC, item_a, item_b LIMIT ${LiftTopK}""")

  // --- q160: EWMA daily revenue (exact-integer sequential fold) ------------------
  // The sequential-state time-series op done without fp drift: per-
  // priority daily cents fold through e_d = (v_d + e_{d-1}) div 2 —
  // every step an int64 add + floor-halve, so the whole trajectory is
  // bit-identical to the oracle's recursive CTE. The fold runs inside a
  // higher-order aggregate over the per-group O(days) frame (the same
  // bounded-frame posture as q93's trailing stats) — groups stay
  // partition-parallel, no unpartitioned window, no UDF.
  def ewmaRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("day"))
      .agg((sum(Cols.dec2(col("o_totalprice"))) * 100).cast("long").as("cents"))
    daily.groupBy("priority")
      .agg(sort_array(collect_list(struct(col("day"), col("cents")))).as("vs"))
      .select(col("priority"), explode(expr(
        """aggregate(vs,
             named_struct('prev', cast(-1 as bigint),
                          'res', cast(array() as array<struct<day:date,ewma:bigint>>)),
             (acc, x) -> named_struct(
               'prev', if(acc.prev < 0, x.cents, (x.cents + acc.prev) div 2),
               'res', array_append(acc.res,
                 named_struct('day', x.day,
                   'ewma', if(acc.prev < 0, x.cents,
                              (x.cents + acc.prev) div 2)))),
             acc -> acc.res)""")).as("r"))
      .select(col("priority"), col("r.day").as("day"),
        col("r.ewma").as("ewma_cents"))
      .orderBy("priority", "day")
  }

  query("q160_ewma_revenue", ewmaRevenue,
      """WITH RECURSIVE
         daily AS (SELECT o_orderpriority AS priority,
                          CAST(o_orderdate AS DATE) AS day,
                          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                            AS BIGINT) AS cents
                   FROM orders GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY priority
                                            ORDER BY day) AS rn FROM daily),
         rec AS (SELECT priority, rn, day, cents AS ewma FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.priority, r.rn, r.day, (r.cents + rec.ewma) // 2
                 FROM r JOIN rec ON r.priority = rec.priority
                                AND r.rn = rec.rn + 1)
         SELECT priority, day, ewma AS ewma_cents FROM rec""")

  // --- q162: funnel conversion-lag percentiles -----------------------------------
  // The question every funnel report ends with: HOW LONG does view →
  // purchase take? Lags come off q66's single-scan chain (stage-3 users
  // only); the percentile aggregate is one reduction — no global sort.
  def funnelLagPercentiles(spark: SparkSession, dir: String): DataFrame =
    funnel(spark, dir)
      .filter(col("stage") === 3)
      .select((unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
        .as("lag_us"))
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(lag_us, array(0.25D, 0.5D, 0.75D, 0.9D))").as("qs"))
      .select(col("n_converted"),
        element_at(col("qs"), 1).as("p25_us"),
        element_at(col("qs"), 2).as("p50_us"),
        element_at(col("qs"), 3).as("p75_us"),
        element_at(col("qs"), 4).as("p90_us"))

  // conversion lags read off the SAME funnel chain q66 gates
  query("q162_funnel_lag_percentiles", funnelLagPercentiles,
      s"""WITH f AS (${funnelSpec.oracle})
          SELECT COUNT(*) AS n_converted,
                 quantile_cont(lag_us, 0.25) AS p25_us,
                 quantile_cont(lag_us, 0.5)  AS p50_us,
                 quantile_cont(lag_us, 0.75) AS p75_us,
                 quantile_cont(lag_us, 0.9)  AS p90_us
          FROM (SELECT epoch_us(purchase_ts) - epoch_us(view_ts) AS lag_us
                FROM f WHERE stage = 3)""")

  // --- q165: entity golden records -------------------------------------------------
  // Survivorship on top of the q153 roster: per entity cluster, the
  // canonical name is the most-frequent variant (ties → lexicographic
  // min) — resolved window-free with a max-per-cluster aggregate and a
  // tie-filtered min, so map-side partials survive and no per-cluster
  // sort exists.
  def goldenRecords(spark: SparkSession, dir: String): DataFrame = {
    // q153's dictionary discipline (round 19): the dict is read FOUR
    // times here (both fuzzy-join sides, the id map, the component
    // roster, the golden-row pick) and each driver action inside the
    // Components loop would otherwise re-run the part-table scan+agg —
    // one eager lean checkpoint of the O(names) frame makes every
    // re-read a stored-rows scan
    val dict = org.apache.spark.sql.graft.LeanCheckpoint.localCheckpoint(
      Tables.part(spark, dir)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"), min("p_partkey").as("id")))
    val pairs = Linkage.fuzzyPairs(
      dict.select("name", "n_rows"),
      nm => element_at(split(nm, " "), -1), FuzzyMaxDist)
    val ids = dict.select("name", "id")
    val edges = pairs
      .join(ids.select(col("name").as("name_a"), col("id").as("src")), "name_a")
      .join(ids.select(col("name").as("name_b"), col("id").as("dst")), "name_b")
      .select("src", "dst")
    val labels = Components.connectedComponents(dict.select("id"), edges)
    val g = dict.join(labels, "id")
    val mx = g.groupBy("label").agg(max("n_rows").as("mx"),
      count(lit(1)).as("n_names"), sum("n_rows").as("n_parts"))
    g.join(mx, "label").filter(col("n_rows") === col("mx"))
      .groupBy(col("label").as("root_key"), col("n_names"), col("n_parts"))
      .agg(min("name").as("canon_name"))
      .select("root_key", "canon_name", "n_names", "n_parts")
      .orderBy("root_key")
  }

  query("q165_golden_records", goldenRecords,
      s"""$entityLabCtes,
          g AS (SELECT lab.root_key, d3.name, d3.n_rows
                FROM lab JOIN dict d3 ON lab.name = d3.name),
          mx AS (SELECT root_key, MAX(n_rows) AS mxn, COUNT(*) AS n_names,
                        CAST(SUM(n_rows) AS BIGINT) AS n_parts
                 FROM g GROUP BY 1)
          SELECT g.root_key, MIN(g.name) AS canon_name, n_names, n_parts
          FROM g JOIN mx ON g.root_key = mx.root_key AND g.n_rows = mx.mxn
          GROUP BY 1, 3, 4""")

  // --- q167: clipped inventory balance (non-associative scan) ----------------------
  // Running balance with a floor — balance_d = max(0, balance_{d-1} +
  // delta_d) — is NOT associative, so no partial-agg/window trick
  // exists: it must fold sequentially per key. Same bounded-frame HOF
  // template as q160 (per-part O(active-days) frames, partition-
  // parallel across parts), all int64, oracle = recursive CTE.
  def inventoryBalance(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("part"), to_date(col("l_shipdate")).as("day"),
        when(col("l_returnflag") === "R", -col("l_quantity"))
          .otherwise(col("l_quantity")).cast("long").as("delta"))
      .groupBy("part", "day").agg(sum("delta").as("d"))
    daily.groupBy("part")
      .agg(sort_array(collect_list(struct(col("day"), col("d")))).as("vs"))
      .select(col("part"), explode(expr(
        """aggregate(vs,
             named_struct('prev', cast(0 as bigint),
                          'res', cast(array() as array<struct<day:date,bal:bigint>>)),
             (acc, x) -> named_struct(
               'prev', greatest(cast(0 as bigint), acc.prev + x.d),
               'res', array_append(acc.res,
                 named_struct('day', x.day,
                   'bal', greatest(cast(0 as bigint), acc.prev + x.d)))),
             acc -> acc.res)""")).as("r"))
      .select(col("part"), col("r.day").as("day"), col("r.bal").as("balance"))
      .orderBy("part", "day")
  }

  query("q167_inventory_balance", inventoryBalance,
      """WITH RECURSIVE
         daily AS (SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
                          CAST(SUM(CASE WHEN l_returnflag = 'R'
                                        THEN -l_quantity ELSE l_quantity END)
                            AS BIGINT) AS d
                   FROM lineitem GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY part
                                            ORDER BY day) AS rn FROM daily),
         rec AS (SELECT part, rn, day, GREATEST(0, d) AS bal
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.part, r.rn, r.day, GREATEST(0, rec.bal + r.d)
                 FROM r JOIN rec ON r.part = rec.part AND r.rn = rec.rn + 1)
         SELECT part, day, CAST(bal AS BIGINT) AS balance FROM rec""")

  // --- q168: percent-of-parent hierarchy shares ------------------------------------
  // The hierarchical twin of q36's share-of-total: nation revenue as a
  // share of its region, region as a share of the grand total. All
  // sums decimal-exact; each share is ONE double division. One fact
  // scan; customer/nation/region broadcast.
  def shareOfParent(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select("n_nationkey", "n_name", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)
        .select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    val regions = rev.groupBy("region").agg(sum("rev_dec").as("reg_dec"))
    val total = rev.agg(sum("rev_dec").as("tot_dec"))
    rev.join(broadcast(regions), "region")
      .crossJoin(broadcast(total))
      .select(col("region"), col("nation"),
        col("rev_dec").cast("double").as("revenue"),
        (col("rev_dec").cast("double") / col("reg_dec").cast("double"))
          .as("share_in_region"),
        (col("reg_dec").cast("double") / col("tot_dec").cast("double"))
          .as("region_share"))
      .orderBy("region", "nation")
  }

  query("q168_share_of_parent", shareOfParent,
      """WITH rev AS (SELECT r_name AS region, n_name AS nation,
                             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rd
                      FROM orders
                        JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
                      GROUP BY 1, 2),
          reg AS (SELECT region, SUM(rd) AS gd FROM rev GROUP BY 1),
          tot AS (SELECT SUM(rd) AS td FROM rev)
          SELECT region, nation, CAST(rd AS DOUBLE) AS revenue,
                 CAST(rd AS DOUBLE) / CAST(gd AS DOUBLE) AS share_in_region,
                 CAST(gd AS DOUBLE) / CAST(td AS DOUBLE) AS region_share
          FROM rev JOIN reg USING (region), tot""")

  // --- q170: column-profile drift between snapshot windows -------------------------
  // The schema-health twin of q130's row-level diff: per declared
  // column, compare T1-window vs T2-window profiles (rows, nulls,
  // distinct count) — the drift report that catches an upstream feed
  // going silently null or cardinality-shifting. One scan per window.
  private def windowProfile(spark: SparkSession, dir: String, asOf: String,
                            tag: String): DataFrame = {
    val hi = java.time.LocalDate.parse(asOf)
    val lo = hi.minusDays(RuntimeQueries.SnapWindowDays)
    val w = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ntzTs(s"$lo 00:00:00") &&
        col("o_orderdate") < ntzTs(s"$asOf 00:00:00"))
    w.agg(
      count(lit(1)).as("a"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("b"),
      countDistinct(col("o_custkey")).as("c"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("d"),
      countDistinct(col("o_orderpriority")).as("e"))
      .select(expr(
        s"""stack(2,
            'o_custkey', a, b, c,
            'o_orderpriority', a, d, e)
            AS (col_name, n_${tag}, nulls_${tag}, ndv_${tag})"""))
  }

  def profileDrift(spark: SparkSession, dir: String): DataFrame =
    windowProfile(spark, dir, RuntimeQueries.SnapT1, "t1")
      .join(windowProfile(spark, dir, RuntimeQueries.SnapT2, "t2"), "col_name")
      .orderBy("col_name")

  query("q170_profile_drift", profileDrift, {
      def win(asOf: String) = {
        val lo = java.time.LocalDate.parse(asOf)
          .minusDays(RuntimeQueries.SnapWindowDays)
        s"""SELECT * FROM orders
            WHERE o_orderdate >= TIMESTAMP '$lo 00:00:00'
              AND o_orderdate <  TIMESTAMP '$asOf 00:00:00'"""
      }
      def prof(src: String) =
        s"""SELECT COUNT(*) AS a,
                   SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS b,
                   COUNT(DISTINCT o_custkey) AS c,
                   SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS d,
                   COUNT(DISTINCT o_orderpriority) AS e
            FROM $src"""
      s"""WITH w1 AS (${win(RuntimeQueries.SnapT1)}), w2 AS (${win(RuntimeQueries.SnapT2)}),
          p1 AS (${prof("w1")}), p2 AS (${prof("w2")})
          SELECT 'o_custkey' AS col_name,
                 CAST(p1.a AS BIGINT) AS n_t1, CAST(p1.b AS BIGINT) AS nulls_t1,
                 CAST(p1.c AS BIGINT) AS ndv_t1,
                 CAST(p2.a AS BIGINT) AS n_t2, CAST(p2.b AS BIGINT) AS nulls_t2,
                 CAST(p2.c AS BIGINT) AS ndv_t2
          FROM p1, p2
          UNION ALL
          SELECT 'o_orderpriority',
                 CAST(p1.a AS BIGINT), CAST(p1.d AS BIGINT),
                 CAST(p1.e AS BIGINT),
                 CAST(p2.a AS BIGINT), CAST(p2.d AS BIGINT),
                 CAST(p2.e AS BIGINT)
          FROM p1, p2"""
    })

  // --- q171: session entry/exit analysis -------------------------------------------
  // Which event type opens and closes sessions: gap-based session
  // assignment (one per-user window — the q32 machinery), then entry =
  // min-struct / exit = max-struct over (ts, event_id) per session
  // (window-free after the assignment, map-side partials survive), and
  // a count per (entry_type, exit_type) pair.
  def sessionEntryExit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("session_seq", Sessionize.sessionSeq("user_id", "ts",
        Seq("event_id"), SessionGapMicros))
      .groupBy("user_id", "session_seq")
      .agg(
        min(struct(unix_micros(col("ts")).as("us"), col("event_id"),
          col("event_type"))).as("__first"),
        max(struct(unix_micros(col("ts")).as("us"), col("event_id"),
          col("event_type"))).as("__last"))
      .groupBy(col("__first.event_type").as("entry_type"),
        col("__last.event_type").as("exit_type"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("entry_type", "exit_type")

  query("q171_session_entry_exit", sessionEntryExit,
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
                  epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
          s AS (SELECT *,
                  CAST(SUM(CASE WHEN gap > ${SessionGapMicros}
                                THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT)
                    AS session_seq
                FROM e),
          r AS (SELECT user_id, session_seq, event_type,
                       row_number() OVER (PARTITION BY user_id, session_seq
                                          ORDER BY us, event_id) AS rf,
                       row_number() OVER (PARTITION BY user_id, session_seq
                                          ORDER BY us DESC, event_id DESC)
                         AS rl
                FROM s)
          SELECT fe.event_type AS entry_type, le.event_type AS exit_type,
                 COUNT(*) AS n_sessions
          FROM (SELECT user_id, session_seq, event_type FROM r WHERE rf = 1) fe
          JOIN (SELECT user_id, session_seq, event_type FROM r WHERE rl = 1) le
            USING (user_id, session_seq)
          GROUP BY 1, 2""")

  // --- q185: SCD2 with partial history tracking ----------------------------------
  // q03's build under DLT's track_history_column_list contract
  // (DimArtist.py:87-103): only event_type is TRACKED — a change row
  // whose event_type equals the current version's updates that version
  // in place (latest event_id/value win, effective_from survives)
  // instead of opening a new validity interval. The audit-column-churn
  // case every real SCD2 consumer hits: untracked noise must not
  // version the dimension.
  def scd2Tracked(spark: SparkSession, dir: String): DataFrame =
    Scd.scd2FromChangelogTracked(
      Tables.events(spark, dir)
        .select("user_id", "event_id", "event_type", "value", "ts"),
      keys = Seq("user_id"), seqCol = "ts", tieCols = Seq("event_id"),
      trackCols = Seq("event_type"))
      .select("user_id", "event_id", "event_type", "value",
        "effective_from", "effective_to", "is_current")

  query("q185_scd2_tracked", scd2Tracked,
      // IS NOT DISTINCT FROM ≡ Spark's null-safe <=>; runs collapse to
      // one row via constant window values + DISTINCT
      """WITH c AS (
           SELECT user_id, event_id, event_type, value, ts,
                  CASE WHEN event_type IS NOT DISTINCT FROM
                            lag(event_type) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id)
                       THEN 0 ELSE 1 END AS opens
           FROM events),
          r AS (
           SELECT *, SUM(opens) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS run
           FROM c),
          v AS (
           SELECT DISTINCT user_id, run,
                  MIN(ts) OVER w AS effective_from,
                  last_value(event_id) OVER w AS event_id,
                  last_value(event_type) OVER w AS event_type,
                  last_value(value) OVER w AS value
           FROM r
           WINDOW w AS (PARTITION BY user_id, run ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING))
          SELECT user_id, event_id, event_type, value, effective_from,
                 lead(effective_from) OVER (PARTITION BY user_id
                                            ORDER BY effective_from)
                   AS effective_to,
                 (lead(effective_from) OVER (PARTITION BY user_id
                                             ORDER BY effective_from) IS NULL)
                   AS is_current
          FROM v""")

  // --- q258: SCD2 with EXCEPT-form history tracking ---------------------------------
  // DLT's `track_history_except_column_list` (DimDate.py:19 — the last
  // unclaimed reference feature, VERDICT r15 item 4): q185 names the
  // columns that DO version; this names the ones that DON'T — the right
  // form when the untracked set (measures, audit churn) is the smaller
  // list, and safer under schema growth (a new payload column is
  // tracked by default instead of silently un-versioned). Here `value`
  // (the churning measure) is excepted, so the tracked set derives to
  // {event_type, day}: a new validity interval opens when the type OR
  // the activity day changes, while value churn only updates the
  // current version in place (latest value wins, effective_from
  // survives). The except list is load-bearing — without it every
  // value change would open an interval and the build degenerates to
  // q03's full versioning. Same single-shuffle posture as q185.
  def scd2TrackedExcept(spark: SparkSession, dir: String): DataFrame =
    Scd.scd2FromChangelogTrackedExcept(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), Cols.utcDate(col("ts")).as("day"), col("ts")),
      keys = Seq("user_id"), seqCol = "ts", tieCols = Seq("event_id"),
      exceptCols = Seq("value"))
      .select("user_id", "event_id", "event_type", "value", "day",
        "effective_from", "effective_to", "is_current")

  // q258 — q185's collapse with the COMPLEMENT tracked set {event_type,
  // day}: a run opens when either tracked column differs null-safely
  // from the previous row's; the excepted `value` only rides last_value
  query("q258_scd2_tracked_except", scd2TrackedExcept,
      """WITH c AS (
           SELECT user_id, event_id, event_type, value,
                  CAST(ts AS DATE) AS day, ts,
                  CASE WHEN event_type IS NOT DISTINCT FROM
                            lag(event_type) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id)
                        AND CAST(ts AS DATE) IS NOT DISTINCT FROM
                            lag(CAST(ts AS DATE)) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id)
                       THEN 0 ELSE 1 END AS opens
           FROM events),
          r AS (
           SELECT *, SUM(opens) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS run
           FROM c),
          v AS (
           SELECT DISTINCT user_id, run,
                  MIN(ts) OVER w AS effective_from,
                  last_value(event_id) OVER w AS event_id,
                  last_value(event_type) OVER w AS event_type,
                  last_value(value) OVER w AS value,
                  last_value(day) OVER w AS day
           FROM r
           WINDOW w AS (PARTITION BY user_id, run ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING))
          SELECT user_id, event_id, event_type, value, day, effective_from,
                 lead(effective_from) OVER (PARTITION BY user_id
                                            ORDER BY effective_from)
                   AS effective_to,
                 (lead(effective_from) OVER (PARTITION BY user_id
                                             ORDER BY effective_from) IS NULL)
                   AS is_current
          FROM v""")

  // --- q192: Cramér's V categorical association ------------------------------------
  // Chi-square association strength between l_returnflag and
  // l_linestatus over the DENSIFIED contingency grid (structural zeros
  // contribute e each — see Analytics.cramersV, which carries the full
  // determinism rationale).
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    Analytics.cramersV(Tables.lineitem(spark, dir),
      "l_returnflag", "l_linestatus")

  query("q192_cramers_v", cramersV,
      // densified grid (structural zeros contribute e each);
      // list_reduce folds left in list order; Spark's aggregate() starts
      // at 0.0 — adding zero is exact, so the partial-sum sequences match
      """WITH c AS (SELECT l_returnflag AS a, l_linestatus AS b,
                           COUNT(*) AS o
                    FROM lineitem GROUP BY 1, 2),
          dense AS (SELECT ga.a, gb.b, COALESCE(c.o, 0) AS o
                    FROM (SELECT DISTINCT a FROM c) ga
                    CROSS JOIN (SELECT DISTINCT b FROM c) gb
                    LEFT JOIN c ON c.a = ga.a AND c.b = gb.b),
          ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM c GROUP BY 1),
          cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM c GROUP BY 1),
          nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                        COUNT(DISTINCT a) AS nr,
                        COUNT(DISTINCT b) AS nc
                 FROM c),
          t AS (SELECT d.a, d.b, n, nr, nc,
                       (CAST(d.o AS DOUBLE)
                        - CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(d.o AS DOUBLE)
                          - CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(ra.ra * cb.cb AS DOUBLE) / CAST(n AS DOUBLE))
                         AS term
                FROM dense d JOIN ra USING (a) JOIN cb USING (b), nn),
          f AS (SELECT n AS n_rows, nr, nc,
                       list_reduce(list(term ORDER BY a, b),
                                   (x, y) -> x + y) AS chi2
                FROM t GROUP BY 1, 2, 3)
          SELECT n_rows, nr, nc, chi2,
                 sqrt(chi2 / (CAST(n_rows AS DOUBLE)
                              * CAST(least(nr - 1, nc - 1) AS DOUBLE)))
                   AS cramers_v
          FROM f""")

  // --- q193: Spark's NATIVE session_window aggregation -----------------------------
  // The built-in session-window operator next to the hand-rolled
  // machinery (q32's lag/cumsum windows, q127's flatMapGroupsWithState
  // stream): `session_window(ts, gap)` plans through
  // UpdatingSessionsIterator + a session-merging aggregate — Spark's own
  // answer to gap sessionization, and the one that carries straight into
  // Structured Streaming. Boundary semantics differ from q32 by one
  // epsilon (a new session opens at gap ≥ 6h, vs q32's strict >;
  // window end = last event + gap) — the oracle reproduces the
  // session_window contract, not q32's. Decimal-exact value sums.
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  query("q193_session_window", sessionWindowAgg,
      // session_window's contract: a new session opens when the gap
      // REACHES the duration (>=, unlike q32's strict >); window end =
      // last event + gap
      s"""WITH e AS (SELECT user_id, event_id, ts, value,
                  epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
          s AS (SELECT user_id, ts, value,
                  SUM(CASE WHEN gap >= ${SessionGapMicros}
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS seq
                FROM e)
          SELECT user_id, MIN(ts) AS session_start,
                 MAX(ts) + INTERVAL 6 HOUR AS session_end,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_value
          FROM s GROUP BY user_id, seq""")

  // --- q195: per-group OLS revenue trend (exact integer moments) -------------------
  // Least-squares slope/intercept/R² of daily revenue against the day
  // number, per return flag — the trend statistic a KPI dashboard fits.
  // NOT Spark's regr_slope/corr (their double partial-sums are
  // partition-order dependent): the five moments Σx, Σy, Σxy, Σx², Σy²
  // accumulate as EXACT int64 over kilodollar-quantized daily revenue
  // (the q93 quantize-then-moment recipe; every product and the n·Σ
  // cross terms stay far below int64), and doubles appear only in the
  // final fixed-shape slope/intercept/R² expressions — so both engines
  // round the same int64 values through the same IEEE ops. Thin or
  // variance-free groups yield nulls, not divide-by-zero.
  def revenueTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
      .select(col("l_returnflag"),
        datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"),
        floor(col("rev_dec").cast("double") / lit(AnomalyUnit))
          .cast("long").as("y"))
    val m = daily.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val dXY = col("n_days") * col("sxy") - col("sx") * col("sy")
    val dXX = col("n_days") * col("sxx") - col("sx") * col("sx")
    val dYY = col("n_days") * col("syy") - col("sy") * col("sy")
    val slope = dXY.cast("double") / dXX.cast("double")
    m.select(col("l_returnflag"), col("n_days"),
        when(col("n_days") >= 2 && dXX > 0, slope).as("slope_ku_per_day"),
        when(col("n_days") >= 2 && dXX > 0,
          (col("sy").cast("double") - slope * col("sx").cast("double"))
            / col("n_days").cast("double")).as("intercept_ku"),
        when(col("n_days") >= 2 && dXX > 0 && dYY > 0,
          (dXY.cast("double") * dXY.cast("double"))
            / (dXX.cast("double") * dYY.cast("double"))).as("r2"))
      .orderBy("l_returnflag")
  }

  query("q195_revenue_trend", revenueTrend,
      // moments as exact BIGINTs; doubles only in the final fixed-shape
      // slope/intercept/R² (identical int64→double roundings)
      s"""WITH daily AS (
            SELECT l_returnflag,
                   date_diff('day', DATE '1970-01-01',
                             CAST(l_shipdate AS DATE)) AS x,
                   CAST(floor(CAST(SUM($discTerm) AS DOUBLE)
                              / ${AnomalyUnit}) AS BIGINT) AS y
            FROM lineitem GROUP BY 1, 2),
          m AS (
            SELECT l_returnflag, COUNT(*) AS n_days,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM daily GROUP BY 1),
          d AS (
            SELECT l_returnflag, n_days,
                   n_days * sxy - sx * sy AS dxy,
                   n_days * sxx - sx * sx AS dxx,
                   n_days * syy - sy * sy AS dyy,
                   sx, sy
            FROM m)
          SELECT l_returnflag, n_days,
                 CASE WHEN n_days >= 2 AND dxx > 0
                      THEN CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE)
                 END AS slope_ku_per_day,
                 CASE WHEN n_days >= 2 AND dxx > 0
                      THEN (CAST(sy AS DOUBLE)
                            - (CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE))
                              * CAST(sx AS DOUBLE))
                           / CAST(n_days AS DOUBLE)
                 END AS intercept_ku,
                 CASE WHEN n_days >= 2 AND dxx > 0 AND dyy > 0
                      THEN (CAST(dxy AS DOUBLE) * CAST(dxy AS DOUBLE))
                           / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE))
                 END AS r2
          FROM d""")

  // --- q196: weighted median ------------------------------------------------------
  // The quantity-WEIGHTED median price per return flag — the quantile
  // primitive where each row counts `w` times (exact percentiles q68
  // weight every row once; sketch quantiles q88 bin first). Definition:
  // under the total order (value, keys), the first row whose running
  // weight reaches half the total — integer cross-multiplication
  // (2·cw ≥ tw, weights exact longs) so no 0.5-boundary float ever
  // decides. That row holds expanded rank ceil(tw/2), the lower end
  // `vl` of `Median`'s rank search at q = 0.5.
  //
  // Scale shape (the first draft's per-group window sorted ENTIRE
  // groups — with 3 return flags that is three single-task sorts of
  // n/3 rows each, measured near-linear 1.2→21 s at 30×): the
  // value-bucket decomposition in `Median.orderStats` instead, which
  // sorts only the crossing bucket's rows. Bucket = floor(v / 2^11):
  // the divisor is a POWER OF TWO, so the decimal→double cast (≤15
  // significant digits, exact) followed by the scaling is exact and
  // the floor is engine-portable; bucket count is the scale knob. The
  // oracle keeps the one-window definitional form; the gate proves the
  // decomposition equals it.
  val WmBucketWidth = 2048.0

  def weightedMedian(spark: SparkSession, dir: String): DataFrame =
    Median.orderStats(Tables.lineitem(spark, dir), col("l_returnflag"),
        dec2(col("l_extendedprice")), col("l_quantity"), Seq(0.5),
        bucketScale = 1.0 / WmBucketWidth)
      .select(col("g").as("l_returnflag"), col("tw").as("total_weight"),
        col("vl").as("weighted_median"))
      .orderBy("l_returnflag")

  val weightedMedianSpec = query("q196_weighted_median", weightedMedian,
      // qualifying rows are a suffix of the (v, keys) order, so MIN(v)
      // over them is the crossing value; 2·cw ≥ tw keeps the half-weight
      // test in exact integers
      """WITH li AS (SELECT l_returnflag AS g,
                            CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
                            CAST(l_quantity AS BIGINT) AS w,
                            l_orderkey AS ok, l_linenumber AS ln
                     FROM lineitem),
          c AS (SELECT g, v,
                       SUM(w) OVER (PARTITION BY g ORDER BY v, ok, ln
                                    ROWS UNBOUNDED PRECEDING) AS cw
                FROM li),
          t AS (SELECT g, CAST(SUM(w) AS BIGINT) AS tw FROM li GROUP BY 1)
          SELECT c.g AS l_returnflag, t.tw AS total_weight,
                 CAST(MIN(v) AS DOUBLE) AS weighted_median
          FROM c JOIN t ON c.g = t.g
          WHERE 2 * cw >= tw
          GROUP BY 1, 2""")

  // --- q200: transposition-aware fuzzy linkage (Damerau–Levenshtein kernel) --------
  // q105's blocked linkage upgraded with the TRUE Damerau–Levenshtein
  // codegen kernel (plans/EditDistance): adjacent-key swaps — the most
  // common human typo — cost 1 instead of levenshtein's 2, so a
  // distance-budget verifier stops missing exactly the typos linkage
  // exists for. Both distances emitted so the gap is auditable; the
  // whole contract is integers (DuckDB ships damerau_levenshtein with
  // the same unrestricted semantics — no float comparison anywhere).
  def dlLinkage(spark: SparkSession, dir: String): DataFrame = {
    val dict = Linkage.nameDictionary(Tables.part(spark, dir), "p_name")
    val blk = (nm: Column) => element_at(split(nm, " "), -1)
    val a = dict.select(col("name").as("name_a"), col("n_rows").as("n_parts_a"),
      blk(col("name")).as("__blk"))
    val b = dict.select(col("name").as("name_b"), col("n_rows").as("n_parts_b"),
      blk(col("name")).as("__blk"))
    a.join(b, Seq("__blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dl_dist",
        graft.plans.EditDistance.damerauLevenshtein(col("name_a"), col("name_b"))
          .cast("long"))
      .filter(col("dl_dist") <= FuzzyMaxDist)
      .withColumn("lev_dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .select("name_a", "name_b", "dl_dist", "lev_dist",
        "n_parts_a", "n_parts_b")
      .orderBy("name_a", "name_b")
  }

  query("q200_dl_linkage", dlLinkage, {
      val d = FuzzyMaxDist
      s"""WITH dict AS (SELECT p_name AS name, COUNT(*) AS n_rows
                        FROM part GROUP BY 1),
          b AS (SELECT name, n_rows,
                       list_extract(string_split(name, ' '), -1) AS blk
                FROM dict)
          SELECT a.name AS name_a, b2.name AS name_b,
                 CAST(damerau_levenshtein(a.name, b2.name) AS BIGINT) AS dl_dist,
                 CAST(levenshtein(a.name, b2.name) AS BIGINT) AS lev_dist,
                 a.n_rows AS n_parts_a, b2.n_rows AS n_parts_b
          FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
          WHERE damerau_levenshtein(a.name, b2.name) <= $d"""
    })

  // --- q201: window funnel (each stage within Δt of the previous) ------------------
  // q66's funnel with the windowFunnel attribution constraint: a click
  // only converts if it lands within `FunnelWindowMicros` of the first
  // view, a purchase within the window of that qualifying click — the
  // session-attribution semantics analytics engines ship as
  // windowFunnel(). Same single-scan two-running-mins plan as q66 (the
  // window bound folds into the running-min predicates; both Window
  // nodes still stack on one sort, no new exchange, constant-size rows).
  val FunnelWindowMicros = 48L * 3600L * 1000000L

  def windowFunnel(spark: SparkSession, dir: String): DataFrame =
    windowFunnelFrom(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us")))

  query("q201_window_funnel", windowFunnel, {
      val w = FunnelWindowMicros
      // q66's list-filter chain with the windowFunnel attribution bound:
      // stage n only counts within w micros of the qualifying stage n−1
      s"""WITH b AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
                  list(epoch_us(ts)) FILTER (WHERE event_type = 'click') AS clicks,
                  list(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS purchases
           FROM events GROUP BY 1),
          c AS (SELECT user_id, t_view, purchases,
                       list_min(list_filter(clicks,
                         c -> c > t_view AND c <= t_view + $w)) AS t_click
                FROM b),
          d AS (SELECT user_id, t_view, t_click,
                       list_min(list_filter(purchases,
                         p -> p > t_click AND p <= t_click + $w)) AS t_purchase
                FROM c)
          SELECT user_id,
                 make_timestamp(t_view) AS view_ts,
                 make_timestamp(t_click) AS click_ts,
                 make_timestamp(t_purchase) AS purchase_ts,
                 CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                           WHEN t_click IS NOT NULL THEN 2
                           WHEN t_view IS NOT NULL THEN 1
                           ELSE 0 END AS INT) AS stage
          FROM d"""
    })

  /** The windowed funnel over any (user_id, event_type, event_id, us)
    * frame — factored out (like `funnelFrom`) so the spec can drive it
    * with boundary-exact arrivals.
    */
  def windowFunnelFrom(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val qualClick = (rv: Column) =>
      col("event_type") === "click" && rv < col("us") &&
        col("us") <= rv + lit(FunnelWindowMicros)
    val qualPurchase = (rc: Column) =>
      col("event_type") === "purchase" && rc < col("us") &&
        col("us") <= rc + lit(FunnelWindowMicros)
    val chained = ev
      .withColumn("rv",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("rc", min(when(qualClick(col("rv")), col("us"))).over(w))
    chained.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("us"))).as("t_view"),
        min(when(qualClick(col("rv")), col("us"))).as("t_click"),
        min(when(qualPurchase(col("rc")), col("us"))).as("t_purchase"))
      .select(col("user_id"),
        timestamp_micros(col("t_view")).as("view_ts"),
        timestamp_micros(col("t_click")).as("click_ts"),
        timestamp_micros(col("t_purchase")).as("purchase_ts"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0).as("stage"))
      .orderBy("user_id")
  }

  // --- q202: Kaplan–Meier life table of user lifetimes ------------------------------
  // Survival analysis over the activity log: a user's lifetime is the
  // span from first to last event; users still active near the
  // observation horizon are CENSORED (their true lifetime is only
  // known to exceed the observed one — dropping them would bias churn
  // short, the classic survival-analysis mistake). The output is the
  // exact life table (n at risk / deaths / censored per duration) —
  // the integer input of the Kaplan–Meier product-limit estimator —
  // with the per-duration hazard as the single double division. The
  // distributed work is one per-user min/max agg; the cumulative
  // n-at-risk runs on the O(distinct durations) frame.
  val CensorWindowDays = 7L

  def survivalLifeTable(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val perUser = ev.groupBy("user_id")
      .agg(min("us").as("first_us"), max("us").as("last_us"))
    val horizon = ev.agg(max(col("us")).as("__h"))
    val u = perUser.crossJoin(broadcast(horizon))
      .select(expr(s"(last_us - first_us) div $day").as("duration_days"),
        (col("__h") - col("last_us") < lit(CensorWindowDays * day)).as("cens"))
    val byDur = u.groupBy("duration_days").agg(
      count(lit(1)).as("n_ending"),
      sum(when(!col("cens"), 1L).otherwise(0L)).as("n_deaths"),
      sum(when(col("cens"), 1L).otherwise(0L)).as("n_censored"))
    // global windows on the aggregated frame: O(distinct durations) rows.
    // The total-users scalar is the FULL-FRAME sum of n_ending over the
    // same tiny frame (same sort, second frame spec) — deriving it from
    // the raw table cost a whole extra pass over events (plan-audited)
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy("duration_days").rowsBetween(W.unboundedPreceding, 0)
    val wAll = W.orderBy("duration_days")
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    byDur
      .withColumn("__cum", sum(col("n_ending")).over(w))
      .withColumn("__n", sum(col("n_ending")).over(wAll))
      .withColumn("n_risk", col("__n") - col("__cum") + col("n_ending"))
      .select(col("duration_days"), col("n_risk"),
        col("n_deaths"), col("n_censored"),
        (col("n_deaths").cast("double") / col("n_risk").cast("double"))
          .as("hazard"))
      .orderBy("duration_days")
  }

  query("q202_survival_table", survivalLifeTable, {
      val win = CensorWindowDays * 86400000000L
      s"""WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
                            max(epoch_us(ts)) AS l
                     FROM events GROUP BY 1),
          h AS (SELECT max(epoch_us(ts)) AS h FROM events),
          d AS (SELECT (l - f) // 86400000000 AS duration_days,
                       CASE WHEN h - l < $win THEN 1 ELSE 0 END AS cens
                FROM u, h),
          g AS (SELECT duration_days, CAST(COUNT(*) AS BIGINT) AS n_ending,
                       CAST(SUM(1 - cens) AS BIGINT) AS n_deaths,
                       CAST(SUM(cens) AS BIGINT) AS n_censored
                FROM d GROUP BY 1),
          r AS (SELECT duration_days, n_deaths, n_censored,
                       CAST(SUM(n_ending) OVER ()
                            - SUM(n_ending) OVER (ORDER BY duration_days
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            + n_ending AS BIGINT) AS n_risk
                FROM g)
          SELECT duration_days, n_risk, n_deaths, n_censored,
                 CAST(n_deaths AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard
          FROM r"""
    })

  // --- q204: mean-shift changepoint via integer CUSUM -------------------------------
  // Where did each event type's daily volume regime change? The CUSUM
  // statistic against the per-type mean, kept EXACT by multiplying
  // through by n (CUSUM_i = Σ_{j≤i}(n·c_j − S) = n·cum_i − i·S — all
  // int64, no float drift to argmax over), then one struct-max picks
  // the peak |CUSUM| with earliest-day tiebreak. The heavy work is the
  // daily count agg; the windows run per-type on O(days) rows.
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("c"))
    val wOrd = W.partitionBy("event_type").orderBy("epoch_day")
    val wAll = W.partitionBy("event_type")
    daily
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cum",
        sum(col("c")).over(wOrd.rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("c")).over(wAll))
      .withColumn("cusum", col("n") * col("cum") - col("i") * col("s"))
      .groupBy("event_type")
      .agg(max(struct(abs(col("cusum")).as("a"), (-col("epoch_day")).as("negd"),
        col("cusum").as("c0"), col("n").as("n0"), col("s").as("s0"))).as("m"))
      .select(col("event_type"), col("m.n0").as("n_days"),
        date_add(to_date(lit("1970-01-01")), (-col("m.negd")).cast("int"))
          .as("change_day"),
        col("m.a").as("max_abs_cusum"),
        signum(col("m.c0")).cast("int").as("shift_sign"),
        // scale-free severity in [0, 1): one double division
        (col("m.a").cast("double") / (col("m.n0") * col("m.s0")).cast("double"))
          .as("shift_score"))
      .orderBy("event_type")
  }

  query("q204_cusum_changepoint", cusumChangepoint,
      """WITH daily AS (SELECT event_type,
                               epoch_us(ts) // 86400000000 AS epoch_day,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2),
          sc AS (SELECT event_type, epoch_day,
                        CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
                        CAST(SUM(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS cum,
                        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
                        CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s
                 FROM daily
                 WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day)),
          cu AS (SELECT *, n * cum - i * s AS cusum FROM sc)
          SELECT event_type, n AS n_days,
                 DATE '1970-01-01' + CAST(epoch_day AS INT) AS change_day,
                 ABS(cusum) AS max_abs_cusum,
                 CAST(sign(cusum) AS INT) AS shift_sign,
                 CAST(ABS(cusum) AS DOUBLE) / CAST(n * s AS DOUBLE) AS shift_score
          FROM cu
          QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY ABS(cusum) DESC, epoch_day ASC) = 1""")

  // --- q205: top principal component via integer-Gram power iteration ---------------
  // Distributed PCA done scale-right: the d×d Gram matrix is a BOUNDED
  // DISTRIBUTIVE AGGREGATE (one pass, map-side partials into ≤d² cells
  // — the only thing that touches the corpus), and power iteration then
  // runs on the tiny d×d frame. Everything is exact int64: embeddings
  // truncate to 2^14 units (the q42 idiom), the iterate renormalizes to
  // max-|component| = 2^8 via floor division each round, so both
  // engines walk bit-identical integer states — no float accumulation
  // order anywhere. Doubles appear only in the final Rayleigh quotient
  // (exact 128-bit/decimal sums → two casts + divisions in fixed
  // order). Bounds at bench scale: |q|≤0.53·2^14, G ≤ n·q² ≈ 3.8e11 at
  // n=5000, |w| ≤ 64·G·2^8 ≈ 6.2e15, w·2^8 ≈ 1.6e18 < 2^63; at larger
  // corpora lift G to DECIMAL(38,0) (the q107 convention).
  val PcQuant = 16384L
  val PcScale = 256L
  val PcRounds = 6

  def principalComponent(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // the Gram matrix is symmetric and every product is exact int64, so
    // only the upper triangle (i ≤ j) is enumerated — HALF the explode
    // fan-out of the full d² form — and the lower triangle is mirrored
    // after the aggregation (bit-identical: x·y = y·x, same summands)
    val gramHalf = Tables.embeddings(spark, dir)
      .select(expr(s"transform(embedding, x -> cast(x * $PcQuant as bigint))")
        .as("q"))
      .select(explode(expr(
        """flatten(transform(q, (x, i) ->
           transform(slice(q, i + 1, size(q) - i),
             (y, k) -> named_struct('i', i, 'j', i + k, 'p', x * y))))"""))
        .as("cell"))
      .groupBy(col("cell.i").as("i"), col("cell.j").as("j"))
      .agg(sum(col("cell.p")).as("g"))
      .leanCheckpoint() // materialize BEFORE the mirror references it twice
    val gram = gramHalf
      .unionByName(gramHalf.filter(col("i") < col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
    var v = gram.select(col("i").as("pos")).distinct()
      .withColumn("vq", lit(PcScale))
      .leanCheckpoint()
    for (_ <- 1 to PcRounds) {
      val w = gram.join(v.withColumnRenamed("pos", "j"), Seq("j"))
        .groupBy(col("i").as("pos"))
        .agg(sum(col("g") * col("vq")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("__m"))
      v = w.crossJoin(broadcast(m))
        // floor((w·S)/m): subtract floorMod first so the `div` is exact
        // (truncation == floor on an exactly-divisible dividend)
        .select(col("pos"),
          expr(s"(w * $PcScale - ((w * $PcScale) % __m + __m) % __m) div __m")
            .as("vq"))
        .leanCheckpoint()
    }
    val num = gram
      .join(v.select(col("pos").as("i"), col("vq").as("vi")), Seq("i"))
      .join(v.select(col("pos").as("j"), col("vq").as("vj")), Seq("j"))
      .agg(sum(col("g").cast(dec) * col("vi").cast(dec) * col("vj").cast(dec))
        .as("num"))
    val den = v.agg(sum(col("vq") * col("vq")).as("den"))
    v.crossJoin(broadcast(num)).crossJoin(broadcast(den))
      .select(col("pos").cast("long").as("pos"), col("vq").as("pc_q"),
        (col("num").cast("double") / col("den").cast("double")
          / lit((PcQuant * PcQuant).toDouble)).as("lambda"))
      .orderBy("pos")
  }

  query("q205_principal_component", principalComponent, {
      val Q = PcQuant
      val S = PcScale
      val R = PcRounds
      val rounds = (1 to R).map { r =>
        s"""w$r AS MATERIALIZED (SELECT g.i AS pos,
                  CAST(SUM(g.g * v.vq) AS BIGINT) AS w
                FROM g JOIN v${r - 1} v ON g.j = v.pos GROUP BY 1),
            m$r AS (SELECT MAX(ABS(w)) AS m FROM w$r),
            v$r AS MATERIALIZED (SELECT pos,
                  (w * $S - ((w * $S) % m + m) % m) // m AS vq
                FROM w$r, m$r)"""
      }.mkString(",\n          ")
      s"""WITH e1 AS MATERIALIZED (
            SELECT vec_id,
                   CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $Q) AS BIGINT)
                     AS qv,
                   unnest(generate_series(1, len(embedding))) AS idx
            FROM embeddings),
          g AS MATERIALIZED (
            SELECT a.idx - 1 AS i, b.idx - 1 AS j,
                   CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
            FROM e1 a JOIN e1 b USING (vec_id) GROUP BY 1, 2),
          v0 AS (SELECT DISTINCT i AS pos, CAST($S AS BIGINT) AS vq FROM g),
          $rounds,
          num AS (SELECT SUM(CAST(g.g AS HUGEINT) * vi.vq * vj.vq) AS num
                  FROM g JOIN v$R vi ON g.i = vi.pos
                         JOIN v$R vj ON g.j = vj.pos),
          den AS (SELECT CAST(SUM(vq * vq) AS BIGINT) AS den FROM v$R)
          SELECT CAST(pos AS BIGINT) AS pos, vq AS pc_q,
                 CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                   / ${(Q * Q).toDouble} AS lambda
          FROM v$R, num, den"""
    })

  // --- q207: U-shaped (position-based) multi-touch attribution ----------------------
  // q112's linear split upgraded to the industry 40/20/40 convention:
  // first and last click before the purchase take 40% each, the middle
  // touches share the remaining 20%. All allocation is EXACT integer
  // cents (div/% with the remainder surfaced, not silently dropped),
  // computed closed-form per purchase from the same single per-user
  // window scan as q112 — no per-touch explosion, no self-join.
  def ushapeAttribution(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // `us` is projected ONCE so all three Window nodes order by the same
    // attribute and stack on a single sort (the q66/q201 discipline —
    // an inline unix_micros(ts) in each window spec re-derives a fresh
    // attribute per window and costs three sorts, plan-audited)
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    val w = W.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    val isClick = col("event_type") === "click"
    val clickUs = when(isClick, col("us"))
    ev.withColumn("n_touches",
        coalesce(sum(when(isClick, 1L).otherwise(0L)).over(w), lit(0L)))
      .withColumn("first_click_us", min(clickUs).over(w))
      .withColumn("last_click_us", max(clickUs).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("cents",
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)"))
      .withColumn("first_credit_cents",
        when(col("n_touches") === 0L, lit(null).cast("long"))
          .when(col("n_touches") === 1L, col("cents"))
          .when(col("n_touches") === 2L,
            col("cents") - expr("cents div 2"))
          .otherwise(expr("(cents * 2) div 5")))
      .withColumn("last_credit_cents",
        when(col("n_touches") === 0L, lit(null).cast("long"))
          .when(col("n_touches") === 1L, lit(0L))
          .when(col("n_touches") === 2L, expr("cents div 2"))
          .otherwise(expr("(cents * 2) div 5")))
      .withColumn("mid_credit_each_cents",
        when(col("n_touches") <= 2L, lit(null).cast("long"))
          .otherwise(expr(
            "(cents - 2 * ((cents * 2) div 5)) div (n_touches - 2)")))
      .withColumn("mid_remainder_cents",
        when(col("n_touches") <= 2L, lit(null).cast("long"))
          .otherwise(expr(
            "(cents - 2 * ((cents * 2) div 5)) % (n_touches - 2)")))
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts").as("purchase_ts"), col("n_touches"),
        timestamp_micros(col("first_click_us")).as("first_click_ts"),
        timestamp_micros(col("last_click_us")).as("last_click_ts"),
        col("cents"), col("first_credit_cents"), col("last_credit_cents"),
        col("mid_credit_each_cents"), col("mid_remainder_cents"))
      .orderBy("user_id", "purchase_event_id")
  }

  query("q207_ushape_attribution", ushapeAttribution,
      """WITH ev AS (SELECT user_id, event_id, ts, event_type, value
                     FROM events WHERE event_type IN ('click', 'purchase')),
          x AS (SELECT user_id, event_id, ts, event_type, value,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1
                                          ELSE 0 END) OVER w, 0) AS BIGINT)
                     AS n_touches,
                   MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                     OVER w AS f_us,
                   MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                     OVER w AS l_us
                FROM ev
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
          p AS (SELECT *, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                            AS cents
                FROM x WHERE event_type = 'purchase')
          SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts,
                 n_touches,
                 make_timestamp(f_us) AS first_click_ts,
                 make_timestamp(l_us) AS last_click_ts,
                 cents,
                 CAST(CASE WHEN n_touches = 0 THEN NULL
                           WHEN n_touches = 1 THEN cents
                           WHEN n_touches = 2 THEN cents - cents // 2
                           ELSE (cents * 2) // 5 END AS BIGINT)
                   AS first_credit_cents,
                 CAST(CASE WHEN n_touches = 0 THEN NULL
                           WHEN n_touches = 1 THEN 0
                           WHEN n_touches = 2 THEN cents // 2
                           ELSE (cents * 2) // 5 END AS BIGINT)
                   AS last_credit_cents,
                 CAST(CASE WHEN n_touches <= 2 THEN NULL
                           ELSE (cents - 2 * ((cents * 2) // 5))
                                // (n_touches - 2) END AS BIGINT)
                   AS mid_credit_each_cents,
                 CAST(CASE WHEN n_touches <= 2 THEN NULL
                           ELSE (cents - 2 * ((cents * 2) // 5))
                                % (n_touches - 2) END AS BIGINT)
                   AS mid_remainder_cents
          FROM p""")

  // --- q208: most weekday-anomalous day per event type --------------------------------
  // q93's trailing z-score catches LEVEL breaks; this catches the day
  // most abnormal FOR ITS WEEKDAY (the Sunday that behaved like a
  // Wednesday) — the seasonality correction volume monitoring needs.
  // Per (event_type, dow) profile moments (n, Σc, Σc²) stay exact
  // int64; z = (n·c − s)/√(n·q − s²) is the one fixed-shape double —
  // identical IEEE ops in both engines, so the |z| argmax (one
  // struct-max per type, earliest-day tiebreak) selects identically.
  // `is_extreme` (z² > 4) is decided by INTEGER cross-multiplication.
  // dow convention: (epoch_day + 4) % 7, 0 = Sunday (1970-01-01 = Thu).
  def seasonalAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", expr("(epoch_day + 4) % 7"))
    val prof = W.partitionBy("event_type", "dow")
    daily
      .withColumn("n", count(lit(1)).over(prof))
      .withColumn("s", sum(col("c")).over(prof))
      .withColumn("q", sum(col("c") * col("c")).over(prof))
      .withColumn("d", col("n") * col("c") - col("s"))
      .withColumn("var_num", col("n") * col("q") - col("s") * col("s"))
      .filter(col("var_num") > 0L)
      .withColumn("z",
        col("d").cast("double") / sqrt(col("var_num").cast("double")))
      .groupBy("event_type")
      .agg(max(struct(abs(col("z")).as("az"), (-col("epoch_day")).as("negd"),
        col("z").as("z0"), col("dow").as("dow0"), col("c").as("c0"),
        col("d").as("d0"), col("var_num").as("v0"))).as("m"))
      .select(col("event_type"),
        date_add(to_date(lit("1970-01-01")), (-col("m.negd")).cast("int"))
          .as("day"),
        col("m.dow0").as("dow"), col("m.c0").as("n_events"),
        col("m.d0").as("dev"), col("m.v0").as("var_num"),
        col("m.z0").as("z"),
        (col("m.d0") * col("m.d0") > lit(4L) * col("m.v0")).as("is_extreme"))
      .orderBy("event_type")
  }

  query("q208_seasonal_anomalies", seasonalAnomalies,
      """WITH daily AS (SELECT event_type,
                               epoch_us(ts) // 86400000000 AS epoch_day,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM events GROUP BY 1, 2),
          p AS (SELECT event_type, epoch_day, c,
                       (epoch_day + 4) % 7 AS dow,
                       CAST(COUNT(*) OVER w AS BIGINT) AS n,
                       CAST(SUM(c) OVER w AS BIGINT) AS s,
                       CAST(SUM(c * c) OVER w AS BIGINT) AS q
                FROM daily
                WINDOW w AS (PARTITION BY event_type, (epoch_day + 4) % 7)),
          z AS (SELECT *, n * c - s AS d, n * q - s * s AS var_num FROM p),
          zz AS (SELECT *, CAST(d AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE))
                             AS z
                 FROM z WHERE var_num > 0)
          SELECT event_type,
                 DATE '1970-01-01' + CAST(epoch_day AS INT) AS day,
                 dow, c AS n_events, d AS dev, var_num, z,
                 d * d > 4 * var_num AS is_extreme
          FROM zz
          QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY ABS(z) DESC, epoch_day ASC) = 1""")

  // --- q209: rolling 28-day correlation between two event series ---------------------
  // Co-movement monitoring (do purchases still track views?): both
  // daily series come out of ONE conditional aggregation pass (no
  // self-join), then a trailing RANGE window over epoch_day — gap-robust
  // where a ROWS frame would silently stretch across missing days —
  // accumulates the five exact integer moments, and q107's
  // multiply-through Pearson form runs on them (doubles only in the
  // final fixed-shape expression; thin/degenerate windows null out).
  // The window is unpartitioned BUT runs on the O(days) aggregated
  // frame — the q202/q114 discipline.
  val RollCorrDays = 28
  val RollCorrMinDays = 14

  def rollingCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(expr("unix_micros(ts) div 86400000000").as("epoch_day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val w = W.orderBy("epoch_day").rangeBetween(-(RollCorrDays - 1L), 0L)
    val m = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = col("n") * col("sxx") - col("sx") * col("sx")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    m.select(
        date_add(to_date(lit("1970-01-01")), col("epoch_day").cast("int"))
          .as("day"),
        col("n").as("n_days"), col("x").as("n_views"),
        col("y").as("n_purchases"),
        when(col("n") >= RollCorrMinDays && denx > 0L && deny > 0L,
          num / (sqrt(denx.cast("double")) * sqrt(deny.cast("double"))))
          .as("corr_28d"))
      .orderBy("day")
  }

  query("q209_rolling_correlation", rollingCorrelation, {
      val k = RollCorrDays - 1
      val minD = RollCorrMinDays
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS epoch_day,
                  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
           FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
          m AS (SELECT epoch_day, x, y,
                       CAST(COUNT(*) OVER w AS BIGINT) AS n,
                       CAST(SUM(x) OVER w AS BIGINT) AS sx,
                       CAST(SUM(y) OVER w AS BIGINT) AS sy,
                       CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
                       CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
                       CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
                FROM daily
                WINDOW w AS (ORDER BY epoch_day
                             RANGE BETWEEN $k PRECEDING AND CURRENT ROW))
          SELECT DATE '1970-01-01' + CAST(epoch_day AS INT) AS day,
                 n AS n_days, x AS n_views, y AS n_purchases,
                 CASE WHEN n >= $minD AND n * sxx - sx * sx > 0
                           AND n * syy - sy * sy > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 END AS corr_28d
          FROM m"""
    })

  // --- q210: FIFO allocation via cumulative-interval overlap -------------------------
  // Inventory-style first-in-first-out matching per part: fulfilled
  // lineitems ('F') are the supply lots, open ones ('O') the demand,
  // both in (shipdate, orderkey, linenumber) arrival order. The operator
  // (operators/Fifo) replaces the sequential allocator with two
  // prefix-sum windows + a bucketed interval-overlap join on the
  // cumulative-quantity axis — fully distributed, each matched
  // (lot, demand) pair exactly once with its matched quantity.
  val FifoBucket = 64L

  def fifoAllocation(spark: SparkSession, dir: String): DataFrame = {
    // ord in whole epoch DAYS: shipdates are midnight-aligned NTZ
    // timestamps (contract-checked), so day ordering ≡ time ordering and
    // the age arithmetic needs no division or timezone anywhere
    def side(status: String) = Tables.lineitem(spark, dir)
      .filter(col("l_linestatus") === status)
      .select(col("l_partkey").as("key"),
        datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
          .cast("long").as("ord"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("id"),
        // decimal→long cast TRUNCATES toward zero in Spark; the oracle
        // mirrors it with trunc() (DuckDB's bare CAST would round half
        // away from zero — silent divergence on fractional quantities)
        dec2(col("l_quantity")).cast("long").as("qty"))
    Fifo.allocate(side("F"), side("O"), FifoBucket)
      .select(col("key").as("part"),
        col("s_id").as("supply_id"), col("d_id").as("demand_id"),
        col("matched_qty"),
        // allocation age: negative when an open demand predates its lot
        (col("d_ord") - col("s_ord")).as("age_days"))
      .orderBy("part", "supply_id", "demand_id")
  }

  query("q210_fifo_allocation", fifoAllocation, {
      """WITH li AS (SELECT l_partkey AS key, l_linestatus AS st,
                            CAST(CAST(l_shipdate AS DATE)
                                 - DATE '1970-01-01' AS BIGINT) AS ord,
                            l_orderkey * 100 + l_linenumber AS id,
                            -- trunc ≡ Spark's decimal→long cast (toward
                            -- zero); bare CAST rounds in DuckDB
                            CAST(trunc(CAST(l_quantity AS DECIMAL(18,2)))
                              AS BIGINT) AS qty
                     FROM lineitem
                     WHERE l_linestatus IN ('F', 'O')),
          c AS (SELECT *,
                       CAST(SUM(qty) OVER (PARTITION BY key, st
                              ORDER BY ord, id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS e
                FROM li),
          s AS (SELECT key, ord AS s_ord, id AS s_id,
                       e - qty AS s_start, e AS s_end FROM c WHERE st = 'F'),
          d AS (SELECT key, ord AS d_ord, id AS d_id,
                       e - qty AS d_start, e AS d_end FROM c WHERE st = 'O')
          SELECT s.key AS part, s_id AS supply_id, d_id AS demand_id,
                 least(s_end, d_end) - greatest(s_start, d_start)
                   AS matched_qty,
                 d_ord - s_ord AS age_days
          FROM s JOIN d ON s.key = d.key
                       AND s_start < d_end AND d_start < s_end"""
    })

  // --- q220: Theil–Sen robust trend ---------------------------------------------------
  // q195's OLS slope is pulled arbitrarily far by ONE corrupted day
  // (breakdown point 0); the Theil–Sen estimator — the median of all
  // pairwise slopes (y_j−y_i)/(x_j−x_i) — survives ~29% contamination,
  // the robust-statistics twin of q78's median/MAD vs q70's moments.
  // Cost shape: the pair join runs on the O(days) DAILY frame, never
  // the fact table, so its O(days²) is a CONSTANT in corpus size (days
  // don't grow with volume at fixed history) — at sf0.1 ≈ 3M pairs per
  // flag. Each pairwise slope is one IEEE division of exact int64s
  // (the q195 kilodollar-quantized y), and the median is Spark's exact
  // `percentile` ≡ DuckDB quantile_cont (the q68 bit-match precedent).
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
      .select(col("l_returnflag"),
        datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"),
        floor(col("rev_dec").cast("double") / lit(AnomalyUnit))
          .cast("long").as("y"))
    theilSenFromDaily(daily)
  }

  query("q220_theilsen_trend", theilSenTrend,
      // pairwise-slope median on the q195 daily frame; quantile_cont ≡
      // Spark's exact percentile (the q68 bit-match precedent)
      s"""WITH daily AS (
            SELECT l_returnflag,
                   date_diff('day', DATE '1970-01-01',
                             CAST(l_shipdate AS DATE)) AS x,
                   CAST(floor(CAST(SUM($discTerm) AS DOUBLE)
                              / ${AnomalyUnit}) AS BIGINT) AS y
            FROM lineitem GROUP BY 1, 2),
          slopes AS (
            SELECT a.l_returnflag,
                   CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
                     AS slope
            FROM daily a JOIN daily b
              ON a.l_returnflag = b.l_returnflag AND a.x < b.x)
          SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 quantile_cont(slope, 0.5) AS theilsen_slope_ku_per_day
          FROM slopes GROUP BY 1""")

  /** Theil–Sen slope over any (l_returnflag, x, y) daily frame —
    * factored so the spec can drive it with a planted-outlier fixture.
    * The median runs through `operators/Median.groupedExactMedian`
    * (bucket decomposition), NOT Spark's exact `percentile`: the
    * percentile aggregate materializes each group's full 3.1M-slope set
    * in one buffer — measured 13.5 s with 4 s of GC at sf0.1 — where
    * the decomposition's distributed hash-agg + target-bucket-only sort
    * runs in a few seconds with bounded memory. Same bit-exact result
    * (the oracle's quantile_cont proves it). The slope frame is
    * localCheckpointed once so the pair join isn't recomputed per
    * consumer.
    */
  def theilSenFromDaily(daily: DataFrame): DataFrame = {
    val a = daily.alias("a")
    val b = daily.alias("b")
    // NOT checkpointed: the pair join re-derives from a tiny broadcast
    // frame, so recomputing it per consumer is cheaper than
    // materializing 9.4M rows into the block manager (measured).
    // try_divide, not `/`: the equi-match set contains a.x = b.x
    // self-pairs that the `<` condition rejects, but codegen may
    // evaluate the projection's division before the condition prunes
    // them (observed at sf0.1 under ANSI as DIVIDE_BY_ZERO) — on every
    // SURVIVING row try_divide ≡ divide exactly
    val slopes = a.join(b, col("a.l_returnflag") === col("b.l_returnflag") &&
        col("a.x") < col("b.x"))
      .select(col("a.l_returnflag").as("l_returnflag"),
        expr("try_divide(cast(b.y - a.y as double), cast(b.x - a.x as double))")
          .as("slope"))
    Median.groupedExactMedian(slopes, "l_returnflag", "slope",
        "theilsen_slope_ku_per_day")
      .select(col("l_returnflag"), col("n_values").as("n_pairs"),
        col("theilsen_slope_ku_per_day"))
      .orderBy("l_returnflag")
  }

  // --- q226: exact quantiles via the distributed decomposition ------------------------
  // q68's report through `Median.groupedExactQuantiles` instead of the
  // percentile aggregate — the q197↔q11 twin pattern: same rows, same
  // oracle, different physical plan. The percentile aggregate
  // materializes each group's full value set in one buffer (fine at
  // q68's group sizes, the q220 GC storm at millions of values); the
  // decomposition's state is per-(group, bucket) counts however large
  // the groups grow — this gate proves the two plans bit-agree on all
  // four interpolation fractions, not just the median.
  def quantilesDecomposed(spark: SparkSession, dir: String): DataFrame = {
    val rows = Median.groupedExactQuantiles(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("price")),
      "l_returnflag", "price", SketchQueries.SketchQs, bucketScale = 0.01)
    rows.groupBy("l_returnflag")
      .agg(min(when(col("q") === 0.25, col("quantile"))).as("p25"),
        min(when(col("q") === 0.5, col("quantile"))).as("p50"),
        min(when(col("q") === 0.75, col("quantile"))).as("p75"),
        min(when(col("q") === 0.99, col("quantile"))).as("p99"))
      .orderBy("l_returnflag")
  }

  // q226 = q68 through the distributed quantile decomposition: same
  // rows, same oracle, bounded per-(group,bucket) state
  query("q226_quantiles_decomposed", quantilesDecomposed, percentileReportSpec.oracle)

  // --- q228: cohort conversion rate with Wilson confidence bounds ---------------------
  // The A/B-dashboard statistic done right: per first-view-day cohort,
  // the view→purchase conversion rate with the Wilson 95% interval —
  // the bound that stays inside [0,1] and behaves at small n where the
  // normal approximation lies. Exactness: k and n are exact integers
  // from two hash-aggs; the Wilson terms are a FIXED-SHAPE double
  // expression over them (one sqrt, correctly rounded in any IEEE
  // engine), so both engines round identically — the q195 recipe
  // applied to interval estimation.
  val WilsonZ = 1.96

  /** Wilson score interval bounds — the FIXED-SHAPE double expression
    * q228 gates (one sqrt, every step correctly rounded identically in
    * any IEEE engine). Factored as Columns so the randomized spec can
    * drive the k = 0 / k = n / n = 1 corners directly against a
    * driver-side replication of the same shape.
    */
  def wilsonBounds(p: Column, nD: Column, z: Column): (Column, Column) = {
    val z2 = z * z
    val rad = z * sqrt(p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD))
    val lo = (p + z2 / (lit(2.0) * nD) - rad) / (lit(1.0) + z2 / nD)
    val hi = (p + z2 / (lit(2.0) * nD) + rad) / (lit(1.0) + z2 / nD)
    // clamp to the interval's true contract 0 ≤ lo ≤ p ≤ hi ≤ 1: at
    // k = 0 the float lo reads ±2e-17 (either side of the exact 0) and
    // at k = n the float hi reads 1 + ε (randomized-spec findings) —
    // mathematically lo ≤ p ≤ hi always holds for z > 0, so clamping
    // restores the exact contract and loses nothing; the oracle clamps
    // the SAME unclamped bits to the SAME expressions, so the gate
    // stays bit-exact
    (least(p, greatest(lit(0.0), lo)), greatest(p, least(lit(1.0), hi)))
  }

  def conversionCi(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val perUser = ev
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("us"))).as("tv"))
      .filter(col("tv").isNotNull)
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us").as("tp")),
        Seq("user_id"), "left")
      .groupBy(col("user_id"), col("tv"))
      .agg(max(col("tp").isNotNull && col("tp") > col("tv")).as("converted"))
    val (lo, hi) = wilsonBounds(col("p"), col("nD"), lit(WilsonZ))
    perUser
      .groupBy(expr("tv div 86400000000").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
      .withColumn("p",
        col("n_converted").cast("double") / col("n_users").cast("double"))
      .withColumn("nD", col("n_users").cast("double"))
      .select(col("cohort_day"), col("n_users"), col("n_converted"),
        col("p").as("conversion_rate"),
        lo.as("wilson_lo"), hi.as("wilson_hi"))
      .orderBy("cohort_day")
  }

  query("q228_conversion_ci", conversionCi, {
      // DuckDB parses bare 1.96 as DECIMAL: z*z would be the EXACT
      // 3.8416 where Spark's double product is 3.8415999999999997 —
      // force the double domain so both engines round identically
      val z = s"CAST(${WilsonZ} AS DOUBLE)"
      // fixed-shape Wilson terms over exact integer (k, n); first-view
      // per user via a conditional min, conversion = any purchase after
      s"""WITH pu AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                     AS tv
            FROM events GROUP BY 1),
          conv AS (
            SELECT pu.user_id, pu.tv,
                   MAX(CASE WHEN e.event_type = 'purchase'
                             AND epoch_us(e.ts) > pu.tv
                            THEN 1 ELSE 0 END) AS converted
            FROM pu LEFT JOIN events e ON e.user_id = pu.user_id
            WHERE pu.tv IS NOT NULL
            GROUP BY 1, 2),
          c AS (SELECT tv // 86400000000 AS cohort_day,
                       CAST(COUNT(*) AS BIGINT) AS n_users,
                       CAST(SUM(converted) AS BIGINT) AS n_converted
                FROM conv GROUP BY 1),
          w AS (SELECT cohort_day, n_users, n_converted,
                       CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                         AS p,
                       CAST(n_users AS DOUBLE) AS nd
                FROM c)
          SELECT cohort_day, n_users, n_converted, p AS conversion_rate,
                 LEAST(p, GREATEST(CAST(0 AS DOUBLE),
                   (p + $z * $z / (2.0 * nd)
                      - $z * sqrt(p * (1.0 - p) / nd
                                  + $z * $z / (4.0 * nd * nd)))
                     / (1.0 + $z * $z / nd))) AS wilson_lo,
                 GREATEST(p, LEAST(CAST(1 AS DOUBLE),
                   (p + $z * $z / (2.0 * nd)
                      + $z * sqrt(p * (1.0 - p) / nd
                                  + $z * $z / (4.0 * nd * nd)))
                     / (1.0 + $z * $z / nd))) AS wilson_hi
          FROM w"""
    })

  // --- q231: weighted median via the generalized Median operator ----------------------
  // q196's report through the public `Median.groupedWeightedMedian`
  // entry point — same rows, same oracle. q196 projects the rank
  // search's lower endpoint itself; this twin pins that the public
  // weighted-median projection agrees with it bit-for-bit. The
  // bucketScale 2^-11 reproduces q196's 2048-wide buckets.
  def weightedMedianDecomposed(spark: SparkSession, dir: String): DataFrame =
    Median.groupedWeightedMedian(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"),
          dec2(col("l_extendedprice")).cast("double").as("price"),
          col("l_quantity").cast("long").as("qty")),
      "l_returnflag", "price", "qty", "weighted_median",
      bucketScale = 1.0 / WmBucketWidth)
      .orderBy("l_returnflag")

  // q231 = q196 through the generalized Median operator (weighted
  // lower median): same rows, same oracle, reusable decomposition
  query("q231_weighted_median_decomposed", weightedMedianDecomposed, weightedMedianSpec.oracle)

  // --- q235: weighted interpolated quantiles (the q226 ↔ q231 merge) -------------------
  // `Median.groupedWeightedQuantiles`: quantile_cont semantics over the
  // weight-EXPANDED multiset, computed without materializing the
  // expansion (per-(group,bucket) weight sums + covering-rank
  // extraction). The oracle literally expands the weights
  // (unnest(generate_series(1, w))) and runs quantile_cont — the
  // decomposition must match that bit-for-bit.
  val WqQuantiles = Seq(0.25, 0.5, 0.75, 0.9)

  def weightedQuantiles(spark: SparkSession, dir: String): DataFrame =
    Median.groupedWeightedQuantiles(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"),
          dec2(col("l_extendedprice")).cast("double").as("price"),
          col("l_quantity").cast("long").as("qty")),
      "l_returnflag", "price", "qty", WqQuantiles,
      bucketScale = 1.0 / WmBucketWidth)
      .orderBy("l_returnflag", "q")

  // q235 — the decomposition must equal quantile_cont over the
  // LITERALLY weight-expanded multiset (unnest(generate_series)).
  // quantile params are forced DOUBLE so pos = q·(n−1) is the same
  // double product the Spark side computes.
  query("q235_weighted_quantiles", weightedQuantiles, {
      val qs = WqQuantiles.map(q =>
        s"SELECT g, CAST($q AS DOUBLE) AS q, " +
          s"quantile_cont(v, CAST($q AS DOUBLE)) AS quantile FROM ex GROUP BY g")
        .mkString(" UNION ALL ")
      s"""WITH x AS (SELECT l_returnflag AS g,
                      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS v,
                      CAST(l_quantity AS BIGINT) AS w
               FROM lineitem WHERE l_quantity > 0),
          ex AS (SELECT g, v FROM
                   (SELECT g, v, unnest(generate_series(1, w)) FROM x)),
          tw AS (SELECT g, CAST(SUM(w) AS BIGINT) AS total_weight
                 FROM x GROUP BY 1),
          qs AS ($qs)
          SELECT qs.g AS l_returnflag, qs.q, tw.total_weight, qs.quantile
          FROM qs JOIN tw USING (g)"""
    })

  // --- q256: rolling 28-day exact median -------------------------------------------------
  // The robust rolling baseline: q93's trailing mean/z flags melt when
  // the window itself contains the anomaly (one spike day inflates σ);
  // the rolling MEDIAN has breakdown point 1/2 inside the window. The
  // window rides the O(days) daily frame — a bounded 28-element sorted
  // list per row (collect over a RANGE frame on the aggregated series,
  // NEVER on raw events), exact integer cents, and the even-count
  // midpoint is the one fixed (a+b)/2 double op. At 100 TB the daily
  // frame is still O(days): the rolling structure costs nothing more
  // after the one fact-scan aggregation.
  val RollMedDays = 28L

  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("epoch_day").rangeBetween(-(RollMedDays - 1L), 0L)
    Tables.events(spark, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("epoch_day"))
      .agg(sum((dec2(col("value")) * 100).cast("long")).as("cents"))
      .withColumn("vals", sort_array(collect_list(col("cents")).over(w)))
      .withColumn("n", size(col("vals")).cast("long"))
      .select(
        date_add(to_date(lit("1970-01-01")), col("epoch_day").cast("int"))
          .as("day"),
        col("n").as("n_days"), col("cents").as("day_cents"),
        expr("""CASE WHEN n % 2 = 1
                     THEN CAST(element_at(vals, CAST((n + 1) div 2 AS INT))
                               AS DOUBLE)
                     ELSE (CAST(element_at(vals, CAST(n div 2 AS INT))
                                AS DOUBLE) +
                           CAST(element_at(vals, CAST(n div 2 + 1 AS INT))
                                AS DOUBLE)) / 2.0 END""").as("median_cents_28d"))
      .orderBy("day")
  }

  // q256 — the same daily-cents frame, a list() window over the RANGE
  // frame, list_sort, and the identical parity CASE; integral cents
  // make DuckDB's rounding decimal→int cast ≡ Spark's truncation.
  query("q256_rolling_median", rollingMedian, {
      val k = RollMedDays - 1
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS epoch_day,
                  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
           FROM events GROUP BY 1),
          m AS (SELECT epoch_day, cents,
                       CAST(COUNT(*) OVER w AS BIGINT) AS n,
                       list_sort(list(cents) OVER w) AS vals
                FROM daily
                WINDOW w AS (ORDER BY epoch_day
                             RANGE BETWEEN $k PRECEDING AND CURRENT ROW))
          SELECT DATE '1970-01-01' + CAST(epoch_day AS INT) AS day,
                 n AS n_days, cents AS day_cents,
                 CASE WHEN n % 2 = 1
                      THEN CAST(vals[CAST((n + 1) // 2 AS INT)] AS DOUBLE)
                      ELSE (CAST(vals[CAST(n // 2 AS INT)] AS DOUBLE) +
                            CAST(vals[CAST(n // 2 + 1 AS INT)] AS DOUBLE))
                           / 2.0 END AS median_cents_28d
          FROM m"""
    })

  // --- q265: time-in-state report over the SCD2 history -----------------------------------
  // The metric an SCD2 history exists to answer and nothing yet asked:
  // how long does the tracked attribute HOLD each value ("time in
  // state")? Σ(effective_to − effective_from) per state over q03's
  // versions, open versions closed at the corpus horizon max(ts) — the
  // duration a point-in-time snapshot (q15) cannot see and an event
  // count (q106) actively distorts (many short visits ≠ long
  // residence). Exact integer micros; share per state from the tiny
  // per-state frame. One keyed window (the q03 build) + one hash-agg.
  def timeInState(spark: SparkSession, dir: String): DataFrame = {
    val close = Tables.events(spark, dir).agg(max(col("ts")).as("close_ts"))
    val agged = EtlQueries.scd2Build(spark, dir).crossJoin(broadcast(close))
      .withColumn("dur_us",
        unix_micros(coalesce(col("effective_to"), col("close_ts"))) -
          unix_micros(col("effective_from")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_versions"),
        sum(col("dur_us")).as("micros_in_state"))
    val tot = agged.agg(sum(col("micros_in_state")).as("__tot"))
    agged.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_versions"), col("micros_in_state"),
        (col("micros_in_state").cast("double") / col("__tot").cast("double"))
          .as("share"))
      .orderBy("event_type")
  }

  // q265 — q03's validity windows, open versions closed at the
  // corpus horizon, exact integer micro durations
  query("q265_time_in_state", timeInState,
      """WITH v AS (SELECT event_type, ts AS ef,
                           lead(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS et
                    FROM events),
          mx AS (SELECT MAX(ts) AS close_ts FROM events),
          d AS (SELECT event_type,
                       epoch_us(COALESCE(et, close_ts)) - epoch_us(ef) AS dur
                FROM v, mx),
          a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_versions,
                       CAST(SUM(dur) AS BIGINT) AS micros_in_state
                FROM d GROUP BY 1)
          SELECT event_type, n_versions, micros_in_state,
                 CAST(micros_in_state AS DOUBLE)
                   / CAST(SUM(micros_in_state) OVER () AS DOUBLE) AS share
          FROM a""")

  // --- q267: sample-ratio-mismatch (SRM) check --------------------------------------------
  // The A/B-test validity gate q228 assumed and never checked: under
  // the deterministic 50/50 user-hash split (the q143 hash family), do
  // the arms actually receive equal traffic per event type? For a
  // two-cell equal split the chi-square statistic collapses to the
  // exact integer form (a−b)²/(a+b) — one division, compared against
  // the df=1 p=0.05 critical value. An SRM flag means the assignment
  // or logging pipeline is biased and every downstream lift number is
  // suspect — the first dashboard any experimentation platform ships.
  val SrmCritical = 3.841

  def srmCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        (pmod(graft.functions.Sketches.keyHash(col("user_id")), lit(2L)) === 0)
          .as("in_a"))
      .groupBy("event_type")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
      .withColumn("chi2",
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double")
          / (col("n_a") + col("n_b")).cast("double"))
      .withColumn("srm_detected", col("chi2") > SrmCritical)
      .orderBy("event_type")

  // q267 — the two-cell chi-square collapses to (a−b)²/(a+b) exactly
  query("q267_srm_check", srmCheck, {
      import graft.functions.Sketches.{HA, HB, P}
      s"""WITH arms AS (SELECT event_type,
                    (($HA * user_id + $HB) % $P) % 2 = 0 AS in_a
               FROM events),
          c AS (SELECT event_type,
                       CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_a,
                       CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT)
                         AS n_b
                FROM arms GROUP BY 1)
          SELECT event_type, n_a, n_b,
                 CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE) AS chi2,
                 CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE) > ${SrmCritical}
                   AS srm_detected
          FROM c"""
    })

  // --- q252: linear-interpolation gap fill -----------------------------------------------
  // q101's calendar densification with the OTHER fill rule: forward
  // fill answers "what was the last known state" (as-of semantics);
  // linear interpolation answers "what was the level mid-gap" — the
  // resampling rule for series where a gap means not-measured, not
  // zero. Each gap day gets prev + (next − prev)·(d−dp)/(dn−dp) from
  // the SURROUNDING observations; leading/trailing gaps stay null
  // (extrapolation is a modeling decision, not a fill). Same daily
  // frame as q101, four running windows, one fixed-shape expression.
  def interpGapFill(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val daily = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    Analytics.gapFillLinear(daily, "segment", "day", "rev_dec")
      .select(col("segment"), col("day"),
        col("rev_dec").cast("double").as("revenue"),
        col("interp_rev_dec").as("interp_revenue"),
        col("is_gap"))
      .orderBy("segment", "day")
  }

  // q252 — the same grid as q101 with IGNORE NULLS windows for the
  // surrounding observations and the single fixed-shape
  // a + (b−a)·t interpolation expression; DATE−DATE is integer days
  // in both engines.
  query("q252_interp_gap_fill", interpGapFill,
      """WITH daily AS (
           SELECT c_mktsegment AS segment, CAST(o_orderdate AS DATE) AS day,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
          span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
          grid AS (
            SELECT s.segment, CAST(g.d AS DATE) AS day
            FROM (SELECT DISTINCT segment FROM daily) s
            CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
                        FROM span) g),
          j AS (SELECT g.segment, g.day, d.rev_dec
                FROM grid g LEFT JOIN daily d USING (segment, day)),
          w AS (SELECT segment, day, rev_dec,
                  last_value(rev_dec IGNORE NULLS) OVER
                    (PARTITION BY segment ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                  last_value(CASE WHEN rev_dec IS NOT NULL THEN day END
                             IGNORE NULLS) OVER
                    (PARTITION BY segment ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
                  last_value(rev_dec IGNORE NULLS) OVER
                    (PARTITION BY segment ORDER BY day DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
                  last_value(CASE WHEN rev_dec IS NOT NULL THEN day END
                             IGNORE NULLS) OVER
                    (PARTITION BY segment ORDER BY day DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nd
                FROM j)
          SELECT segment, day, CAST(rev_dec AS DOUBLE) AS revenue,
                 CASE WHEN rev_dec IS NOT NULL THEN CAST(rev_dec AS DOUBLE)
                      WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        CAST(pv AS DOUBLE) +
                        (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
                        (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
                      ELSE NULL END AS interp_revenue,
                 (rev_dec IS NULL) AS is_gap
          FROM w""")

  // --- q248: event-sequence pattern matching (MATCH_RECOGNIZE-lite) ---------------------
  // The SQL-2016 row-pattern primitive, distributed: each user's event
  // stream becomes an ordered type string (one char per event — the
  // five fixture types have distinct initials), and a regex finds
  // non-overlapping journey runs: `v[vc]*p` = a view, any uninterrupted
  // browse run (views/clicks only — an error or signup breaks it),
  // ending in a purchase. Greedy leftmost non-overlapping semantics are
  // identical in Java regex and RE2 for this backreference-free class.
  // One keyed shuffle builds the per-user string; per-user state is
  // BOUNDED by an enforced cap (VERDICT r15 item 2), not by the
  // sequence-budget argument alone: users with more than
  // JourneyMaxEvents events are quarantined WHOLE before the string
  // build — one 10⁷-event bot would otherwise concentrate a 10 MB
  // string + regex scan in a single task (q92's maxBasketSize failure
  // mode), and a bot's "journeys" are crawler noise, not funnels. The
  // cap rides a window count on the SAME user_id hash-partitioning the
  // sequence agg needs (no extra exchange, counting is streaming — the
  // bot's rows never materialize as an array), it is far above any
  // organic fixture user (max 99 events at sf0.1), and the oracle
  // enforces the SAME rule, so semantics agree at every SF whether or
  // not it binds. The match is map-side. Report: matches, matched
  // length, longest run per user.
  val JourneyRe = "v[vc]*p"
  val JourneyMaxEvents = 8192L

  def patternMatch(spark: SparkSession, dir: String): DataFrame =
    journeyReport(Tables.events(spark, dir)).orderBy("user_id")

  // q248 — the same ordered type string (string_agg ORDER BY ts,
  // event_id ≡ the array_sort struct walk), the same enforced
  // per-user event cap (whole-user quarantine — semantics agree at
  // every SF whether or not it binds) and the same RE2/Java-agreeing
  // greedy non-overlapping extraction.
  query("q248_pattern_match", patternMatch, {
      val lens = "list_transform(ms, x -> CAST(len(x) AS BIGINT))"
      s"""WITH s AS (SELECT user_id,
                 string_agg(substring(event_type, 1, 1), ''
                            ORDER BY ts, event_id) AS s
               FROM events GROUP BY 1
               HAVING COUNT(*) <= ${JourneyMaxEvents}),
          m AS (SELECT user_id,
                       regexp_extract_all(s, '${JourneyRe}') AS ms
                FROM s)
          SELECT user_id, CAST(len(ms) AS BIGINT) AS n_matches,
                 CAST(CASE WHEN len(ms) = 0 THEN 0 ELSE
                   list_reduce($lens, (a, b) -> a + b) END
                   AS BIGINT) AS matched_len,
                 CAST(CASE WHEN len(ms) = 0 THEN 0 ELSE
                   list_reduce($lens, (a, b) -> greatest(a, b)) END
                   AS BIGINT) AS max_run
          FROM m"""
    })

  /** The pattern-match core over any (user_id, ts, event_id, event_type)
    * frame — factored so the spec can drive it with planted sequences
    * (incl. a planted over-cap bot asserting whole-user quarantine).
    */
  private[graft] def journeyReport(events: DataFrame,
                                   maxEvents: Long = JourneyMaxEvents): DataFrame = {
    val lens = "transform(m, x -> cast(length(x) as bigint))"
    events
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("__n") <= maxEvents)
      .drop("__n")
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch")))),
        x => x.getField("ch")), "").as("s"))
      .withColumn("m", expr(s"regexp_extract_all(s, '$JourneyRe', 0)"))
      .select(col("user_id"),
        size(col("m")).cast("long").as("n_matches"),
        expr(s"aggregate($lens, 0L, (a, b) -> a + b)").as("matched_len"),
        coalesce(expr(s"array_max($lens)"), lit(0L)).as("max_run"))
  }

  // --- oracle SQL fragments the specs above share --------------------------

  private[graft] lazy val sessionOverlapSql: String =
      s"""WITH e AS (SELECT user_id, event_id, ts,
                  epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
          s AS (SELECT user_id, ts,
                  CAST(SUM(CASE WHEN gap > ${SessionGapMicros} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
                FROM e),
          sess AS (SELECT user_id, session_seq,
                          MIN(ts) AS session_start, MAX(ts) AS session_end
                   FROM s GROUP BY 1, 2)
          SELECT a.user_id, a.session_seq, a.session_start,
                 COUNT(b.user_id) AS n_overlapping
          FROM sess a LEFT JOIN sess b
            ON epoch_us(a.session_start) <= epoch_us(b.session_end)
           AND epoch_us(b.session_start) <= epoch_us(a.session_end)
           AND b.user_id != a.user_id
          GROUP BY 1, 2, 3"""

  /** Shared entity-resolution CTE chain (q153/q165): dictionary, fuzzy
    * edges (≡ q105 blocking + edit distance), recursive closure, and
    * `lab(name, root_key)` — the per-name component assignment.
    */
  private lazy val entityLabCtes: String = {
    val d = FuzzyMaxDist
    s"""WITH RECURSIVE
        dict AS (SELECT p_name AS name, COUNT(*) AS n_rows,
                        MIN(p_partkey) AS id
                 FROM part GROUP BY 1),
        blk AS (SELECT name,
                       list_extract(string_split(name, ' '), -1) AS blk
                FROM dict),
        pr AS (SELECT a.name AS na, b2.name AS nb
               FROM blk a JOIN blk b2 ON a.blk = b2.blk AND a.name < b2.name
               WHERE levenshtein(a.name, b2.name) <= $d),
        ed AS (SELECT na AS src, nb AS dst FROM pr
               UNION ALL SELECT nb, na FROM pr),
        reach(id, r) AS (
          SELECT name, name FROM dict
          UNION
          SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src),
        lab AS (SELECT reach.id AS name, MIN(d2.id) AS root_key
                FROM reach JOIN dict d2 ON reach.r = d2.name GROUP BY 1)"""
  }

  private[graft] lazy val sessionConcurrencySql: String =
      s"""WITH e AS (SELECT user_id, event_id, ts,
                  epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
          s AS (SELECT user_id, ts,
                  CAST(SUM(CASE WHEN gap > ${SessionGapMicros} THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
                FROM e),
          sess AS (SELECT user_id, session_seq,
                          MIN(ts) AS session_start, MAX(ts) AS session_end
                   FROM s GROUP BY 1, 2)
          SELECT sess.user_id, sess.session_seq, sess.session_start,
                 COUNT(ev.user_id) AS n_concurrent
          FROM sess LEFT JOIN events ev
            ON epoch_us(ev.ts) >= epoch_us(sess.session_start)
           AND epoch_us(ev.ts) <= epoch_us(sess.session_end)
           AND ev.user_id != sess.user_id
          GROUP BY 1, 2, 3"""
}
