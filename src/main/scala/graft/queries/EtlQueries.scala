package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Cols._
import graft.operators._
import OracleSql._

/** Core ETL / warehouse queries: README "Query-surface index", section
  * "Core ETL / warehouse". Each query is declared once, by the `query(...)`
  * call after its implementation, with its DuckDB oracle SQL beside it.
  */
object EtlQueries extends QueryFamily {

  // --- q01: watermark-window incremental extraction ------------------------
  // reference: pipeline/incremental_ingestion.json (lookup → copy window)
  val WmLow  = "2024-01-10 00:00:00"
  val WmHigh = "2024-01-20 00:00:00"

  def incrementalExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsTsUnit(spark, dir) match {
      case Tables.TsMicros =>
        // MICROS files: the window predicate on the native TimestampType
        // column pushes into the scan as GreaterThan/LessThanOrEqual —
        // no long-domain translation needed. Bounds are built from exact
        // UTC epoch micros (timestamp_micros), NOT a string cast, which
        // would parse in the caller's session timezone and move the
        // window under a non-UTC session.
        Incremental.extractWindow(Tables.events(spark, dir), "ts",
          timestamp_micros(lit(Queries.utcMicros(WmLow))),
          timestamp_micros(lit(Queries.utcMicros(WmHigh))))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
      case Tables.TsNanos =>
        Incremental.extractWindowNanos(Tables.eventsRawNanos(spark, dir), "ts",
          Queries.utcMicros(WmLow), Queries.utcMicros(WmHigh))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }

  query("q01_incremental_extract", incrementalExtract,
      s"""SELECT event_id, ts, user_id, event_type, value, props FROM events
          WHERE ts > TIMESTAMP '${WmLow}' AND ts <= TIMESTAMP '${WmHigh}'""")

  // --- q02: dedup by business key, latest by sequence ----------------------
  def dedupLatest(spark: SparkSession, dir: String): DataFrame =
    Dedup.latestByKey(
      Tables.events(spark, dir).select("user_id", "event_type", "event_id", "ts", "value"),
      keys = Seq("user_id", "event_type"), orderCols = Seq("ts", "event_id"))
      .select("user_id", "event_type", "event_id", "ts", "value")

  query("q02_dedup_latest", dedupLatest,
      """SELECT user_id, event_type, event_id, ts, value FROM (
           SELECT user_id, event_type, event_id, ts, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""")

  // --- q03: changelog → SCD2 validity intervals ----------------------------
  def scd2Build(spark: SparkSession, dir: String): DataFrame =
    Scd.scd2FromChangelog(
      Tables.events(spark, dir).select("user_id", "event_id", "event_type", "value", "ts"),
      keys = Seq("user_id"), seqCol = "ts", tieCols = Seq("event_id"))
      .select("user_id", "event_id", "event_type", "value",
        "effective_from", "effective_to", "is_current")

  query("q03_scd2_build", scd2Build,
      """SELECT user_id, event_id, event_type, value,
                ts AS effective_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
                (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
         FROM events""")

  // --- q04: SCD1 latest snapshot per key ------------------------------------
  def scd1Latest(spark: SparkSession, dir: String): DataFrame =
    Scd.scd1Latest(
      Tables.events(spark, dir).select("user_id", "event_id", "event_type", "value", "ts"),
      keys = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      .select("user_id", "event_id", "event_type", "value", "ts")

  query("q04_scd1_latest", scd1Latest,
      """SELECT user_id, event_id, event_type, value, ts FROM (
           SELECT user_id, event_id, event_type, value, ts,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""")

  // --- q05: CASE-bucket enrichment + distribution ---------------------------
  // reference: Silver_Dimensions.py durationFlag buckets
  def bucketEnrich(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.withColumn("qty_bucket",
        Enrich.bucketize(col("l_quantity"), Seq(25.0 -> "low", 40.0 -> "medium"), "high"))
      .groupBy("qty_bucket")
      .agg(count(lit(1)).as("n_items"),
        moneySum(dec2(col("l_quantity"))).as("sum_qty"),
        moneySum(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("qty_bucket")
  }

  query("q05_bucket_enrich", bucketEnrich,
      s"""SELECT CASE WHEN l_quantity < 25 THEN 'low'
                      WHEN l_quantity < 40 THEN 'medium'
                      ELSE 'high' END AS qty_bucket,
                 COUNT(*) AS n_items,
                 $moneyQty AS sum_qty,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue
          FROM lineitem GROUP BY 1""")

  // --- q06: DQ expectations report ------------------------------------------
  // reference: DimUser.py expectations + utils/transformations.py regex UDF
  def dqRules: Seq[Quality.Rule] = Seq(
    Quality.Rule("custkey_not_null", col("c_custkey").isNull),
    Quality.Rule("name_format", !Quality.matchesFormat(col("c_name"), "^Customer#[0-9]{9}$")),
    Quality.Rule("acctbal_non_negative", col("c_acctbal") < lit(0.0)),
    Quality.Rule("nationkey_in_range", !col("c_nationkey").between(0, 24)))

  def dqValidate(spark: SparkSession, dir: String): DataFrame =
    Quality.report(Tables.customer(spark, dir), dqRules).orderBy("rule")

  query("q06_dq_validate", dqValidate,
      """WITH m AS (
           SELECT COUNT(*) FILTER (WHERE c_custkey IS NULL) AS v1,
                  COUNT(*) FILTER (WHERE NOT regexp_matches(c_name, '^Customer#[0-9]{9}$')) AS v2,
                  COUNT(*) FILTER (WHERE c_acctbal < 0.0) AS v3,
                  COUNT(*) FILTER (WHERE c_nationkey NOT BETWEEN 0 AND 24) AS v4,
                  COUNT(*) AS total
           FROM customer)
         SELECT 'custkey_not_null' AS rule, v1 AS violations, total FROM m
         UNION ALL SELECT 'name_format', v2, total FROM m
         UNION ALL SELECT 'acctbal_non_negative', v3, total FROM m
         UNION ALL SELECT 'nationkey_in_range', v4, total FROM m""")

  // --- q07: date dimension generation ---------------------------------------
  def dimDate(spark: SparkSession, dir: String): DataFrame =
    Enrich.dimDateFrom(Tables.orders(spark, dir), "o_orderdate").orderBy("date_key")

  query("q07_dim_date", dimDate,
      """SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_key,
                d AS date,
                CAST(day(d) AS INT) AS day, CAST(month(d) AS INT) AS month,
                CAST(year(d) AS INT) AS year, dayname(d) AS weekday
         FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)""")

  // --- q08: star join revenue by region/nation -------------------------------
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c  = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(moneySum(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .select(col("region"), col("nation"), col("revenue"), col("n_items"))
      .orderBy("region", "nation")
  }

  query("q08_star_revenue", starRevenue,
      s"""SELECT r_name AS region, n_name AS nation,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue,
                 COUNT(*) AS n_items
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          GROUP BY 1, 2""")

  // --- q09: config-driven star composition (Jinja analog) --------------------
  def starCompose(spark: SparkSession, dir: String): DataFrame =
    StarSchema.compose(
      fact = Tables.lineitem(spark, dir),
      factCols = Seq("l_orderkey", "l_linenumber", "l_extendedprice"),
      dims = Seq(
        StarSchema.Dim(Tables.part(spark, dir), Seq("p_name", "p_brand"),
          factKey = "l_partkey", dimKey = "p_partkey"),
        StarSchema.Dim(Tables.supplier(spark, dir), Seq("s_name"),
          factKey = "l_suppkey", dimKey = "s_suppkey", broadcastHint = true)))

  query("q09_star_compose", starCompose,
      """SELECT l_orderkey, l_linenumber, l_extendedprice, p_name, p_brand, s_name
         FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey""")

  // --- q60: LEFT-JOIN star composition (fact rows survive missing dims) ------
  // reference: local_spotify_dab/Jinja/jinja_notebook.py:208-220 — the
  // composer emits LEFT JOINs "to avoid dropping fact rows"; the dim here is
  // deliberately restricted so unmatched orders prove the null-preserving path
  def starLeft(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cSub = Tables.customer(spark, dir).filter(col("c_custkey") % 3 === 0)
    StarSchema.compose(
      fact = o,
      factCols = Seq("o_orderkey", "o_totalprice"),
      dims = Seq(StarSchema.Dim(cSub, Seq("c_mktsegment"),
        factKey = "o_custkey", dimKey = "c_custkey",
        broadcastHint = true, joinType = "left")))
      .groupBy(coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(dec2(col("o_totalprice"))).as("total_price"))
      .orderBy("segment")
  }

  query("q60_star_left", starLeft,
      """SELECT COALESCE(c_mktsegment, 'UNMATCHED') AS segment,
                COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders
         LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
           ON o_custkey = c_custkey
         GROUP BY 1""")

  // --- q10: grouped pricing summary (exact decimal money math) ---------------
  def aggReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= Cols.ntzTs("1998-09-01 00:00:00"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(dec2(col("l_quantity"))).as("sum_qty"),
        moneySum(dec2(col("l_extendedprice"))).as("sum_base_price"),
        moneySum(discounted(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        moneySum(dec2(col("l_extendedprice")) *
          dec4((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))).as("sum_charge"),
        (moneySum(dec2(col("l_quantity"))) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  query("q10_agg_report", aggReport,
      s"""SELECT l_returnflag, l_linestatus,
                 $moneyQty AS sum_qty,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                 CAST(SUM($discTerm) AS DOUBLE) AS sum_disc_price,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST((1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_charge,
                 $moneyQty / COUNT(*) AS avg_qty,
                 COUNT(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          GROUP BY 1, 2""")

  // --- q11: top-N per group via window ranking -------------------------------
  def topNPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("rev_exact"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_brand").orderBy(col("rev_exact").desc, col("p_partkey"))
    rev.join(broadcast(p), rev("l_partkey") === p("p_partkey"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("rev_exact").cast("double").as("revenue"),
        col("rank"))
      .orderBy("p_brand", "rank")
  }

  val topNPerGroupSpec = query("q11_top_n_per_group", topNPerGroup,
      s"""SELECT p_brand, p_partkey, CAST(rev_exact AS DOUBLE) AS revenue, rank FROM (
            SELECT p_brand, p_partkey, rev_exact,
                   CAST(row_number() OVER (PARTITION BY p_brand
                                           ORDER BY rev_exact DESC, p_partkey) AS INT) AS rank
            FROM (SELECT l_partkey, SUM($discTerm) AS rev_exact
                  FROM lineitem GROUP BY 1)
            JOIN part ON l_partkey = p_partkey)
          WHERE rank <= 3""")

  // --- q12: JSON field extraction + aggregation ------------------------------
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", Enrich.jsonLongField(col("props"), "k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  query("q12_json_extract", jsonExtract,
      """SELECT event_type, COUNT(*) AS n_events,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1""")

  // --- q13: ROLLUP multi-level report ----------------------------------------
  def rollupReport(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        moneySum(dec2(col("o_totalprice"))).as("total_price"))
      .orderBy("o_orderstatus", "o_orderpriority")

  query("q13_rollup_report", rollupReport,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")

  // --- q14: incremental aggregate merge (partial-agg combine) ----------------
  val SplitTs = "2024-01-15 00:00:00"

  def aggMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def partial(d: DataFrame) = d.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(dec2(col("value"))).as("total_value"))
    val base    = partial(ev.filter(col("ts") <= utcTs(SplitTs)))
    val updates = partial(ev.filter(col("ts") > utcTs(SplitTs)))
    Incremental.mergeAggregates(Seq(base, updates), Seq("user_id"),
        Seq("n_events", "total_value"))
      .select(col("user_id"), col("n_events"), col("total_value").cast("double").as("total_value"))
      .orderBy("user_id")
  }

  query("q14_agg_merge", aggMerge,
      """SELECT user_id, COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1""")

  // --- q15: SCD2 point-in-time (as-of) snapshot -------------------------------
  val AsOfTs = "2024-01-15 00:00:00"

  def validityAsOf(spark: SparkSession, dir: String): DataFrame =
    Scd.asOfSnapshot(scd2Build(spark, dir), utcTs(AsOfTs))
      .select("user_id", "event_id", "event_type", "value", "effective_from", "effective_to")
      .orderBy("user_id")

  query("q15_validity_asof", validityAsOf,
      s"""SELECT user_id, event_id, event_type, value, effective_from, effective_to FROM (
            SELECT user_id, event_id, event_type, value,
                   ts AS effective_from,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to
            FROM events)
          WHERE effective_from <= TIMESTAMP '${AsOfTs}'
            AND (effective_to IS NULL OR effective_to > TIMESTAMP '${AsOfTs}')""")

  // --- q16: incremental SCD2 merge (batch path of the DLT auto-CDC flow) -----
  // Builds history from the pre-split changelog, then merges the post-split
  // batch; must equal the from-scratch rebuild (which is the oracle).
  def scd2MergeIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_id", "event_type", "value", "ts")
    val h1 = ev.filter(col("ts") <= utcTs(SplitTs))
    val h2 = ev.filter(col("ts") > utcTs(SplitTs))
    Scd.scd2Merge(
      Scd.scd2FromChangelog(h1, Seq("user_id"), "ts", Seq("event_id")),
      h2, Seq("user_id"), "ts", Seq("event_id"))
      .select("user_id", "event_id", "event_type", "value",
        "effective_from", "effective_to", "is_current")
      .orderBy("user_id", "effective_from")
  }

  query("q16_scd2_merge", scd2MergeIncremental,
      // The merge must equal the from-scratch SCD2 rebuild over the full
      // changelog — the oracle IS that rebuild.
      """SELECT user_id, event_id, event_type, value,
                ts AS effective_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
                (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
         FROM events""")

  // --- q17: post-extraction watermark update (ADF max_cdc Script analog) -----
  def nextWatermark(spark: SparkSession, dir: String): DataFrame =
    Incremental.nextWatermark(
      Incremental.extractWindow(Tables.events(spark, dir), "ts",
        utcTs(WmLow), utcTs(WmHigh)),
      "ts")

  query("q17_next_watermark", nextWatermark,
      s"""SELECT MAX(ts) AS watermark FROM events
          WHERE ts > TIMESTAMP '${WmLow}' AND ts <= TIMESTAMP '${WmHigh}'""")

  // --- q18: DQ enforcement — rows passing every expectation ------------------
  // (expect_all_or_drop semantics: a NULL rule verdict keeps the row)
  def dqEnforce(spark: SparkSession, dir: String): DataFrame =
    Quality.enforce(Tables.customer(spark, dir), dqRules)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")

  query("q18_dq_enforce", dqEnforce,
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
         WHERE NOT COALESCE(c_custkey IS NULL, false)
           AND NOT COALESCE(NOT regexp_matches(c_name, '^Customer#[0-9]{9}$'), false)
           AND NOT COALESCE(c_acctbal < 0.0, false)
           AND NOT COALESCE(c_nationkey NOT BETWEEN 0 AND 24, false)""")

  // --- q19: star join through the generated date dimension -------------------
  // The dim is derived from the SAME orders projection as the fact-side
  // date_key: every dim attribute here (year, month) is functional in
  // date_key, so joining a separately-built dim frame would re-scan orders
  // and then broadcast rows the fact side can compute in place. One scan
  // of orders, one of lineitem; the standalone dim builder remains q07.
  def starDateRevenue(spark: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate").cast("date")
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).as("date_key"),
      year(d).as("year"), month(d).as("month"))
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("year", "month")
      .agg(moneySum(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("year", "month")
  }

  query("q19_star_date", starDateRevenue,
      s"""WITH o AS (SELECT o_orderkey,
                 CAST(year(CAST(o_orderdate AS DATE))*10000
                    + month(CAST(o_orderdate AS DATE))*100
                    + day(CAST(o_orderdate AS DATE)) AS INT) AS date_key
           FROM orders),
          dim AS (SELECT CAST(year(d)*10000 + month(d)*100 + day(d) AS INT) AS date_key,
                         CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month
                  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders))
          SELECT year, month,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue,
                 COUNT(*) AS n_items
          FROM lineitem JOIN o ON l_orderkey = o_orderkey
                        JOIN dim USING (date_key)
          GROUP BY 1, 2""")

  // --- q240: signed-delta incremental view maintenance --------------------------------
  // q14 merges INSERT-only partials; this is the full z-set/DBSP change
  // algebra: the delta carries retractions (sign −1) as well as inserts
  // (+1), so late corrections — a GDPR delete, a reversed transaction, a
  // re-stated fact — maintain the view WITHOUT rescanning the base data.
  // The scenario folds two real change kinds at once: every base row
  // with event_id ≡ 0 (mod 7) is retracted and the post-watermark slice
  // is inserted; the maintained view must equal a full recompute over
  // (base ∖ retracted) ∪ inserted — which IS the oracle. Groups whose
  // count reaches zero vanish; a negative count fails fast
  // (Incremental.applySignedDelta). Refresh cost: O(|delta| + touched
  // keys) — at 100 TB the nightly correction feed maintains a view over
  // years of facts with zero fact rescans.
  val IvmDeleteMod = 7L

  def ivmSigned(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val base = ev.filter(col("ts") <= utcTs(SplitTs))
    val view = base.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).as("total_value"))
    val delta = base.filter(pmod(col("event_id"), lit(IvmDeleteMod)) === 0)
      .withColumn("__sign", lit(-1))
      .unionByName(ev.filter(col("ts") > utcTs(SplitTs))
        .withColumn("__sign", lit(1)))
    val dp = Incremental.signedPartial(delta, Seq("user_id"), col("__sign"),
      "n_events", Seq("total_value" -> dec2(col("value"))))
    Incremental.applySignedDelta(view, dp, Seq("user_id"),
        "n_events", Seq("total_value"))
      .select(col("user_id"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("user_id")
  }

  // q240 — the maintained view must equal the full recompute over
  // (base ∖ retracted) ∪ inserted: kept rows are exactly those NOT
  // (pre-watermark AND retraction-tagged).
  query("q240_ivm_signed", ivmSigned, ivmSql)

  // --- q247: signed-delta IVM over a JOIN-aggregate view --------------------------------
  // The case that makes IVM pay at 100 TB: the maintained view is an
  // aggregate over a star JOIN (q08's region/nation revenue), and the
  // refresh joins ONLY THE DELTA against the (broadcast) dimension
  // chain — Δview = agg(Δfact ⋈ dims) folded in with signs. The base
  // fact is never rescanned AND never re-joined; a day's corrections
  // against years of facts cost one delta-sized join plus a keyspace
  // merge. Retractions: every base row with l_linenumber ≡ 0 (mod 5)
  // is retracted (a re-stated shipment feed); inserts: the post-cut
  // slice. Oracle = q08's SQL over the delta-modified fact set.
  val IvmJoinCutTs = "1997-01-01 00:00:00"
  val IvmJoinDeleteMod = 5L

  def ivmJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def joined(fact: DataFrame) = {
      val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
      val n = Tables.nation(spark, dir)
      val r = Tables.region(spark, dir)
      fact.join(o, fact("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name").as("region"), col("n_name").as("nation"),
          discounted(col("l_extendedprice"), col("l_discount")).as("rev"),
          col("__sign"))
    }
    val base = li.filter(col("l_shipdate") < Cols.ntzTs(IvmJoinCutTs))
    val view = joined(base.withColumn("__sign", lit(1)))
      .groupBy("region", "nation")
      .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("revenue"))
    val delta = base
      .filter(pmod(col("l_linenumber"), lit(IvmJoinDeleteMod)) === 0)
      .withColumn("__sign", lit(-1))
      .unionByName(li.filter(col("l_shipdate") >= Cols.ntzTs(IvmJoinCutTs))
        .withColumn("__sign", lit(1)))
    // the refresh path: ONLY the delta flows through the join
    val dp = Incremental.signedPartial(joined(delta),
      Seq("region", "nation"), col("__sign"), "n_items",
      Seq("revenue" -> col("rev")))
    Incremental.applySignedDelta(view, dp, Seq("region", "nation"),
        "n_items", Seq("revenue"))
      .select(col("region"), col("nation"), col("n_items"),
        col("revenue").cast("double").as("revenue"))
      .orderBy("region", "nation")
  }

  // q247 — the maintained join-agg view must equal q08's report over
  // the delta-modified fact set: kept lineitems are NOT (pre-cut AND
  // retraction-tagged).
  query("q247_ivm_join_agg", ivmJoinAgg,
      s"""SELECT r_name AS region, n_name AS nation,
                 COUNT(*) AS n_items,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE l_shipdate >= TIMESTAMP '${IvmJoinCutTs}'
             OR l_linenumber % ${IvmJoinDeleteMod} <> 0
          GROUP BY 1, 2""")

  // --- q249: IVM under a DIMENSION change ------------------------------------------------
  // The other half of join-view maintenance (q247 handles fact deltas):
  // a dimension UPDATE — customers moving nation, the SCD1 overwrite —
  // re-attributes every fact row of the touched keys. Δview =
  // agg(fact ⋈ Δdim_old, sign −1) ∪ agg(fact ⋈ Δdim_new, sign +1): the
  // changed-customer table (tiny) broadcasts into the fact chain twice
  // by SIGN, so the refresh reads facts only through a broadcast-hash
  // restriction on the touched keys (at 100 TB the same shape ships a
  // bloom/runtime filter into the fact scan — the q129/q243 machinery)
  // and the view merge is keyspace-sized. Cells whose count reaches
  // zero vanish; oracle = the star SQL over the UPDATED dimension.
  val DimChangeMod = 50L
  val DimChangeShift = 7

  def ivmDimChange(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    def report(cust: DataFrame) =
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(cust, o("o_custkey") === cust("c_custkey"))
        .join(broadcast(n), cust("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name").as("region"), col("n_name").as("nation"),
          discounted(col("l_extendedprice"), col("l_discount")).as("rev"),
          col("__sign"))
    val view = report(c.withColumn("__sign", lit(1)))
      .groupBy("region", "nation")
      .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("revenue"))
    val changed = c.filter(pmod(col("c_custkey"), lit(DimChangeMod)) === 0)
    val cdelta = changed.withColumn("__sign", lit(-1))
      .unionByName(changed
        .withColumn("c_nationkey",
          pmod(col("c_nationkey") + DimChangeShift, lit(25)))
        .withColumn("__sign", lit(1)))
    val dp = Incremental.signedPartial(report(cdelta),
      Seq("region", "nation"), col("__sign"), "n_items",
      Seq("revenue" -> col("rev")))
    Incremental.applySignedDelta(view, dp, Seq("region", "nation"),
        "n_items", Seq("revenue"))
      .select(col("region"), col("nation"), col("n_items"),
        col("revenue").cast("double").as("revenue"))
      .orderBy("region", "nation")
  }

  // q249 — the maintained view must equal the star report over the
  // UPDATED dimension (moved customers re-attributed to their new
  // nation's row; DuckDB % on positive ints ≡ Spark pmod here).
  query("q249_ivm_dim_change", ivmDimChange,
      s"""SELECT r_name AS region, n_name AS nation,
                 COUNT(*) AS n_items,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN (SELECT c_custkey,
                       CASE WHEN c_custkey % ${DimChangeMod} = 0
                            THEN (c_nationkey + ${DimChangeShift}) % 25
                            ELSE c_nationkey END AS c_nationkey
                FROM customer) c ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2""")

  // --- q245: streaming signed-delta IVM (foreachBatch + bucketed commits) ---------------
  // q240 as a REAL change stream: every event row lands as an insert
  // (+1), and the retracted slice (pre-watermark, event_id ≡ 0 mod 7)
  // ALSO emits a −1 row — one explode over a CASE array, no self-union.
  // The foreachBatch sink (streaming/IvmSink) folds each micro-batch's
  // signed partial into a bucketed Snapshots view; signed addition is
  // NOT idempotent, so the sink commits a batch high-water marker
  // ATOMICALLY with the data (a reserved-key row of the view itself —
  // the Delta txnVersion pattern) and replayed batches rewrite the
  // touched buckets unchanged. Final view ≡ q240 ≡ the full recompute,
  // so the gate shares q240's oracle verbatim.
  def streamedIvm(spark0: SparkSession, dir: String): DataFrame = {
    val spark = Queries.streamSpark(spark0)
    val tmp = Sessions.tempDir("graft_ivms_")
    val retracted = col("ts") <= utcTs(SplitTs) &&
      pmod(col("event_id"), lit(IvmDeleteMod)) === 0
    val signed = Tables.eventsStream(spark, dir)
      .select(col("user_id"), col("value"),
        explode(when(retracted, array(lit(1), lit(-1)))
          .otherwise(array(lit(1)))).as("__sign"))
    val q = signed.writeStream
      .foreachBatch(graft.streaming.IvmSink.signedView(
        s"$tmp/view", "user_id", "__sign", "n_events",
        Seq("total_value" -> dec2(col("value")))) _)
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.streaming.IvmSink.readView(spark, s"$tmp/view", "user_id")
      .select(col("user_id"), col("n_events"),
        col("total_value").cast("double").as("total_value"))
      .orderBy("user_id")
  }

  // q245 — the streaming sink's final view must equal the batch IVM
  // result, which equals the full recompute: one oracle gates both.
  query("q245_stream_ivm", streamedIvm, ivmSql)

  // --- q244: temporal alignment of two SCD2 histories -----------------------------------
  // The temporal-join primitive (the alignment step of every
  // bitemporal/temporal-DB engine): two independently-evolving
  // histories of the same entity — here the even- and odd-event_id
  // changelog slices, which change at DIFFERENT times — are aligned
  // into elementary validity segments on which exactly one version of
  // each side holds, both attributes carried, [greatest(from),
  // least(to)) per overlapping version pair, null effective_to = +∞.
  // One equi-join on the entity key with an overlap residual: per-key
  // fan-out is bounded by history lengths, never a range/cross join.
  def temporalAlign(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
    def history(side: DataFrame, attr: String) =
      Scd.scd2FromChangelog(side, Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("event_type").as(attr),
          col("effective_from"), col("effective_to"))
    val a = history(ev.filter(pmod(col("event_id"), lit(2)) === 0), "a_type")
    val b = history(ev.filter(pmod(col("event_id"), lit(2)) === 1), "b_type")
    Scd.alignHistories(a, b, Seq("user_id"), Seq("a_type"), Seq("b_type"))
      .orderBy("user_id", "valid_from", "a_type", "b_type")
  }

  // q244 — both SCD2 histories as lead-window CTEs (the q03/q16
  // contract), joined on the entity with the null-aware overlap
  // residual; segment bounds via greatest / null-as-infinity least.
  query("q244_temporal_align", temporalAlign, {
      def hist(par: Int, attr: String, f: String, t: String) =
        s"""SELECT user_id, event_type AS $attr, ts AS $f,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS $t
            FROM events WHERE event_id % 2 = $par"""
      s"""WITH a AS (${hist(0, "a_type", "af", "a_to")}),
          b AS (${hist(1, "b_type", "bf", "b_to")})
          SELECT a.user_id, a_type, b_type,
                 greatest(af, bf) AS valid_from,
                 CASE WHEN a_to IS NULL THEN b_to
                      WHEN b_to IS NULL THEN a_to
                      ELSE least(a_to, b_to) END AS valid_to
          FROM a JOIN b ON a.user_id = b.user_id
          WHERE (b_to IS NULL OR af < b_to)
            AND (a_to IS NULL OR bf < a_to)"""
    })

  // --- oracle SQL fragments the specs above share --------------------------

  private lazy val moneyQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"

  /** The maintained-view recompute (shared by q240's batch IVM and
    * q245's streaming sink — final view ≡ full recompute over
    * (base ∖ retracted) ∪ inserted in both).
    */
  private lazy val ivmSql: String =
    s"""SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        WHERE ts > TIMESTAMP '${SplitTs}'
           OR event_id % ${IvmDeleteMod} <> 0
        GROUP BY 1"""
}
