package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** As-of, temporal and range-join queries: README "Query-surface index",
  * sections "As-of / temporal joins" and "Range joins". Each query is
  * declared once, by the `query(...)` call after its implementation, with
  * its DuckDB oracle SQL beside it.
  */
object TemporalQueries extends QueryFamily {

  // --- q40: as-of join — purchase attributed to latest preceding view ---------
  def asOfAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "value", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val views = Dedup.latestByKey(
      ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value"),
      keys = Seq("user_id", "ts"), orderCols = Seq("event_id"))
    AsOf.asOfJoin(purchases, views, Seq("user_id"), "ts",
      Seq("value", "event_id"), "view_")
      .orderBy("event_id")
  }

  val asOfAttributionSpec = query("q40_asof_join", asOfAttribution,
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'purchase'),
          v AS (SELECT user_id, ts, event_id, value FROM (
                  SELECT user_id, ts, event_id, value,
                         row_number() OVER (PARTITION BY user_id, ts
                                            ORDER BY event_id DESC) AS rn
                  FROM events WHERE event_type = 'view') WHERE rn = 1)
          SELECT p.event_id, p.user_id, p.ts, p.value,
                 v.value AS view_value, v.event_id AS view_event_id
          FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""")

  // --- q84: as-of join with an attribution window (tolerance) ------------------
  // q40 with the real-world constraint every attribution system carries: a
  // view older than the window (3 days here) must NOT be credited. Same
  // single-shuffle union+window plan; the tolerance is a post-carry
  // null-out, not a join predicate, so the cost is unchanged.
  val AsOfWindowMicros: Long = 3L * 86400 * 1000000L

  def asOfWindowAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "value", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val views = Dedup.latestByKey(
      ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value"),
      keys = Seq("user_id", "ts"), orderCols = Seq("event_id"))
    AsOf.asOfJoin(purchases, views, Seq("user_id"), "ts",
      Seq("value", "event_id"), "view_",
      toleranceMicros = Some(AsOfWindowMicros))
      .orderBy("event_id")
  }

  val asOfWindowAttributionSpec = query("q84_asof_tolerance", asOfWindowAttribution,
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE event_type = 'purchase'),
          v AS (SELECT user_id, ts, event_id, value FROM (
                  SELECT user_id, ts, event_id, value,
                         row_number() OVER (PARTITION BY user_id, ts
                                            ORDER BY event_id DESC) AS rn
                  FROM events WHERE event_type = 'view') WHERE rn = 1),
          j AS (SELECT p.event_id, p.user_id, p.ts, p.value,
                       v.value AS view_value, v.event_id AS view_event_id,
                       row_number() OVER (PARTITION BY p.event_id
                                          ORDER BY v.ts DESC) AS rn
                FROM p LEFT JOIN v ON p.user_id = v.user_id
                      AND v.ts <= p.ts
                      AND v.ts >= p.ts - INTERVAL 3 DAY)
          SELECT event_id, user_id, ts, value, view_value, view_event_id
          FROM j WHERE rn = 1""")

  // --- q85: forward as-of — time to conversion ---------------------------------
  // For every view, the NEXT purchase by the same user within 7 days and
  // the exact lag — the conversion-latency table funnels are tuned by.
  // The forward direction is the same union+window carry over the
  // reversed time order: still one shuffle on user_id, one per-key sort,
  // never a per-key cross product of views x purchases.
  val ConversionWindowMicros: Long = 7L * 86400 * 1000000L

  /** The q85 view→next-purchase frame, unsorted — shared with q109's
    * latency rollup.
    */
  private def nextConversionFrame(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = Dedup.latestByKey(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id"),
        keys = Seq("user_id", "ts"), orderCols = Seq("event_id"))
      .withColumn("purchase_ts", col("ts"))
    AsOf.asOfJoin(views, purchases, Seq("user_id"), "ts",
      Seq("event_id", "purchase_ts"), "next_",
      toleranceMicros = Some(ConversionWindowMicros), forward = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("next_event_id"),
        (unix_micros(col("next_purchase_ts")) - unix_micros(col("ts")))
          .as("lag_micros"))
  }

  def nextConversion(spark: SparkSession, dir: String): DataFrame =
    nextConversionFrame(spark, dir).orderBy("event_id")

  val nextConversionSpec = query("q85_next_conversion", nextConversion,
      """WITH v AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view'),
          p AS (SELECT user_id, ts, event_id FROM (
                  SELECT user_id, ts, event_id,
                         row_number() OVER (PARTITION BY user_id, ts
                                            ORDER BY event_id DESC) AS rn
                  FROM events WHERE event_type = 'purchase') WHERE rn = 1),
          j AS (SELECT v.event_id, v.user_id, v.ts,
                       p.event_id AS next_event_id,
                       date_diff('microseconds', v.ts, p.ts) AS lag_micros,
                       row_number() OVER (PARTITION BY v.event_id
                                          ORDER BY p.ts ASC) AS rn
                FROM v LEFT JOIN p ON v.user_id = p.user_id
                      AND p.ts >= v.ts
                      AND p.ts <= v.ts + INTERVAL 7 DAY)
          SELECT event_id, user_id, ts, next_event_id, lag_micros
          FROM j WHERE rn = 1""")

  // --- q73: interval×interval overlap join — concurrent sessions --------------
  // For every session, how many OTHER users' sessions overlap it — the
  // interval-overlap generalization of q64. RangeJoin.intervalOverlapJoin
  // claims each overlapping pair exactly once (in the bucket where the
  // intersection starts), so the plan is still a hash-partitioned
  // equi-join with no dedup pass and no nested loop.
  def sessionOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessions(
        Tables.events(spark, dir).select("user_id", "event_id", "ts", "value"),
        "user_id", "ts", Seq("event_id"), "value", AnalyticsQueries.SessionGapMicros)
      .select(col("user_id"), col("session_seq"),
        col("session_start"), col("session_end"))
    val other = sess.select(col("user_id").as("b_user"),
      col("session_start").as("b_start"), col("session_end").as("b_end"))
    val pairs = RangeJoin.intervalOverlapJoin(
      sess, other, "session_start", "session_end", "b_start", "b_end",
      bucketMicros = AnalyticsQueries.SessionGapMicros,
      extraPred = col("b_user") =!= col("user_id"))
    val counts = pairs.groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_overlapping"))
    sess.join(counts, Seq("user_id", "session_seq"), "left")
      .select(col("user_id"), col("session_seq"), col("session_start"),
        coalesce(col("n_overlapping"), lit(0L)).as("n_overlapping"))
      .orderBy("user_id", "session_seq")
  }

  query("q73_session_overlap", sessionOverlap, AnalyticsQueries.sessionOverlapSql)

  // --- q64: range join — concurrent-activity count per session ----------------
  // For every q32 session, count events from OTHER users inside
  // [session_start, session_end]: an interval×point range join. A naive
  // inequality join plans as BroadcastNestedLoop (or cartesian) — fine at
  // 57k sessions, fatal at 100 TB; RangeJoin's bucketed equi-join keeps
  // shuffle volume at |sessions|×(duration/6h + 1) + |events| and meets
  // each qualifying pair in exactly one bucket. Sessions with zero
  // concurrent activity survive via the join-back (left + coalesce 0).
  def sessionConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessions(
        Tables.events(spark, dir).select("user_id", "event_id", "ts", "value"),
        "user_id", "ts", Seq("event_id"), "value", AnalyticsQueries.SessionGapMicros)
      .select(col("user_id"), col("session_seq"),
        col("session_start"), col("session_end"))
    val points = Tables.events(spark, dir)
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val pairs = RangeJoin.intervalPointJoin(
      sess, points, "session_start", "session_end", "e_ts",
      bucketMicros = AnalyticsQueries.SessionGapMicros,
      extraPred = col("e_user") =!= col("user_id"))
    val counts = pairs.groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_concurrent"))
    sess.join(counts, Seq("user_id", "session_seq"), "left")
      .select(col("user_id"), col("session_seq"), col("session_start"),
        coalesce(col("n_concurrent"), lit(0L)).as("n_concurrent"))
      .orderBy("user_id", "session_seq")
  }

  query("q64_session_concurrency", sessionConcurrency, AnalyticsQueries.sessionConcurrencySql)

  // --- q144-q146: the native as-of join exec under the oracle gate ----------------
  // The q40/q84/q85 shapes re-planned through the whole-operator Catalyst
  // extension (plans/AsOfJoinPlan.scala: logical node + strategy +
  // streaming-merge exec) and hash-compared against the SAME oracle rows
  // as their union+window counterparts — identical semantics, a
  // different (narrower) physical plan: each side shuffles once at its
  // own width and the merge keeps O(1) state instead of a window carry
  // over the unioned frame.
  private def asOfNativeSides(spark: SparkSession, dir: String) = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "value", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val views = Dedup.latestByKey(
      ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id", "value"),
      keys = Seq("user_id", "ts"), orderCols = Seq("event_id"))
    (purchases, views)
  }

  def asOfNativeAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, views) = asOfNativeSides(spark, dir)
    AsOfNative.asOfJoin(purchases, views, Seq("user_id"), "ts",
        Seq("value", "event_id"), "view_")
      .orderBy("event_id")
  }

  // the native-exec as-of twins (q144-q146) must match the SAME oracle
  // rows as their union+window counterparts — semantics identical, only
  // the physical plan differs
  query("q144_asof_native", asOfNativeAttribution, asOfAttributionSpec.oracle)

  def asOfNativeTolerance(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, views) = asOfNativeSides(spark, dir)
    AsOfNative.asOfJoin(purchases, views, Seq("user_id"), "ts",
        Seq("value", "event_id"), "view_",
        toleranceMicros = Some(AsOfWindowMicros))
      .orderBy("event_id")
  }

  query("q145_asof_native_tolerance", asOfNativeTolerance, asOfWindowAttributionSpec.oracle)

  def asOfNativeForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = Dedup.latestByKey(
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "event_id"),
        keys = Seq("user_id", "ts"), orderCols = Seq("event_id"))
      .withColumn("purchase_ts", col("ts"))
    AsOfNative.asOfJoin(views, purchases, Seq("user_id"), "ts",
        Seq("event_id", "purchase_ts"), "next_",
        toleranceMicros = Some(ConversionWindowMicros), forward = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("next_event_id"),
        (unix_micros(col("next_purchase_ts")) - unix_micros(col("ts")))
          .as("lag_micros"))
      .orderBy("event_id")
  }

  query("q146_asof_native_forward", asOfNativeForward, nextConversionSpec.oracle)
}
