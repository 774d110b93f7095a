package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Cols._
import graft.operators._
import graft.functions.TextAnalysis
import OracleSql._

/** Runtime machinery queries (storage, layout, skew, SQL surface): README
  * "Query-surface index", section "Runtime machinery". Each query is
  * declared once, by the `query(...)` call after its implementation, with
  * its DuckDB oracle SQL beside it.
  */
object RuntimeQueries extends QueryFamily {

  // --- q129: bloom-filter semi-join reduction --------------------------------------
  // The runtime-filter pattern (operators/BloomJoin.scala): high-value
  // order keys fold into a 2^17-bit bloom bitmap (one bounded O(m)
  // collect), whose membership test is pushed into the lineitem scan
  // ahead of the exact semi-join — at 100 TB the filter kills non-matching
  // rows before they reach the shuffle. Semantics-neutral by construction
  // (the exact join removes false positives), so the oracle is the plain
  // IN-subquery.
  val BloomOrderThreshold = 450000.0
  val BloomBits: Int = 1 << 17

  def bloomSemiRevenue(spark: SparkSession, dir: String): DataFrame = {
    val hi = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > BloomOrderThreshold)
      .select("o_orderkey")
    BloomJoin.reducedSemiJoin(Tables.lineitem(spark, dir), "l_orderkey",
        hi, "o_orderkey", BloomBits)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        moneySum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // The bloom pre-filter is semantics-neutral (exact semi-join removes
  // false positives), so the oracle is the plain IN-subquery the
  // pattern optimizes.
  query("q129_bloom_semi_join", bloomSemiRevenue,
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue
          FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                               WHERE o_totalprice > ${BloomOrderThreshold})
          GROUP BY 1, 2""")

  // --- q130: snapshot diff — CDC delta between two as-of states --------------------
  // The inverse of the SCD merge family (operators/SnapshotDiff.scala):
  // recover the insert/delete/update change set BETWEEN two point-in-time
  // keyed snapshots (here: per-customer order count + revenue over a
  // sliding 90-day window, at two as-of dates). One full-outer shuffle
  // join on the key — the minimal movement for an arbitrary-key diff.
  val SnapT1 = "1998-01-01"
  val SnapT2 = "1998-04-01"
  val SnapWindowDays = 90L

  private def orderWindowSnapshot(spark: SparkSession, dir: String,
                                  asOf: String): DataFrame = {
    val hi = java.time.LocalDate.parse(asOf)
    val lo = hi.minusDays(SnapWindowDays)
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ntzTs(s"$lo 00:00:00") &&
        col("o_orderdate") < ntzTs(s"$asOf 00:00:00"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).as("rev_dec"))
  }

  def snapshotDelta(spark: SparkSession, dir: String): DataFrame =
    SnapshotDiff.diff(
        orderWindowSnapshot(spark, dir, SnapT1),
        orderWindowSnapshot(spark, dir, SnapT2),
        keys = Seq("o_custkey"), compareCols = Seq("n_orders", "rev_dec"))
      .select(col("o_custkey"), col("old_n_orders"), col("new_n_orders"),
        col("old_rev_dec").cast("double").as("old_revenue"),
        col("new_rev_dec").cast("double").as("new_revenue"),
        col("change_type"))
      .orderBy("o_custkey")

  query("q130_snapshot_diff", snapshotDelta, {
      def snap(asOf: String) = {
        val lo = java.time.LocalDate.parse(asOf)
          .minusDays(SnapWindowDays)
        s"""SELECT o_custkey, COUNT(*) AS n,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '$lo 00:00:00'
              AND o_orderdate <  TIMESTAMP '$asOf 00:00:00'
            GROUP BY 1"""
      }
      s"""WITH oldw AS (${snap(SnapT1)}),
              neww AS (${snap(SnapT2)}),
          j AS (
            SELECT COALESCE(oldw.o_custkey, neww.o_custkey) AS o_custkey,
                   oldw.n AS old_n_orders, neww.n AS new_n_orders,
                   CAST(oldw.rev AS DOUBLE) AS old_revenue,
                   CAST(neww.rev AS DOUBLE) AS new_revenue,
                   CASE WHEN oldw.o_custkey IS NULL THEN 'insert'
                        WHEN neww.o_custkey IS NULL THEN 'delete'
                        WHEN oldw.n <> neww.n OR oldw.rev <> neww.rev
                          THEN 'update' END AS change_type
            FROM oldw FULL OUTER JOIN neww ON oldw.o_custkey = neww.o_custkey)
          SELECT * FROM j WHERE change_type IS NOT NULL"""
    })

  // --- q147: Z-order layout manifest ------------------------------------------
  // Orders laid out on (customer, order-day): both dims quantized to an
  // 8-bit grid from exact global bounds, Morton-interleaved (codegen
  // kernel, plans/ZOrderExprs.scala), and published as the per-Z-block
  // zone map. A Z-block is an aligned rectangle of the grid, so min/max
  // are tight on BOTH dimensions at once — the write-side layout that
  // makes either-dimension predicates prune files at 100 TB. One scalar
  // agg (broadcast bounds) + map-side kernel + one hash-agg.
  val ZQBits = 8
  val ZBlockShift = 6

  def zorderManifest(spark: SparkSession, dir: String): DataFrame =
    ZOrder.layoutManifest(
      Tables.orders(spark, dir),
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))),
      ZQBits, ZBlockShift)

  query("q147_zorder_manifest", zorderManifest, zorderManifestSql)

  // --- q149: range-partition planner (sampled sort boundaries) ------------------
  // How a 100 TB global sort/range-write is actually planned: a
  // deterministic ~2% hash-sample is the ONLY thing sorted (Spark's own
  // RangePartitioner samples to the driver for the same reason); k-1
  // boundary values are read off the sorted sample at equidistant
  // positions, broadcast, and every row is assigned its range by a
  // 15-element array probe — the corpus itself is never shuffled. The
  // output is the per-range manifest (row counts + value bounds) whose
  // balance tells you the sort would have been even.
  val RangeK = 16
  val RangeSampleMod = 50L

  def rangePlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"))
    // composite row key pre-reduced mod P before the affine hash (q141's
    // overflow lesson: ANSI mode faults HA·k past int64)
    val rk = pmod(col("l_orderkey") * lit(8L) + col("l_linenumber"),
      lit(Sketches.P))
    val samp = li.filter(pmod(Sketches.keyHash(rk), lit(RangeSampleMod)) === 0)
    // global row_number over the SAMPLE only — O(sample) single-partition
    // sort by construction, the planner's whole point
    val sw = org.apache.spark.sql.expressions.Window
      .orderBy(col("price"), col("l_orderkey"), col("l_linenumber"))
    val ordered = samp.withColumn("rn", row_number().over(sw).cast("long"))
    // greatest(…, 1): a sample smaller than RangeK would make the stride
    // 0 and `rn % step` a DIVIDE_BY_ZERO under ANSI mode (DuckDB returns
    // NULL — the engines would diverge); clamped, a tiny sample just
    // yields fewer/degenerate boundaries instead of failing
    val step = greatest(floor(col("cnt") / lit(RangeK)).cast("long"), lit(1L))
    val bounds = ordered
      .crossJoin(broadcast(samp.agg(count(lit(1)).as("cnt"))))
      .filter(col("rn") % step === 0 &&
        floor(col("rn") / step) <= lit(RangeK - 1))
      .agg(sort_array(collect_list(col("price"))).as("bnds"))
    li.crossJoin(broadcast(bounds))
      .select(col("price"),
        size(filter(col("bnds"), b => b < col("price"))).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("price").as("min_price"), max("price").as("max_price"))
      .orderBy("bucket")
  }

  query("q149_range_plan", rangePlan, {
      import graft.functions.Sketches.{HA, HB, P}
      s"""WITH li AS (SELECT l_orderkey, l_linenumber,
                             l_extendedprice AS price FROM lineitem),
          sa AS (SELECT *, row_number() OVER (ORDER BY price, l_orderkey,
                                              l_linenumber) AS rn
                 FROM li
                 WHERE (($HA * ((l_orderkey * 8 + l_linenumber) % $P) + $HB)
                        % $P) % ${RangeSampleMod} = 0),
          nn AS (SELECT COUNT(*) AS cnt FROM sa),
          bd AS (SELECT price FROM sa, nn
                 WHERE rn % greatest(cnt // ${RangeK}, 1) = 0
                   AND rn // greatest(cnt // ${RangeK}, 1)
                       <= ${RangeK - 1}),
          a AS (SELECT price,
                       (SELECT COUNT(*) FROM bd WHERE bd.price < li.price)
                         AS bucket
                FROM li)
          SELECT bucket, COUNT(*) AS n_rows,
                 MIN(price) AS min_price, MAX(price) AS max_price
          FROM a GROUP BY 1"""
    })

  // --- q159: zone-map pruning simulator -----------------------------------------
  // The read-side payoff of q147's layout, measured: for a fixed probe
  // set of (customer-stripe × day-band) predicates in grid coordinates,
  // count the Z-blocks whose min/max rectangle intersects the probe —
  // the files a scan would READ — and the rows behind them. The
  // manifest is O(blocks); probes are a 6-row broadcast; at 100 TB this
  // is the planner-side pruning estimate that decides whether a layout
  // rewrite pays for itself.
  val PruneProbes: Seq[(Int, Int, Int, Int, Int)] = Seq(
    (1, 17, 17, 0, 255),     // one customer stripe, all days
    (2, 0, 255, 200, 207),   // one-week day band, all customers
    (3, 32, 63, 64, 95),     // mid-grid rectangle
    (4, 0, 127, 0, 255),     // half-space on customer
    (5, 100, 100, 100, 100), // single cell
    (6, 0, 255, 0, 255))     // full scan (control row)

  def pruningSimulator(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val man = ZOrder.layoutManifest(
      Tables.orders(spark, dir), col("o_custkey"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))),
      ZQBits, ZBlockShift)
    val probes = PruneProbes.toDF("probe_id", "xlo", "xhi", "ylo", "yhi")
    val tot = man.agg(count(lit(1)).as("n_blocks_total"),
      sum("n_rows").as("rows_total"))
    probes.join(broadcast(man),
        col("xlo") <= col("max_x") && col("min_x") <= col("xhi") &&
          col("ylo") <= col("max_y") && col("min_y") <= col("yhi"), "left")
      .groupBy("probe_id")
      .agg(count(col("block")).as("n_blocks_read"),
        coalesce(sum("n_rows"), lit(0L)).as("rows_read"))
      .crossJoin(broadcast(tot))
      .select("probe_id", "n_blocks_read", "rows_read",
        "n_blocks_total", "rows_total")
      .orderBy("probe_id")
  }

  query("q159_pruning_simulator", pruningSimulator, {
      val probes = PruneProbes
        .map { case (id, xl, xh, yl, yh) => s"($id, $xl, $xh, $yl, $yh)" }
        .mkString(", ")
      s"""WITH man AS ($zorderManifestSql),
          probes AS (SELECT * FROM (VALUES $probes)
                     AS t(probe_id, xlo, xhi, ylo, yhi)),
          tot AS (SELECT COUNT(*) AS n_blocks_total,
                         CAST(SUM(n_rows) AS BIGINT) AS rows_total FROM man)
          SELECT probe_id, COUNT(man.block) AS n_blocks_read,
                 CAST(COALESCE(SUM(man.n_rows), 0) AS BIGINT) AS rows_read,
                 n_blocks_total, rows_total
          FROM probes
          LEFT JOIN man ON xlo <= max_x AND min_x <= xhi
                       AND ylo <= max_y AND min_y <= yhi, tot
          GROUP BY probe_id, n_blocks_total, rows_total"""
    })

  // --- q163: salted join under the oracle gate ------------------------------------
  // The skew-mitigation operator (Skew.saltedJoin — fact side sharded
  // across 8 salt sub-keys, dim replicated once per salt) producing the
  // SAME aggregate as the plain join: salting redistributes work, never
  // results. The oracle is the unsalted SQL join — which is exactly the
  // operator's correctness contract.
  val JoinSalts = 8

  def saltedJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    // event_id is the per-row-distinguishing salt column: salting on it
    // spreads a hot user's rows uniformly even if that user logged many
    // bit-identical (user, value) pairs — the duplicate-heavy case where
    // a full-row content hash would collapse the clones onto one shard
    val fact = Tables.events(spark, dir)
      .select(col("user_id").as("c_custkey"), dec2(col("value")).as("v"),
        col("event_id"))
    val dim = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    Skew.saltedJoin(fact, dim, "c_custkey", JoinSalts,
        saltCols = Seq("event_id"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("value_sum"))
      .orderBy("c_nationkey")
  }

  query("q163_salted_join", saltedJoinRevenue,
      // the UNSALTED join — salting must never change results
      """SELECT c_nationkey, COUNT(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""")

  // --- q164: bucketed (exchange-free) join under the oracle gate -------------------
  // The co-location story made concrete: both sides written bucketed on
  // the join key (16 buckets, sorted), so the join plans WITHOUT a
  // shuffle on either side — at 100 TB this is the difference between
  // re-shuffling the fact table on every join and reading it joined.
  // Table/path names are run-unique; the oracle is the plain SQL join.
  def bucketedJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    // Run-unique names keep concurrent invocations apart, so each new
    // invocation first drops the PREVIOUS runs' tables — without this the
    // catalog accrues two entries per bench iteration for the session's
    // lifetime (their parquet dirs are reclaimed by the tempDir hook).
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bkt_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    val id = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
    val (tl, tr) = (s"graft_bkt_ord_$id", s"graft_bkt_cust_$id")
    val base = Sessions.tempDir("graft_bkt_")
    Bucketing.saveBucketed(
      Tables.orders(spark, dir).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).as("rev")),
      tl, s"$base/l", "o_custkey", 16)
    Bucketing.saveBucketed(
      Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
      tr, s"$base/r", "o_custkey", 16)
    Bucketing.colocatedJoin(spark, tl, tr, "o_custkey")
      .groupBy("c_nationkey")
      .agg(sum("n_orders").as("n_orders"),
        sum("rev").cast("double").as("revenue"))
      .orderBy("c_nationkey")
  }

  query("q164_bucketed_join", bucketedJoinRevenue,
      // the plain join — bucketing changes the plan, never the answer
      """SELECT c_nationkey, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""")

  // --- q166: CDC apply (MERGE-INTO roundtrip) --------------------------------------
  // The consumer side of q130's change feed: applyDelta folds the diff
  // back onto the T1 snapshot, and the oracle computes the T2 snapshot
  // DIRECTLY — so the gate proves the roundtrip identity
  // applyDelta(old, diff(old, new)) == new, which is the contract every
  // incremental gold table built from CDC rests on.
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val t1 = orderWindowSnapshot(spark, dir, SnapT1)
    val t2 = orderWindowSnapshot(spark, dir, SnapT2)
    val delta = SnapshotDiff.diff(t1, t2,
      keys = Seq("o_custkey"), compareCols = Seq("n_orders", "rev_dec"))
    SnapshotDiff.applyDelta(t1, delta,
        keys = Seq("o_custkey"), compareCols = Seq("n_orders", "rev_dec"))
      .select(col("o_custkey"), col("n_orders"),
        col("rev_dec").cast("double").as("revenue"))
      .orderBy("o_custkey")
  }

  query("q166_cdc_apply", cdcApply, {
      // the T2 snapshot computed DIRECTLY — the roundtrip identity
      // applyDelta(t1, diff(t1, t2)) == t2 is what the gate proves
      val lo = java.time.LocalDate.parse(SnapT2)
        .minusDays(SnapWindowDays)
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
          FROM orders
          WHERE o_orderdate >= TIMESTAMP '$lo 00:00:00'
            AND o_orderdate <  TIMESTAMP '${SnapT2} 00:00:00'
          GROUP BY 1"""
    })

  // --- q173: rescue-reader quarantine under the gate --------------------------------
  // The Autoloader-rescue contract proven against the oracle: JSON lines
  // are written with a deliberate poison pattern (every 7th event's
  // numeric `value` field becomes the string "N/A" — schema-violating),
  // read back through Sources.jsonWithRescue + splitRescued, and the
  // clean/quarantined populations are summarized. The oracle knows the
  // poison rule, so it derives both populations from `events` directly —
  // the reader must neither drop nor mangle a single row.
  def rescueAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Sessions.tempDir("graft_rescue_")
    Tables.events(spark, dir)
      .select(col("event_id"), dec2(col("value")).as("v"))
      .as[(Long, java.math.BigDecimal)]
      .map { case (id, v) =>
        if (id % 7 == 0) s"""{"event_id":$id,"value":"N/A"}"""
        else if (v == null) s"""{"event_id":$id,"value":null}"""
        else s"""{"event_id":$id,"value":${v.toPlainString}}"""
      }
      .write.mode("overwrite").text(s"$tmp/events_json")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))))
    val (clean, rescued) = graft.sources.Sources.splitRescued(
      graft.sources.Sources.jsonWithRescue(spark, s"$tmp/events_json", schema))
    clean.agg(count(lit(1)).as("n_clean"),
        sum(col("value")).cast("double").as("clean_value_sum"))
      .crossJoin(rescued.agg(count(lit(1)).as("n_rescued"),
        countDistinct(col("event_id")).as("rescued_ids")))
      .select("n_clean", "clean_value_sum", "n_rescued", "rescued_ids")
  }

  query("q173_rescue_audit", rescueAudit,
      // the oracle knows the poison rule (every 7th event_id): the
      // rescue reader must neither drop nor mangle a single row
      """WITH c AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v
                    FROM events WHERE event_id % 7 <> 0),
          r AS (SELECT event_id FROM events WHERE event_id % 7 = 0)
          SELECT (SELECT COUNT(*) FROM c) AS n_clean,
                 (SELECT CAST(SUM(v) AS DOUBLE) FROM c) AS clean_value_sum,
                 (SELECT COUNT(*) FROM r) AS n_rescued,
                 (SELECT COUNT(DISTINCT event_id) FROM r) AS rescued_ids""")

  // --- q174: snapshot time travel under the gate ------------------------------------
  // Three successive Snapshots.commit publishes of a growing keyed state
  // table (per-type event counts up to three watermarks), then each
  // version read back via readAt — the commit/manifest/time-travel
  // protocol itself on the DuckDB gate. The oracle recomputes every
  // version's content from the base table with the same watermark
  // literals. retainManifests keeps all three readable.
  val TravelTs: Seq[String] = Seq(
    "2024-01-10 00:00:00", "2024-01-20 00:00:00", "2024-02-01 00:00:00")

  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshots
    val tmp = Sessions.tempDir("graft_travel_")
    val target = s"$tmp/state"
    TravelTs.foreach { hi =>
      Snapshots.commit(
        Tables.events(spark, dir)
          .filter(col("ts") < utcTs(hi))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events")),
        target, retainManifests = 10)
    }
    val vs = Snapshots.versions(spark, target).sorted.takeRight(TravelTs.size)
    vs.zipWithIndex.map { case (v, i) =>
      Snapshots.readAt(spark, target, v)
        .select(lit(i + 1).cast("int").as("version"), col("event_type"),
          col("n_events"))
    }.reduce(_ unionByName _)
      .orderBy("version", "event_type")
  }

  query("q174_time_travel", timeTravel, {
      def ver(i: Int, hi: String) =
        s"""SELECT CAST($i AS INT) AS version, event_type,
                   COUNT(*) AS n_events
            FROM events WHERE ts < TIMESTAMP '$hi' GROUP BY 2"""
      TravelTs.zipWithIndex
        .map { case (hi, i) => ver(i + 1, hi) }
        .mkString("\n UNION ALL \n")
    })

  // --- q175: the medallion pipeline itself, under the gate --------------------------
  // TWO incremental Medallion runs (watermark advanced between them) of
  // an SCD1 gold table over events — extraction slices, DQ enforcement,
  // bucketed gold merges, watermark store — and the FINAL gold content
  // is hash-compared against one declarative latest-per-key query. The
  // gate therefore proves incremental merge ≡ full recompute across a
  // watermark advance, which is the medallion architecture's core
  // correctness claim.
  private def tsFromUtc(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Queries.utcMicros(s) / 1000000L, (Queries.utcMicros(s) % 1000000L) * 1000L))

  def medallionRun(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Medallion
    val tmp = Sessions.tempDir("graft_med_")
    val spec = Medallion.TableSpec("events_gold", Seq("user_id"), "ts",
      tieCols = Seq("event_id"),
      rules = Seq(Quality.Rule("user_id_present", col("user_id").isNull)))
    val src = (_: String) => Tables.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type")
    Medallion.run(spark, Seq(spec), src, tmp, tsFromUtc(EtlQueries.WmLow))
    Medallion.run(spark, Seq(spec), src, tmp, tsFromUtc(EtlQueries.WmHigh))
    graft.sources.Snapshots.read(spark, s"$tmp/gold/events_gold")
      .select("user_id", "ts", "event_id", "event_type")
      .orderBy("user_id")
  }

  query("q175_medallion_run", medallionRun,
      // incremental merge ≡ full recompute: latest valid row per user
      // up to the final watermark
      s"""SELECT user_id, ts, event_id, event_type FROM (
            SELECT user_id, ts, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WHERE user_id IS NOT NULL
              AND ts <= TIMESTAMP '${EtlQueries.WmHigh}')
          WHERE rn = 1""")

  // --- q176: schema evolution across reader generations, under the gate -------------
  // Two landing-file generations (the second adds a column), read with
  // Sources.jsonEvolving + SchemaStore: the first call pins the v1
  // schema, the second admits the new column and null-pads v1 rows.
  // Money rides integer cents in the JSON so no float inference is
  // involved. The oracle derives both generations from `events`.
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Sessions.tempDir("graft_evolve_")
    val landing = s"$tmp/landing"
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), (dec2(col("value")) * 100).cast("long").as("cents"),
        col("event_type"))
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("cents")).as[(Long, Long)]
      .map { case (id, c) => s"""{"event_id":$id,"cents":$c}""" }
      .write.mode("overwrite").text(landing)
    val store = new graft.sources.Sources.SchemaStore(spark, s"$tmp/_schema")
    graft.sources.Sources.jsonEvolving(spark, landing, store).count() // pin v1
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("cents"), col("event_type"))
      .as[(Long, Long, String)]
      .map { case (id, c, t) =>
        s"""{"event_id":$id,"cents":$c,"event_type":"$t"}"""
      }
      .write.mode("append").text(landing)
    graft.sources.Sources.jsonEvolving(spark, landing, store)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_padded"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("cents")).as("cents_sum"))
      .select("n_rows", "n_padded", "n_types", "cents_sum")
  }

  query("q176_schema_evolution", schemaEvolution,
      """WITH ev AS (SELECT event_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                  event_type
           FROM events)
         SELECT COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_padded,
                COUNT(DISTINCT CASE WHEN event_id % 2 = 1
                                    THEN event_type END) AS n_types,
                CAST(SUM(cents) AS BIGINT) AS cents_sum
         FROM ev""")

  // --- q178: hive-partitioned write + partition-pruned read, under the gate ---------
  // Sources.writePartitioned lays events out by UTC day; the read-back
  // carries a day-range predicate that must prune at the DIRECTORY level
  // (PlanSpec pins non-empty PartitionFilters) — the layout/pruning
  // contract that decides scan cost at 100 TB, content-checked against
  // the oracle's unpartitioned filter.
  def partitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Sessions.tempDir("graft_partw_")
    graft.sources.Sources.writePartitioned(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          dec2(col("value")).as("v"), utcDate(col("ts")).as("day")),
      s"$tmp/events_by_day", Seq("day"), saveMode = "overwrite")
    spark.read.parquet(s"$tmp/events_by_day")
      .filter(col("day") >= to_date(lit("2024-01-10")) &&
        col("day") < to_date(lit("2024-01-20")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("v")).cast("double").as("value_sum"))
      .orderBy("day")
  }

  query("q178_partitioned_write", partitionedWrite,
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
                COUNT(DISTINCT user_id) AS n_users,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
           AND CAST(ts AS DATE) <  DATE '2024-01-20'
         GROUP BY 1""")

  // --- q179: the graft_* SQL function surface, under the gate -----------------------
  // GraftFunctions registers the codegen kernels as SQL functions
  // (SparkSessionExtensions path / imperative registration); this query
  // exercises them the way a SQL-first user would — in `spark.sql`
  // text — and the oracle recomputes every kernel in DuckDB SQL
  // (fingerprint fold, NFC+casefold twin, shingle count, first MinHash
  // position, 32-bit SimHash majority word).
  def sqlFunctions(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.install(spark)
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull &&
        size(TextAnalysis.words(col("text"))) >= DedupQueries.JaccardN)
      .createOrReplaceTempView("graft_docs_q179")
    spark.sql(
      s"""SELECT doc_id,
                 graft_fingerprint(text) AS fp,
                 graft_fingerprint(graft_nfc_casefold(text)) AS fp_folded,
                 size(graft_ngrams(split(text, ' '), ${DedupQueries.JaccardN})) AS n_shingles,
                 element_at(graft_minhash(graft_ngrams(split(text, ' '),
                   ${DedupQueries.JaccardN})), 1) AS mh1,
                 graft_simhash(graft_ngrams(split(text, ' '), ${DedupQueries.JaccardN}))
                   AS simhash
          FROM graft_docs_q179""")
      .orderBy("doc_id")
  }

  query("q179_sql_functions", sqlFunctions, {
      import graft.functions.Lsh.{A, B, P, GA, GB, TwoPow32}
      val w32 = sqlArr((0 until 32).map(j => 1L << j))
      s"""WITH d AS (SELECT doc_id, text, $shinglesSql AS sh FROM documents
                     WHERE text IS NOT NULL
                       AND len($ws) >= ${DedupQueries.JaccardN}),
          f AS (SELECT doc_id, text, sh,
                       list_transform(sh, s -> ${fpSql("s")}) AS fps FROM d)
          SELECT doc_id,
                 ${fpSql("text")} AS fp,
                 ${fpSql("nfc_normalize(lower(text))")} AS fp_folded,
                 CAST(len(sh) AS INT) AS n_shingles,
                 list_aggregate(list_transform(fps,
                   v -> (${A.head} * v + ${B.head}) % $P), 'min') AS mh1,
                 list_reduce(list_transform(generate_series(0, 31), j ->
                   CASE WHEN 2 * len(list_filter(
                          list_transform(fps, v -> ($GA * v + $GB) % $TwoPow32),
                          v -> CAST(floor(v / ($w32[j+1])) AS BIGINT) % 2 = 1))
                        >= len(fps)
                        THEN $w32[j+1] ELSE CAST(0 AS BIGINT) END),
                   (a, b) -> a + b) AS simhash
          FROM f"""
    })

  // --- q180: late-arrival audit ------------------------------------------------------
  // The watermark-safety report (Incremental.lateArrivalAudit): how many
  // rows of a feed land AT OR BELOW an already-consumed watermark — the
  // number that decides whether a CDC consumer needs reprocessing.
  def lateArrivals(spark: SparkSession, dir: String): DataFrame =
    Incremental.lateArrivalAudit(
      Tables.events(spark, dir)
        .filter(col("event_type") === "purchase").select("ts"),
      "ts", utcTs(EtlQueries.WmHigh))

  query("q180_late_arrivals", lateArrivals,
      s"""SELECT COUNT(*) AS n_late, MIN(ts) AS earliest_late,
                 MAX(ts) AS latest_late
          FROM events
          WHERE event_type = 'purchase'
            AND ts <= TIMESTAMP '${EtlQueries.WmHigh}'""")

  // --- q181: DQ quarantine report -----------------------------------------------------
  // Quality.split's quarantine side (rows + the failed_rules array that
  // names every violated rule) summarized per violation signature — the
  // DLT quarantine-table pattern. Rule order is part of the contract:
  // failed_rules preserves declaration order, reproduced by the oracle.
  def quarantineReport(spark: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      Quality.Rule("value_cap", col("value") >= 450.0),
      Quality.Rule("user_mod97", pmod(col("user_id"), lit(97L)) === 0))
    val (_, quarantined) = Quality.split(
      Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "value"), rules)
    quarantined
      .groupBy(array_join(col("failed_rules"), ",").as("violations"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec2(col("value"))).cast("double").as("value_sum"))
      .orderBy("violations")
  }

  query("q181_quarantine_report", quarantineReport,
      // rule DECLARATION order is the contract: value_cap then user_mod97
      """WITH q AS (
           SELECT event_id, value,
                  array_to_string(list_filter(
                    [CASE WHEN value >= 450.0 THEN 'value_cap' END,
                     CASE WHEN user_id % 97 = 0 THEN 'user_mod97' END],
                    x -> x IS NOT NULL), ',') AS violations
           FROM events)
         SELECT violations, COUNT(*) AS n_rows,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM q WHERE violations <> '' GROUP BY 1""")

  // --- q182: config-rendered star SQL, executed ---------------------------------------
  // StarSchema.renderSql turns the star CONFIG into ANSI SQL text (the
  // reference's Jinja notebook renders its config the same way); here
  // the rendered text itself runs through spark.sql and the aggregate
  // over it is hash-compared — the generator, not just the DataFrame
  // composer, is correctness-gated.
  def renderedStar(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("li_q182")
    Tables.orders(spark, dir).createOrReplaceTempView("ord_q182")
    val sqlText = StarSchema.renderSql(
      "li_q182", Seq("l_extendedprice", "l_discount"),
      Seq(StarSchema.DimRef("ord_q182", Seq("o_orderpriority"),
        "l_orderkey", "o_orderkey")),
      where = Some("l_discount >= 0.05"))
    spark.sql(sqlText)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(Cols.dec2(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  query("q182_rendered_star", renderedStar,
      """SELECT o_orderpriority, COUNT(*) AS n_items,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_discount >= 0.05
         GROUP BY 1""")

  // --- q183: bitmap-index membership intersection ------------------------------------
  // The OLAP bitmap-join: per (event_type, 32-user word) — 32 user bits
  // carried inside an int64 word, see the shift note below — a bitmap
  // built with ONE bit_or hash-agg (idempotent — no distinct pass
  // needed), then audience overlap between every type pair is a
  // word-aligned AND + popcount, never a row-level join on users. At
  // 100 TB the per-type bitmap is |user-domain|/32 words — membership
  // set operations collapse to bitwise aggregates over co-partitioned
  // words, the reason low-cardinality dimensions get bitmap indexes.
  def bitmapOverlap(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.events(spark, dir)
      .select(col("event_type"), expr("user_id div 32").as("w"),
        // 32-bit words inside int64: bit 63 would overflow DuckDB's
        // checked << (and flip the sign), 32 bits keep both engines exact
        expr("shiftleft(1L, cast(pmod(user_id, 32) as int))").as("m"))
      .groupBy("event_type", "w")
      .agg(expr("bit_or(m)").as("bits"))
    val totals = words.groupBy("event_type")
      .agg(sum(expr("bit_count(bits)")).as("n_users"))
    val a = words.alias("a")
    val b = words.alias("b")
    a.join(b, col("a.w") === col("b.w") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(sum(expr("bit_count(a.bits & b.bits)")).as("n_both"))
      .join(broadcast(totals.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), "type_a")
      .join(broadcast(totals.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (col("n_both").cast("double") / (col("n_a") + col("n_b") - col("n_both")))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  query("q183_bitmap_overlap", bitmapOverlap,
      """WITH wd AS (SELECT event_type, user_id // 32 AS w,
                            bit_or(CAST(1 AS BIGINT)
                                   << CAST(user_id % 32 AS INT)) AS bits
                     FROM events GROUP BY 1, 2),
          tot AS (SELECT event_type,
                         CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users
                  FROM wd GROUP BY 1),
          p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                       CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT)
                         AS n_both
                FROM wd a JOIN wd b
                  ON a.w = b.w AND a.event_type < b.event_type
                GROUP BY 1, 2)
          SELECT type_a, type_b, ta.n_users AS n_a, tb.n_users AS n_b,
                 n_both,
                 CAST(n_both AS DOUBLE) / (ta.n_users + tb.n_users - n_both)
                   AS jaccard
          FROM p JOIN tot ta ON ta.event_type = p.type_a
                 JOIN tot tb ON tb.event_type = p.type_b""")

  // --- q214: round-12 kernels through the SQL-text surface --------------------------
  // q179 gates the round-11 kernel set as `spark.sql` text; this is the
  // same gate for the two kernels that landed after it: the native
  // TOP-K aggregate (`graft_topk`, plans/TopKAgg) and the
  // Damerau–Levenshtein codegen kernel (`graft_dleven`,
  // plans/EditDistance). Per brand: top-3 parts by total quantity via
  // the heap aggregate (quantity carried as exact centi-units — the
  // DECIMAL(18,2)×100 product is integral for EVERY input, so the
  // BIGINT cast is round-vs-truncate-proof), plus the brand label's DL
  // distance to the family prototype string. The oracle recomputes the
  // top-k as the window form (the q197 twin contract: same rows,
  // different physical plan) and the distance via DuckDB's native
  // `damerau_levenshtein` (same unrestricted Lowrance–Wagner semantics,
  // probed in plans/EditDistance.scala).
  def sqlKernels(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.install(spark)
    Tables.lineitem(spark, dir).createOrReplaceTempView("li_q214")
    Tables.part(spark, dir).createOrReplaceTempView("part_q214")
    spark.sql(
      """WITH qty AS (SELECT l_partkey AS pk,
                             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100)
                               AS BIGINT) AS q
                      FROM li_q214 GROUP BY l_partkey),
          top AS (SELECT p.p_brand AS brand, graft_topk(q.q, q.pk, 3) AS tk
                  FROM qty q JOIN part_q214 p ON p.p_partkey = q.pk
                  GROUP BY p.p_brand)
          SELECT brand,
                 CAST(pos + 1 AS INT) AS rank,
                 e.key AS partkey,
                 e.value AS qty_centi,
                 graft_dleven(brand, 'Brand#55') AS dl_proto
          FROM top LATERAL VIEW posexplode(tk) x AS pos, e
          ORDER BY brand, rank""")
  }

  query("q214_sql_kernels", sqlKernels,
      // window form of the heap top-k (the q197 twin contract) + native
      // damerau_levenshtein (same unrestricted semantics as graft_dleven)
      """WITH qty AS (SELECT l_partkey AS pk,
                             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100)
                               AS BIGINT) AS q
                      FROM lineitem GROUP BY 1),
          r AS (SELECT p.p_brand AS brand, q.pk, q.q,
                       row_number() OVER (PARTITION BY p.p_brand
                                          ORDER BY q.q DESC, q.pk) AS rk
                FROM qty q JOIN part p ON p.p_partkey = q.pk)
          SELECT brand, CAST(rk AS INT) AS rank,
                 CAST(pk AS BIGINT) AS partkey,
                 q AS qty_centi,
                 CAST(damerau_levenshtein(brand, 'Brand#55') AS INT)
                   AS dl_proto
          FROM r WHERE rk <= 3""")

  // --- q217: bitemporal composition (knowledge time × valid time) -------------------
  // The classic audit query: "what did we believe on knowledge day X
  // about validity at day Y". Both axes already exist separately —
  // Snapshots versions are the KNOWLEDGE axis (q174), SCD2 validity
  // intervals the VALID axis (q03/q15); this composes them: the SCD2
  // history is rebuilt from the changelog as known at each of three
  // successive knowledge watermarks and COMMITTED (three snapshot
  // versions), then every version is read back via time travel and
  // as-of-filtered at ONE fixed valid time. Belief genuinely moves
  // between versions: a later-known event at ts > V re-CLOSES the
  // interval that covers V (effective_to changes), and users whose
  // first event lands between watermarks appear. The oracle recomputes
  // each version's belief from the base table with the same watermark
  // literals — both time axes from first principles.
  val BtValidTs = "2024-01-15 00:00:00"

  def bitemporal(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshots
    val target = s"${Sessions.tempDir("graft_bitemporal_")}/scd2"
    TravelTs.foreach { k =>
      Snapshots.commit(
        Scd.scd2FromChangelog(
          Tables.events(spark, dir)
            .filter(col("ts") < utcTs(k))
            .select("user_id", "event_id", "event_type", "value", "ts"),
          keys = Seq("user_id"), seqCol = "ts", tieCols = Seq("event_id"))
          .select("user_id", "event_id", "event_type", "value",
            "effective_from", "effective_to"),
        target, retainManifests = 10)
    }
    val vs = Snapshots.versions(spark, target).sorted.takeRight(TravelTs.size)
    vs.zipWithIndex.map { case (v, i) =>
      Scd.asOfSnapshot(Snapshots.readAt(spark, target, v), utcTs(BtValidTs))
        .select(lit(i + 1).cast("int").as("knowledge_version"),
          col("user_id"), col("event_id"), col("event_type"), col("value"),
          col("effective_from"), col("effective_to"))
    }.reduce(_ unionByName _)
      .orderBy("knowledge_version", "user_id")
  }

  query("q217_bitemporal", bitemporal, {
      val v = BtValidTs
      // each knowledge version's belief recomputed from the base table
      // with the same watermark literal, then as-of-filtered at V
      TravelTs.zipWithIndex.map { case (k, i) =>
        s"""SELECT CAST(${i + 1} AS INT) AS knowledge_version,
                   user_id, event_id, event_type, value,
                   effective_from, effective_to
            FROM (SELECT user_id, event_id, event_type, value,
                         ts AS effective_from,
                         lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS effective_to
                  FROM events WHERE ts < TIMESTAMP '$k')
            WHERE effective_from <= TIMESTAMP '$v'
              AND (effective_to IS NULL OR effective_to > TIMESTAMP '$v')"""
      }.mkString("\nUNION ALL\n")
    })

  // --- q221: Hilbert-curve layout manifest --------------------------------------------
  // q147's zone-map planner on the HILBERT curve (the locality upgrade
  // over Morton — see plans/HilbertExprs): same exact-integer
  // quantization from broadcast global bounds, the xy2d bit walk as a
  // codegen kernel, one hash-agg to the per-block zone map. The oracle
  // unrolls the same qBits reflect/transpose rounds as CTEs, so the
  // kernel's integer walk is reproduced round-for-round in SQL.
  def hilbertManifest(spark: SparkSession, dir: String): DataFrame =
    ZOrder.hilbertLayoutManifest(
      Tables.orders(spark, dir),
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01"))),
      ZQBits, ZBlockShift)

  query("q221_hilbert_manifest", hilbertManifest, hilbertManifestSql)

  // --- q227: Hilbert vs Morton pruning comparison --------------------------------------
  // The question q221 exists to answer, measured: for q159's probe set,
  // how many blocks (files) and rows must a scan touch under each
  // curve's layout? Hilbert's unit-step locality makes every block a
  // compact region, so its per-block min/max rectangles are uniformly
  // tight where some Z-blocks straddle a bit-boundary jump — the
  // comparison row per probe is the planner-side evidence for choosing
  // the layout rewrite. Both manifests are O(blocks); probes are a
  // 6-row broadcast; the oracle rebuilds both curves' manifests in SQL.
  def hilbertPruningCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = col("o_custkey")
    val y = datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
    val orders = Tables.orders(spark, dir)
    val mz = ZOrder.layoutManifest(orders, x, y, ZQBits, ZBlockShift)
    val mh = ZOrder.hilbertLayoutManifest(orders, x, y, ZQBits, ZBlockShift)
    probePanel(PruneProbes.toDF("probe_id", "xlo", "xhi", "ylo", "yhi"),
      Seq("x", "y"), mz -> "z", mh -> "h")
  }

  /** The probe-panel comparison shared by q227, q238 and q278: per
    * probe box, the blocks and rows a scan must touch under each of two
    * zone maps (`blocks_<tag>`, `rows_<tag>`). A box touches a block
    * when their ranges overlap on every axis `a` — `<a>lo`/`<a>hi` on
    * the probe, `min_<a>`/`max_<a>` on the block. Probes are a tiny
    * broadcast; both manifests are O(blocks).
    */
  private def probePanel(probes: DataFrame, axes: Seq[String],
                         a: (DataFrame, String),
                         b: (DataFrame, String)): DataFrame = {
    val overlap = axes.flatMap(x => Seq(col(s"${x}lo") <= col(s"max_$x"),
      col(s"min_$x") <= col(s"${x}hi"))).reduce(_ && _)
    def touched(man: (DataFrame, String)) =
      probes.join(broadcast(man._1), overlap, "left")
        .groupBy("probe_id")
        .agg(count(col("block")).as(s"blocks_${man._2}"),
          coalesce(sum("n_rows"), lit(0L)).as(s"rows_${man._2}"))
    touched(a).join(touched(b), Seq("probe_id")).orderBy("probe_id")
  }

  /** The oracle twin of one `probePanel` side (q227, q278). */
  private def touchedSql(man: String, tag: String, axes: Seq[String]): String = {
    val overlap = axes.map(x => s"${x}lo <= max_$x AND min_$x <= ${x}hi")
      .mkString("              ON ", "\n             AND ", "")
    s"""SELECT probe_id, CAST(COUNT(block) AS BIGINT) AS blocks_$tag,
                   CAST(COALESCE(SUM(n_rows), 0) AS BIGINT) AS rows_$tag
            FROM probes LEFT JOIN $man
$overlap
            GROUP BY 1"""
  }

  query("q227_hilbert_vs_morton", hilbertPruningCompare, {
      val probes = PruneProbes
        .map { case (i, xl, xh, yl, yh) => s"($i, $xl, $xh, $yl, $yh)" }
        .mkString(",\n              ")
      s"""WITH mz AS ($zorderManifestSql),
          mh AS ($hilbertManifestSql),
          probes(probe_id, xlo, xhi, ylo, yhi) AS (VALUES
              $probes),
          tz AS (${touchedSql("mz", "z", Seq("x", "y"))}),
          th AS (${touchedSql("mh", "h", Seq("x", "y"))})
          SELECT probe_id, blocks_z, rows_z, blocks_h, rows_h
          FROM tz JOIN th USING (probe_id)"""
    })

  // --- q277/q278: three-dimensional layout curves (VERDICT r16 item 6) -----------------
  // The 2-D kernels interleave exactly two axes; real lakehouse OPTIMIZE
  // Z-orders 3–4 columns (part × supplier × ship-day is the classic
  // trio). q277 is the 3-D Morton zone map over lineitem — the d-dim
  // interleave is a plain bit loop (ZOrderExprs.mortonN, codegen'd);
  // q278 scores it against the 3-D Hilbert curve (Skilling transpose
  // walk, HilbertExprs.hilbertN) on a fixed probe-box panel, extending
  // the q227 comparison to d=3. qBits=6 per axis keeps the index at 18
  // bits; the same exact-integer quantization as the 2-D family makes
  // both engines' grids bit-identical.

  val Z3QBits = 6
  val Z3BlockShift = 6

  /** 3-D probe boxes in quantized grid coordinates (0..63 per axis):
    * single-dim stripes/planes/bands, a mid cube, a point, and the
    * full-scan control row.
    */
  val PruneProbes3: Seq[(Int, Int, Int, Int, Int, Int, Int)] = Seq(
    (1, 10, 10, 0, 63, 0, 63),   // one part stripe, everything else
    (2, 0, 63, 6, 6, 0, 63),     // one supplier plane
    (3, 0, 63, 0, 63, 20, 27),   // 8-bucket ship-day band
    (4, 16, 31, 16, 31, 16, 31), // mid-grid cube
    (5, 33, 33, 33, 33, 33, 33), // single cell
    (6, 0, 63, 0, 63, 0, 63))    // full scan (control row)

  private def lineitem3Dims(spark: SparkSession, dir: String) = {
    val li = Tables.lineitem(spark, dir)
    (li, col("l_partkey"), col("l_suppkey"),
      datediff(col("l_shipdate").cast("date"), to_date(lit("1970-01-01"))))
  }

  def zorder3Manifest(spark: SparkSession, dir: String): DataFrame = {
    val (li, x, y, z) = lineitem3Dims(spark, dir)
    ZOrder.layoutManifest3(li, x, y, z, Z3QBits, Z3BlockShift)
  }

  // 3-D layout curves: the Morton zone map and the Hilbert-vs-Morton
  // probe-panel comparison (q227's shape at d=3)
  query("q277_zorder3_manifest", zorder3Manifest, zorder3ManifestSql)

  def hilbert3PruningCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (li, x, y, z) = lineitem3Dims(spark, dir)
    val mz = ZOrder.layoutManifest3(li, x, y, z, Z3QBits, Z3BlockShift)
    val mh = ZOrder.hilbertManifest3(li, x, y, z, Z3QBits, Z3BlockShift)
    probePanel(
      PruneProbes3.toDF("probe_id", "xlo", "xhi", "ylo", "yhi", "zlo", "zhi"),
      Seq("x", "y", "z"), mz -> "z", mh -> "h")
  }

  query("q278_hilbert3_vs_morton3", hilbert3PruningCompare, {
      val probes = PruneProbes3
        .map { case (i, xl, xh, yl, yh, zl, zh) =>
          s"($i, $xl, $xh, $yl, $yh, $zl, $zh)" }
        .mkString(",\n              ")
      s"""WITH mz3 AS ($zorder3ManifestSql),
          mh3 AS ($hilbert3ManifestSql),
          probes(probe_id, xlo, xhi, ylo, yhi, zlo, zhi) AS (VALUES
              $probes),
          tz AS (${touchedSql("mz3", "z", Seq("x", "y", "z"))}),
          th AS (${touchedSql("mh3", "h", Seq("x", "y", "z"))})
          SELECT probe_id, blocks_z, rows_z, blocks_h, rows_h
          FROM tz JOIN th USING (probe_id)"""
    })

  // --- q238: two-level layout (time ranges → Hilbert within) vs the flat curve --------
  // The partition-evolution shape (VERDICT r14 item 10): range-plan the
  // OUTER dimension (order day) into 2^ObBits ingestion-aligned ranges
  // FIRST, Hilbert-cluster WITHIN each range on per-range bounds — vs
  // q230's flat global curve. Both zone maps carry RAW-coordinate
  // min/max (parquet-footer semantics — the comparable unit when the
  // grids differ), and the same raw rectangle probes score blocks/rows
  // a scan must touch under each layout (the q227 evidence pattern).
  // Beyond pruning, the two-level layout is what survives INGESTION:
  // a new day extends the top range or opens a new one, while the flat
  // global curve re-quantizes every historical block the moment the
  // y-bounds move.
  val ObBits = 3
  val TwoLevelProbes: Seq[(Int, Long, Long, Long, Long)] = Seq(
    (1, 0L, 119L, 9496L, 9861L),        // low-key band × one year
    (2, 0L, 10000000L, 9496L, 9526L),   // all keys × one month (time band)
    (3, 0L, 299L, 0L, 20000L),          // key band × all time
    (4, 400L, 520L, 9131L, 9252L),      // small box in 1995
    (5, 0L, 10000000L, 10300L, 20000L)) // the newest era only

  def hilbertTwoLevelCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = col("o_custkey")
    val y = datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
    val orders = Tables.orders(spark, dir)
    val flat = ZOrder.rawHilbertManifest(orders, x, y, ZQBits, ZBlockShift)
    val two = ZOrder.twoLevelHilbertManifest(orders, x, y, ObBits, ZQBits,
      ZBlockShift)
    probePanel(TwoLevelProbes.toDF("probe_id", "xlo", "xhi", "ylo", "yhi"),
      Seq("x", "y"), flat -> "flat", two -> "two")
  }

  // q238 — both zone maps rebuilt in SQL: the flat walk on global
  // bounds and the per-range walk on per-range bounds (the SAME
  // reusable CTE chain, different grids), raw-coordinate bounds, the
  // probe intersection counts joined per probe. SUMs are cast back
  // from HUGEINT.
  query("q238_hilbert_two_level", hilbertTwoLevelCompare, {
      val q = 1L << ZQBits
      val blk = 1L << ZBlockShift
      val onb = 1L << ObBits
      val last = ZQBits
      val probeRows = TwoLevelProbes.map { case (i, xlo, xhi, ylo, yhi) =>
        s"($i, CAST($xlo AS BIGINT), CAST($xhi AS BIGINT), CAST($ylo AS BIGINT), CAST($yhi AS BIGINT))"
      }.mkString(", ")
      s"""WITH b AS (SELECT o_custkey AS rx,
                date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS ry
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
          s AS (SELECT MIN(rx) AS minx, MAX(rx) AS maxx,
                       MIN(ry) AS miny, MAX(ry) AS maxy FROM b),
          h0 AS (SELECT rx, ry, bx, by, bx AS x, by AS y,
                        CAST(0 AS BIGINT) AS d FROM
                  (SELECT rx, ry,
                          ((rx - minx) * $q) // (maxx - minx + 1) AS bx,
                          ((ry - miny) * $q) // (maxy - miny + 1) AS by
                   FROM b, s)),
          ${hilbertWalkCtes("h", "rx, ry,")},
          mflat AS (SELECT d // $blk AS block, COUNT(*) AS n_rows,
                           MIN(rx) AS min_x, MAX(rx) AS max_x,
                           MIN(ry) AS min_y, MAX(ry) AS max_y
                    FROM h$last GROUP BY 1),
          gs AS (SELECT MIN(ry) AS gminy, MAX(ry) AS gmaxy FROM b),
          ob0 AS (SELECT rx, ry,
                         ((ry - gminy) * $onb) // (gmaxy - gminy + 1) AS ob
                  FROM b, gs),
          pb AS (SELECT ob, MIN(rx) AS pminx, MAX(rx) AS pmaxx,
                        MIN(ry) AS pminy, MAX(ry) AS pmaxy
                 FROM ob0 GROUP BY 1),
          t0 AS (SELECT ob, rx, ry, bx, by, bx AS x, by AS y,
                        CAST(0 AS BIGINT) AS d FROM
                  (SELECT ob0.ob, rx, ry,
                          ((rx - pminx) * $q) // (pmaxx - pminx + 1) AS bx,
                          ((ry - pminy) * $q) // (pmaxy - pminy + 1) AS by
                   FROM ob0 JOIN pb USING (ob))),
          ${hilbertWalkCtes("t", "ob, rx, ry,")},
          mtwo AS (SELECT ob, d // $blk AS block, COUNT(*) AS n_rows,
                          MIN(rx) AS min_x, MAX(rx) AS max_x,
                          MIN(ry) AS min_y, MAX(ry) AS max_y
                   FROM t$last GROUP BY 1, 2),
          probes(probe_id, xlo, xhi, ylo, yhi) AS
            (SELECT * FROM (VALUES $probeRows)),
          tf AS (SELECT probe_id, COUNT(m.block) AS blocks_flat,
                        CAST(COALESCE(SUM(m.n_rows), 0) AS BIGINT) AS rows_flat
                 FROM probes p LEFT JOIN mflat m
                   ON p.xlo <= m.max_x AND m.min_x <= p.xhi
                  AND p.ylo <= m.max_y AND m.min_y <= p.yhi
                 GROUP BY 1),
          tt AS (SELECT probe_id, COUNT(m.block) AS blocks_two,
                        CAST(COALESCE(SUM(m.n_rows), 0) AS BIGINT) AS rows_two
                 FROM probes p LEFT JOIN mtwo m
                   ON p.xlo <= m.max_x AND m.min_x <= p.xhi
                  AND p.ylo <= m.max_y AND m.min_y <= p.yhi
                 GROUP BY 1)
          SELECT probe_id, blocks_flat, rows_flat, blocks_two, rows_two
          FROM tf JOIN tt USING (probe_id)"""
    })

  // --- q229: bitemporal belief-revision report -----------------------------------------
  // The correction audit on top of q217: between consecutive KNOWLEDGE
  // versions, how did our belief about validity at day V change? A
  // later watermark can ADD users first seen between the watermarks,
  // REPLACE the covering row (a newly-known event with ts ≤ V becomes
  // the new last-event-before-V), or REVISE it (same covering event,
  // effective_to re-closed by a newly-known later event). Per
  // consecutive version pair: n_added / n_replaced / n_revised /
  // n_unchanged — the summary a data steward reads before trusting a
  // backfilled report.
  // Both belief sets recomputed per watermark literal (the q217
  // machinery without the snapshot store: the diff is about the TIME
  // AXES, and the store's fidelity is already gated by q174/q217).
  def beliefRevisions(spark: SparkSession, dir: String): DataFrame = {
    def beliefAt(k: String): DataFrame =
      Scd.asOfSnapshot(
        Scd.scd2FromChangelog(
          Tables.events(spark, dir)
            .filter(col("ts") < utcTs(k))
            .select("user_id", "event_id", "event_type", "value", "ts"),
          keys = Seq("user_id"), seqCol = "ts", tieCols = Seq("event_id")),
        utcTs(BtValidTs))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("effective_to")).as("eto"))
    TravelTs.sliding(2).zipWithIndex.map { case (Seq(k1, k2), i) =>
      val b1 = beliefAt(k1).select(col("user_id"), col("event_id").as("e1"),
        col("eto").as("t1"))
      val b2 = beliefAt(k2).select(col("user_id"), col("event_id").as("e2"),
        col("eto").as("t2"))
      b2.join(b1, Seq("user_id"), "left")
        .agg(lit(i + 1).cast("int").as("transition"),
          sum(when(col("e1").isNull, 1L).otherwise(0L)).as("n_added"),
          sum(when(col("e1").isNotNull && col("e1") =!= col("e2"), 1L)
            .otherwise(0L)).as("n_replaced"),
          sum(when(col("e1") === col("e2") &&
            !(col("t1") <=> col("t2")), 1L).otherwise(0L)).as("n_revised"),
          sum(when(col("e1") === col("e2") &&
            (col("t1") <=> col("t2")), 1L).otherwise(0L)).as("n_unchanged"))
    }.reduce(_ unionByName _)
      .orderBy("transition")
  }

  query("q229_belief_revisions", beliefRevisions, {
      val v = BtValidTs
      def belief(k: String, alias: String) =
        s"""$alias AS (
            SELECT user_id, event_id, epoch_us(effective_to) AS eto
            FROM (SELECT user_id, event_id, ts AS effective_from,
                         lead(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS effective_to
                  FROM events WHERE ts < TIMESTAMP '$k')
            WHERE effective_from <= TIMESTAMP '$v'
              AND (effective_to IS NULL OR effective_to > TIMESTAMP '$v'))"""
      TravelTs.sliding(2).zipWithIndex.map { case (Seq(k1, k2), i) =>
        s"""SELECT CAST(${i + 1} AS INT) AS transition,
                   CAST(SUM(CASE WHEN e1 IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_added,
                   CAST(SUM(CASE WHEN e1 IS NOT NULL AND e1 <> e2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_replaced,
                   CAST(SUM(CASE WHEN e1 = e2
                             AND t1 IS DISTINCT FROM t2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_revised,
                   CAST(SUM(CASE WHEN e1 = e2
                             AND t1 IS NOT DISTINCT FROM t2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
            FROM (WITH ${belief(k1, "b1")},
                       ${belief(k2, "b2")}
                  SELECT b2.user_id, b1.event_id AS e1, b1.eto AS t1,
                         b2.event_id AS e2, b2.eto AS t2
                  FROM b2 LEFT JOIN b1 USING (user_id))"""
      }.mkString("\nUNION ALL\n")
    })

  // --- q230: Hilbert-order write path + pruned read-back ------------------------------
  // The layout loop CLOSED (VERDICT r13 item 1): q221 plans the Hilbert
  // layout and q227 proves its manifests prune at least as well as
  // Morton's — this query actually LAYS THE DATA OUT
  // (ZOrder.writeHilbertLayout: repartitionByRange on the HilbertIndex
  // kernel → hive-partitioned write by index block) and reads it back
  // through the manifest: the original-coordinate rectangle probe is
  // translated to quantized grid bounds, intersected with the per-block
  // zone map (O(blocks) rows; the collected block list is bounded by
  // 2^(2·qBits−blockShift) = 1024 ids), and the scan touches ONLY the
  // qualifying hblock partition directories — static partition pruning
  // the Round14 spec pins in the plan (PartitionFilters on hblock), the
  // q178 contract generalized to the 2-D curve. The exact predicate is
  // re-applied on the original columns, so the block list only has to
  // be a superset — the manifest can never affect correctness, only
  // bytes read. Oracle: the same rectangle filter on the UNPARTITIONED
  // orders table.
  val HilXLo = 0L
  val HilXHi = 119L
  val HilDayLo: Long = java.time.LocalDate.of(1996, 1, 1).toEpochDay
  val HilDayHi: Long = java.time.LocalDate.of(1996, 12, 31).toEpochDay

  def hilbertLayoutWrite(spark: SparkSession, dir: String): DataFrame = {
    val path = s"${Sessions.tempDir("graft_hilw_")}/orders_hilbert"
    val orders = Tables.orders(spark, dir)
      .withColumn("day",
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("long"))
    ZOrder.writeHilbertLayout(orders, col("o_custkey"), col("day"), path,
      ZQBits, ZBlockShift)
    val man = spark.read.parquet(path + "_manifest")
    val blocks = man
      .filter(
        ZOrder.quantize(lit(HilXLo), col("minx"), col("maxx"), ZQBits) <= col("max_x") &&
          col("min_x") <= ZOrder.quantize(lit(HilXHi), col("minx"), col("maxx"), ZQBits) &&
          ZOrder.quantize(lit(HilDayLo), col("miny"), col("maxy"), ZQBits) <= col("max_y") &&
          col("min_y") <= ZOrder.quantize(lit(HilDayHi), col("miny"), col("maxy"), ZQBits))
      .select(col("hblock").cast("long"))
      .collect().map(_.getLong(0)) // bounded: ≤ 1024 block ids
    spark.read.parquet(path)
      .filter(col("hblock").isin(blocks: _*) &&
        col("o_custkey").between(HilXLo, HilXHi) &&
        col("day").between(HilDayLo, HilDayHi))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  query("q230_hilbert_layout", hilbertLayoutWrite,
      // the pruned read-back vs the UNPARTITIONED table: the block list
      // is a superset access path (exact predicate re-applied), so the
      // oracle is just the rectangle filter on raw orders
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders
         WHERE o_custkey BETWEEN 0 AND 119
           AND CAST(o_orderdate AS DATE)
               BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
         GROUP BY 1""")

  // --- q241: sketch-based join-cardinality estimation ----------------------------------
  // The optimizer statistic that prices a join WITHOUT running it: the
  // CMS inner product Σ_b a_d[b]·b_d[b] upper-bounds the true join size
  // Σ_k f_A(k)·f_B(k) at every depth row, min over depths is the
  // estimate (Alon–Matias–Szegedy / Cormode–Muthukrishnan). Each side
  // is sketched in ONE pass into depth×width additive integer cells —
  // at 100 TB the two scans are embarrassingly parallel, the estimate
  // itself costs a join of two 2048-cell frames — and the report puts
  // the estimate next to the exact size (per-key count join) so the
  // bound's tightness is itself gated. Keys are fingerprinted by
  // `k mod P` (exact, portable; the CMS row hashes re-mix per depth).
  def joinSizeCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val e = Tables.events(spark, dir)
      .select(pmod(col("user_id"), lit(Sketches.P)).as("k"))
    val o = Tables.orders(spark, dir)
      .select(pmod(col("o_custkey"), lit(Sketches.P)).as("k"))
    val dots = Sketches.cmsInnerProducts(
      Sketches.cmsCounters(e, col("k"), SketchQueries.CmsDepth, SketchQueries.CmsWidth),
      Sketches.cmsCounters(o, col("k"), SketchQueries.CmsDepth, SketchQueries.CmsWidth))
    val est = dots.agg(min(col("dot")).as("est_join_size"))
    val exact = e.groupBy("k").agg(count(lit(1)).as("na"))
      .join(o.groupBy("k").agg(count(lit(1)).as("nb")), "k")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_join_size"))
    dots.crossJoin(broadcast(est)).crossJoin(broadcast(exact))
      .select(col("d"), col("dot"), col("est_join_size"), col("exact_join_size"))
      .orderBy("d")
  }

  // q241 — both CMS counter sets rebuilt cell-for-cell (the q94 bucket
  // algebra on `k mod P` fingerprints), per-depth inner products, min
  // bound, and the exact join size from per-key count products.
  query("q241_join_size_cms", joinSizeCms, {
      import graft.functions.{Lsh, Sketches}
      val d = SketchQueries.CmsDepth
      val wdt = SketchQueries.CmsWidth
      def counters(src: String, name: String) = {
        val buckets = (0 until d).map(i =>
          s"((${Lsh.A(i)} * f + ${Lsh.B(i)}) % ${Sketches.P}) % $wdt AS b$i")
          .mkString(", ")
        s"""${name}0 AS (SELECT $buckets
                         FROM (SELECT k % ${Sketches.P} AS f FROM $src)),
            $name AS (SELECT d, bucket, COUNT(*) AS cnt FROM (
                ${(0 until d).map(i =>
                  s"SELECT $i AS d, b$i AS bucket FROM ${name}0")
                  .mkString(" UNION ALL ")})
              GROUP BY 1, 2)"""
      }
      s"""WITH ea AS (SELECT user_id AS k FROM events),
          ob AS (SELECT o_custkey AS k FROM orders),
          ${counters("ea", "ca")},
          ${counters("ob", "cb")},
          dots AS (SELECT ca.d, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS dot
                   FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
                   GROUP BY 1),
          est AS (SELECT MIN(dot) AS est_join_size FROM dots),
          ex AS (SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT)
                          AS exact_join_size
                 FROM (SELECT k, COUNT(*) AS na FROM ea GROUP BY 1) a
                 JOIN (SELECT k, COUNT(*) AS nb FROM ob GROUP BY 1) b
                   USING (k))
          SELECT d, dot, est_join_size, exact_join_size FROM dots, est, ex"""
    })

  // --- q242: ORC sink + source with pushed predicates ----------------------------------
  // The second columnar lake format, write → filtered read-back →
  // aggregate, gated against the same rows read from parquet. The
  // read-back enforces a 4-column schema (column pruning at the scan)
  // and its range predicate reaches the ORC reader as PushedFilters
  // (Round15Spec pins it in the plan) — backed by ORC's
  // file/stripe/row-group statistics, a selective date filter skips
  // whole stripes undecoded at 100 TB. Timestamps round-trip inside one
  // session (write and read share the session timezone), matching the
  // parquet oracle's instants.
  val OrcShipLo = "1995-01-01 00:00:00"
  val OrcShipHi = "1997-01-01 00:00:00"

  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.sources.Sources
    val path = s"${Sessions.tempDir("graft_orc_")}/lineitem_orc"
    val cols = Seq("l_returnflag", "l_shipdate", "l_extendedprice", "l_discount")
    Sources.writeOrc(
      Tables.lineitem(spark, dir).select(cols.map(col): _*), path)
    val schema = StructType(Seq(
      StructField("l_returnflag", StringType),
      // lineitem ships l_shipdate as TIMESTAMP_NTZ (isAdjustedToUTC=
      // false); ORC preserves the NTZ-ness and refuses an LTZ read
      StructField("l_shipdate", TimestampNTZType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType)))
    Sources.orc(spark, path, schema)
      .filter(col("l_shipdate") >= Cols.ntzTs(OrcShipLo) &&
        col("l_shipdate") < Cols.ntzTs(OrcShipHi))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        moneySum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  // q242 — the ORC write/read round-trips the same rows the oracle
  // reads from parquet; the gate proves format fidelity (timestamps,
  // doubles, strings) plus the filtered aggregate.
  query("q242_orc_roundtrip", orcRoundtrip,
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
                 CAST(SUM($discTerm) AS DOUBLE) AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '${OrcShipLo}'
            AND l_shipdate < TIMESTAMP '${OrcShipHi}'
          GROUP BY 1""")

  // --- q261: bucket compaction planner ----------------------------------------------------
  // Lakehouse maintenance planned from METADATA only (the OPTIMIZE
  // decision): the bucketed store's per-bucket row manifest is grouped
  // into adjacent ~target-row compaction bins by the cumulative-offset
  // rule (`sources/Compaction`) — small buckets coalesce, at-target
  // buckets stand alone, the tail bin may honestly run under. The
  // input is O(buckets) manifest rows whatever the data volume; the
  // single cumsum window rides that bounded frame (the q256
  // discipline). The data rewrite this plan feeds is exactly what a
  // maintenance job then does SELECTIVELY — bins, not the table.
  val CompactBuckets = 64L
  val CompactTargetRows = 4000L

  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val manifest = Tables.lineitem(spark, dir)
      .groupBy(pmod(graft.functions.Sketches.keyHash(col("l_orderkey")),
        lit(CompactBuckets)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"))
    graft.sources.Compaction.planBins(manifest, "bucket", "n_rows",
      CompactTargetRows)
  }

  // q261 — the cumulative-offset bin rule replayed over the same
  // hash-bucket manifest
  query("q261_compaction_plan", compactionPlan, {
      import graft.functions.Sketches.{HA, HB, P}
      val t = CompactTargetRows
      s"""WITH m AS (SELECT (($HA * l_orderkey + $HB) % $P)
                            % ${CompactBuckets} AS bucket,
                            CAST(COUNT(*) AS BIGINT) AS n_rows
                     FROM lineitem GROUP BY 1),
          a AS (SELECT bucket, n_rows,
                       CAST(SUM(n_rows) OVER (ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) - n_rows AS BIGINT)
                         AS bin_start
                FROM m),
          b AS (SELECT *, bin_start // $t AS bin FROM a)
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                 CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
                 MIN(bucket) AS first_bucket, MAX(bucket) AS last_bucket,
                 SUM(n_rows) < $t AS under_target
          FROM b GROUP BY 1"""
    })

  // --- q255: CSV round-trip through the rescue reader -------------------------------------
  // The text-format landing path under the gate (q173 gates JSON
  // rescue; this gates CSV, the other reference landing format): a
  // clean CSV export re-read through `Sources.csvWithRescue` —
  // PERMISSIVE mode, corrupt-record column — must parse every row with
  // ZERO rescued rows (enforced in-plan: a raise_error projection on
  // the rescue column, so silent type coercion cannot fake a pass),
  // then aggregate bit-identically to the parquet oracle. Doubles
  // survive because Spark's CSV writer emits the shortest round-trip
  // decimal form; no timestamps in the slice (CSV timestamp formats
  // are a config contract, exercised by the rescue machinery in q173).
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.sources.Sources
    val path = s"${Sessions.tempDir("graft_csv_")}/lineitem_csv"
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .write.option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_returnflag", StringType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType)))
    val back = Sources.csvWithRescue(spark, path, schema)
    back
      // the guard must ride a column the AGGREGATE consumes — attached to
      // an unreferenced column (the first cut wrapped l_orderkey, which
      // the groupBy/agg below never reads) Catalyst column pruning
      // deletes the raise_error with the column and the "enforced
      // in-plan" claim is silently false; Round16Spec pins raise_error
      // present in the executed plan
      .withColumn("l_quantity",
        when(col(Sources.RescueCol).isNull, col("l_quantity"))
          .otherwise(raise_error(concat(
            lit("CSV round-trip rescued a row: "), col(Sources.RescueCol)))))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        moneySum(dec2(col("l_quantity"))).as("sum_qty"),
        moneySum(dec2(col("l_extendedprice"))).as("sum_price"))
      .orderBy("l_returnflag")
  }

  // q255 — the CSV round-trip must reproduce the same rows the oracle
  // reads from parquet (shortest-round-trip doubles survive the text
  // format; zero rescued rows enforced in-plan on the Spark side).
  query("q255_csv_roundtrip", csvRoundtrip,
      """SELECT l_returnflag, COUNT(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price
         FROM lineitem GROUP BY 1""")

  // --- oracle SQL fragments the specs above share --------------------------

  /** ≡ ZOrder.layoutManifest over orders (q147; reused as a CTE by the
    * q159 pruning simulator): exact-integer quantization, then the same
    * four shift-mask spread rounds as MortonInterleave16, one CTE per
    * round (masks 0x00FF00FF/0x0F0F0F0F/0x33333333/0x55555555 in
    * decimal).
    */
  private lazy val zorderManifestSql: String = {
    val q = 1L << ZQBits
    val blk = 1L << ZBlockShift
    s"""WITH b AS (SELECT o_custkey AS x,
                date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
                FROM orders
                WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
        s AS (SELECT MIN(x) AS minx, MAX(x) AS maxx,
                     MIN(y) AS miny, MAX(y) AS maxy FROM b),
        g AS (SELECT ((x - minx) * $q) // (maxx - minx + 1) AS bx,
                     ((y - miny) * $q) // (maxy - miny + 1) AS by FROM b, s),
        m1 AS (SELECT bx, by, (bx | (bx << 8)) & 16711935 AS sx,
                             (by | (by << 8)) & 16711935 AS sy FROM g),
        m2 AS (SELECT bx, by, (sx | (sx << 4)) & 252645135 AS sx,
                             (sy | (sy << 4)) & 252645135 AS sy FROM m1),
        m3 AS (SELECT bx, by, (sx | (sx << 2)) & 858993459 AS sx,
                             (sy | (sy << 2)) & 858993459 AS sy FROM m2),
        m4 AS (SELECT bx, by, (sx | (sx << 1)) & 1431655765 AS sx,
                             (sy | (sy << 1)) & 1431655765 AS sy FROM m3)
        SELECT (sx | (sy << 1)) // $blk AS block, COUNT(*) AS n_rows,
               MIN(bx) AS min_x, MAX(bx) AS max_x,
               MIN(by) AS min_y, MAX(by) AS max_y
        FROM m4 GROUP BY 1"""
  }

  /** The Hilbert xy2d walk as a reusable CTE chain: one CTE per bit
    * level, operating on (x, y, d) with `carry` columns passed through
    * untouched and `prefix` naming the chain (so two walks can coexist
    * in one statement — q238 runs the flat and the per-range walk side
    * by side).
    */
  private def hilbertWalkCtes(prefix: String, carry: String): String = {
    val svals = (ZQBits - 1 to 0 by -1).map(1L << _)
    svals.zipWithIndex.map { case (sv, i) =>
      s"""$prefix${i + 1} AS (SELECT $carry bx, by, nx AS x, ny AS y, d FROM (
             SELECT $carry bx, by,
                    CASE WHEN (y & $sv) > 0 THEN x
                         WHEN (x & $sv) > 0 THEN $sv - 1 - y
                         ELSE y END AS nx,
                    CASE WHEN (y & $sv) > 0 THEN y
                         WHEN (x & $sv) > 0 THEN $sv - 1 - x
                         ELSE x END AS ny,
                    d + $sv * $sv *
                      xor(3 * (CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END),
                          CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END) AS d
             FROM $prefix$i))"""
    }.mkString(",\n        ")
  }

  /** q221's oracle: the Hilbert xy2d walk unrolled — one CTE per bit
    * level s = 2^(qBits−1) … 1, each applying the quadrant-digit add
    * and the reflect/transpose rotation to (x, y, d). The rotation is
    * computed in an INNER select with fresh aliases (nx/ny) so no
    * expression can accidentally resolve a lateral alias instead of the
    * input column.
    */
  private lazy val hilbertManifestSql: String = {
    val q = 1L << ZQBits
    val blk = 1L << ZBlockShift
    val svals = (ZQBits - 1 to 0 by -1).map(1L << _)
    val rounds = svals.zipWithIndex.map { case (s, i) =>
      s"""h${i + 1} AS (SELECT bx, by, nx AS x, ny AS y, d FROM (
             SELECT bx, by,
                    CASE WHEN (y & $s) > 0 THEN x
                         WHEN (x & $s) > 0 THEN $s - 1 - y
                         ELSE y END AS nx,
                    CASE WHEN (y & $s) > 0 THEN y
                         WHEN (x & $s) > 0 THEN $s - 1 - x
                         ELSE x END AS ny,
                    d + $s * $s *
                      xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
                          CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
             FROM h$i))"""
    }.mkString(",\n        ")
    s"""WITH b AS (SELECT o_custkey AS x,
              date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS y
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
        s AS (SELECT MIN(x) AS minx, MAX(x) AS maxx,
                     MIN(y) AS miny, MAX(y) AS maxy FROM b),
        g AS (SELECT ((x - minx) * $q) // (maxx - minx + 1) AS bx,
                     ((y - miny) * $q) // (maxy - miny + 1) AS by FROM b, s),
        h0 AS (SELECT bx, by, bx AS x, by AS y, CAST(0 AS BIGINT) AS d FROM g),
        $rounds
        SELECT CAST(d // $blk AS BIGINT) AS block,
               COUNT(*) AS n_rows,
               MIN(bx) AS min_x, MAX(bx) AS max_x,
               MIN(by) AS min_y, MAX(by) AS max_y
        FROM h${svals.length} GROUP BY 1"""
  }

  /** Shared 3-D quantized-grid CTEs over lineitem (q277/q278): exact
    * integer quantization of (l_partkey, l_suppkey, ship-day) onto the
    * 2^Z3QBits grid — bit-identical to ZOrder.manifest3's quantize.
    */
  private lazy val grid3Ctes: String = {
    val q = 1L << Z3QBits
    s"""b3 AS (SELECT l_partkey AS x, l_suppkey AS y,
                date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS z
           FROM lineitem
           WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
             AND l_shipdate IS NOT NULL),
        s3 AS (SELECT MIN(x) AS minx, MAX(x) AS maxx,
                      MIN(y) AS miny, MAX(y) AS maxy,
                      MIN(z) AS minz, MAX(z) AS maxz FROM b3),
        g3 AS (SELECT ((x - minx) * $q) // (maxx - minx + 1) AS bx,
                      ((y - miny) * $q) // (maxy - miny + 1) AS by,
                      ((z - minz) * $q) // (maxz - minz + 1) AS bz FROM b3, s3)"""
  }

  /** 3-D Morton index of (bx,by,bz) as plain arithmetic: bit k of axis
    * j lands at output position 3k+j — the layout
    * ZOrderExprs.interleaveN computes.
    */
  private lazy val morton3Expr: String =
    (0 until Z3QBits).flatMap { k =>
      Seq(s"((bx >> $k) & 1) * ${1L << (3 * k)}",
        s"((by >> $k) & 1) * ${1L << (3 * k + 1)}",
        s"((bz >> $k) & 1) * ${1L << (3 * k + 2)}")
    }.mkString(" + ")

  /** q277's oracle: the 3-D Morton zone map. */
  private lazy val zorder3ManifestSql: String = {
    val blk = 1L << Z3BlockShift
    s"""WITH $grid3Ctes
        SELECT ($morton3Expr) // $blk AS block, COUNT(*) AS n_rows,
               MIN(bx) AS min_x, MAX(bx) AS max_x,
               MIN(by) AS min_y, MAX(by) AS max_y,
               MIN(bz) AS min_z, MAX(bz) AS max_z
        FROM g3 GROUP BY 1"""
  }

  /** Skilling AxesToTranspose for d=3 as a CTE chain (≡
    * HilbertExprs.hilbertNJava round for round): per bit level Q =
    * 2^(qBits−1)…2, three sequential reflect/exchange steps — axis 0
    * is both the accumulator and an axis, so its own step reduces to a
    * conditional XOR — then the Gray encode across axes and the
    * trailing-axis correction term.
    */
  private lazy val hilbert3Ctes: String = {
    val qvals = (Z3QBits - 1 to 1 by -1).map(1L << _)
    val rounds = qvals.zipWithIndex.map { case (qv, r) =>
      val p = qv - 1
      val prev = if (r == 0) "h3_0" else s"h3_${r}c"
      s"""h3_${r + 1}a AS (SELECT bx, by, bz,
             CASE WHEN (x0 & $qv) > 0 THEN xor(x0, $p) ELSE x0 END AS x0,
             x1, x2 FROM $prev),
          h3_${r + 1}bt AS (SELECT bx, by, bz, x0, x1, x2,
             CASE WHEN (x1 & $qv) > 0 THEN 0 ELSE xor(x0, x1) & $p END AS t
             FROM h3_${r + 1}a),
          h3_${r + 1}b AS (SELECT bx, by, bz,
             CASE WHEN (x1 & $qv) > 0 THEN xor(x0, $p) ELSE xor(x0, t) END AS x0,
             xor(x1, t) AS x1, x2 FROM h3_${r + 1}bt),
          h3_${r + 1}ct AS (SELECT bx, by, bz, x0, x1, x2,
             CASE WHEN (x2 & $qv) > 0 THEN 0 ELSE xor(x0, x2) & $p END AS t
             FROM h3_${r + 1}b),
          h3_${r + 1}c AS (SELECT bx, by, bz,
             CASE WHEN (x2 & $qv) > 0 THEN xor(x0, $p) ELSE xor(x0, t) END AS x0,
             x1, xor(x2, t) AS x2 FROM h3_${r + 1}ct)"""
    }.mkString(",\n        ")
    val last = qvals.length
    val tFold = qvals
      .map(qv => s"CASE WHEN (x2 & $qv) > 0 THEN ${qv - 1} ELSE 0 END")
      .reduce((a, b) => s"xor($a, $b)")
    s"""$rounds,
        h3_g AS (SELECT bx, by, bz, x0, xor(x1, x0) AS x1,
                        xor(x2, xor(x1, x0)) AS x2 FROM h3_${last}c),
        h3_t AS (SELECT bx, by, bz, x0, x1, x2, $tFold AS tt FROM h3_g),
        h3_f AS (SELECT bx, by, bz, xor(x0, tt) AS x0, xor(x1, tt) AS x1,
                        xor(x2, tt) AS x2 FROM h3_t)"""
  }

  /** Interleave of the TRANSPOSED axes: per bit level k, axis 0's bit
    * is the most significant of the level's three (3k+2, 3k+1, 3k).
    */
  private lazy val hilbert3IndexExpr: String =
    (0 until Z3QBits).flatMap { k =>
      Seq(s"((x0 >> $k) & 1) * ${1L << (3 * k + 2)}",
        s"((x1 >> $k) & 1) * ${1L << (3 * k + 1)}",
        s"((x2 >> $k) & 1) * ${1L << (3 * k)}")
    }.mkString(" + ")

  /** q278's Hilbert half: the 3-D Hilbert zone map. */
  private lazy val hilbert3ManifestSql: String = {
    val blk = 1L << Z3BlockShift
    s"""WITH $grid3Ctes,
        h3_0 AS (SELECT bx, by, bz, bx AS x0, by AS x1, bz AS x2 FROM g3),
        $hilbert3Ctes
        SELECT ($hilbert3IndexExpr) // $blk AS block, COUNT(*) AS n_rows,
               MIN(bx) AS min_x, MAX(bx) AS max_x,
               MIN(by) AS min_y, MAX(by) AS max_y,
               MIN(bz) AS min_z, MAX(bz) AS max_z
        FROM h3_f GROUP BY 1"""
  }
}
