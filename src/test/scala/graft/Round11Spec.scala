package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Scd, Skew}
import graft.queries._

/** Round-11 contracts: the enforced basket bound, deterministic salting,
  * tracked-history SCD2, flat-plan iterative PageRank, and the AQE
  * skew-join split (the value-level gates live in CORRECTNESS; these pin
  * the operator/plan properties the gate can't see).
  */
class Round11Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- coOccurrencePairs basket bound -------------------------------------------

  test("co-occurrence quarantines a poisoned bot basket whole; clean baskets unaffected") {
    // clean baskets: pairs (1,2)x2 and (2,3)x1; poisoned basket 99 holds
    // 10^4 items — unbounded it would fan out ~5*10^7 pairs in ONE task
    val clean = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L), (3L, 2L), (3L, 3L))
    val bot = (0 until 10000).map(i => (99L, i.toLong))
    val df = (clean ++ bot).toDF("basket", "item")
    val got = Analytics.coOccurrencePairs(df, "basket", "item",
        minSupport = 1L, maxBasketSize = 256L)
      .orderBy("item_a", "item_b")
      .as[(Long, Long, Long)].collect().toSeq
    val cleanOnly = Analytics.coOccurrencePairs(clean.toDF("basket", "item"),
        "basket", "item", minSupport = 1L, maxBasketSize = 256L)
      .orderBy("item_a", "item_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == cleanOnly,
      s"poisoned basket leaked into the pair table: $got vs $cleanOnly")
    assert(got == Seq((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 2L)))
  }

  test("basket bound leaves clean fixture results unchanged (TPC-H baskets are tiny)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val bounded = Analytics.coOccurrencePairs(li, "l_orderkey", "l_partkey",
      AnalyticsQueries.CoMinSupport, maxBasketSize = AnalyticsQueries.CoMaxBasket)
    val unbounded = Analytics.coOccurrencePairs(li, "l_orderkey", "l_partkey",
      AnalyticsQueries.CoMinSupport, maxBasketSize = Long.MaxValue)
    assert(bounded.exceptAll(unbounded).count() == 0 &&
      unbounded.exceptAll(bounded).count() == 0)
  }

  // --- deterministic salting ------------------------------------------------------

  test("salt assignment is content-derived: identical across re-partitionings, and spread") {
    val fact = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    val s1 = fact.withColumn("salt", Skew.saltExpr(fact, RuntimeQueries.JoinSalts))
    val re = fact.repartition(7, col("user_id"))
    val s2 = re.withColumn("salt", Skew.saltExpr(re, RuntimeQueries.JoinSalts))
    // recompute-determinism: the salt is a pure function of row content,
    // so a different physical partitioning (≈ a retried/speculated task
    // seeing rows in another order) assigns the SAME salt to every row —
    // monotonically_increasing_id would fail this
    assert(s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0)
    // uniformity: every shard gets real work (the point of salting)
    val perSalt = s1.groupBy("salt").count().as[(Long, Long)].collect().toMap
    assert(perSalt.keySet == (0L until RuntimeQueries.JoinSalts.toLong).toSet,
      s"empty salt shards: $perSalt")
    val (mn, mx) = (perSalt.values.min, perSalt.values.max)
    assert(mx <= 2 * mn, s"salt shards badly skewed: $perSalt")
  }

  // --- tracked-history SCD2 -------------------------------------------------------

  private val trackedCols = Seq("k", "id", "typ", "v", "ts")

  test("tracked SCD2 opens intervals only on tracked-column changes; untracked update in place") {
    val changes = Seq(
      (1L, 10L, "X", 1.0, 100L),
      (1L, 11L, "X", 2.0, 200L), // untracked churn: same typ → update in place
      (1L, 12L, "Y", 3.0, 300L), // tracked change → new interval
      (2L, 20L, "Z", 9.0, 150L))
      .toDF("k", "id", "typ", "v", "ts")
    val got = Scd.scd2FromChangelogTracked(changes, Seq("k"), "ts",
        tieCols = Seq("id"), trackCols = Seq("typ"))
      .select("k", "id", "typ", "v", "effective_from", "effective_to", "is_current")
      .as[(Long, Long, String, Double, Long, Option[Long], Boolean)]
      .collect().toSet
    assert(got == Set(
      // version 1 of key 1: opened at 100, payload = the LAST row of the
      // run (id 11, v 2.0), closed by the tracked change at 300
      (1L, 11L, "X", 2.0, 100L, Some(300L), false),
      (1L, 12L, "Y", 3.0, 300L, None, true),
      (2L, 20L, "Z", 9.0, 150L, None, true)), s"got $got")
  }

  test("tracked SCD2 merge of in-order batches equals the full-changelog rebuild") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id").as("k"), col("event_id").as("id"),
        col("event_type").as("typ"), col("value").as("v"), col("ts"))
    val split = Cols.utcTs(EtlQueries.SplitTs)
    val full = Scd.scd2FromChangelogTracked(ev, Seq("k"), "ts",
      Seq("id"), Seq("typ"))
    val h1 = Scd.scd2FromChangelogTracked(ev.filter(col("ts") <= split),
      Seq("k"), "ts", Seq("id"), Seq("typ"))
    val merged = Scd.scd2MergeTracked(h1, ev.filter(col("ts") > split),
      Seq("k"), "ts", Seq("id"), Seq("typ"))
    assert(merged.select(trackedCols.head, trackedCols.tail: _*).count() > 0)
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "incremental tracked fold diverged from the full rebuild")
    // exactly-once: re-delivering the second batch must be a no-op
    val again = Scd.scd2MergeTracked(merged, ev.filter(col("ts") > split),
      Seq("k"), "ts", Seq("id"), Seq("typ"))
    assert(again.exceptAll(full).count() == 0 &&
      full.exceptAll(again).count() == 0,
      "redelivered batch changed the tracked history")
  }

  test("q185 output passes the SCD2 validity audit (no overlaps/gaps, one current per key)") {
    val v = AnalyticsQueries.scd2Tracked(spark, sf)
    // exactly one open (current) version per key
    val badCurrent = v.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"))
      .filter(col("n_open") =!= 1L).count()
    assert(badCurrent == 0, s"$badCurrent keys without exactly one current version")
    // intervals chain exactly: each version's effective_to = next from;
    // strictly increasing effective_from (no overlaps, no gaps)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("effective_from")
    val chained = v
      .withColumn("next_from", lead(col("effective_from"), 1).over(w))
      .filter(!(col("effective_to") <=> col("next_from")))
      .count()
    assert(chained == 0, s"$chained broken validity chains")
  }

  // --- iterative PageRank: flat plans, nothing stranded ---------------------------

  // plan extraction lives in its own frame so the Datasets (and their
  // checkpoint RDD refs) are unreachable once it returns — temporaries
  // lingering in the ACTIVE test frame's stack slots otherwise keep the
  // final checkpoint chain alive through every System.gc() below
  private def pagerankPlan(rounds: Int): String =
    GraphQueries.pagerankRounds(spark, sf, rounds)
      .queryExecution.optimizedPlan.toString

  test("pagerank plan size is O(1) in rounds and leaves nothing persisted behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val p2 = pagerankPlan(2)
    val p8 = pagerankPlan(8)
    // each round is localCheckpoint-materialized, so the FINAL plan is a
    // checkpoint scan + sort regardless of rounds — lineage would
    // otherwise double per round
    assert(!p8.contains("Join"), s"rounds leaked into the final plan:\n$p8")
    assert(p8.length <= 2 * p2.length,
      s"plan grows with rounds (${p2.length} -> ${p8.length} chars)")
    // The explicit persist (withDeg) must be gone SYNCHRONOUSLY — a
    // surviving persist is exactly the q155 leak this round fixed (the
    // old code's persisted edge frames stayed reachable through the
    // returned plan forever). The per-round localCheckpoint BLOCKS are
    // reclaimed asynchronously by the ContextCleaner once GC proves the
    // RDDs unreachable; poll through a few GCs (running trivial jobs to
    // wash idle executor-thread stack slots that conservatively pin the
    // last tasks' refs) and require most to drain — a small tail can
    // stay pinned by the JVM until later jobs overwrite those slots,
    // which is reclaimable-by-construction, not a leak.
    def leaked = (spark.sparkContext.getPersistentRDDs -- before).values.toSeq
    val immediately = leaked.size
    val deadline = System.currentTimeMillis + 20000
    while (leaked.nonEmpty && System.currentTimeMillis < deadline) {
      spark.range(64).repartition(8).count()
      System.gc(); Thread.sleep(250)
    }
    val persists = leaked.filterNot(_.isCheckpointed)
    assert(persists.isEmpty,
      s"pagerank stranded ${persists.size} PERSISTED frames (the q155 leak)")
    assert(leaked.size < immediately || leaked.isEmpty,
      s"no checkpoint block was reclaimed: $immediately -> ${leaked.size}")
  }

  // --- AQE skew-join split --------------------------------------------------------

  test("AQE OptimizeSkewedJoin splits the hot partition of a skewed sort-merge join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key owns 90% of the fact rows — the power-law case salting
      // (q163) handles explicitly and AQE must handle at runtime
      val fact = spark.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, 0L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = fact.join(dim, "k").groupBy(lit(1).as("one"))
        .agg(count(lit(1)).as("n"), sum("w").as("sw"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("skew"),
        s"AQE did not split the skewed partition — no skew marker in:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
