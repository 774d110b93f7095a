package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DedupQueries

/** Physical-plan regression guards: the scale properties PLANS.md claims
  * are asserted here, so a refactor that silently reintroduces a shuffle,
  * loses a pushdown, or re-inlines an expensive expression fails CI —
  * not a 100 TB run.
  */
class PlanSpec extends AnyFunSuite {
  import TestSession._

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q01: CDC range predicate reaches the parquet scan") {
    val p = plan("q01_incremental_extract")
    assert(p.contains("GreaterThan(ts"), "lower bound not pushed")
    assert(p.contains("LessThanOrEqual(ts"), "upper bound not pushed")
  }

  test("q08: all four dimensions broadcast; fact side never sort-merge joined") {
    val p = plan("q08_star_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4, p)
    assert(!p.contains("SortMergeJoin"), "a star dimension fell back to SMJ")
  }

  test("q10: scan prunes to the aggregated columns and pushes the date filter") {
    val p = plan("q10_agg_report")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(!p.contains("l_comment"), "unused column not pruned")
  }

  test("q81: the star WHERE slot pushes the date window to the orders scan") {
    val p = plan("q81_star_filtered")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "lower bound not pushed")
    assert(p.contains("LessThan(o_orderdate"), "upper bound not pushed")
    assert(p.contains("BroadcastHashJoin"), "filtered dim must stay broadcast")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q22: LSH candidate generation reads the corpus exactly twice") {
    val p = plan("q22_dedup_minhash_lsh")
    assert("FileScan parquet".r.findAllIn(p).length == 2, p)
  }

  test("q25: ANN brute force broadcasts the query side only") {
    val p = plan("q25_ann_bruteforce")
    assert(p.contains("BroadcastExchange"), "query set should broadcast")
  }

  test("q61: large-k assignment broadcasts a centroid TABLE, no literal blowup") {
    val p = plan("q61_ivf_assign_bigk")
    assert(p.contains("BroadcastExchange") && p.contains("BroadcastNestedLoopJoin"),
      "513-list assignment must take the broadcast-table path")
    // the plan-literal path would embed 513×64 double constants; the whole
    // plan string staying small proves the O(1)-in-k codegen claim
    assert(p.length < 100000, s"plan suspiciously large (${p.length} chars)")
  }

  test("q19: one scan of orders, one of lineitem — dim attrs derived in place") {
    val p = plan("q19_star_date")
    assert("FileScan parquet".r.findAllIn(p).length <= 2, p)
  }

  test("q21: shingle posting lists are df-capped before the self-join") {
    val p = plan("q21_dedup_ngram_jaccard")
    assert(p.contains(s"<= ${DedupQueries.JaccardMaxPostings}"),
      "df cap filter missing from the pair pipeline")
    assert(p.contains("LeftSemi"), "cap should apply via a semi-join on shingles")
  }

  test("q52: shard cumsum windows partition by source, never a global order") {
    val p = plan("q52_shard_pack")
    assert(p.contains("windowspecdefinition(source"),
      "packing window must be per-source")
  }

  test("q51: candidate pair dedup shuffles ids only — no vector payloads") {
    // AQE wraps the tree in AdaptiveSparkPlanExec (opaque to collect);
    // plan with it off — the exchange layout under test is the static one.
    val exec = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      SparkEntry.queries("q51_dedup_embedding_lsh")(spark, sf)
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val pairDedup = exchanges.filter(_.outputPartitioning.toString.contains("vec_a"))
    assert(pairDedup.nonEmpty, "expected a pair-dedup exchange on (vec_a, vec_b)")
    pairDedup.foreach { e =>
      assert(!e.child.output.exists(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
        s"pair dedup must not shuffle embedding arrays: ${e.child.output}")
    }
  }

  test("q56: eval grams broadcast; eval-side scan prunes on doc_id") {
    val p = plan("q56_decontaminate")
    assert(p.contains("BroadcastExchange"), "eval grams must broadcast")
    assert(!p.contains("SortMergeJoin"), "gram join must not shuffle the corpus")
    assert(p.contains("In(doc_id"), "eval-id filter should reach the parquet scan")
  }

  test("q64: interval join stays an equi-join — no nested loop, no cartesian") {
    val p = plan("q64_session_concurrency")
    assert(!p.contains("CartesianProduct"), "range join fell back to cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join fell back to BNLJ — the bucketed equi-join path is lost")
  }

  test("q71: prefix-sum plan — bucket offsets broadcast, no pair join, no global sort of the union") {
    val p = plan("q71_session_concurrency_fast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastExchange"), "bucket prefix table must broadcast")
  }

  test("q72: global ranking never single-partitions the fact table") {
    val p = plan("q72_global_rank")
    // SinglePartition exchanges allowed only on the two tiny sides (the
    // per-bucket prefix window and the scalar row count); the ranking
    // window itself must partition by bucket
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 2, p)
    assert(p.contains("hashpartitioning(bucket"), "rank window must partition by bucket")
    assert(p.contains("windowspecdefinition(bucket"), "rank window lost its bucket partition")
  }

  test("q82: shared-span rate joins grams semi-style — no pair join anywhere") {
    val p = plan("q82_span_dup_rate")
    assert(p.contains("LeftSemi"), "shared-gram membership must be a semi join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q83: budget selection never single-partitions the corpus") {
    val p = plan("q83_budget_select")
    // one deliberately tiny single-partition task (the bucket-prefix
    // window over ~1000 rows); the corpus-wide running sum must ride the
    // per-bucket partitioning
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1, p)
    assert(p.contains("hashpartitioning(qb"), "running sum must partition by quality bucket")
    assert(p.contains("windowspecdefinition(qb"), "running sum window lost its bucket partition")
  }

  test("q88: sketch percentiles never sort the fact values") {
    val p = plan("q88_sketch_percentiles")
    assert("FileScan parquet".r.findAllIn(p).length == 1, "one scan of lineitem")
    // the only sorts may run over the tiny (flag, bin) frame — a sort
    // keyed on the raw price column would be the exact-percentile shape
    // this sketch exists to avoid
    assert(!"Sort \\[[^\\]]*l_extendedprice".r.findFirstIn(p).isDefined,
      s"fact values sorted: $p")
  }

  test("q90: the per-group KMV rank runs over the deduped hash frame") {
    val p = plan("q90_grouped_distinct_sketch")
    assert(p.contains("windowspecdefinition(event_type"),
      "rank window must partition by the group")
    // two scans: the sketch side and the exact-count monitor column — the
    // sketch side itself never window-ranks raw rows (dedup first)
    assert("FileScan parquet".r.findAllIn(p).length == 2, p)
  }

  test("q69: corpus stats broadcast; top-k is TakeOrdered, never a global sort") {
    val p = plan("q69_bm25_search")
    assert(p.contains("BroadcastExchange"), "one-row stats must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not sort+limit")
  }

  test("q70: group moments broadcast back over one fact scan") {
    val p = plan("q70_value_outliers")
    assert(p.contains("BroadcastHashJoin"), "tiny stats dim must broadcast-join")
    assert(!p.contains("SortMergeJoin"), "outlier join must not shuffle the facts")
  }

  test("q66: funnel keeps rows constant-size — no per-user collected histories") {
    val p = plan("q66_funnel")
    assert(!p.contains("collect_list"), "funnel regressed to collected histories")
    assert(!p.contains("SortMergeJoin"), "user-keyed joins should stay hash/broadcast at this scale")
  }

  test("q77: sampling is one scan with no pre-sink shuffle") {
    val p = plan("q77_quality_sample")
    assert(!p.contains("hashpartitioning"), "sampling must not shuffle")
    assert(!p.toLowerCase.contains("join"), "sampling must not join")
  }

  test("q78: both stats rounds broadcast back; fact side never shuffled") {
    val p = plan("q78_robust_outliers")
    // med joins twice (the mad round re-derives deviations) + the mad
    // join: at least 2 broadcast joins, and never a fact-side shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), "stats join must broadcast")
  }

  test("q79: dense rerank joins candidates by broadcast — corpus never sorted") {
    val p = plan("q79_hybrid_search")
    assert(p.contains("TakeOrderedAndProject"), "both stages must be top-k, not sort")
    assert(!p.contains("SortMergeJoin"), "candidate join must broadcast")
  }

  test("aggregations use map-side partial aggregation") {
    val p = plan("q10_agg_report")
    assert(p.contains("partial_"), "no partial aggregate before the exchange")
  }

  test("q91: centroid assignment broadcasts; the cluster self-join is an equi-join") {
    val p = plan("q91_semantic_dedup")
    assert(p.contains("BroadcastExchange"), "centroid table must broadcast")
    assert(!p.contains("CartesianProduct"),
      "within-cluster pairing fell back to a cartesian — the list equi-key is lost")
  }

  test("q92: co-occurrence is hash-joined on the basket key, never nested-loop") {
    val p = plan("q92_copurchase_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-k by support must be TakeOrdered, not a global sort")
  }

  test("q93: anomaly stats ride the daily frame — one scan of lineitem") {
    val p = plan("q93_revenue_anomaly")
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
  }

  test("q95: sliding distinct is explode+dedup — no range join, no cartesian") {
    val p = plan("q95_sliding_active_users")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), "the bounded window-end explode is missing")
  }

  test("q94: CMS estimate joins the tiny counter frame by broadcast") {
    val p = plan("q94_cms_heavy_hitters")
    assert(p.contains("BroadcastExchange"), "counter frame must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "head-word selection must be TakeOrdered, not a global sort")
  }

  test("q97: similarity top-k is TakeOrdered over hash joins only") {
    val p = plan("q97_copurchase_similarity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
  }

  test("q99: the only nested-loop is the single-row max-day broadcast") {
    val p = plan("q99_decayed_value")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      "only the one-row max-day frame may cross-broadcast")
  }

  test("q100: suppliers/nations/regions broadcast; no cartesian in the join cycle") {
    val p = plan("q100_local_supplier_volume")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "the three small dims must broadcast")
  }

  test("q129: bloom probe filters the fact scan ahead of the exact semi-join") {
    val p = plan("q129_bloom_semi_join")
    assert(p.contains("xxhash64"), "bloom probe expression missing from the plan")
    assert(p.contains("BroadcastHashJoin LeftSemi") ||
      p.contains("LeftSemi"), "exact semi-join missing")
    assert(!p.contains("l_tax"), "lineitem scan must prune to the used columns")
  }

  test("q131: global k-smallest is a TakeOrdered, not a global sort") {
    val p = plan("q131_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q133: ABC classification never cartesian-joins or sort-merge-joins the parts") {
    val p = plan("q133_abc_classification")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "the total / bucket-prefix frames must broadcast")
  }

  test("q135: skyline sweep joins broadcast — no pair materialization anywhere") {
    val p = plan("q135_part_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("BroadcastHashJoin"), "sweep frame must broadcast")
  }

  test("q142: champion-doc aggregation is window-free (map-side partials survive)") {
    val p = plan("q142_inverted_index")
    assert(!p.contains("Window"), "struct-max champion must not plan a window")
  }

  test("q147: Morton kernel runs map-side; quantization bounds broadcast, no SMJ") {
    val p = plan("q147_zorder_manifest")
    assert(p.toLowerCase.contains("mortoninterleave"),
      s"Z-order kernel missing from plan:\n$p")
    assert(!p.contains("SortMergeJoin"), "global bounds must broadcast, not SMJ")
    assert(!p.contains("CartesianProduct"), "bounds join must be broadcast-NLJ")
  }

  test("q149: only the sample is sorted — one window; boundaries broadcast") {
    val p = plan("q149_range_plan")
    assert("Window".r.findAllIn(p).length == 1,
      s"expected exactly the sample-ranking window:\n$p")
    assert(p.contains("BroadcastExchange"), "boundary array must broadcast")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q151: lexical candidates come from TakeOrdered, never a corpus sort") {
    val p = plan("q151_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate top-k must plan as TakeOrderedAndProject:\n$p")
  }

  test("q158: vector pairs form only inside hash blocks — no cartesian join") {
    val p = plan("q158_distance_histogram")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair join must be an equi-join on blk:\n$p")
    assert(p.toLowerCase.contains("vecdot"),
      "distance kernel must be the codegen VecDot")
  }

  test("q164: both join inputs scan bucketed — the join key is never re-shuffled") {
    val df = SparkEntry.queries("q164_bucketed_join")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    // AQE prints initial+final plans, so assert presence, not counts
    assert(p.contains("Bucketed: true"), s"inputs must read bucketed:\n$p")
    assert(p.contains("SelectedBucketsCount"), p)
    // the precise exchange-free claim: no shuffle partitioned on the
    // JOIN key anywhere (the nation agg/orderBy exchanges are fine)
    assert(!p.contains("Exchange hashpartitioning(o_custkey"),
      s"join key re-shuffled — bucketing did not take:\n$p")
  }

  test("slowest-set queries keep WholeStageCodegen spans (interpreted-fallback guard)") {
    // Round-9's bench tail cliff was the suite's LAST queries running
    // 3-23x slow; if a future change ever knocks these heavy hitters out
    // of codegen at the PLAN level (a non-codegen expression in the hot
    // path, a fallback rule), this fails in one named spec instead of a
    // 20-second bench line. (The JIT-code-cache half of that failure mode
    // is covered by build.sbt's ReservedCodeCacheSize and Bench's
    // code-cache usage print.)
    val slowSet = Seq(
      "q03_scd2_build", "q21_dedup_ngram_jaccard", "q63_dedup_minhash_wide",
      "q68_percentile_report", "q92_copurchase_pairs", "q96_containment_pairs",
      "q97_copurchase_similarity", "q99_decayed_value",
      "q101_gap_fill_revenue", "q112_multi_touch", "q121_hll_distinct",
      "q125_dup_spans")
    slowSet.foreach { q =>
      // AdaptiveSparkPlan prints no codegen spans until it finalizes —
      // execute once (sf0.001) so the assertion sees the real plan.
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // codegen'd operators print as "*(n) Op" in the finalized plan
      assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
        s"$q physical plan has no WholeStageCodegen span:\n$p")
    }
  }

  test("q210: status filter pushed to both scans; the overlap join is an equi-join") {
    val p = plan("q210_fifo_allocation")
    assert(p.contains("EqualTo(l_linestatus,F)"), "supply filter not pushed")
    assert(p.contains("EqualTo(l_linestatus,O)"), "demand filter not pushed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "FIFO overlap join fell back to a non-equi join")
  }

  test("q207: all three attribution windows stack on a single per-user sort") {
    val p = plan("q207_ushape_attribution")
    assert("Window \\[".r.findAllIn(p).length == 3, "expected exactly 3 Window nodes")
    // one window sort (user_id, us, event_id) + the final output order —
    // the q66/q201 shared-sort discipline (an inline unix_micros per
    // window spec would re-sort twice more)
    assert("\\+\\- Sort \\[".r.findAllIn(p).length <= 2,
      s"window sorts did not collapse:\n$p")
  }

  test("q202: the life table reads events twice (per-user agg + horizon), not three times") {
    val p = plan("q202_survival_table")
    assert("FileScan parquet".r.findAllIn(p).length == 2,
      s"expected exactly 2 events scans:\n$p")
  }

  test("q211/q212: graph stats never cartesian-join; the only window is the upstream basket bound") {
    // every Window node in q211's tree is coOccurrencePairs' basket-size
    // quarantine (__bsize — the shared edge build, cache-collapsed at
    // execution) — GraphStats itself adds none, and nothing may fall
    // back to a cartesian
    val pa = plan("q211_degree_assortativity")
    assert(pa.linesIterator.filter(_.contains("Window ["))
      .forall(_.contains("__bsize")), pa)
    assert(!pa.contains("CartesianProduct"), pa)
    val pr = plan("q212_reciprocal_best_match")
    assert(!pr.contains("CartesianProduct") && !pr.contains("BroadcastNestedLoopJoin"), pr)
  }
}
