package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextAnalysis
import OracleSql._

/** Deduplication and similarity-join queries: README "Query-surface index",
  * section "Deduplication & similarity joins". Each query is declared once,
  * by the `query(...)` call after its implementation, with its DuckDB
  * oracle SQL beside it.
  */
object DedupQueries extends QueryFamily {

  // --- q20: exact content dedup (hash-groupBy, canonical = min id) -----------
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByContent(Tables.documents(spark, dir), "text", "doc_id")
      .orderBy("doc_id")

  query("q20_dedup_exact", dedupExact,
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
         FROM documents GROUP BY text""")

  // --- q21: n-gram Jaccard near-duplicate pairs ------------------------------
  val JaccardN = 3
  val JaccardThreshold = 0.8
  val JaccardMaxPostings = NearDup.DefaultMaxPostings

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    NearDup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      JaccardN, JaccardThreshold, JaccardMaxPostings)
      .orderBy("doc_a", "doc_b")

  // Jaccard over the df-capped shingle domain — identical cap and
  // post-cap set sizes to NearDup.ngramJaccardPairs. (Shared with the
  // q184 evaluation harness as its ground-truth CTE.)
  query("q21_dedup_ngram_jaccard", dedupNgramJaccard, exactJaccardSql)

  // --- q22: MinHash signatures + LSH band bucketing → candidate pairs --------
  def dedupMinHashLsh(spark: SparkSession, dir: String): DataFrame =
    NearDup.minHashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
      JaccardN, graft.functions.Lsh.Mh16)
      .orderBy("doc_a", "doc_b")

  query("q22_dedup_minhash_lsh", dedupMinHashLsh,
      minHashSql(graft.functions.Lsh.Mh16))

  // --- q63: MinHash LSH at the wide (corpus-scale) geometry ------------------
  // Same operator as q22 under Lsh.Mh64: 64-position signatures in 8 bands
  // of 8 rows — band collisions fall s^4 -> s^8 (the corpus-size response
  // for MinHash banding) and the Jaccard estimate runs at 1/64 resolution.
  def dedupMinHashLshWide(spark: SparkSession, dir: String): DataFrame =
    NearDup.minHashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
      JaccardN, graft.functions.Lsh.Mh64)
      .orderBy("doc_a", "doc_b")

  query("q63_dedup_minhash_wide", dedupMinHashLshWide,
      minHashSql(graft.functions.Lsh.Mh64))

  // --- q23: SimHash fingerprint near-dup (hamming <= k) ----------------------
  val SimHammingMax = 3

  def dedupSimHash(spark: SparkSession, dir: String): DataFrame =
    NearDup.simHashPairs(Tables.documents(spark, dir), "doc_id", "text",
      JaccardN, SimHammingMax, graft.functions.Lsh.Sim32)
      .orderBy("doc_a", "doc_b")

  query("q23_dedup_simhash", dedupSimHash,
      simHashSql(graft.functions.Lsh.Sim32, SimHammingMax))

  // --- q62: SimHash near-dup at the wide (corpus-scale) geometry -------------
  // Same operator and hamming contract as q23 under Lsh.Sim64: 64-bit
  // fingerprint in 4×16-bit bands. Band collisions on unrelated docs drop
  // from 2^-8 to 2^-16 — the corpus-size response — while pigeonhole
  // completeness holds at the same radius, so q62's pairs are the
  // 64-bit-verified subset of q23's.
  def dedupSimHashWide(spark: SparkSession, dir: String): DataFrame =
    NearDup.simHashPairs(Tables.documents(spark, dir), "doc_id", "text",
      JaccardN, SimHammingMax, graft.functions.Lsh.Sim64)
      .orderBy("doc_a", "doc_b")

  query("q62_dedup_simhash_wide", dedupSimHashWide,
      simHashSql(graft.functions.Lsh.Sim64, SimHammingMax))

  // --- q24: embedding-cosine near-duplicate pairs (brute-force baseline) -----
  val CosineThreshold = 0.4

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    NearDup.embeddingCosinePairs(Tables.embeddings(spark, dir), "vec_id",
      "embedding", CosineThreshold)
      .orderBy("vec_a", "vec_b")

  query("q24_dedup_embedding", dedupEmbedding,
      s"""WITH e AS (SELECT vec_id, embedding, $nrmSql AS nrm FROM embeddings)
          SELECT vec_a, vec_b, cos FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
            FROM e a JOIN e b ON a.vec_id < b.vec_id)
          WHERE cos >= ${CosineThreshold}""")

  // --- q51: embedding near-dup via hyperplane-band candidates (scale path) ----
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    NearDup.embeddingLshPairs(Tables.embeddings(spark, dir), "vec_id",
      "embedding", CosineThreshold)
      .orderBy("vec_a", "vec_b")

  query("q51_dedup_embedding_lsh", dedupEmbeddingLsh,
      s"""WITH e AS (SELECT vec_id, embedding, $nrmSql AS nrm FROM embeddings),
          $planeBandsCtes,
          cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                   FROM bands a JOIN bands b
                     ON a.t = b.t AND a.key = b.key AND a.vec_id < b.vec_id)
          SELECT vec_a, vec_b, cos FROM (
            SELECT vec_a, vec_b,
                   ${dotSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cos
            FROM cand JOIN e ea ON vec_a = ea.vec_id
                      JOIN e eb ON vec_b = eb.vec_id)
          WHERE cos >= ${CosineThreshold}""")

  // --- q34: near-dup clusters → canonical doc per component -------------------
  // Edges come from the scale path: MinHash-LSH candidates verified with
  // exact Jaccard on the candidate set only — never the all-pairs shingle
  // self-join (whose cost is unbounded on a skewed corpus).
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Queries.dedupDecisionTable(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("canonical_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")

  query("q34_dedup_clusters", dedupClusters,
      s"""$componentCtes
          SELECT id AS doc_id, canonical_id, (id = canonical_id) AS is_canonical
          FROM (SELECT id, MIN(r) AS canonical_id FROM reach GROUP BY id)""")

  // --- q65: canonical-document selection per near-dup cluster -----------------
  // The keep/drop choice a training-data pipeline enforces: q34's components
  // say which docs are duplicates; this picks which one to KEEP — argmax
  // quality (q28's score) with min-doc_id tiebreak, computed as one
  // struct-max aggregation in the shared decision table (no window, no
  // per-cluster sort).
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame =
    clusterCanonicalFrom(Queries.dedupDecisionTable(spark, dir))

  query("q65_cluster_canonical", clusterCanonical, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""$componentCtes,
          comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
          q AS (SELECT doc_id,
                       0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
                              / len($ws))
                         + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)
                         AS quality_score
                FROM documents),
          ranked AS (SELECT c.id, c.cluster_id,
                            row_number() OVER (PARTITION BY c.cluster_id
                                               ORDER BY q.quality_score DESC, c.id) AS rn
                     FROM comp c JOIN q ON c.id = q.doc_id),
          reps AS (SELECT cluster_id, id AS canonical_doc FROM ranked WHERE rn = 1)
          SELECT r.id AS doc_id, r.cluster_id, reps.canonical_doc,
                 (r.id = reps.canonical_doc) AS keep
          FROM ranked r JOIN reps USING (cluster_id)"""
    })

  /** q65 as a pure consumer of an already-materialized decision table. */
  def clusterCanonicalFrom(table: DataFrame): DataFrame =
    table.select(col("doc_id"), col("cluster_id"), col("canonical_doc"), col("keep"))
      .orderBy("doc_id")

  // --- q91: semantic cluster-pruned embedding dedup (SemDeDup shape) -----------
  // Cluster first, compare only within clusters: the published recipe for
  // embedding dedup at web scale (k ~ 50k clusters there; the centroid
  // count is the knob). Centroids here are a fixed id-order draw so the
  // SQL twin replays them verbatim — production trains them
  // (Ivf.trainKMeans) and the operator is unchanged.
  val SemLists = 16

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.orderBy("vec_id").limit(SemLists)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    NearDup.clusterCosinePairs(emb, "vec_id", "embedding", cents, CosineThreshold)
      .orderBy("vec_a", "vec_b")
  }

  query("q91_semantic_dedup", semanticDedup,
      s"""WITH base AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS list,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT ${SemLists})),
          u AS (SELECT list, CASE WHEN nrm = 0 THEN cent
                                  ELSE list_transform(cent, x -> x / nrm) END AS ucent
                FROM (SELECT list, cent,
                             sqrt(list_reduce(list_transform(cent, x -> x*x),
                                              (a,b) -> a+b)) AS nrm
                      FROM base)),
          v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                       $nrmSql AS nrm
                FROM embeddings),
          asn AS (SELECT vec_id, list FROM (
                    SELECT v.vec_id, u.list,
                           row_number() OVER (PARTITION BY v.vec_id
                                              ORDER BY ${dotSql("u.ucent", "v.v")} DESC,
                                                       u.list) AS rn
                    FROM v, u)
                  WHERE rn = 1)
          SELECT list, vec_a, vec_b, cos FROM (
            SELECT aa.list, a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
            FROM v a, asn aa, v b, asn bb
            WHERE a.vec_id = aa.vec_id AND b.vec_id = bb.vec_id
              AND aa.list = bb.list AND a.vec_id < b.vec_id)
          WHERE cos >= ${CosineThreshold}""")

  // --- q96: asymmetric containment pairs ----------------------------------------
  // The truncation/expansion duplicates Jaccard can't see (an excerpt
  // inside a page scores Jaccard ~|A|/|B| but containment 1.0). Threshold
  // 0.9 ≈ "nine tenths of the smaller document appears verbatim in the
  // other" — the document-level decontamination/memorization signal.
  val ContainmentThreshold = 0.9

  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    NearDup.ngramContainmentPairs(Tables.documents(spark, dir), "doc_id", "text",
      JaccardN, ContainmentThreshold, JaccardMaxPostings)
      .orderBy("doc_a", "doc_b")

  query("q96_containment_pairs", containmentPairs,
      // same df-capped posting domain as q21; only the normalization
      // (per-side set size instead of union size) differs
      s"""WITH d AS (SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(1, len($ws) - ${JaccardN - 1}),
                    i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS sh
           FROM documents),
          ex0 AS (SELECT doc_id, unnest(sh) AS s FROM d),
          ok AS (SELECT s FROM ex0 GROUP BY s
                 HAVING COUNT(*) <= ${JaccardMaxPostings}),
          ex AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n, s
                 FROM (SELECT doc_id, s FROM ex0 JOIN ok USING (s))),
          p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.n AS na, b.n AS nb, COUNT(*) AS common
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, common, cont_a_in_b, cont_b_in_a, jaccard FROM (
           SELECT doc_a, doc_b, common,
                  CAST(common AS DOUBLE) / na AS cont_a_in_b,
                  CAST(common AS DOUBLE) / nb AS cont_b_in_a,
                  CAST(common AS DOUBLE) / (na + nb - common) AS jaccard FROM p)
         WHERE greatest(cont_a_in_b, cont_b_in_a) >= ${ContainmentThreshold}""")

  // --- q80: corpus-health report — near-duplication rate by source -------------
  // The dashboard number a dedup pipeline is judged by: per source, how
  // much of the corpus sits in near-dup clusters. A pure rollup of the
  // shared decision table (cluster_size and source are already columns):
  // one hash-agg on source. dup_rate is an exact integer ratio emitted as
  // double (single division — bit-stable cross-engine).
  def dupRateBySource(spark: SparkSession, dir: String): DataFrame =
    dupRateBySourceFrom(Queries.dedupDecisionTable(spark, dir))

  query("q80_dup_rate_by_source", dupRateBySource,
      s"""$componentCtes,
          comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
          sizes AS (SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup,
                 CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS dup_rate
          FROM comp JOIN sizes USING (label)
                    JOIN documents ON comp.id = documents.doc_id
          GROUP BY 1""")

  // --- q87: cross-source duplication leakage matrix ----------------------------
  // WHERE the near-dups come from: verified pairs rolled up by unordered
  // source pair — the diagonal is within-source boilerplate, off-diagonal
  // is cross-source leakage (mirrored crawls, syndication). Rides the
  // memoized pair list (shared with the decision table) and looks sources
  // up in the cached decision table, so the marginal cost is two joins of
  // the PAIR frame (small — near-dups only) and one hash-agg. max_jaccard
  // (not mean) keeps the float aggregation partition-order independent.
  def sourceLeakage(spark: SparkSession, dir: String): DataFrame = {
    val src = Queries.dedupDecisionTable(spark, dir).select(col("doc_id"), col("source"))
    Queries.verifiedPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  query("q87_source_leakage", sourceLeakage,
      s"""$componentCtes,
          sp AS (SELECT least(a.source, b.source) AS source_a,
                        greatest(a.source, b.source) AS source_b, jaccard
                 FROM pairs JOIN documents a ON pairs.doc_a = a.doc_id
                            JOIN documents b ON pairs.doc_b = b.doc_id)
          SELECT source_a, source_b, COUNT(*) AS n_pairs,
                 MAX(jaccard) AS max_jaccard
          FROM sp GROUP BY 1, 2""")

  // --- q89: quality-decile duplication calibration -----------------------------
  // Does low quality predict duplication? The corpus-health cross every
  // curation pipeline sanity-checks before filtering on either signal:
  // decision-table rows bucketed by quality decile, each decile's dup
  // rate and mean cluster size. A pure rollup of the cached decision
  // table — one hash-agg on the decile. Ratios are single divisions of
  // exact integer sums (bit-stable); the decile is floor(q·10) clamped
  // to 9 so quality exactly 1.0 lands in the top decile.
  def qualityDupCalibration(spark: SparkSession, dir: String): DataFrame =
    Queries.dedupDecisionTable(spark, dir)
      .select(least(floor(col("quality_score") * lit(10.0)), lit(9.0))
        .cast("long").as("decile"),
        col("cluster_size"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(col("cluster_size")).as("size_sum"))
      .select(col("decile"), col("n_docs"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_rate"),
        (col("size_sum").cast("double") / col("n_docs")).as("mean_cluster_size"))
      .orderBy("decile")

  query("q89_quality_dup_calibration", qualityDupCalibration, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""$componentCtes,
          comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
          sizes AS (SELECT label, COUNT(*) AS cluster_size FROM comp GROUP BY 1),
          q AS (SELECT doc_id,
                       0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
                              / len($ws))
                         + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)
                         AS quality_score
                FROM documents),
          dd AS (SELECT CAST(least(floor(quality_score * 10.0), 9) AS BIGINT)
                          AS decile,
                        cluster_size
                 FROM comp JOIN sizes USING (label)
                           JOIN q ON comp.id = q.doc_id)
          SELECT decile, COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS dup_rate,
                 CAST(SUM(cluster_size) AS DOUBLE) / COUNT(*)
                   AS mean_cluster_size
          FROM dd GROUP BY 1"""
    })

  /** q80 as a pure consumer of an already-materialized decision table. */
  def dupRateBySourceFrom(table: DataFrame): DataFrame =
    table.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_size") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_rate", col("n_dup").cast("double") / col("n_docs"))
      .orderBy("source")

  // --- q50: prefix-fingerprint dedup (leading-content duplicate groups) -------
  // Templated/mirrored documents share openings long before they share
  // full text; grouping on a fingerprint of the first k words is the
  // cheap first-pass dedup of crawl pipelines (one hash-agg shuffle, no
  // content comparison).
  val PrefixWords = 10

  def dedupPrefix(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.rollingFingerprint(
          array_join(slice(ws, 1, PrefixWords), " ")).as("prefix_fp"))
      .groupBy("prefix_fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "prefix_fp", "dup_count")
      .orderBy("doc_id")
  }

  query("q50_dedup_prefix", dedupPrefix,
      s"""SELECT MIN(doc_id) AS doc_id, prefix_fp, COUNT(*) AS dup_count
          FROM (SELECT doc_id,
                       ${fpSql(s"array_to_string(($ws)[1:${PrefixWords}], ' ')")}
                         AS prefix_fp
                FROM documents)
          GROUP BY prefix_fp""")

  // --- q56: benchmark decontamination by n-gram collision ---------------------
  // The GPT-3/Llama decontamination pass: flag training documents sharing
  // any n-gram with a held-out evaluation set. Eval docs are drawn from
  // the table itself (a leaked benchmark); eval n-grams are a broadcast
  // semi-side, so the training corpus is scanned once and never shuffled.
  // n = 4 because the synthetic docs are 10-99 words — production uses
  // 13-grams, same plan shape.
  val DecontamN = 4
  val DecontamEvalIds: Seq[Long] = Seq(2L, 5L, 8L)

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (grams, evalGrams) = decontamGramSides(spark, dir)
    decontamReport(
      grams.filter(!col("doc_id").isin(DecontamEvalIds: _*))
        .join(broadcast(evalGrams), Seq("gram")))
  }

  query("q56_decontaminate", decontaminate, decontamSql)

  /** (all doc n-grams, distinct eval-side n-grams) — shared by the exact
    * broadcast path (q56) and the bloom-prefiltered path (q243).
    */
  private def decontamGramSides(spark: SparkSession,
                                dir: String): (DataFrame, DataFrame) = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.plans.SignatureExprs.distinctNGrams(
          TextAnalysis.words(col("text")), DecontamN)).as("gram"))
    val evalGrams = grams.filter(col("doc_id").isin(DecontamEvalIds: _*))
      .select(col("gram"), col("doc_id").as("eval_id")).distinct()
    (grams, evalGrams)
  }

  private def decontamReport(hits: DataFrame): DataFrame =
    hits.groupBy("eval_id")
      .agg(count_distinct(col("doc_id")).as("n_flagged"),
        count(lit(1)).as("n_contaminated_ngrams"))
      .orderBy("eval_id")

  // --- q119: dedup cluster-size histogram ------------------------------------------
  // The dup-structure report every dedup pipeline publishes: how many
  // clusters of each size, how many documents they hold, and their share
  // of the corpus. Projects the memoized q34/q65/q80 decision table —
  // zero new heavy work — then two tiny aggregates.
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Queries.dedupDecisionTable(spark, dir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    clusters.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .withColumn("doc_share",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(w).cast("double"))
      .orderBy("cluster_size")
  }

  query("q119_cluster_histogram", clusterSizeHistogram,
      s"""$componentCtes,
          comp AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
          sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
                    FROM comp GROUP BY 1),
          h AS (SELECT cluster_size, COUNT(*) AS n_clusters,
                       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
                FROM sizes GROUP BY 1)
          SELECT cluster_size, n_clusters, n_docs,
                 CAST(n_docs AS DOUBLE)
                   / CAST(SUM(n_docs) OVER () AS DOUBLE) AS doc_share
          FROM h""")

  // --- q123: per-source shingle novelty --------------------------------------------
  // How much of each source's n-gram vocabulary is UNIQUE to it — the
  // corpus-composition complement of q87's pairwise leakage: novelty ~1
  // means the source adds genuinely new text, ~0 means it restates the
  // rest of the corpus. The per-shingle source count rides a window
  // partitioned by the shingle over the deduped (source, shingle) frame
  // — ONE pass over the corpus (the explode+dedup is the heavy stage; a
  // join-back formulation re-ran it per side, measured 2 scans with no
  // exchange reuse), then narrow shuffles on already-deduped rows. Never
  // a source×source comparison.
  def sourceNovelty(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.plans.SignatureExprs.distinctNGrams(
          TextAnalysis.words(col("text")), JaccardN)).as("s"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("s")
    pairs.withColumn("ns", count(lit(1)).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ns") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_rate",
        col("n_unique").cast("double") / col("n_shingles").cast("double"))
      .orderBy("source")
  }

  query("q123_source_novelty", sourceNovelty,
      s"""WITH d AS (SELECT source, $shinglesSql AS sh FROM documents),
          ex AS (SELECT DISTINCT source, unnest(sh) AS s FROM d
                 WHERE len(sh) > 0),
          ps AS (SELECT s, COUNT(*) AS ns FROM ex GROUP BY 1)
          SELECT source, COUNT(*) AS n_shingles,
                 CAST(SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
                 CAST(SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS novelty_rate
          FROM ex JOIN ps USING (s)
          GROUP BY 1""")

  // --- q125: exact duplicated-span detection ---------------------------------------
  // Exact duplicated token RUNS across documents (the Lee et al. 2021
  // "Deduplicating Training Data" ExactSubstr family) — the complement of
  // the MinHash/SimHash whole-doc similarity queries: a 50-token
  // boilerplate shared by two otherwise-unrelated pages is invisible to
  // doc-level Jaccard yet memorized verbatim. Shuffle-native shape (the
  // single-node classic is a suffix array; that doesn't distribute):
  // every K-token gram position keys ONE shuffle on the gram text; the
  // per-gram distinct-doc count rides dense_rank + max windows on that
  // one sorted partition (no join-back re-scan of the corpus); positions
  // whose gram occurs in ≥2 docs then collapse into maximal spans with
  // per-doc gaps-and-islands windows (running max of covered end,
  // adjacent-or-overlapping coverage merges). Output is the span table —
  // O(duplicated regions), not O(corpus). At 100 TB the gram shuffle key
  // becomes xxhash64(gram) (8 bytes vs ~50 text; a 2^-64 collision merges
  // two gram classes — fine for dedup, not for this oracle-exact form),
  // and the per-doc island windows stay bounded by doc length.
  val DupSpanK = 8

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = DupSpanK
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      // greatest(...,1) keeps `sequence` ascending on docs shorter than K
      // (sequence(1, n) with n <= 0 DESCENDS in Spark); the filter then
      // drops the out-of-range position those docs produce.
      .select(col("doc_id"), explode(expr(
        s"""filter(
              transform(sequence(1, greatest(size(w) - ${k - 1}, 1)),
                i -> struct(CAST(i AS BIGINT) AS i,
                            array_join(slice(w, i, $k), ' ') AS gram)),
              g -> g.i <= size(w) - ${k - 1})""")).as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.gram").as("gram"))
    // Distinct docs per gram WITHOUT a join-back: dense_rank over
    // (gram, doc_id) then max over the gram partition — both windows share
    // one exchange + sort on the gram key.
    val wGo = Window.partitionBy("gram").orderBy("doc_id")
    val wG  = Window.partitionBy("gram")
    val hits = grams
      .withColumn("__dr", dense_rank().over(wGo))
      .withColumn("__nd", max(col("__dr")).over(wG))
      .filter(col("__nd") >= 2)
      .select(col("doc_id"), col("i"), (col("i") + lit(k - 1).cast("long")).as("e"))
    // Gaps-and-islands on token coverage: a position starts a new span
    // when it begins past the running max covered end + 1 (adjacent
    // coverage merges — the union of covered tokens is contiguous).
    val wDo = Window.partitionBy("doc_id").orderBy("i")
    val prevEnd = max(col("e"))
      .over(wDo.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__new",
        when(col("i") > coalesce(prevEnd, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(wDo))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("i")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  query("q125_dup_spans", dupSpans, {
      val k = DupSpanK
      s"""WITH d AS (SELECT doc_id, $ws AS w FROM documents),
          g AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                       array_to_string(list_slice(w, i, i + ${k - 1}), ' ') AS gram
                FROM d, UNNEST(generate_series(1, len(w) - ${k - 1})) t(i)
                WHERE len(w) >= $k),
          dup AS (SELECT gram FROM g GROUP BY gram
                  HAVING COUNT(DISTINCT doc_id) >= 2),
          h AS (SELECT g.doc_id, g.i, g.i + ${k - 1} AS e
                FROM g JOIN dup USING (gram)),
          fl AS (SELECT doc_id, i, e,
                   CASE WHEN i > COALESCE(MAX(e) OVER (
                          PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) + 1
                        THEN 1 ELSE 0 END AS f
                 FROM h),
          sp AS (SELECT doc_id, i, e,
                   SUM(f) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS island
                 FROM fl)
          SELECT doc_id, MIN(i) AS span_start, MAX(e) AS span_end,
                 CAST(MAX(e) - MIN(i) + 1 AS BIGINT) AS span_tokens
          FROM sp GROUP BY doc_id, island"""
    })

  // --- q283: exact-substring EXCISION (q273 → the cleaned corpus) -----------------------
  // The consuming half of Lee et al.'s ExactSubstr dedup: q273 FINDS the
  // repeated spans; this CUTS them — each document's kept text is the
  // concatenation of the segments BETWEEN its merged spans (segments
  // derived relationally: per span, the slice from the previous span's
  // end+1 to its start−1 via one lag window; plus the tail after the
  // last span — which also carries everything beyond the analyzed
  // `SuffixMaxChars` prefix untouched). Docs with no spans pass through
  // verbatim. One keyed window over the O(spans) frame + one hash-agg;
  // the ordered reassembly is a deterministic sort_array fold, not a
  // collect_list-order gamble.
  def dedupExcise(spark: SparkSession, dir: String): DataFrame =
    dedupExciseFrom(Tables.documents(spark, dir))

  // span EXCISION over the naive-witness spans (q273's independent
  // oracle form) — segments between spans via one lag window, ordered
  // string_agg reassembly, tail past the last span carried verbatim
  query("q283_dedup_excise", dedupExcise, {
      val L = SuffixWindow
      val mc = SuffixMaxChars
      s"""WITH d AS (SELECT doc_id, substr(text, 1, $mc) AS t
                     FROM documents
                     WHERE text IS NOT NULL
                       AND length(substr(text, 1, $mc)) >= $L),
          w AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                       substr(t, CAST(i AS INT), $L) AS win
                FROM d, LATERAL (SELECT unnest(generate_series(1,
                       length(t) - ${L - 1})) AS i) g),
          rep AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
          hits AS (SELECT doc_id, i, i + ${L - 1} AS e
                   FROM w JOIN rep USING (win)),
          isl AS (SELECT doc_id, i, e,
                         CASE WHEN i > COALESCE(MAX(e) OVER (
                                PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1) + 1
                              THEN 1 ELSE 0 END AS nw
                  FROM hits),
          spn AS (SELECT doc_id, i, e,
                        SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl),
          spans AS (SELECT doc_id, MIN(i) AS span_start, MAX(e) AS span_end
                    FROM spn GROUP BY doc_id, island),
          docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
          segs AS (SELECT s.doc_id, span_start, span_end, text,
                        COALESCE(LAG(span_end) OVER (PARTITION BY s.doc_id
                          ORDER BY span_start), 0) + 1 AS seg_from,
                        LEAD(span_start) OVER (PARTITION BY s.doc_id
                          ORDER BY span_start) AS nxt
                   FROM spans s JOIN docs USING (doc_id)),
          built AS (SELECT doc_id,
                        CAST(COUNT(*) AS BIGINT) AS n_spans,
                        CAST(SUM(span_end - span_start + 1) AS BIGINT)
                          AS cut_chars,
                        string_agg(
                          substr(text, CAST(seg_from AS INT),
                            CAST(GREATEST(span_start - seg_from, 0) AS INT))
                          || CASE WHEN nxt IS NULL
                               THEN substr(text, CAST(span_end + 1 AS INT))
                               ELSE '' END,
                          '' ORDER BY span_start) AS kept_text
                    FROM segs GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(n_spans, 0) AS n_spans,
                 COALESCE(cut_chars, 0) AS cut_chars,
                 COALESCE(kept_text, d.text) AS kept_text
          FROM docs d LEFT JOIN built USING (doc_id)"""
    })

  /** Excision over any (doc_id, text) frame — factored for the spec. */
  private[graft] def dedupExciseFrom(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val spans = graft.operators.SuffixSpans.repeatedSpans(
      docs, "doc_id", "text", SuffixWindow, SuffixMaxChars)
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("span_start")
    val segs = spans.join(docs, "doc_id")
      .withColumn("seg_from",
        coalesce(lag(col("span_end"), 1).over(wD) + 1, lit(1L)))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        // the between-spans segment (empty when spans touch)
        col("text").substr(col("seg_from").cast("int"),
          greatest(col("span_start") - col("seg_from"), lit(0L)).cast("int"))
          .as("seg"),
        // the after-last-span tail (non-empty only on the last span row)
        when(lead(col("span_start"), 1).over(wD).isNull,
          col("text").substr((col("span_end") + 1).cast("int"), lit(1 << 24)))
          .otherwise(lit("")).as("tail_seg"))
    val rebuilt = segs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("cut_chars"),
        // deterministic ordered reassembly: sort by span_start, then fold
        concat(
          array_join(expr(
            "transform(sort_array(collect_list(struct(span_start, seg))), x -> x.seg)"),
            ""),
          array_join(expr(
            "transform(sort_array(collect_list(struct(span_start, tail_seg))), x -> x.tail_seg)"),
            "")).as("kept_text"))
    docs.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"),
        coalesce(col("kept_text"), col("text")).as("kept_text"))
      .orderBy("doc_id")
  }

  // --- q184: LSH candidate-quality evaluation harness --------------------------------
  // Before trusting an LSH geometry at corpus scale you MEASURE it:
  // candidate pairs from the banded MinHash path (q22) against exact
  // ground truth (q21's df-capped Jaccard ≥ 0.8), reported as one
  // precision/recall row. Both sides are the already-gated operators;
  // the metrics are two integer-ratio divisions.
  def lshEvaluation(spark: SparkSession, dir: String): DataFrame = {
    val cands = dedupMinHashLsh(spark, dir).select("doc_a", "doc_b")
    val truth = dedupNgramJaccard(spark, dir).select("doc_a", "doc_b")
    val hits = cands.join(truth, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hits"))
    cands.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .crossJoin(hits)
      .select(col("n_candidates"), col("n_true"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_candidates")).as("precision"),
        (col("n_hits").cast("double") / col("n_true")).as("recall"))
  }

  query("q184_lsh_evaluation", lshEvaluation, {
      import graft.functions.Lsh.Mh16
      s"""WITH cands AS (${minHashSql(Mh16)}),
          truth AS ($exactJaccardSql),
          m AS (SELECT
                  (SELECT COUNT(*) FROM cands) AS n_candidates,
                  (SELECT COUNT(*) FROM truth) AS n_true,
                  (SELECT COUNT(*) FROM cands JOIN truth
                     USING (doc_a, doc_b)) AS n_hits)
          SELECT n_candidates, n_true, n_hits,
                 CAST(n_hits AS DOUBLE) / n_candidates AS precision,
                 CAST(n_hits AS DOUBLE) / n_true AS recall
          FROM m"""
    })

  // --- q188: prefix-filtered exact-Jaccard join ------------------------------------
  // The LOSSLESS scale path for exact similarity join (PPJoin prefix
  // principle): q21's df cap bounds fan-out by DROPPING boilerplate
  // shingles (lossy), LSH (q22) recalls probabilistically — prefix
  // filtering keeps EVERY qualifying pair while joining only each doc's
  // |t|−⌈θ|t|⌉+1 rarest tokens (ascending-df global order puts the
  // smallest-df² fan-out in the prefix). Threshold enters the prefix
  // arithmetic as the rational 4/5 so the recall proof is integer-exact.
  // Oracle = the UNBOUNDED exact-Jaccard join (no df cap) — the gate
  // proves losslessness, not just agreement with another approximation.
  val PrefixThrNum = 4L
  val PrefixThrDen = 5L

  def prefixJaccard(spark: SparkSession, dir: String): DataFrame =
    NearDup.prefixJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        JaccardN, PrefixThrNum, PrefixThrDen)
      .orderBy("doc_a", "doc_b")

  query("q188_prefix_jaccard", prefixJaccard,
      // the UNBOUNDED exact-Jaccard join — no df cap: the gate proves
      // prefix filtering is lossless, not merely consistent with
      // another bounded approximation
      s"""WITH d AS (SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, len($ws) - ${JaccardN - 1}),
                  i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS sh
           FROM documents),
          ex0 AS (SELECT doc_id, unnest(sh) AS s FROM d),
          ex AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n, s
                 FROM ex0),
          p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.n AS na, b.n AS nb, COUNT(*) AS common
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4)
          SELECT doc_a, doc_b, common, jaccard FROM (
            SELECT doc_a, doc_b, common,
                   CAST(common AS DOUBLE) / (na + nb - common) AS jaccard
            FROM p)
          WHERE jaccard >= ${PrefixThrNum.toDouble / PrefixThrDen}""")

  // --- q243: bloom-prefiltered decontamination ------------------------------------------
  // q56's scale path for when the eval-set n-gram table is itself too
  // big to broadcast as DATA: the eval grams compress to a 2^17-bit
  // bloom bitmap (16 KiB however many grams — the q129 runtime-filter
  // machinery on a string key), the training scan keeps only bloom hits
  // (map-side, codegen membership test), and the exact confirm join
  // runs on the SURVIVORS only. False positives die in the confirm,
  // false negatives are impossible — so the report is bit-identical to
  // q56's, which is exactly what the shared oracle checks.
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val (grams, evalGrams) = decontamGramSides(spark, dir)
    val bitmap = BloomJoin.buildBitmap(evalGrams, "gram", RuntimeQueries.BloomBits)
    decontamReport(
      grams.filter(!col("doc_id").isin(DecontamEvalIds: _*))
        .filter(BloomJoin.mightContain(bitmap, col("gram")))
        .join(broadcast(evalGrams), Seq("gram")))
  }

  // q243 — the bloom prefilter is semantics-neutral (false positives
  // die in the exact confirm join, false negatives are impossible), so
  // the bloom path shares q56's oracle verbatim.
  query("q243_bloom_decontaminate", decontaminateBloom, decontamSql)

  // --- q273: exact substring dedup via prefix-doubling suffix ranking ---------------------
  // The true Lee et al. ExactSubstr operator (VERDICT r16 item 2):
  // q125's word-8-gram span merge quantizes to word boundaries and
  // gram length — a verbatim repeat shorter than 8 words, or one that
  // starts mid-word, is invisible to it. operators/SuffixSpans finds
  // ALL length-≥16-char repeated windows by equality-only prefix
  // doubling (4 integer-rank shuffle rounds; no substring ever crosses
  // an exchange, no global sort), then merges coverage into maximal
  // per-doc spans — q125's report shape at character granularity. The
  // oracle is the deliberately naive witness: materialize every 16-char
  // window, GROUP BY the text itself.
  val SuffixWindow = 16
  val SuffixMaxChars = 512

  def suffixSpans(spark: SparkSession, dir: String): DataFrame =
    operators.SuffixSpans.repeatedSpans(
      Tables.documents(spark, dir).filter(col("text").isNotNull),
      "doc_id", "text", SuffixWindow, SuffixMaxChars)

  // q273 — the naive witness: every 16-char window materialized and
  // grouped by its TEXT (the 16× key blow-up the prefix-doubling
  // plan exists to avoid), then q125's island merge on coverage
  query("q273_suffix_spans", suffixSpans, {
      val L = SuffixWindow
      val mc = SuffixMaxChars
      s"""WITH d AS (SELECT doc_id, substr(text, 1, $mc) AS t
                     FROM documents
                     WHERE text IS NOT NULL
                       AND length(substr(text, 1, $mc)) >= $L),
          w AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                       substr(t, CAST(i AS INT), $L) AS win
                FROM d, LATERAL (SELECT unnest(generate_series(1,
                       length(t) - ${L - 1})) AS i) g),
          rep AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
          hits AS (SELECT doc_id, i, i + ${L - 1} AS e
                   FROM w JOIN rep USING (win)),
          isl AS (SELECT doc_id, i, e,
                         CASE WHEN i > COALESCE(MAX(e) OVER (
                                PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), -1) + 1
                              THEN 1 ELSE 0 END AS nw
                  FROM hits),
          sp AS (SELECT doc_id, i, e,
                        SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl)
          SELECT doc_id, MIN(i) AS span_start, MAX(e) AS span_end,
                 MAX(e) - MIN(i) + 1 AS span_chars
          FROM sp GROUP BY doc_id, island"""
    })

  // --- oracle SQL fragments the specs above share --------------------------

  /** Geometry-parameterized MinHash-LSH twin — ≡ NearDup.minHashLshPairs
    * under the same Lsh.MinHashGeometry (constants interpolated from the
    * geometry object the Spark path runs with). The band fold reduces mod
    * P each step, exactly as Lsh.bandKeys does.
    */
  private def minHashSql(geom: graft.functions.Lsh.MinHashGeometry): String = {
    import graft.functions.Lsh.P
    val aArr = sqlArr(geom.a)
    val bArr = sqlArr(geom.b)
    val r = geom.rowsPerBand
    s"""WITH d AS (SELECT doc_id, $shinglesSql AS sh FROM documents
                   WHERE len($ws) >= ${JaccardN}),
        f AS (SELECT doc_id, list_transform(sh, s -> ${fpSql("s")}) AS fps FROM d),
        sigs AS (SELECT doc_id,
                        list_transform(generate_series(1, ${geom.k}), i ->
                          list_aggregate(list_transform(fps,
                            v -> ($aArr[i]*v + $bArr[i]) % $P), 'min')) AS sig
                 FROM f),
        bands AS (SELECT doc_id, t,
                         list_reduce(sig[t*$r+1 : t*$r+$r],
                           (x,y) -> (x*31+y) % $P) AS key
                  FROM sigs,
                       (SELECT unnest(generate_series(0, ${geom.bands - 1})) AS t) bt),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.t = b.t AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(len(list_filter(generate_series(1, ${geom.k}), i -> sa.sig[i] = sb.sig[i]))
                    AS DOUBLE) / ${geom.k}.0 AS est_jaccard
        FROM cand JOIN sigs sa ON doc_a = sa.doc_id JOIN sigs sb ON doc_b = sb.doc_id"""
  }

  /** Geometry-parameterized SimHash twin — ≡ NearDup.simHashPairs under the
    * same Lsh.SimGeometry (single source of truth: every constant below is
    * interpolated from the geometry object the Spark path runs with).
    * Fingerprints are lists of 32-bit words, exactly as on the Spark side,
    * so all arithmetic stays in the double-exact range on both engines.
    */
  private def simHashSql(geom: graft.functions.Lsh.SimGeometry, maxHamming: Int): String = {
    import graft.functions.Lsh.TwoPow32
    val w32 = sqlArr((0 until 32).map(j => 1L << j))
    val gas = sqlArr(geom.gas)
    val gbs = sqlArr(geom.gbs)
    val divs = sqlArr((0 until geom.bands).map(t =>
      1L << ((t % geom.bandsPerWord) * geom.width)))
    val mask = 1L << geom.width
    s"""WITH d AS (SELECT doc_id, $shinglesSql AS sh FROM documents
                   WHERE len($ws) >= ${JaccardN}),
        f AS (SELECT doc_id, list_transform(sh, s -> ${fpSql("s")}) AS fps FROM d),
        g AS (SELECT doc_id,
                     list_transform(generate_series(1, ${geom.words}), w ->
                       list_transform(fps, v -> ($gas[w]*v + $gbs[w]) % $TwoPow32)) AS gs
              FROM f),
        sims AS (SELECT doc_id,
                        list_transform(generate_series(1, ${geom.words}), w ->
                          list_reduce(list_transform(generate_series(0, 31), j ->
                            CASE WHEN 2*len(list_filter(gs[w],
                                   v -> CAST(floor(v / ($w32[j+1])) AS BIGINT) % 2 = 1))
                                 >= len(gs[w])
                                 THEN $w32[j+1] ELSE CAST(0 AS BIGINT) END),
                            (a,b) -> a+b)) AS sim
                 FROM g),
        bands AS (SELECT doc_id, t,
                         CAST(floor(sim[(t // ${geom.bandsPerWord}) + 1] / ($divs[t+1]))
                              AS BIGINT) % $mask AS key
                  FROM sims,
                       (SELECT unnest(generate_series(0, ${geom.bands - 1})) AS t) bt),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.t = b.t AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM (
          SELECT doc_a, doc_b,
                 CAST(list_reduce(list_transform(generate_series(1, ${geom.words}), w ->
                        CAST(bit_count(xor(sa.sim[w], sb.sim[w])) AS BIGINT)),
                      (a,b) -> a+b) AS INT) AS hamming
          FROM cand JOIN sims sa ON doc_a = sa.doc_id JOIN sims sb ON doc_b = sb.doc_id)
        WHERE hamming <= $maxHamming"""
  }

  /** The decontamination report (shared by q56's exact broadcast path
    * and q243's bloom-prefiltered path — the bloom pass cannot change
    * the result set, only the bytes that reach the confirm join).
    */
  private lazy val decontamSql: String = {
    val ids = DecontamEvalIds.mkString("(", ",", ")")
    val n = DecontamN
    val gram = (0 until n).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
    s"""WITH w AS (SELECT doc_id, $ws AS ws FROM documents),
        g AS (SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(1, len(ws) - ${n - 1}), i -> $gram))) AS gram
              FROM w WHERE len(ws) >= $n),
        ev AS (SELECT DISTINCT gram, doc_id AS eval_id FROM g
               WHERE doc_id IN $ids),
        hits AS (SELECT eval_id, g.doc_id FROM ev JOIN g USING (gram)
                 WHERE g.doc_id NOT IN $ids)
        SELECT eval_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_flagged,
               count(*) AS n_contaminated_ngrams
        FROM hits GROUP BY 1"""
  }

  /** Exact n-gram-Jaccard pairs over the df-capped shingle domain —
    * ≡ NearDup.ngramJaccardPairs (q21; ground truth for q184's eval).
    */
  private lazy val exactJaccardSql: String =
    s"""WITH d AS (SELECT doc_id,
                list_distinct(list_transform(
                  generate_series(1, len($ws) - ${JaccardN - 1}),
                  i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS sh
         FROM documents),
        ex0 AS (SELECT doc_id, unnest(sh) AS s FROM d),
        ok AS (SELECT s FROM ex0 GROUP BY s
               HAVING COUNT(*) <= ${JaccardMaxPostings}),
        ex AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n, s
               FROM (SELECT doc_id, s FROM ex0 JOIN ok USING (s))),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.n AS na, b.n AS nb, COUNT(*) AS common
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4)
       SELECT doc_a, doc_b, common, jaccard FROM (
         SELECT doc_a, doc_b, common,
                CAST(common AS DOUBLE) / (na + nb - common) AS jaccard FROM p)
       WHERE jaccard >= ${JaccardThreshold}"""
}
