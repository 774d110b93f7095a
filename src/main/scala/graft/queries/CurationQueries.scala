package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextAnalysis
import OracleSql._

/** Training-data curation and multimodal queries: README "Query-surface
  * index", sections "Training-data curation" and "Multimodal payloads".
  * Each query is declared once, by the `query(...)` call after its
  * implementation, with its DuckDB oracle SQL beside it.
  */
object CurationQueries extends QueryFamily {

  // --- q31: opaque media payload + typed metadata (decode stubbed) ------------
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractMeta(Multimodal.payloadTable(Tables.documents(spark, dir)))
      .orderBy("doc_id")

  query("q31_multimodal_meta", multimodalMeta,
      s"""SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                      WHEN doc_id % 3 = 1 THEN 'audio/wav'
                      ELSE 'video/mp4' END AS media_type,
                 CAST(octet_length(encode(text)) AS INT) AS byte_len,
                 substr(hex(encode(text)), 1, 16) AS head_hex,
                 ${fpSql("text")} AS checksum,
                 CAST(64 + octet_length(encode(text)) % 193 AS INT) AS width,
                 CAST(64 + (octet_length(encode(text)) * 31) % 193 AS INT) AS height
          FROM documents""")

  // --- q45: frame-sampling schedule for video payloads -------------------------
  val FramesPerVideo = 4

  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    Multimodal.payloadTable(Tables.documents(spark, dir))
      .filter(col("media_type") === "video/mp4")
      .select(col("doc_id"),
        posexplode(Multimodal.frameSampleOffsets(octet_length(col("payload")), FramesPerVideo))
          .as(Seq("frame_idx", "byte_offset")))
      .orderBy("doc_id", "frame_idx")

  query("q45_multimodal_frames", multimodalFrames,
      s"""SELECT doc_id,
                 CAST(m AS INT) AS frame_idx,
                 CAST(floor(octet_length(encode(text)) * m
                            / ${FramesPerVideo}.0) AS BIGINT) AS byte_offset
          FROM documents,
               (SELECT unnest(generate_series(0, ${FramesPerVideo - 1})) AS m) g
          WHERE doc_id % 3 = 2""")

  // --- q77: deterministic quality-weighted sampling ----------------------------
  // Corpus downsampling with retention probability = the q28 quality
  // score: a doc survives iff u(doc) < score, where u is a uniform-ish
  // [0,1) value derived from the doc's id via the cross-engine polynomial
  // fingerprint — NOT a RNG, so the sample is reproducible row-for-row in
  // any engine, any partitioning, any retry (the property seeded RNGs
  // lose the moment partitioning changes). One scan, no shuffle before
  // the sink.
  val SampleResolution = 1000000L

  def qualitySample(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val enStops = TextAnalysis.LangProfiles.head._2
    val score = lit(0.5) * (TextAnalysis.stopwordCount(ws, enStops).cast("double") / size(ws)) +
      lit(0.5) * least(lit(1.0), size(ws).cast("double") / lit(200.0))
    val u = (graft.plans.VectorExprs.polyFingerprint(col("doc_id").cast("string"))
      % lit(SampleResolution)).cast("double") / lit(SampleResolution.toDouble)
    Tables.documents(spark, dir)
      .select(col("doc_id"), score.as("quality_score"), u.as("u"))
      .filter(col("u") < col("quality_score"))
      .select(col("doc_id"), col("quality_score"))
      .orderBy("doc_id")
  }

  query("q77_quality_sample", qualitySample, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      val r = SampleResolution
      s"""SELECT doc_id, quality_score FROM (
            SELECT doc_id,
                   0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
                          / len($ws))
                     + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)
                     AS quality_score,
                   CAST(${fpSql("CAST(doc_id AS VARCHAR)")} % $r AS DOUBLE) / $r.0 AS u
            FROM documents)
          WHERE u < quality_score"""
    })

  // --- q83: token-budget curriculum selection WITHOUT a global sort ------------
  // "Take the highest-quality documents until the token budget is full" —
  // the selection step between scoring and shard-writing in a training-
  // data pipeline. The naive form is a global ORDER BY quality + running
  // sum: one sort of the corpus ending in a single-task window. Here the
  // global order (quality DESC, doc_id) is bucketed by quality millis
  // (floor(q·1000), a pure function of the row), so PrefixSum computes
  // the exact global running token count with per-bucket parallelism and
  // one tiny bucket-prefix task — the q72 pattern applied to selection.
  // A document is kept iff the budget was not yet exhausted BEFORE it
  // (cum − tokens < budget), so the boundary document that crosses the
  // budget line is included: the budget is a floor, not a cap, and the
  // rule needs no second pass.
  val TokenBudget = 10000L

  def budgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir).select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("tokens"),
        Queries.docQuality.as("quality_score"))
      .filter(col("tokens") > 0)
    // bucket must ascend along the global (quality DESC) order
    val bucketed = scored.withColumn("qb",
      -floor(col("quality_score") * 1000).cast("long"))
    PrefixSum.runningSum(bucketed, "qb",
        Seq(col("quality_score").desc, col("doc_id")), col("tokens"), "cum_tokens")
      .filter(col("cum_tokens") - col("tokens") < TokenBudget)
      .select(col("doc_id"), col("tokens"), col("quality_score"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  query("q83_budget_select", budgetSelect, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""WITH q AS (SELECT doc_id, len($ws) AS tokens,
                 0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
                        / len($ws))
                   + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)
                   AS quality_score
               FROM documents
               WHERE len($ws) > 0),
          c AS (SELECT *, CAST(SUM(tokens) OVER (ORDER BY quality_score DESC,
                                                 doc_id) AS BIGINT)
                       AS cum_tokens
                FROM q)
          SELECT doc_id, tokens, quality_score, cum_tokens
          FROM c WHERE cum_tokens - tokens < ${TokenBudget}"""
    })

  // --- q52: token-budget shard packing (training-shard assignment) ------------
  // Documents pack sequentially into ~ShardTokens shards WITHIN each
  // source: shard = tokens-before-this-doc div budget. Per-source (not
  // global) ordering keeps the cumulative window parallel across sources —
  // a single global cumsum would serialize the corpus through one
  // partition at 100 TB.
  val ShardTokens = 500

  def shardPack(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.words(col("text"))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      // integer division on both engines (div / //): no float boundary
      .withColumn("shard", expr(s"(cum - n_tokens) div $ShardTokens"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))
      .orderBy("source", "shard")
  }

  query("q52_shard_pack", shardPack,
      s"""WITH t AS (SELECT doc_id, source, CAST(len($ws) AS BIGINT) AS n_tokens
                     FROM documents),
          c AS (SELECT doc_id, source, n_tokens,
                       SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM t)
          SELECT source, (CAST(cum AS BIGINT) - n_tokens) // ${ShardTokens} AS shard,
                 COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
          FROM c GROUP BY 1, 2""")

  // --- q57: temperature-based language mixing weights -------------------------
  // The mT5/XLM-R multilingual sampling recipe: sample language l with
  // probability ∝ (tokens_l)^α so low-resource languages are upweighted.
  // α = 0.5 keeps every float op exactly rounded (sqrt + one division);
  // the normalizer is a SEQUENTIAL fold over the per-language values in
  // lang order — never a partition-order-dependent float SUM — so the
  // weights are bit-identical on any cluster and in the oracle.
  def langMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.words(col("text"))).cast("long")
    val per = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(nTok).as("lang_tokens"))
    val z = per.agg(
      aggregate(
        transform(
          array_sort(collect_list(struct(col("lang"), col("lang_tokens")))),
          x => sqrt(x.getField("lang_tokens").cast("double"))),
        lit(0.0), (a, x) => a + x).as("z"))
    per.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"), col("lang_tokens"),
        (sqrt(col("lang_tokens").cast("double")) / col("z")).as("weight"))
      .orderBy("lang")
  }

  query("q57_lang_mix_weights", langMixWeights,
      s"""WITH per AS (
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(len($ws) AS BIGINT)) AS BIGINT) AS lang_tokens
            FROM documents GROUP BY 1),
          z AS (SELECT list_reduce(
                  list_transform(list(lang_tokens ORDER BY lang),
                    t -> sqrt(CAST(t AS DOUBLE))),
                  (a, b) -> a + b) AS z
                FROM per)
          SELECT lang, n_docs, lang_tokens,
                 sqrt(CAST(lang_tokens AS DOUBLE)) / z AS weight
          FROM per, z""")

  // --- q86: epoch-mix materialization — weights APPLIED to the corpus ----------
  // q57 computes the temperature weights; this turns them into an actual
  // epoch sample: language l's acceptance rate is weight_l · E / tokens_l
  // (capped at 1 — a filter cannot upsample), and a document is kept iff
  // its q77-style hash-uniform u falls under its language's rate. No RNG,
  // no shuffle for the sampling itself: the per-language rate table is a
  // broadcast of a few rows, the keep decision is a scan-local predicate,
  // and only the per-language rollup aggregates. The report compares the
  // achieved token mass per language against the epoch target.
  val EpochTokens = 10000L

  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val rates = langMixWeights(spark, dir).select(col("lang"),
      least(lit(1.0), col("weight") * lit(EpochTokens.toDouble) /
        col("lang_tokens").cast("double")).as("accept_rate"))
    val u = (graft.plans.VectorExprs.polyFingerprint(col("doc_id").cast("string"))
      % lit(SampleResolution)).cast("double") / lit(SampleResolution.toDouble)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"),
        u.as("u"))
      .join(broadcast(rates), "lang")
      .filter(col("u") < col("accept_rate"))
      .groupBy("lang", "accept_rate")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
      .orderBy("lang")
  }

  query("q86_epoch_mix", epochMix, {
      val r = SampleResolution
      s"""WITH per AS (
            SELECT lang, CAST(SUM(CAST(len($ws) AS BIGINT)) AS BIGINT)
                     AS lang_tokens
            FROM documents GROUP BY 1),
          z AS (SELECT list_reduce(
                  list_transform(list(lang_tokens ORDER BY lang),
                    t -> sqrt(CAST(t AS DOUBLE))),
                  (a, b) -> a + b) AS z
                FROM per),
          wt AS (SELECT lang,
                        least(1.0, sqrt(CAST(lang_tokens AS DOUBLE)) / z
                                     * ${EpochTokens}.0
                                     / CAST(lang_tokens AS DOUBLE))
                          AS accept_rate
                 FROM per, z),
          d AS (SELECT doc_id, lang, CAST(len($ws) AS BIGINT) AS n_tokens,
                       CAST(${fpSql("CAST(doc_id AS VARCHAR)")} % $r AS DOUBLE)
                         / $r.0 AS u
                FROM documents)
          SELECT lang, accept_rate, COUNT(*) AS n_kept,
                 CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
          FROM d JOIN wt USING (lang)
          WHERE u < accept_rate
          GROUP BY 1, 2"""
    })

  // --- q58: per-shard document manifest with stream offsets -------------------
  // The index file a sequence-packing job ships with each training shard:
  // which documents it holds and at which token offset each begins in the
  // source's concatenated stream. Same per-source window as q52 (never a
  // global order); the manifest string is built from a SORTED struct list,
  // so grouping-order nondeterminism cannot leak into the output.
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.words(col("text"))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      .withColumn("off", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("shard", expr(s"off div $ShardTokens"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"),
        array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("off")))),
            x => concat(x.getField("doc_id").cast("string"), lit("@"),
              x.getField("off").cast("string"))),
          ";").as("manifest"))
      .orderBy("source", "shard")
  }

  query("q58_shard_manifest", shardManifest,
      s"""WITH t AS (SELECT doc_id, source, CAST(len($ws) AS BIGINT) AS n_tokens
                     FROM documents),
          c AS (SELECT doc_id, source, n_tokens,
                       CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS off
                FROM t)
          SELECT source, off // ${ShardTokens} AS shard,
                 COUNT(*) AS n_docs,
                 string_agg(CAST(doc_id AS VARCHAR) || '@' || CAST(off AS VARCHAR),
                            ';' ORDER BY doc_id) AS manifest
          FROM c GROUP BY 1, 2""")

  // --- q111: per-source document cap -----------------------------------------------
  // The training-data per-domain cap: keep at most `SourceCap` documents
  // per source, best-quality first (deterministic tiebreak on doc_id) —
  // the standard guard against one crawl domain dominating the mix. The
  // per-source window distributes across sources; a single enormous
  // source caps via per-partition pre-truncation (each map partition can
  // contribute at most `SourceCap` survivors, so a mapPartitions
  // pre-filter bounds the windowed rows at partitions×cap) — noted, not
  // needed at report scale.
  val SourceCap = 15

  def sourceDocCap(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), Queries.docQuality.as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality_score").desc, col("doc_id"))
    scored.withColumn("rank_in_source", row_number().over(w).cast("long"))
      .filter(col("rank_in_source") <= SourceCap)
      .orderBy("source", "rank_in_source")
  }

  query("q111_source_doc_cap", sourceDocCap, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""WITH q AS (
            SELECT source, doc_id,
                   0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
                          / len($ws))
                     + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)
                     AS quality_score
            FROM documents),
          r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY quality_score DESC, doc_id) AS BIGINT)
                            AS rank_in_source
                FROM q)
          SELECT source, doc_id, quality_score, rank_in_source
          FROM r WHERE rank_in_source <= ${SourceCap}"""
    })

  // --- q282: BPE ENCODE with the TRAINED merges (q225 → corpus, the tokenize step) -----
  // q126 counts tokens under a FIXED merge list (the codegen kernel);
  // q225 TRAINS merges on the corpus but never applies them. This is
  // the missing composition — the tokenizer loop closed: train on the
  // corpus, encode the corpus, report per-doc token counts under the
  // LEARNED vocabulary. The plan exploits BPE's defining factorization:
  // encoding is a pure function of the WORD, so the merge replaces run
  // over the DISTINCT-WORD table (vocabulary-sized — the same trick
  // training uses), and the corpus is touched only by one explode + a
  // broadcast join of the encoded vocabulary. The merge list itself is
  // O(rounds) driver state (the q225 bounded-argmax contract). Replace
  // semantics are training's exactly: left-to-right non-overlapping
  // `replace` on the sentinel-padded symbol string, identical in both
  // engines.
  def bpeEncodeTrained(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeFrom(spark, Tables.documents(spark, dir), TextQueries.BpeMergeRounds)

  // BPE encode under the TRAINED merges: q225's unrolled training CTEs
  // carrying `w` through every round, the encoded vocabulary joined
  // back to the corpus (the same vocabulary-factorized plan)
  query("q282_bpe_encode", bpeEncodeTrained, {
      val rounds = (1 to TextQueries.BpeMergeRounds).map { r =>
        s"""p$r AS (SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
               SELECT unnest(sy[1:len(sy)-1]) AS a,
                      unnest(sy[2:len(sy)]) AS b, n
               FROM (SELECT string_split(trim(s), ' ') AS sy, n FROM s${r - 1})
               WHERE len(sy) >= 2)
             GROUP BY 1, 2),
          b$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
          s$r AS MATERIALIZED (SELECT w, replace(s,
                    ' ' || (SELECT a FROM b$r) || ' '
                        || (SELECT b FROM b$r) || ' ',
                    ' ' || (SELECT a FROM b$r)
                        || (SELECT b FROM b$r) || ' ') AS s, n
                  FROM s${r - 1})"""
      }.mkString(",\n          ")
      s"""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE text IS NOT NULL)
            WHERE len(w) > 0 GROUP BY 1),
          s0 AS (SELECT w, ' ' || array_to_string(
                   list_transform(generate_series(1, length(w)), i -> w[i]),
                   ' ') || ' ' AS s, n
                 FROM w0),
          $rounds,
          enc AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT)
                         AS toks
                  FROM s${TextQueries.BpeMergeRounds}),
          dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents WHERE text IS NOT NULL)
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
                 CAST(SUM(toks) AS BIGINT) AS bpe_tokens
          FROM dw JOIN enc USING (w) WHERE len(w) > 0 GROUP BY 1"""
    })

  /** Train-then-encode over any (doc_id, text) frame — factored so the
    * spec can drive it with a hand-computable corpus.
    */
  private[graft] def bpeEncodeFrom(spark: SparkSession, docs: DataFrame,
                                   rounds: Int): DataFrame = {
    val merges = TextQueries.bpeMergesFrom(spark, docs, col("text"), rounds)
      .collect().map(r => (r.getString(1), r.getString(2))) // O(rounds)
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .withColumn("s", concat(lit(" "),
        expr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')"),
        lit(" ")))
    val encoded = merges.foldLeft(vocab)((v, m) =>
        v.withColumn("s", org.apache.spark.sql.functions.replace(col("s"),
          lit(s" ${m._1} ${m._2} "), lit(s" ${m._1}${m._2} "))))
      .select(col("w"),
        size(split(trim(col("s")), " ")).cast("long").as("toks"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(encoded), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("toks").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  // --- q131: weighted corpus sample (sequential Poisson / PPS) ---------------------
  // Ohlsson's sequential Poisson sampling: priority = u/w with u a
  // deterministic uniform from the portable affine key hash; the k
  // smallest priorities are a probability-proportional-to-size sample
  // (here ∝ token count — the standard way to downsample a corpus while
  // preserving the token mass distribution). Priorities are map-side and
  // the global k-smallest is a TakeOrdered (per-partition heaps + a
  // k-sized driver merge) — no global sort, no shuffle of the corpus.
  // The single IEEE division (exact-integer hash / exact-integer weight)
  // is correctly rounded in both engines, so scores are bit-identical.
  val PpsSampleK = 150

  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("tokens"))
      .filter(col("tokens") > 0)
      .withColumn("priority",
        graft.functions.Sketches.keyHash(col("doc_id")).cast("double")
          / col("tokens").cast("double"))
      .orderBy(col("priority"), col("doc_id")).limit(PpsSampleK)

  // Priority = portable-affine-hash uniform / token weight; one IEEE
  // division — bit-identical across engines.
  query("q131_weighted_sample", weightedSample, {
      import graft.functions.Sketches.{HA, HB, P}
      s"""SELECT doc_id, tokens,
                 CAST(($HA * doc_id + $HB) % $P AS DOUBLE)
                   / CAST(tokens AS DOUBLE) AS priority
          FROM (SELECT doc_id, CAST(len($ws) AS BIGINT) AS tokens
                FROM documents WHERE text IS NOT NULL)
          WHERE tokens > 0
          ORDER BY priority, doc_id LIMIT ${PpsSampleK}"""
    })

  // --- q140: cross-source quantile normalization -----------------------------------
  // Score calibration across sources whose quality distributions differ
  // (the standard fix before a global quality threshold): each doc's
  // score maps to the GLOBAL score at its within-source quantile.
  // Within-source ranks are partition-parallel windows; the global rank
  // rides PrefixSum (no global sort); the quantile→position map is exact
  // integer arithmetic; and the normalized value is a PICKED existing
  // score (one equi-join on position), so no float interpolation exists
  // to drift.
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), Queries.docQuality.as("quality_score"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("quality_score"), col("doc_id"))
    val ranked = scored.withColumn("rk", row_number().over(wSrc).cast("long"))
    val nSrc = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
    val bucketed = scored.withColumn("gb",
      floor(col("quality_score") * 1000).cast("long"))
    val granked = PrefixSum.runningSum(bucketed, "gb",
      Seq(col("quality_score"), col("doc_id")), lit(1L), "grank")
    val total = scored.agg(count(lit(1)).as("n_all"))
    val gvals = granked.select(col("grank").as("gpos"),
      col("quality_score").as("norm_score"))
    ranked.join(broadcast(nSrc), "source").crossJoin(broadcast(total))
      .withColumn("gpos",
        lit(1L) + expr("((rk - 1) * (n_all - 1)) div greatest(n_src - 1, 1)"))
      .join(gvals, "gpos")
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("norm_score"))
      .orderBy("doc_id")
  }

  query("q140_quantile_normalize", quantileNormalize, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      val quality =
        s"""0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
               / len($ws))
            + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)"""
      s"""WITH q AS (SELECT doc_id, source, $quality AS quality_score
                     FROM documents WHERE text IS NOT NULL),
          r AS (SELECT doc_id, source, quality_score,
                       CAST(ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY quality_score, doc_id) AS BIGINT) AS rk,
                       CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                         AS n_src,
                       CAST(COUNT(*) OVER () AS BIGINT) AS n_all
                FROM q),
          g AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY quality_score, doc_id)
                         AS BIGINT) AS grank,
                       quality_score AS norm_score FROM q)
          SELECT r.doc_id, r.source, r.quality_score, g.norm_score
          FROM r JOIN g
            ON g.grank = 1 + ((r.rk - 1) * (r.n_all - 1))
                               // greatest(r.n_src - 1, 1)"""
    })

  // --- q143: deterministic train/val/test split assignment --------------------------
  // Hash-bucket split (80/10/10) on the portable key hash — the
  // assignment is a pure function of doc_id, so it is stable across
  // runs, engines, partitionings, and corpus growth (a doc never changes
  // split when new data arrives — the property random assignment lacks).
  // Reported as the per-(source, split) doc/token manifest.

  /** The 80/10/10 split label as a pure function of a key column — the
    * ONE definition behind q143 (assignment on doc_id), q250 (the
    * leakage audit of that assignment) and q251 (the cluster-keyed
    * fix). The audit's premise is that it measures EXACTLY the split
    * the other two apply, so the hash family and thresholds must be a
    * single point of change: three inline copies agreeing by
    * coincidence is how a future threshold tweak silently invalidates
    * the audit (VERDICT r15 item 6).
    */
  private[graft] def splitOf(key: Column): Column = {
    val bucket = pmod(graft.functions.Sketches.keyHash(key), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.words(col("text"))).cast("long").as("tokens"),
        splitOf(col("doc_id")).as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("total_tokens"))
      .orderBy("source", "split")

  query("q143_split_assign", splitAssign, {
      import graft.functions.Sketches.{HA, HB, P}
      s"""WITH d AS (SELECT doc_id, source, CAST(len($ws) AS BIGINT) AS tokens,
                            (($HA * doc_id + $HB) % $P) % 100 AS bucket
                     FROM documents WHERE text IS NOT NULL)
          SELECT source,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                 COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens
          FROM d GROUP BY 1, 2"""
    })

  // --- q169: audio feature extraction through the REAL codec, under the gate -----
  // The multimodal decode path proven end-to-end: deterministic 16-bit
  // PCM samples (s_i = ((id·31 + i·7) mod 2048) − 1024) are ENCODED into
  // real RIFF/WAVE containers (Multimodal.encodeWav16), then the real
  // byte-level container walk + PCM pass (audioFeaturesBatched) computes
  // windowed RMS / peak / zero-crossings — and the oracle computes the
  // SAME features from the closed-form samples, no codec involved. Every
  // per-window Σs² is an exact integer < 2^53, so rms = sqrt(Σs²/n) is
  // bit-identical. Payload bytes never leave the partition.
  val AudioSamples = 1024
  val AudioWindow = 256
  val AudioDocMod = 5L

  def audioRms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(AudioDocMod)) === 0)
      .select(col("doc_id")).as[Long]
    val media = ids.map { id =>
      val s = Array.tabulate(AudioSamples) { i =>
        (((id * 31 + i * 7) % 2048) - 1024).toShort
      }
      (id, Multimodal.encodeWav16(s))
    }.toDF("doc_id", "payload")
    Multimodal.audioFeaturesBatched(media, AudioWindow)
      .toDF()
      .select(col("doc_id"), col("window_idx"), col("n_samples"),
        col("rms"), col("peak"), col("zero_crossings"))
      .orderBy("doc_id", "window_idx")
  }

  query("q169_audio_rms", audioRms, {
      // the closed-form twin of the codec path: same samples, no codec.
      // Per-window Σv² is an exact integer, so sqrt(Σv²/n) matches the
      // decoder's fold bit-for-bit; zero-crossings skip zeros and don't
      // count the first nonzero sample (lag IS NULL ⇒ 0), exactly as the
      // decoder's prevSign loop does.
      val (ns, w, m) = (AudioSamples, AudioWindow,
        AudioDocMod)
      s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % $m = 0),
          s AS (SELECT doc_id, i,
                       ((doc_id * 31 + i * 7) % 2048) - 1024 AS v
                FROM ids, (SELECT unnest(generate_series(0, ${ns - 1})) AS i)),
          wn AS (SELECT doc_id, CAST(i // $w AS INT) AS window_idx, i, v FROM s),
          agg AS (SELECT doc_id, window_idx,
                         CAST(COUNT(*) AS INT) AS n_samples,
                         sqrt(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms,
                         CAST(MAX(ABS(v)) AS INT) AS peak
                  FROM wn GROUP BY 1, 2),
          x AS (SELECT doc_id, window_idx, i, sign(v) AS sg
                FROM wn WHERE v <> 0),
          c0 AS (SELECT doc_id, window_idx,
                        CASE WHEN sg <> lag(sg) OVER (PARTITION BY doc_id,
                               window_idx ORDER BY i)
                             THEN 1 ELSE 0 END AS chg
                 FROM x),
          c AS (SELECT doc_id, window_idx,
                       CAST(COALESCE(SUM(chg), 0) AS BIGINT) AS zc
                FROM c0 GROUP BY 1, 2)
          SELECT agg.doc_id, agg.window_idx, agg.n_samples, agg.rms,
                 agg.peak, COALESCE(c.zc, 0) AS zero_crossings
          FROM agg LEFT JOIN c USING (doc_id, window_idx)"""
    })

  // --- q172: image decode through the REAL codec, under the gate ------------------
  // q169's image twin: a deterministic grayscale raster (g(x,y) =
  // (id·7 + 3x + 5y) mod 256) is PNG-encoded via javax.imageio, decoded
  // back through the real container path (header-only dims + full
  // raster pass), and the pixel-sum statistic is checked against the
  // closed form 3·Σg — PNG is lossless, so the round-trip is exact.
  // Format name and byte length are codec-internal (not projected).
  val ImgW = 32
  val ImgH = 16
  val ImgDocMod = 7L

  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(ImgDocMod)) === 0)
      .select(col("doc_id")).as[Long]
    val media = ids.map { id =>
      val img = new java.awt.image.BufferedImage(ImgW, ImgH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < ImgH) {
        var x = 0
        while (x < ImgW) {
          val g = ((id * 7 + x * 3 + y * 5) % 256).toInt
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id, bos.toByteArray)
    }.toDF("doc_id", "payload")
    Multimodal.decodeImageBatched(media).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("px_sum"))
      .orderBy("doc_id")
  }

  query("q172_image_decode", imageDecode, {
      val (w, h, m) = (ImgW, ImgH, ImgDocMod)
      // PNG is lossless: decoded pixel sum = 3·Σ g(x,y) exactly
      s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % $m = 0),
          g AS (SELECT doc_id, ((doc_id * 7 + x * 3 + y * 5) % 256) AS gv
                FROM ids,
                     (SELECT unnest(generate_series(0, ${w - 1})) AS x),
                     (SELECT unnest(generate_series(0, ${h - 1})) AS y))
          SELECT doc_id, CAST($w AS INT) AS width, CAST($h AS INT) AS height,
                 CAST(3 * SUM(gv) AS BIGINT) AS px_sum
          FROM g GROUP BY 1"""
    })

  // --- q250: train/val/test split contamination ------------------------------------------
  // The evaluation-integrity audit a random split CANNOT avoid: near-
  // duplicate documents land on opposite sides of the q143 hash split,
  // so "held-out" test examples have verbatim siblings in train (the
  // benchmark-inflation mechanism decontamination papers measure). The
  // memoized verified-pair table (LSH candidates + exact Jaccard — the
  // q34/q87 upstream, computed once per session) joins each endpoint's
  // split label; the report rolls up pairs per unordered split
  // combination — off-diagonal rows ARE the leaks, and the fix is
  // cluster-aware splitting (assign q34 components, not documents).
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
    Queries.verifiedPairs(spark, dir)
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"), col("jaccard"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("split_a", "split_b")
  }

  // q250 — the q87 rollup shape over q143's split labels: the same
  // memoized verified-pair CTE, endpoints joined to the hash-split
  // CASE, unordered split combination per row.
  query("q250_split_leakage", splitLeakage, {
      import graft.functions.Sketches.{HA, HB, P}
      s"""$componentCtes,
          sd AS (SELECT doc_id,
                   CASE WHEN (($HA * doc_id + $HB) % $P) % 100 < 80 THEN 'train'
                        WHEN (($HA * doc_id + $HB) % $P) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
                 FROM documents WHERE text IS NOT NULL),
          sp AS (SELECT least(a.split, b.split) AS split_a,
                        greatest(a.split, b.split) AS split_b, jaccard
                 FROM pairs JOIN sd a ON pairs.doc_a = a.doc_id
                            JOIN sd b ON pairs.doc_b = b.doc_id)
          SELECT split_a, split_b, COUNT(*) AS n_pairs,
                 MAX(jaccard) AS max_jaccard
          FROM sp GROUP BY 1, 2"""
    })

  // --- q264: max-min fair token-budget allocation (water-filling) -------------------------
  // The corpus-mixing allocator the q57/q83/q111 family still lacked:
  // given per-source token supplies and a total budget, give every
  // source as EQUAL a share as possible without exceeding its supply —
  // the water-filling / max-min fairness solution (small sources keep
  // everything, big sources are capped at one common level). Exact
  // integer closed form over the O(sources) frame: sort supplies asc,
  // a source is FULL iff serving it whole and everyone after it at its
  // level fits the budget (cum_j + s_j·(n−j) ≤ B — monotone, so the
  // full set is a prefix); the rest split the remainder R = B − cum_c
  // as level L = R div k with the first r = R mod k (asc order) taking
  // L+1 — Σ allocations ≡ B exactly, no float ever. Budget = total
  // div 2 so the operator exercises at every SF.
  val WaterfillDen = 2L

  def budgetWaterfill(spark: SparkSession, dir: String): DataFrame =
    waterfillFrom(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .groupBy("source")
      .agg(sum(size(TextAnalysis.words(col("text"))).cast("long"))
        .as("supply_tokens")))

  // q264 — the integer water-fill closed form: asc sort, prefix-full
  // test, remainder split L/L+1 by rank
  query("q264_budget_waterfill", budgetWaterfill, {
      s"""WITH sup AS (SELECT source,
                         CAST(SUM(len($ws)) AS BIGINT) AS supply_tokens
                       FROM documents WHERE text IS NOT NULL GROUP BY 1),
          rk AS (SELECT source, supply_tokens,
                        CAST(ROW_NUMBER() OVER (ORDER BY supply_tokens,
                          source) AS BIGINT) AS rk,
                        CAST(SUM(supply_tokens) OVER (ORDER BY supply_tokens,
                          source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                        CAST(SUM(supply_tokens) OVER () AS BIGINT) AS total,
                        CAST(COUNT(*) OVER () AS BIGINT) AS n
                 FROM sup),
          st AS (SELECT *, total // ${WaterfillDen} AS budget,
                        cum + supply_tokens * (n - rk) <= total
                          // ${WaterfillDen} AS is_full
                 FROM rk),
          ct AS (SELECT CAST(SUM(CASE WHEN is_full THEN 1 ELSE 0 END)
                          AS BIGINT) AS c,
                        CAST(COALESCE(MAX(CASE WHEN is_full THEN cum END), 0)
                          AS BIGINT) AS cum_c
                 FROM st)
          SELECT source, supply_tokens,
                 CASE WHEN is_full THEN supply_tokens
                      ELSE (budget - cum_c) // greatest(n - c, 1)
                           + (CASE WHEN rk - c <=
                                (budget - cum_c) % greatest(n - c, 1)
                              THEN 1 ELSE 0 END) END AS allocated_tokens,
                 NOT is_full AS is_capped
          FROM st, ct"""
    })

  /** The water-fill closed form over any (source, supply_tokens) frame —
    * factored so the spec can drive planted supplies and pin the
    * Σ alloc ≡ budget and alloc ≤ supply invariants.
    */
  private[graft] def waterfillFrom(supply: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("supply_tokens"), col("source"))
    val ranked = supply
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("supply_tokens")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
    val tot = ranked.agg(max(col("cum")).as("total"),
      max(col("rk")).as("n"))
    val staged = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"total div ${WaterfillDen}L"))
      .withColumn("full",
        col("cum") + col("supply_tokens") * (col("n") - col("rk"))
          <= col("budget"))
    val cut = staged
      .agg(sum(when(col("full"), 1L).otherwise(0L)).as("c"),
        coalesce(max(when(col("full"), col("cum"))), lit(0L)).as("cum_c"))
    staged.crossJoin(broadcast(cut))
      // greatest(k,1): when every source is full (budget ≥ total) the
      // level branch is dead but ANSI mode still evaluates the division
      .withColumn("k", greatest(col("n") - col("c"), lit(1L)))
      .withColumn("lvl", expr("(budget - cum_c) div k"))
      .withColumn("rem", expr("(budget - cum_c) % k"))
      .withColumn("allocated_tokens",
        when(col("full"), col("supply_tokens"))
          .otherwise(col("lvl") +
            when(col("rk") - col("c") <= col("rem"), 1L).otherwise(0L)))
      .select(col("source"), col("supply_tokens"), col("allocated_tokens"),
        (!col("full")).as("is_capped"))
      .orderBy("source")
  }

  // --- q266: Neyman allocation for stratified sampling ------------------------------------
  // The sampling DESIGN step q39/q131 execute but never chose: split a
  // labeling/eval budget across strata ∝ N_h·σ_h (Neyman's
  // variance-minimizing allocation — big AND internally-diverse strata
  // earn more samples than big-but-uniform ones). Exactness recipe:
  // quality quantized to integer milli-units (the q70 moment recipe) so
  // n·Σv²−(Σv)² is exact int64 (< 2^53, so the one double division and
  // IEEE-exact sqrt agree in every engine); the integer budget lands by
  // largest-remainder rounding (floor + the top fractional ranks take
  // +1), so Σ allocations ≡ the budget exactly. O(sources) frame
  // throughout; one corpus scan for the moments.
  val NeymanBudget = 1000L

  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("source"),
        floor(Queries.docQuality * lit(1000.0)).cast("long").as("v"))
    val st = q.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .withColumn("sd_milli", sqrt(
        (col("n_docs") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n_docs") * col("n_docs")).cast("double")))
      .withColumn("w", col("n_docs").cast("double") * col("sd_milli"))
    // Σw in CANONICAL (source-sorted) order, not a partial-agg double
    // sum: w is a double, float addition is order-dependent, and Spark's
    // partial-agg fold order differs from DuckDB's row order — a
    // last-ulp difference near a largest-remainder tie could flip a ±1
    // allocation between engines. The O(sources) frame makes the
    // sorted-list fold free (the q99 fixed-fold recipe).
    val tot = st.agg(expr("""aggregate(
        transform(sort_array(collect_list(struct(source, w))), s -> s.w),
        0.0D, (acc, v) -> acc + v)""").as("__wsum"))
    val staged = st.crossJoin(broadcast(tot))
      .withColumn("exact_share",
        lit(NeymanBudget.toDouble) * col("w") / col("__wsum"))
      .withColumn("base", floor(col("exact_share")).cast("long"))
      .withColumn("frac", col("exact_share") - floor(col("exact_share")))
    val left = staged.agg((lit(NeymanBudget) - sum(col("base"))).as("__left"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("frac").desc, col("source"))
    staged.crossJoin(broadcast(left))
      .withColumn("rk", row_number().over(wr).cast("long"))
      .select(col("source"), col("n_docs"), col("sd_milli"),
        (col("base") + when(col("rk") <= col("__left"), 1L).otherwise(0L))
          .as("allocated"))
      .orderBy("source")
  }

  // q266 — the same integer milli-unit moments, IEEE-exact sqrt,
  // largest-remainder rounding replayed step for step
  query("q266_neyman_allocation", neymanAllocation, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      val quality =
        s"""0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
               / len($ws))
            + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0)"""
      val b = NeymanBudget
      s"""WITH q AS (SELECT source,
                       CAST(floor(($quality) * 1000.0) AS BIGINT) AS v
                     FROM documents WHERE text IS NOT NULL),
          st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                        CAST(SUM(v) AS BIGINT) AS s1,
                        CAST(SUM(v * v) AS BIGINT) AS s2
                 FROM q GROUP BY 1),
          d AS (SELECT source, n_docs,
                       sqrt(CAST(n_docs * s2 - s1 * s1 AS DOUBLE)
                            / CAST(n_docs * n_docs AS DOUBLE)) AS sd_milli
                FROM st),
          w AS (SELECT *, CAST(n_docs AS DOUBLE) * sd_milli AS w FROM d),
          tot AS (SELECT list_reduce(
                    list_transform(list_sort(list({'s': source, 'w': w})),
                                   s -> s.w),
                    (x, y) -> x + y) AS wsum FROM w),
          e AS (SELECT w.*, CAST($b AS DOUBLE) * w.w / tot.wsum
                            AS exact_share FROM w, tot),
          bs AS (SELECT *, CAST(floor(exact_share) AS BIGINT) AS base,
                        exact_share - floor(exact_share) AS frac FROM e),
          l AS (SELECT $b - CAST(SUM(base) AS BIGINT) AS leftover FROM bs),
          r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY frac DESC, source)
                          AS BIGINT) AS rk FROM bs)
          SELECT source, n_docs, sd_milli,
                 base + (CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                   AS allocated
          FROM r, l"""
    })

  // --- q251: cluster-aware split assignment (the q250 fix) -------------------------------
  // The leak-free split: hash the near-dup COMPONENT label (q34's
  // cluster_id, memoized) instead of the document id, so every verified
  // near-dup pair lands on ONE side by construction — the spec proves
  // zero cross-split pairs where q250 measures nonzero. Same 80/10/10
  // thresholds and hash family as q143 (stable under corpus growth:
  // new members of an existing cluster follow their cluster). One
  // rollup of the cached decision table; the report carries docs and
  // clusters per split.
  def clusterSplit(spark: SparkSession, dir: String): DataFrame =
    clusterSplitAssign(spark, dir)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters"))
      .orderBy("split")

  // q251 — split on the COMPONENT hash: comp labels from the same
  // recursive closure (MIN over reach ≡ the Spark min-label pointer
  // jump), the q143 CASE applied to the cluster id.
  query("q251_cluster_split", clusterSplit, {
      import graft.functions.Sketches.{HA, HB, P}
      s"""$componentCtes,
          comp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
          sd AS (SELECT id, cluster,
                   CASE WHEN (($HA * cluster + $HB) % $P) % 100 < 80 THEN 'train'
                        WHEN (($HA * cluster + $HB) % $P) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
                 FROM comp)
          SELECT split, COUNT(*) AS n_docs,
                 CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
          FROM sd GROUP BY 1"""
    })

  /** Per-document cluster-hash split labels — shared by the gate rollup
    * and the zero-leak spec.
    */
  private[graft] def clusterSplitAssign(spark: SparkSession,
                                        dir: String): DataFrame =
    Queries.dedupDecisionTable(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        splitOf(col("cluster_id")).as("split"))

  // --- q274: Kneser–Ney perplexity quality filter (the CCNet pass) -------------------------
  // The LM half of the filtering stack (VERDICT r16 item 3): q28/q48
  // are the heuristic (C4/Gopher) half; CCNet's is a per-language LM
  // scoring each document's cross-entropy, bucketed head/middle/tail.
  // Model: interpolated Kneser–Ney bigrams with D = 3/4 —
  //   P(w|v) = max(c(vw)−D, 0)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/NB
  // — built PER LANGUAGE from the corpus itself (q224's continuation
  // counts and q215's bigram walk, composed), all counts exact int64
  // over one common denominator 4·c(v)·NB.
  //
  // The log() engine-lottery is dodged entirely (the known hazard —
  // VERDICT prescribed the recipe): the per-token score is the EXACT
  // integer floor of −log2 P = floor(log2(den/num)), computed with no
  // floating point at all as length(bin(den div num)) − 1 — for any
  // real x ≥ 1, floor(log2 x) = bitlen(floor x) − 1, since
  // x ∈ [2^k, 2^{k+1}) ⟺ floor(x) ∈ [2^k, 2^{k+1}). Σ bits over the
  // doc is an exact integer cross-entropy (in whole bits/token — 1-bit
  // granularity is far below the fluent-vs-gibberish gap the filter
  // discriminates, and the planted spec pins that); bits_per_token is
  // one int/int double division, identical in every engine. Buckets:
  // ntile(3) per language over (bits_per_token, doc_id) — CCNet's
  // head/middle/tail by perplexity rank. Docs with < 2 words have no
  // transitions and are unscored, as in CCNet.
  //
  // Scale shape: one corpus scan → transition frame; model = three
  // hash-aggs over it (vocabulary-sized); scoring = equi-joins of the
  // transition frame against the (broadcastable per-lang totals +
  // vocabulary-keyed) model tables; one window per language for the
  // buckets. At 100 TB the model tables are the small side (vocabulary
  // ≪ corpus) and the integer products stay < 2^63 up to ~10^7 tokens
  // per language per shard — past that, the documented move is
  // DECIMAL(38) for num/den (the q211 overflow lesson).
  def knPerplexity(spark: SparkSession, dir: String): DataFrame =
    knPerplexityFrom(Tables.documents(spark, dir))

  // q274 — the same per-language interpolated-KN model, the same
  // log-free integer floor of −log2 P (bitlen(den // num) − 1 — no
  // floating point until the final int/int division), same ntile
  query("q274_kn_perplexity", knPerplexity,
      s"""WITH d AS (SELECT doc_id, lang, $ws AS w
                     FROM documents
                     WHERE text IS NOT NULL AND lang IS NOT NULL
                       AND len($ws) >= 2),
          tr AS (SELECT doc_id, lang, w[i] AS v, w[i+1] AS wd
                 FROM d, LATERAL (SELECT unnest(generate_series(1,
                        len(w) - 1)) AS i) g),
          cvw AS (SELECT lang, v, wd, CAST(COUNT(*) AS BIGINT) AS n_vw
                  FROM tr GROUP BY 1, 2, 3),
          cv AS (SELECT lang, v, CAST(SUM(n_vw) AS BIGINT) AS n_v,
                        CAST(COUNT(*) AS BIGINT) AS n1_right
                 FROM cvw GROUP BY 1, 2),
          n1l AS (SELECT lang, wd, CAST(COUNT(*) AS BIGINT) AS n1_left
                  FROM cvw GROUP BY 1, 2),
          nb AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nb
                 FROM cvw GROUP BY 1),
          sc AS (SELECT tr.doc_id, tr.lang,
                        GREATEST(4 * n_vw - 3, 0) * nb.nb
                          + 3 * n1_right * n1_left AS num,
                        4 * n_v * nb.nb AS den
                 FROM tr JOIN cvw USING (lang, v, wd)
                         JOIN cv USING (lang, v)
                         JOIN n1l USING (lang, wd)
                         JOIN nb USING (lang)),
          pd AS (SELECT doc_id, lang,
                        CAST(COUNT(*) AS BIGINT) AS n_transitions,
                        CAST(SUM(length(bin(den // num)) - 1) AS BIGINT)
                          AS total_bits
                 FROM sc GROUP BY 1, 2),
          bk AS (SELECT *, CAST(total_bits AS DOUBLE)
                             / CAST(n_transitions AS DOUBLE)
                             AS bits_per_token FROM pd)
          SELECT doc_id, lang, n_transitions, total_bits, bits_per_token,
                 CAST(ntile(3) OVER (PARTITION BY lang
                        ORDER BY bits_per_token, doc_id) AS BIGINT)
                   AS ppl_bucket
          FROM bk""")

  /** The CCNet scorer over any (doc_id, lang, text) frame — factored so
    * the spec can plant a gibberish-vs-fluent corpus.
    */
  private[graft] def knPerplexityFrom(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val trans = docs
      .filter(col("text").isNotNull && col("lang").isNotNull &&
        size(ws) >= 2)
      .select(col("doc_id"), col("lang"), explode(arrays_zip(
        slice(ws, lit(1), size(ws) - 1).as("a"),
        slice(ws, lit(2), size(ws) - 1).as("b"))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.a").as("v"), col("p.b").as("w"))
    val cvw = trans.groupBy("lang", "v", "w")
      .agg(count(lit(1)).as("n_vw"))
    val cv = cvw.groupBy("lang", "v")
      .agg(sum("n_vw").as("n_v"), count(lit(1)).as("n1_right"))
    val n1l = cvw.groupBy("lang", "w").agg(count(lit(1)).as("n1_left"))
    val nb = cvw.groupBy("lang").agg(count(lit(1)).as("nb"))
    val scored = trans
      .join(cvw, Seq("lang", "v", "w"))
      .join(cv, Seq("lang", "v"))
      .join(n1l, Seq("lang", "w"))
      .join(broadcast(nb), "lang")
      .withColumn("num",
        greatest(lit(4L) * col("n_vw") - 3L, lit(0L)) * col("nb") +
          lit(3L) * col("n1_right") * col("n1_left"))
      .withColumn("den", lit(4L) * col("n_v") * col("nb"))
      // exact floor(−log2 P): no floating point, no log()
      .withColumn("bits",
        (length(bin(expr("den div num"))) - 1).cast("long"))
    val perDoc = scored.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("bits")).as("total_bits"))
      .withColumn("bits_per_token",
        col("total_bits").cast("double") /
          col("n_transitions").cast("double"))
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("bits_per_token"), col("doc_id"))
    perDoc
      .withColumn("ppl_bucket", ntile(3).over(wL).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_transitions"),
        col("total_bits"), col("bits_per_token"), col("ppl_bucket"))
      .orderBy("doc_id")
  }

  // --- q279/q280: DSIR hashed-bigram importance weighting + selection -------------------
  // Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
  // score every raw-corpus document by how much better a TARGET
  // bag-of-hashed-ngrams model explains it than the RAW-corpus model,
  // then select top importance under a token budget. Features are word
  // BIGRAMS hashed by the engine-portable polynomial fold into
  // `DsirBuckets` buckets (DSIR's hashed feature space — collisions are
  // part of the estimator, identical in both engines). Target = the
  // lang='en' slice (the trusted-seed stand-in); raw = the whole corpus;
  // both models add-one smoothed over the full bucket domain.
  //
  // The log-likelihood ratio is the log() engine lottery — dodged with
  // the q274 recipe: per-bucket model cost in EXACT integer bits,
  // bits(model, b) = floor(log2(TOTAL / count_b)) = bitlen(TOTAL div
  // count_b) − 1 (valid since count_b ≤ TOTAL ⟹ the ratio ≥ 1, no
  // negative branch needed), and the per-doc importance is
  // Σ c_b · (bitsRAW_b − bitsTARGET_b) — "whole bits saved when the
  // target model codes this doc instead of the raw model" (positive =
  // target-like). 1-bit-per-bucket granularity is the same quantization
  // q274 accepted per transition; the planted spec pins that the
  // target-vs-junk gap dwarfs it.
  //
  // Scale shape: one corpus scan → exploded hashed-bigram frame
  // (map-side codegen fingerprint); doc×bucket counts = one hash-agg;
  // both models are ≤DsirBuckets-row frames (broadcast); scoring is one
  // broadcast join + one hash-agg. q280's budget selection rides
  // PrefixSum (no single-task global window), ordered by importance.
  val DsirBuckets = 256L
  val DsirTokenBudget = 15000L

  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsFrom(Tables.documents(spark, dir)).orderBy("doc_id")

  // DSIR importance weights + the budget selection over them (the
  // selection window replays Spark's PrefixSum order exactly)
  val dsirWeightsSpec = query("q279_dsir_weights", dsirWeights, dsirWeightsSql)

  /** Per-(doc, lang, bucket) hashed-bigram occurrence counts. */
  private[graft] def dsirBucketCounts(docs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    docs
      .filter(col("text").isNotNull && col("lang").isNotNull &&
        size(ws) >= 2)
      .select(col("doc_id"), col("lang"), explode(arrays_zip(
        slice(ws, lit(1), size(ws) - 1).as("a"),
        slice(ws, lit(2), size(ws) - 1).as("b"))).as("p"))
      .select(col("doc_id"), col("lang"),
        pmod(TextAnalysis.rollingFingerprint(
          concat(col("p.a"), lit(" "), col("p.b"))), lit(DsirBuckets))
          .as("bucket"))
      .groupBy("doc_id", "lang", "bucket").agg(count(lit(1)).as("c"))
  }

  /** The trained bucket model: per bucket, the exact-integer bit cost
    * under the raw and target distributions (≤DsirBuckets rows).
    */
  private[graft] def dsirModel(dc: DataFrame): DataFrame = {
    // raw model over every doc, target model over the seed slice; every
    // bucket in dc appears in rawB by construction, targets may miss
    val rawB = dc.groupBy("bucket").agg(sum("c").as("cq"))
    val tgtB = dc.filter(col("lang") === "en")
      .groupBy("bucket").agg(sum("c").as("cp"))
    val tot = rawB.agg(sum("cq").as("sq")).crossJoin(
        tgtB.agg(coalesce(sum("cp"), lit(0L)).as("sp")))
      .select((col("sq") + DsirBuckets).as("tq"),
        (col("sp") + DsirBuckets).as("tp"))
    rawB.join(tgtB, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        // exact integer bits, no log(): bitlen(total div count) − 1
        (length(bin(expr("tq div (cq + 1)"))) - 1).cast("long").as("bits_q"),
        (length(bin(expr("tp div (coalesce(cp, 0L) + 1)"))) - 1)
          .cast("long").as("bits_p"))
  }

  /** The DSIR scorer over any (doc_id, lang, text) frame — factored so
    * the spec can plant a target-like-vs-junk corpus.
    */
  private[graft] def dsirWeightsFrom(docs: DataFrame): DataFrame = {
    val dc = dsirBucketCounts(docs)
    dc.join(broadcast(dsirModel(dc)), "bucket")
      .groupBy("doc_id", "lang")
      .agg(sum("c").as("n_bigrams"),
        sum(col("c") * (col("bits_q") - col("bits_p"))).as("bits_saved"))
      .withColumn("target_like", col("bits_saved") > 0)
  }

  /** Importance-ranked token-budget selection (DSIR's resampling step as
    * a deterministic curriculum cut): docs in (bits_saved DESC, doc_id)
    * order until the budget fills — q83's PrefixSum running-cumsum shape
    * with importance as the rank key, so no single-task global window.
    */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = dsirWeightsFrom(Tables.documents(spark, dir))
      .withColumn("tokens", col("n_bigrams") + 1)
    val bucketed = scored.withColumn("qb", -col("bits_saved"))
    PrefixSum.runningSum(bucketed, "qb",
        Seq(col("bits_saved").desc, col("doc_id")), col("tokens"), "cum_tokens")
      .filter(col("cum_tokens") - col("tokens") < DsirTokenBudget)
      .select(col("doc_id"), col("bits_saved"), col("tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  query("q280_dsir_select", dsirSelect,
      s"""WITH w AS ($dsirWeightsSql),
          sel AS (SELECT doc_id, bits_saved, n_bigrams + 1 AS tokens,
                         SUM(n_bigrams + 1) OVER (
                           ORDER BY bits_saved DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_tokens
                  FROM w)
          SELECT doc_id, CAST(bits_saved AS BIGINT) AS bits_saved,
                 CAST(tokens AS BIGINT) AS tokens,
                 CAST(cum_tokens AS BIGINT) AS cum_tokens
          FROM sel WHERE cum_tokens - tokens < ${DsirTokenBudget}""")

  // --- oracle SQL fragments the specs above share --------------------------

  /** q279's oracle (shared by q280): the DSIR hashed-bigram importance
    * score replayed with the identical integer arithmetic — the same
    * per-char polynomial fold as q30, the same add-one smoothing, the
    * same bitlen identity for the per-bucket model cost.
    */
  private lazy val dsirWeightsSql: String = {
    val b = DsirBuckets
    s"""WITH d AS (SELECT doc_id, lang, $ws AS w
                   FROM documents
                   WHERE text IS NOT NULL AND lang IS NOT NULL
                     AND len($ws) >= 2),
        bgr AS (SELECT doc_id, lang,
                  list_reduce(list_transform(
                      string_split_regex(w[i] || ' ' || w[i+1], ''),
                      c -> CAST(ascii(c) AS BIGINT)),
                    (a, x) -> (a * 31 + x) % 1000000007) % $b AS bucket
                FROM d, LATERAL (SELECT unnest(generate_series(1,
                       len(w) - 1)) AS i) g),
        dc AS (SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS c
               FROM bgr GROUP BY 1, 2, 3),
        rawb AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cq
                 FROM dc GROUP BY 1),
        tgtb AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cp
                 FROM dc WHERE lang = 'en' GROUP BY 1),
        tot AS (SELECT (SELECT SUM(cq) FROM rawb) + $b AS tq,
                       (SELECT COALESCE(SUM(cp), 0) FROM tgtb) + $b AS tp),
        model AS (SELECT rawb.bucket,
                         length(bin(tq // (cq + 1))) - 1 AS bits_q,
                         length(bin(tp // (COALESCE(cp, 0) + 1))) - 1 AS bits_p
                  FROM rawb LEFT JOIN tgtb USING (bucket), tot)
        SELECT dc.doc_id, dc.lang,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(SUM(c * (bits_q - bits_p)) AS BIGINT) AS bits_saved,
               CAST(SUM(c * (bits_q - bits_p)) AS BIGINT) > 0 AS target_like
        FROM dc JOIN model USING (bucket)
        GROUP BY 1, 2"""
  }
}
