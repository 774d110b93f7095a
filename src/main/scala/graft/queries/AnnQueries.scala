package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import OracleSql._

/** ANN / embedding-search queries: README "Query-surface index", section
  * "ANN / embedding search". Each query is declared once, by the
  * `query(...)` call after its implementation, with its DuckDB oracle SQL
  * beside it.
  */
object AnnQueries extends QueryFamily {

  // --- q26: random-hyperplane LSH bucketed ANN (scale path) -------------------
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    NearDup.annLshTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      AnnQueryMaxId, AnnK)
      .orderBy("query_id", "rank")

  query("q26_ann_lsh", annLsh, {
      import graft.functions.Lsh._
      s"""WITH $embNrmCte,
          $planeBandsCtes,
          qb AS (SELECT vec_id, t, xor(key, m) AS key
                 FROM bands,
                      (SELECT unnest(${sqlArr(0L +: (0 until RowsRp).map(j => 1L << j))}) AS m) pm
                 WHERE vec_id < ${AnnQueryMaxId}),
          cand AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
                   FROM qb JOIN bands c ON qb.t = c.t AND qb.key = c.key
                   WHERE c.vec_id >= ${AnnQueryMaxId}),
          $cosSidesCtes
          ${cosTopKSql("cand JOIN q USING (query_id) JOIN c USING (neighbor_id)")}"""
    })

  // --- q25: brute-force cosine top-k ANN -------------------------------------
  val AnnQueryMaxId = 10
  val AnnK = 5

  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val e = NearDup.withNorm(Tables.embeddings(spark, dir), "vec_id", "embedding")
    NearDup.annBruteForce(
      queries = e.filter(col("vec_id") < AnnQueryMaxId),
      corpus = e.filter(col("vec_id") >= AnnQueryMaxId),
      k = AnnK)
      .orderBy("query_id", "rank")
  }

  query("q25_ann_bruteforce", annBruteForce,
      s"""WITH $embNrmCte,
          $cosSidesCtes
          ${cosTopKSql("q, c")}""")

  // --- q79: hybrid retrieval — BM25 recall stage + dense cosine rerank --------
  // The two-stage retrieval every RAG corpus pipeline runs: a cheap
  // lexical stage takes the corpus down to `BmCandidates` docs (top-k by
  // BM25, deterministic tiebreak), then the dense stage reranks ONLY the
  // candidates by cosine to a query embedding (doc 0's vector —
  // deterministic, no free-text query infra needed). The candidate set is
  // a TakeOrdered result broadcast into the embedding join, so the dense
  // stage scans |candidates| vectors, never the corpus.
  val BmCandidates = 50
  val HybridK = 20

  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val cand = TextQueries.bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(BmCandidates)
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    cand.join(emb, cand("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), col("score").as("bm25_score"),
        graft.functions.Similarity.cosine(col("qe"), col("embedding")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
      .limit(HybridK)
  }

  query("q79_hybrid_search", hybridSearch,
      s"""WITH cand AS (
            $bm25ScoredSql
            ORDER BY score DESC, doc_id LIMIT ${BmCandidates}),
          q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                FROM embeddings WHERE vec_id = 0),
          e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
                FROM embeddings)
          SELECT doc_id, bm25_score, cos_sim FROM (
            SELECT cand.doc_id, cand.score AS bm25_score,
                   ${dotSql("qe", "de")}
                     / (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("de", "de")}))
                     AS cos_sim
            FROM cand JOIN e ON cand.doc_id = e.vec_id, q)
          ORDER BY cos_sim DESC, doc_id LIMIT ${HybridK}""")

  // --- q33: IVF ANN — probe nprobe inverted lists, exact search within --------
  // nprobe is corpus-tuned: the synthetic embeddings are ISOTROPIC (measured
  // mean cosine ~0 and identical same-label/cross-label distributions), so
  // any coarse quantizer gives recall ~= scan fraction and the spec'd
  // recall@5 >= 0.8 needs 9 of 10 lists here. On real (clustered) corpora
  // the same plan probes 2-3 of hundreds of k-means lists; the operator's
  // value is its shape — one corpus scan, broadcast centroids, per-list
  // exact search — not this corpus's recall curve.
  val IvfNProbe = 9

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    Ivf.annIvfTopK(Tables.embeddings(spark, dir), "vec_id", "embedding", "label",
      AnnQueryMaxId, IvfNProbe, AnnK)
      .orderBy("query_id", "rank")

  query("q33_ann_ivf", annIvf, ivfSearchSql(embNrmCte))

  // --- q59: IVF ANN over a TRAINED k-means quantizer --------------------------
  // The full production path: deterministic Lloyd training (id-order seeds so
  // the SQL oracle replays them verbatim — no xxhash64 in DuckDB), quantizer
  // assignment, then q33's probe/search shape over the trained lists. The
  // oracle gates the TRAINING arithmetic bit-exactly (decimal sums, sequential
  // dot folds, first-wins argmax); recall is gated separately by the
  // clustered-corpus spec — on this isotropic corpus recall is pinned to the
  // scan fraction whatever the quantizer (see q33's note).
  val IvfTrainLists = 10
  val IvfTrainIters = 2

  def annIvfTrained(spark: SparkSession, dir: String): DataFrame =
    Ivf.annIvfTrainedTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      AnnQueryMaxId, IvfTrainLists, IvfTrainIters, IvfNProbe, AnnK,
      sampleFraction = 1.0, seedByHash = false)
      .orderBy("query_id", "rank")

  query("q59_ann_ivf_trained", annIvfTrained, {
      import graft.functions.Lsh.Dim
      val L = IvfTrainLists
      // unit-normalize a centroid table (list, cent) — Scala-driver op order:
      // left-fold sum of squares, sqrt, per-element divide; zero-norm keeps c
      def unit(t: String) =
        s"""SELECT list, CASE WHEN nrm = 0 THEN cent
                              ELSE list_transform(cent, x -> x / nrm) END AS ucent
            FROM (SELECT list, cent,
                         sqrt(list_reduce(list_transform(cent, x -> x*x),
                                          (a,b) -> a+b)) AS nrm
                  FROM $t)"""
      // argmax-cosine list per vector, ties to the LOWEST list id — ≡ Ivf
      // .assignList's array_position(scores, array_max(scores)) first-wins
      def assign(src: String, u: String) =
        s"""SELECT vec_id, v, list FROM (
              SELECT vec_id, v, list,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sc DESC, list) AS rn
              FROM (SELECT s.vec_id, s.v, u.list,
                           ${dotSql("u.ucent", "s.v")} AS sc
                    FROM $src s, $u u))
            WHERE rn = 1"""
      // exact-decimal per-position sums; a list that loses all members keeps
      // its previous centroid — ≡ Ivf.trainKMeans's refined.getOrElse
      def refine(a: String, prev: String) =
        s"""SELECT p.list, COALESCE(r.cent, p.cent) AS cent
            FROM $prev p LEFT JOIN (
              SELECT list, array_agg(CAST(s AS DOUBLE) ORDER BY i) AS cent
              FROM (SELECT list, i, SUM(CAST(v[i] AS DECIMAL(20,10))) AS s
                    FROM $a, (SELECT unnest(generate_series(1, $Dim)) AS i) g
                    GROUP BY 1, 2)
              GROUP BY list) r ON p.list = r.list"""
      ivfSearchSql(s"""train AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE vec_id >= ${AnnQueryMaxId}),
          c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS list,
                        v AS cent
                 FROM (SELECT vec_id, v FROM train ORDER BY vec_id LIMIT $L)),
          u0 AS (${unit("c0")}),
          a1 AS (${assign("train", "u0")}),
          c1 AS (${refine("a1", "c0")}),
          u1 AS (${unit("c1")}),
          a2 AS (${assign("train", "u1")}),
          c2 AS (${refine("a2", "c1")}),
          u2 AS (${unit("c2")}),
          allv AS (SELECT vec_id, embedding,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
          lab AS (${assign("allv", "u2")}),
          e AS (SELECT a.vec_id, a.embedding, lab.list AS label, $nrmSql AS nrm
                FROM allv a JOIN lab ON a.vec_id = lab.vec_id)""")
    })

  // --- q61: LARGE-k quantizer assignment (broadcast-table path) ---------------
  // 513 lists × dim 64 = 32832 coefficients — just past LiteralAssignLimit, so
  // assignListsByJoin (broadcast centroid TABLE, struct-max argmax, O(1) plan
  // size in k) is what feeds the oracle, not the plan-literal kernels. The
  // centroid draw (first corpus vectors in id order) and the assigned subset
  // are fixed so the DuckDB twin's cost stays bounded at any sf.
  val BigKLists = 513
  val BigKAssignMaxId = 1000L

  def ivfAssignBigK(spark: SparkSession, dir: String): DataFrame = {
    val emb = embV(spark, dir)
    val base = emb.filter(col("vec_id") >= AnnQueryMaxId)
      .orderBy("vec_id").limit(BigKLists)
      .select("v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    // cycle the draw up to k: a small-SF corpus can't supply 513 distinct
    // vectors, and duplicate centroids are harmless — identical scores
    // resolve by the shared first-wins (lowest list) tie rule
    val cents = (0 until BigKLists).map(i => base(i % base.size))
    require(cents.size.toLong * cents.head.size > Ivf.LiteralAssignLimit,
      "fixture must exceed LiteralAssignLimit so the broadcast-join path runs")
    Ivf.assignListsByJoin(emb.filter(col("vec_id") < BigKAssignMaxId),
        "vec_id", "v", cents, "list")
      .select(col("vec_id"), col("list"))
      .orderBy("vec_id")
  }

  query("q61_ivf_assign_bigk", ivfAssignBigK,
      s"""WITH base AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS rn,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id >= ${AnnQueryMaxId}
                  ORDER BY vec_id LIMIT ${BigKLists})),
          cents AS (
            SELECT g.i AS list, b.cent
            FROM (SELECT unnest(generate_series(0, ${BigKLists - 1})) AS i) g
            JOIN base b ON b.rn = g.i % (SELECT count(*) FROM base)),
          u AS (SELECT list, CASE WHEN nrm = 0 THEN cent
                                  ELSE list_transform(cent, x -> x / nrm) END AS ucent
                FROM (SELECT list, cent,
                             sqrt(list_reduce(list_transform(cent, x -> x*x),
                                              (a,b) -> a+b)) AS nrm
                      FROM cents)),
          v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings WHERE vec_id < ${BigKAssignMaxId})
          SELECT vec_id, list FROM (
            SELECT v.vec_id, u.list,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY ${dotSql("u.ucent", "v.v")} DESC,
                                               u.list) AS rn
            FROM v, u)
          WHERE rn = 1""")

  // --- q151: reciprocal-rank fusion (lexical ⊕ dense retrieval) -----------------
  // The standard hybrid-retrieval combiner: BM25 rank and dense-cosine
  // rank over the SAME candidate set, fused as Σ 1/(C + rank). Ranks are
  // integers, so the two reciprocals and their sum are single fp ops —
  // bit-identical across engines without rounding. Candidates come from
  // a TakeOrdered top-k (never a corpus sort); both rank windows run
  // over the 50-row candidate set only.
  val RrfC = 60

  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val cand = TextQueries.bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(BmCandidates)
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = cand.withColumn("r_lex", row_number().over(wLex))
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val wDen = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos_sim").desc, col("doc_id"))
    lex.join(emb, lex("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(qv))
      .select(col("doc_id"), col("r_lex"),
        graft.functions.Similarity.cosine(col("qe"), col("embedding")).as("cos_sim"))
      .withColumn("r_dense", row_number().over(wDen))
      .select(col("doc_id"), col("r_lex"), col("r_dense"),
        (lit(1.0) / (lit(RrfC) + col("r_lex"))
          + lit(1.0) / (lit(RrfC) + col("r_dense"))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(HybridK)
  }

  query("q151_rrf_fusion", rrfFusion,
      s"""WITH cand AS (
            $bm25ScoredSql
            ORDER BY score DESC, doc_id LIMIT ${BmCandidates}),
          lx AS (SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                          AS INT) AS r_lex
                 FROM cand),
          qq AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                 FROM embeddings WHERE vec_id = 0),
          dd AS (SELECT lx.doc_id, r_lex,
                        ${dotSql("qe", "de")}
                          / (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("de", "de")}))
                          AS cos_sim
                 FROM lx JOIN (SELECT vec_id,
                                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
                               FROM embeddings) e
                   ON lx.doc_id = e.vec_id, qq),
          rr AS (SELECT doc_id, r_lex,
                        CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
                          AS INT) AS r_dense
                 FROM dd)
          SELECT doc_id, r_lex, r_dense,
                 CAST(1.0 AS DOUBLE) / (${RrfC} + r_lex)
                   + CAST(1.0 AS DOUBLE) / (${RrfC} + r_dense) AS rrf
          FROM rr ORDER BY rrf DESC, doc_id LIMIT ${HybridK}""")

  // --- q158: embedding distance-distribution histogram ---------------------------
  // Corpus-geometry diagnostic: squared L2 distances over hash-blocked
  // vector pairs (deterministic ~1/8 vector sample, 64 hash blocks —
  // pairs only ever form inside a block, so the join is bucketed, never
  // all-pairs), binned into an integer histogram. d² = ‖a‖² + ‖b‖² −
  // 2·a·b with the codegen VecDot kernel, fixed op order ⇒ identical
  // doubles ⇒ identical floor bins in both engines. Block count is the
  // pairs-per-vector budget knob (size B ∝ sample size to hold the
  // per-block quadratic constant at scale).
  val DistSampleMod = 8L
  val DistBlocks = 64L
  val DistBinWidth = 0.25

  def distanceHistogram(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    import graft.plans.VectorExprs
    // both hash inputs pre-reduced mod P before the affine hash — the
    // q141 overflow lesson: ScaleGen's offset ids push HA·(31·id) past
    // int64 and ANSI mode faults the whole query at the 30× drill
    val v = Tables.embeddings(spark, dir)
      .filter(pmod(Sketches.keyHash(pmod(col("vec_id"), lit(Sketches.P))),
        lit(DistSampleMod)) === 0)
      .select(col("vec_id"),
        pmod(Sketches.keyHash(pmod(col("vec_id") * lit(31L), lit(Sketches.P))),
          lit(DistBlocks)).as("blk"),
        col("embedding"))
    val a = v.select(col("blk"), col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = v.select(col("blk"), col("vec_id").as("idb"), col("embedding").as("eb"))
    a.join(b, Seq("blk")).filter(col("ida") < col("idb"))
      .select((VectorExprs.dot(col("ea"), col("ea"))
        + VectorExprs.dot(col("eb"), col("eb"))
        - lit(2.0) * VectorExprs.dot(col("ea"), col("eb"))).as("d2"))
      .select(floor(col("d2") / lit(DistBinWidth)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bin")
  }

  query("q158_distance_histogram", distanceHistogram, {
      import graft.functions.Sketches.{HA, HB, P}
      val dot = (x: String, y: String) => dotSql(x, y)
      s"""WITH v AS (SELECT vec_id,
                  (($HA * ((vec_id * 31) % $P) + $HB) % $P) % ${DistBlocks} AS blk,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings
               WHERE (($HA * (vec_id % $P) + $HB) % $P) % ${DistSampleMod} = 0),
          d AS (SELECT ${dot("a.e", "a.e")} + ${dot("b2.e", "b2.e")}
                       - 2.0 * ${dot("a.e", "b2.e")} AS d2
                FROM v a JOIN v b2
                  ON a.blk = b2.blk AND a.vec_id < b2.vec_id)
          SELECT CAST(floor(d2 / ${DistBinWidth}) AS BIGINT) AS bin,
                 COUNT(*) AS n_pairs
          FROM d GROUP BY 1"""
    })

  // --- q223: product-quantization code assignment --------------------------------------
  // The memory side of billion-scale ANN: a 64-dim float vector becomes
  // PqSub=4 one-byte codes (PqCodes=16 sub-centroids per subspace) — a
  // 64× compression the IVF family (q33/q59/q61) pairs with for
  // in-memory re-ranking. Codebooks here are the q61 deterministic draw
  // (first train vectors' slices in id order) so the oracle replays
  // them verbatim; assignment is argmin L2 with lowest-code tiebreak as
  // one struct-MIN hash agg (no window). dist² is a fixed-order fold of
  // exact float→double subtractions — bit-stable cross-engine (the
  // aggregate-from-0.0 vs list_reduce-from-first equivalence: 0.0 + t₁
  // is exact).
  val PqSub = 4
  val PqCodes = 16

  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val subDim = graft.functions.Lsh.Dim / PqSub
    val emb = embV(spark, dir)
    val cdf = subCodebookDf(spark, seedSubCodebook(pqSeeds(emb), subDim))
    val sub = emb.select(col("vec_id"),
        explode(array((0 until PqSub).map(s =>
          struct(lit(s).as("subspace"),
            slice(col("v"), s * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.subspace").as("subspace"), col("e.sv").as("sv"))
    sub.join(broadcast(cdf), "subspace")
      .withColumn("dist2", expr(
        "aggregate(zip_with(sv, cent, (x, c) -> (x - c) * (x - c)), 0.0D, (a, b) -> a + b)"))
      .groupBy("vec_id", "subspace")
      .agg(min(struct(col("dist2"), col("code"))).as("m"))
      .select(col("vec_id"), col("subspace"),
        col("m.code").as("code"), col("m.dist2").as("dist2"))
      .orderBy("vec_id", "subspace")
  }

  query("q223_pq_codes", pqCodes, pqCodesSql)

  // --- q234: streaming PQ code assignment (stream-static enrich) ----------------------
  // The ONLINE half of the ANN story (VERDICT r13 item 7): q223's
  // product-quantization argmin as a REAL stream — new vectors arrive
  // on a file stream and leave with their 4 sub-codes, the ingest-time
  // encode step of a billion-scale vector store. Spark shape: the
  // codebook is folded into a PqSub-row static frame whose 16
  // candidates sit in ONE array column, broadcast into a stream-static
  // inner join (q161's class: append mode, no state store, no
  // watermark), and the argmin is a pure map-side projection —
  // `array_min` over struct(dist2, code) ≡ q223's struct-MIN hash agg,
  // so the emission set is exactly the batch assignment and the gate
  // shares q223's oracle verbatim (the q144↔q40 twin discipline
  // extended to streams).
  def streamedPqAssign(spark: SparkSession, dir: String): DataFrame = {
    val subDim = graft.functions.Lsh.Dim / PqSub
    val seeds = pqSeeds(embV(spark, dir))
    import spark.implicits._
    // seeds.indices, not 0 until PqCodes: the batch twin q223 iterates
    // the ACTUAL seed count, so a short/filtered corpus (< PqCodes
    // trainable vectors) degrades both twins identically instead of
    // throwing IndexOutOfBounds on the stream side only.
    val cands = (0 until PqSub).map { s =>
      (s, seeds.indices.map(c =>
        (c, seeds(c).slice(s * subDim, (s + 1) * subDim))))
    }.toDF("subspace", "cands")
    val stream = Tables.embeddingsStream(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), explode(array((0 until PqSub).map(s =>
        struct(lit(s).as("subspace"),
          slice(col("v"), s * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.subspace").as("subspace"),
        col("e.sv").as("sv"))
    val assigned = stream.join(broadcast(cands), "subspace")
      .withColumn("m", expr(
        """array_min(transform(cands, c -> struct(
             aggregate(zip_with(sv, c._2, (x, cc) -> (x - cc) * (x - cc)),
                       0.0D, (a, b) -> a + b) AS dist2,
             c._1 AS code)))"""))
      .select(col("vec_id"), col("subspace"),
        col("m.code").as("code"), col("m.dist2").as("dist2"))
    val name = Queries.runToTable(assigned.writeStream, "graft_q234_")
    spark.table(name).orderBy("vec_id", "subspace")
  }

  // q234 = q223 as a stream-static enrich: append-mode emission set
  // IS the batch assignment, so the oracle is shared verbatim
  query("q234_stream_pq_assign", streamedPqAssign, pqCodesSql)

  // --- q237: PQ asymmetric-distance top-k (the ADC read path) --------------------------
  // q223/q234 ENCODE vectors; this SEARCHES with the codes (VERDICT r14
  // item 6) — the billion-scale read path: a query vector never touches
  // the corpus vectors, only their 4 one-byte codes. Per query the
  // 4×16 lookup table of subspace distances is built ON THE DRIVER
  // (bounded: AnnQueryMaxId queries × PqSub × PqCodes doubles) and
  // broadcast; the scan is then 4 array lookups + 3 additions per
  // corpus row (map-side, codegen) — no per-row vector arithmetic at
  // all. Exactness: LUT entries are fixed-order folds from 0.0 (≡ the
  // oracle's list_reduce); the 4-term ADC sum is one fixed
  // left-associated expression; ties break on vec_id. The wide code
  // row (one row per vector, 4 code columns) is the in-memory layout a
  // real PQ index ships.
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    adcTopK(adcScores(spark, dir))

  // q237 — ADC replay: the same codes CTE as q223, a per-query LUT of
  // subspace distances (list_reduce fold ≡ the driver's fold from
  // 0.0), the 4-term sum pivoted per subspace so the addition order
  // is FIXED (a hash-agg SUM over subspaces would be order-unstable
  // in the last ulp), row_number tiebreak on vec_id.
  query("q237_pq_adc_topk", pqAdcTopK, adcTopKSql(pqAdcRankedCtes))

  /** Every (query, corpus-vector) ADC distance — factored so the spec
    * can check the seed-exactness property (a corpus vector that IS a
    * codebook seed has ADC distance ≡ the per-subspace-fold exact
    * squared L2 to the query) over the full score table, not only the
    * surviving top-k.
    */
  private[graft] def adcScores(spark: SparkSession, dir: String): DataFrame =
    adcScored(pqWideCodes(spark, dir).crossJoin(broadcast(pqLutDf(spark, dir))),
      PqSub)

  /** (query_id, vec_id, adc_dist2) of rows carrying wide codes c0..c{n-1}
    * and their query's LUT `tabs`: the n-lookup ADC sum, one fixed
    * left-associated expression (tabs[s] is 0-based in Spark SQL).
    */
  private def adcScored(joined: DataFrame, nSub: Int): DataFrame =
    joined.select(col("query_id"), col("vec_id"),
      (0 until nSub).map(s => expr(s"tabs[$s][c$s]")).reduce(_ + _)
        .as("adc_dist2"))

  /** Per-query top-AnnK of an ADC score frame, ties to the lower vec_id —
    * the one ranking tail of q237, q239 and the probed-ADC core.
    */
  private def adcTopK(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_dist2"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("adc_dist2"))
      .orderBy("query_id", "rank")
  }

  /** Per-query LUT frame (query_id, tabs) over the seed codebook:
    * tabs(s)(c) = ‖q_s − cent_{s,c}‖², folded from 0.0 in index order —
    * the exact shape the oracle's list_reduce yields. Bounded driver
    * state (queries × PqSub × PqCodes doubles); broadcast by the
    * consumers.
    */
  private def pqLutDf(spark: SparkSession, dir: String): DataFrame = {
    val emb = embV(spark, dir)
    val cbSub = seedSubCodebook(pqSeeds(emb), graft.functions.Lsh.Dim / PqSub)
    import spark.implicits._
    emb.filter(col("vec_id") < AnnQueryMaxId).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), lutTabs(r.getSeq[Double](1), cbSub)))
      .toSeq.toDF("query_id", "tabs")
  }

  /** One query's ADC tables [subspace][code]: the squared L2 from its
    * subvector to each code's subvector.
    */
  private def lutTabs(qv: Seq[Double],
                      cbSub: IndexedSeq[IndexedSeq[Seq[Double]]])
      : IndexedSeq[IndexedSeq[Double]] =
    cbSub.indices.map(s =>
      cbSub(s).map(c => l2Fold(qv, s * c.length, c, 0, c.length)))

  /** Squared L2 over `len` positions of `a` from `aFrom` and `b` from
    * `bFrom`, folded from 0.0 in index order — the driver-side twin of
    * the oracle's list_reduce.
    */
  private def l2Fold(a: Seq[Double], aFrom: Int, b: Seq[Double], bFrom: Int,
                     len: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < len) {
      val d = a(aFrom + i) - b(bFrom + i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** One row per `keys` with the per-subspace codes pivoted into
    * columns c0..c{nSub-1} — the in-memory layout a real PQ index ships.
    */
  private def wideCodes(codes: DataFrame, nSub: Int, keys: String*): DataFrame = {
    val pivots = (0 until nSub).map(s =>
      min(when(col("subspace") === s, col("code"))).as(s"c$s"))
    codes.groupBy(keys.map(col): _*).agg(pivots.head, pivots.tail: _*)
  }

  /** Wide PQ code rows for the corpus. */
  private def pqWideCodes(spark: SparkSession, dir: String): DataFrame =
    wideCodes(pqCodes(spark, dir).filter(col("vec_id") >= AnnQueryMaxId),
      PqSub, "vec_id")

  /** The embeddings as (vec_id, v: array<double>, extra…). */
  private def embV(spark: SparkSession, dir: String, extra: String*): DataFrame =
    Tables.embeddings(spark, dir).select(col("vec_id") +:
      col("embedding").cast("array<double>").as("v") +: extra.map(col): _*)

  /** The PqCodes lowest corpus vectors — the q223 codebook seeds (bounded
    * driver state, the q59/q61 draw).
    */
  private def pqSeeds(emb: DataFrame): Array[Seq[Double]] =
    emb.filter(col("vec_id") >= AnnQueryMaxId).orderBy("vec_id").limit(PqCodes)
      .select("v").collect().map(_.getSeq[Double](0))

  // --- q239: IVF + PQ — the composed billion-scale ANN read path -----------------------
  // The full story assembled from its gated parts: q33's coarse probe
  // (exact-decimal sum centroids, top-nprobe lists per query by
  // centroid cosine) restricts WHICH corpus rows are scored at all,
  // and q237's ADC lookup tables score ONLY those candidates from
  // their 4 one-byte codes — the corpus's float vectors are never
  // touched after the offline encode. Spark shape: the probe set
  // (queries × nprobe rows) and the LUTs broadcast; candidates =
  // codes ⋈ labels ⋈ probe-set (two broadcast joins, map-side); ADC =
  // 4 array lookups + fixed-order sum; TakeOrdered per query. At a
  // billion vectors the scan reads |probed lists| code rows — the
  // IVF-PQ cost model, expressed in three joins.
  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = Ivf.probeLists(emb, "vec_id", "embedding", "label",
        AnnQueryMaxId, IvfNProbe)
      .select("query_id", "label")
    val cand = pqWideCodes(spark, dir)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .join(broadcast(probes), "label")
    adcTopK(adcScored(cand.join(broadcast(pqLutDf(spark, dir)), "query_id"),
      PqSub))
  }

  // q239 — the q33 probe CTEs (centroid cosine, top-nprobe lists per
  // query) restrict the q237 ADC scoring to probed-list members; the
  // same per-subspace MIN-CASE pivots fix the 4-term addition order.
  query("q239_ivf_pq_search", ivfPqSearch,
      adcTopKSql(s"""$pqCtes,
          $embNrmCte,
          $ivfProbeCtes,
          $pqLutCtes,
          j AS (SELECT pr.query_id, c.neighbor_id AS vec_id, codes.subspace, d2
                FROM pr JOIN c USING (label)
                        JOIN codes ON codes.vec_id = c.neighbor_id
                        JOIN lut ON lut.query_id = pr.query_id
                                AND lut.subspace = codes.subspace
                                AND lut.code = codes.code),
          ${adcRankCtes(PqSub)}"""))

  // --- q246: residual IVF-PQ search (the true FAISS IVFPQ encode) -----------------------
  // q223/q237/q239 quantize the raw vectors; production IVFPQ quantizes
  // the RESIDUAL to the coarse centroid (v − mean_list) — residuals
  // cluster near zero whatever the list's absolute position, so the 16
  // codes spend their resolution on local structure instead of re-
  // encoding the centroid every vector. Consequences wired through:
  // the coarse quantizer is L2-to-MEAN (not cosine-to-sum — magnitude
  // matters for residuals; Ivf.meanCentroids), and the ADC tables
  // become per-(query, PROBED LIST) — lut_{l,s}(c) = ‖(q−mean_l)_s −
  // cb_{c,s}‖² — still bounded driver state (queries × nprobe × 4×16
  // doubles) broadcast to a codes-only candidate scan. One join carries
  // everything: wide code rows ⋈ the (query, label)-keyed LUT frame on
  // label restricts candidates to probed lists AND delivers the tables.
  // Exactness: mean = exact-decimal sum → double ÷ count; every fold
  // fixed-order from 0.0; argmins tie-break on code/label/vec_id.
  // Recall: measured by q257 — at THIS untrained 16-code geometry the
  // residual encode reads recall@5 0.08 vs the raw codebook's 0.16
  // (probe ceiling 0.98, so the codebook is the limiter); the encode
  // PIPELINE is what this query gates, the recall row prices it.
  def ivfPqResidualSearch(spark: SparkSession, dir: String): DataFrame =
    residualAdcSearch(spark, dir, trainIters = 0)

  // q246 — the full residual chain replayed: exact-decimal means,
  // residual transform, residual codebook + codes (row_number argmin
  // tie-broken on code), L2-to-mean probe (tie on label), per-(query,
  // probed-list) LUTs, per-subspace MIN-CASE pivot fixing the 4-term
  // addition order, vec_id tiebreak on the final rank.
  query("q246_ivf_pq_residual", ivfPqResidualSearch, adcTopKSql(residualAdcCtes(0)))

  // --- q259: TRAINED residual codebook search (the q257 lever, built) -------------------
  // q257's verdict: the residual encode loses to the raw codebook
  // (0.08 vs 0.16) because its 16 codewords are arbitrary corpus
  // residuals, not trained — so this trains them: ResTrainIters rounds
  // of per-subspace Lloyd (assign → floor-grid exact mean → re-assign),
  // seeded from q246's codebook, then the identical probed-ADC read
  // path. The oracle replays TRAINING bit-for-bit (the q59 discipline:
  // every mean on the 2^20 integer grid, every argmin tie-broken on
  // code) — the gate proves the training arithmetic, q260 prices the
  // result. At a billion vectors the train pass runs on a bounded
  // deterministic sample exactly as Ivf.trainKMeans does; the per-round
  // cost here is one broadcast-join scan of the subvector frame.
  val ResTrainIters = 2

  def pqTrainedSearch(spark: SparkSession, dir: String): DataFrame =
    residualAdcSearch(spark, dir, trainIters = ResTrainIters)

  // q259 — the TRAINED chain: the identical final SELECT over the
  // CTE list with ResTrainIters Lloyd rounds spliced between the
  // seed codebook and the encode.
  query("q259_pq_trained", pqTrainedSearch, adcTopKSql(residualAdcCtes(ResTrainIters)))

  // --- q260: the trained codebook's recall row ------------------------------------------
  // The measurement that closes the q254→q257→q259 arc: same exact-L2
  // ground truth, candidate set = q259's trained-ADC top-k. Measured
  // (sf0.01): recall@5 0.12 at 2 rounds (0.14 at a 5-round probe) vs
  // 0.08 untrained-residual and 0.16 raw — training recovers half the
  // gap with clear diminishing returns, and the instrument family says
  // why the ceiling sits at raw: this corpus is ISOTROPIC, so the
  // coarse means are near zero and residual ≈ raw — the residual
  // transform has nothing to add here by construction. On naturally
  // clustered data (IVF-PQ's actual deployment regime) the residual is
  // what pays; on this fixture the honest read is "train the codebook
  // (always), and spend the next budget on codes-per-subspace, not on
  // more Lloyd rounds". Note recall monotonicity under training is NOT
  // a theorem (distortion ≠ recall: the 200-vector sf0.001 corpus
  // reads 0.3 trained vs 0.4 untrained), so Round16Spec pins Lloyd's
  // DISTORTION descent plus the instrument's own contract, and this
  // row reports whatever the data says.
  def trainedRecall(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir,
      pqTrainedSearch(spark, dir).select("query_id", "vec_id"))

  // q260 — the recall row of the TRAINED chain (the q254→q257→q259
  // arc's measurement): same ground truth, q259's candidates.
  query("q260_trained_recall", trainedRecall, recallSql(residualAdcCtes(ResTrainIters)))

  /** The residual IVF-PQ read path, parameterized by Lloyd rounds on
    * the subspace codebooks (0 = q246's untrained seeds): the probed-ADC
    * core at the 4×16 geometry, seeded from the PqCodes lowest-id
    * residuals and trained per call.
    */
  private[graft] def residualAdcSearch(spark: SparkSession, dir: String,
                                       trainIters: Int): DataFrame =
    probedAdcSearch(embV(spark, dir, "label"), PqSub, IvfNProbe,
      encodeRaw = false, (res, sub) => trainSubCodebook(sub,
        seedSubCodebook(seedRows(res, PqCodes), graft.functions.Lsh.Dim / PqSub),
        trainIters))

  /** The probed IVF-PQ ADC read path over a (vec_id, label, v) frame —
    * one implementation behind q246/q259 (4×16, residual, nprobe 9) and
    * q271/q272 (8×256, residual or raw, nprobe 2). The coarse quantizer
    * is L2-to-mean over `Ivf.meanCentroids`; the corpus is coded (the
    * residual to its list mean, or the raw vector when `encodeRaw`) into
    * `nSub` subspaces against `codebook(res, sub)`; each query probes its
    * `nprobe` nearest means (ties to the lower label) and gets one ADC
    * table per probed list, built from its own residual to that list's
    * mean (or the raw query). One broadcast join of the wide code rows
    * with the (query, label)-keyed tables restricts candidates to probed
    * lists and delivers the tables; the fixed-order ADC sum ranks them.
    * Driver state stays bounded: lists × dim means, the codebook, and
    * queries × nprobe × nSub × codes doubles.
    */
  private def probedAdcSearch(emb: DataFrame, nSub: Int, nprobe: Int,
      encodeRaw: Boolean,
      codebook: (DataFrame, DataFrame) => IndexedSeq[IndexedSeq[Seq[Double]]])
      : DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") >= AnnQueryMaxId)
    val means = Ivf.meanCentroids(corpus, "v", "label")
    val res =
      if (encodeRaw) corpus.select(col("vec_id"), col("label"), col("v").as("r"))
      else residualFrame(corpus, means)
    val sub = subspaceFrame(res, graft.functions.Lsh.Dim / nSub, nSub)
    val cbSub = codebook(res, sub)
    val wide = wideCodes(assignSubCodes(sub, subCodebookDf(spark, cbSub)),
      nSub, "vec_id", "label")
    val meanArr = means.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val qvs = emb.filter(col("vec_id") < AnnQueryMaxId).orderBy("vec_id")
      .select("vec_id", "v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val luts = qvs.flatMap { case (qid, qv) =>
      meanArr.sortBy { case (l, m) => (l2Fold(qv, 0, m, 0, qv.length), l) }
        .take(nprobe)
        .map { case (l, m) =>
          val enc = if (encodeRaw) qv else qv.indices.map(i => qv(i) - m(i))
          (qid, l, lutTabs(enc, cbSub))
        }
    }.toSeq.toDF("query_id", "label", "tabs")
    adcTopK(adcScored(wide.join(broadcast(luts), Seq("label")), nSub))
  }

  // --- q254: PQ recall harness -----------------------------------------------------------
  // The ANN quality MEASUREMENT (q184's candidate-quality harness for
  // the vector side): exact L2 top-k per query (fixed-fold distance,
  // vec_id tiebreak — the ground truth a 4×16 quantizer is judged
  // against) left-joined to q237's ADC top-k; per-query hit count and
  // recall@k. The exact side broadcasts the bounded query set over one
  // corpus scan (the q25 shape); at a billion vectors the ground truth
  // comes from a sampled query panel — the harness shape is unchanged.
  def pqRecall(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir,
      pqAdcTopK(spark, dir).select("query_id", "vec_id"))

  // q254 — exact L2 top-k (the same fixed-fold distance, vec_id
  // tiebreak) left-joined against the q237 ADC top-k from the SHARED
  // ranked CTE chain; per-query hit counts and recall@k.
  query("q254_pq_recall", pqRecall, recallSql(pqAdcRankedCtes))

  // --- q257: residual-PQ recall (the q246 claim, measured) ------------------------------
  // q254 reads recall 0.16 for the RAW 4×16 codebook and q246's whole
  // reason to exist is "residual encoding spends the codes on local
  // structure instead of re-encoding the centroid" — a claim that was
  // never measured (VERDICT r15 item 3). Same harness, same exact-L2
  // ground truth, same recall@k schema as q254; the candidate set is
  // q246's probed residual-ADC top-k. Measured (sf0.01): recall@5
  // 0.08 vs the raw codebook's 0.16 — the claim is REFUTED at this
  // geometry, and the instrument says why: the coarse-probe ceiling
  // (share of exact neighbors inside probed lists) reads 0.98, so
  // nprobe is not the limiter — the 16-entry codebook is. q246 seeds
  // its codebook with arbitrary corpus residuals (lowest vec_ids, not
  // k-means over residuals), and 16 untrained codewords cover the
  // near-isotropic residual cloud worse than they cover the raw
  // vectors' global structure. The tuning lever this points at is a
  // TRAINED residual codebook (the q59 k-means machinery) and/or a
  // larger code budget — exactly the decision a recall instrument
  // exists to price.
  def residualRecall(spark: SparkSession, dir: String): DataFrame =
    recallAgainstExact(spark, dir,
      ivfPqResidualSearch(spark, dir).select("query_id", "vec_id"))

  // q257 — the residual chain's OWN recall row (q254 measures the raw
  // codebook; this measures what q246 claims to fix): the shared
  // residual-ADC ranked CTE against the same exact-L2 ground truth.
  query("q257_residual_recall", residualRecall, recallSql(residualAdcCtes(0)))

  /** Exact L2 top-k per query — the ANN ground truth. */
  private[graft] def exactL2TopK(spark: SparkSession, dir: String): DataFrame =
    exactL2TopKFrom(embV(spark, dir))

  /** Recall@AnnK of `preds` (query_id, vec_id) against the exact top-k —
    * factored so the spec can run the instrument on the ground truth
    * itself (which must read exactly 1.0).
    */
  private[graft] def recallAgainstExact(spark: SparkSession, dir: String,
                                        preds: DataFrame): DataFrame =
    recallOf(exactL2TopK(spark, dir), preds)

  /** Residual frame (vec_id, label, r = v − mean_label). */
  private[graft] def residualFrame(corpus: DataFrame, means: DataFrame): DataFrame =
    corpus.join(broadcast(means), "label")
      .select(col("vec_id"), col("label"),
        zip_with(col("v"), col("centroid"), (x, c) => x - c).as("r"))

  /** The `n` lowest-id rows' coded vectors `r` — the whole-vector
    * codebook seeds (bounded collect).
    */
  private[graft] def seedRows(res: DataFrame, n: Int): Array[Seq[Double]] =
    res.orderBy("vec_id").limit(n).select("r").collect().map(_.getSeq[Double](0))

  /** The seed per-subspace codebook [subspace][code]: the whole-vector
    * seeds sliced — q223's and q246's untrained geometry, and Lloyd's
    * round-0 state for q259. `nSub` defaults to the 4-subspace geometry;
    * the q270 clustered-fixture arc passes its own.
    */
  private[graft] def seedSubCodebook(cb: Array[Seq[Double]], subDim: Int,
                                     nSub: Int = PqSub)
      : IndexedSeq[IndexedSeq[Seq[Double]]] =
    (0 until nSub).map(s => cb.indices.map(c =>
      cb(c).slice(s * subDim, (s + 1) * subDim)).toIndexedSeq).toIndexedSeq

  private[graft] def subCodebookDf(spark: SparkSession,
      cbSub: IndexedSeq[IndexedSeq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    (for (s <- cbSub.indices; c <- cbSub(s).indices)
      yield (s, c, cbSub(s)(c))).toDF("subspace", "code", "cent")
  }

  /** (vec_id, label, subspace, sv): each residual split into its `nSub`
    * subvectors — the training AND encoding domain.
    */
  private[graft] def subspaceFrame(res: DataFrame, subDim: Int,
                                   nSub: Int = PqSub): DataFrame =
    res.select(col("vec_id"), col("label"),
        explode(array((0 until nSub).map(s =>
          struct(lit(s).as("subspace"),
            slice(col("r"), s * subDim + 1, subDim).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("label"),
        col("e.subspace").as("subspace"), col("e.sv").as("sv"))

  /** Argmin code per (vec, subspace) against a (subspace, code, cent)
    * codebook table — fixed-order L2 distance, ties to the LOWEST code
    * (≡ the oracle's row_number ORDER BY d2, code).
    *
    * The search runs inside ONE codegen'd kernel per subvector
    * (plans/VectorExprs.argminL2 over the subspace's code-major flat
    * codebook) instead of a (subvector × code) join + min-struct agg:
    * the join form materialized |subvectors| × codes rows — 33M
    * interpreted-lambda evaluations per training pass at the q271
    * sf0.1 geometry (measured: minutes per pass) — where the kernel
    * touches each subvector once with a tight primitive loop. The
    * kernel folds each distance left-assoc from 0.0 and breaks ties to
    * the lowest code, so every gated result is bit-unchanged.
    */
  private[graft] def assignSubCodes(sub: DataFrame, cdf: DataFrame): DataFrame = {
    val flat = cdf.groupBy("subspace")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("code"), col("cent")))),
        x => x.getField("cent"))).as("cb"))
    sub.join(broadcast(flat), "subspace")
      .withColumn("m", graft.plans.VectorExprs.argminL2(col("sv"), col("cb")))
      .select(col("vec_id"), col("label"), col("subspace"),
        col("m.code").as("code"), col("m.dist2").as("dist2"))
  }

  /** Lloyd training of the per-subspace residual codebooks (the q257
    * verdict's lever): each round assigns every residual subvector to
    * its nearest code, then re-centers each code on its members' MEAN
    * — computed on the floor-onto-2^20-grid (the q246/meanCentroids
    * exactness recipe: integer sums are exact, the one division lands
    * on the same nearest double in every engine, floor is tie-free),
    * so the DuckDB oracle replays training bit-for-bit. Codes that
    * attract no members keep their previous centroid (the standard
    * empty-cluster rule, and the one that keeps the round count a pure
    * function of the data). Driver state: PqSub × PqCodes × subDim
    * doubles per round — bounded whatever the corpus size; each round
    * is one broadcast-join pass over the subvector frame, the same
    * shape Ivf.trainKMeans runs for the coarse quantizer.
    */
  private[graft] def trainSubCodebook(sub: DataFrame,
      cbSub0: IndexedSeq[IndexedSeq[Seq[Double]]], iters: Int)
      : IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val spark = sub.sparkSession
    val S = operators.Ivf.MeanQuantScale
    var cbSub = cbSub0
    for (_ <- 1 to iters) {
      val refined = assignSubCodes(sub, subCodebookDf(spark, cbSub))
        .select("vec_id", "subspace", "code")
        .join(sub.select("vec_id", "subspace", "sv"), Seq("vec_id", "subspace"))
        .select(col("subspace"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("subspace", "code", "pos")
        .agg(sum(floor(col("x") * S).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy("subspace", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
            (col("s").cast("double") / (col("n") * S).cast("double"))
              .as("m")))),
          x => x.getField("m")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
        .toMap
    cbSub = cbSub.indices.map(s => cbSub(s).indices.map(c =>
        refined.getOrElse((s, c), cbSub(s)(c))).toIndexedSeq).toIndexedSeq
    }
    cbSub
  }

  // --- q270/q271/q272: the clustered-corpus ANN operating point (VERDICT r16 item 1) ----
  // The q254→q260 arc ended with an honest open question: every recall
  // number was read on the driver's ISOTROPIC embeddings, where coarse
  // means sit near zero and residual ≈ raw by construction — IVF-PQ's
  // deployment regime (naturally clustered corpora) was never
  // measured. This closes it: a deterministic PLANTED-MIXTURE corpus —
  // cluster g = vec_id mod CfxClusters; v[i] = center(g,i) + noise(v,i)
  // with centers on the exact {0,4,…,60} grid (LCG-hashed, spread ≫
  // noise) and noise on the exact k/128 grid, k ∈ [−64,64] — built
  // from the SAME integer-hash arithmetic in both engines, so the
  // fixture itself is bit-identical and ScaleGen-compatible (ids come
  // from the embeddings table; everything else is a pure function of
  // vec_id). On it, the REALISTIC geometry the verdict asked to price:
  // 8 subspaces × 256 codes, 2 Lloyd rounds, nprobe 2 ≪ 16 lists, with
  // the encode the ONLY difference between the two gated recall rows —
  // q271 codes the residual to the list mean, q272 codes the raw
  // vector, equal code budget, equal training. Measured (sf0.01):
  // q271 trained-residual recall@5 = 1.00, q272 trained-raw = 0.62 —
  // the residual transform pays exactly where the theory says it
  // should, and the q260 isotropic read (residual ≈ raw) stands as the
  // complementary regime. Scale shape: codebooks/LUTs are bounded
  // driver state (lists×dim + sub×codes×subDim + queries×nprobe
  // tables), the corpus-side work is one broadcast-join encode scan
  // per Lloyd round and a codes-only ADC scan. q271/q272 run the same
  // probedAdcSearch core as q246/q259; only the geometry, nprobe,
  // encode and the memoized codebook differ.
  val CfxClusters = 64
  val CfxSub = 8
  val CfxCodes = 256
  val CfxNProbe = 2
  val CfxTrainIters = 2

  // corpus expansion: each embeddings id spawns CfxExpand synthetic ids
  // (sid = vec_id·CfxExpand + j) — ~60 members per cluster at sf0.01,
  // so top-5 ranking inside a probed list requires real ADC precision
  // (at ~8 members per cluster the pool is so small both encodes read
  // ≥0.96 and the comparison is vacuous — measured before expanding)
  val CfxExpand = 8

  /** Deterministic planted-mixture corpus (vec_id, label, v); vec_id
    * here is the SYNTHETIC id (a pure function of which everything
    * else is derived).
    */
  private[graft] def clusteredEmbeddings(spark: SparkSession,
                                         dir: String): DataFrame = {
    import graft.functions.{Lsh, Sketches}
    Tables.embeddings(spark, dir).select("vec_id")
      .select(explode(sequence(col("vec_id") * CfxExpand,
        col("vec_id") * CfxExpand + (CfxExpand - 1))).as("vec_id"))
      .withColumn("label",
        pmod(col("vec_id"), lit(CfxClusters.toLong)).cast("int"))
      .withColumn("v", expr(
        s"""transform(sequence(1, ${Lsh.Dim}), i ->
              cast(pmod(${Lsh.A(0)}L * (vec_id % ${CfxClusters} + 1)
                        + ${Lsh.B(0)}L * i, ${Sketches.P}L) % 16 as double)
                * 4.0D
              + (cast(pmod(${Lsh.A(1)}L * (vec_id + 1)
                           + ${Lsh.B(1)}L * i, ${Sketches.P}L) % 129
                      as double) - 64.0D) / 128.0D)"""))
  }

  /** The 8×256 trained-ADC read path over the planted corpus: the
    * probed-ADC core at CfxSub × CfxCodes, nprobe CfxNProbe.
    * `encodeRaw = false` codes the residual to the list mean (true
    * IVF-PQ); `encodeRaw = true` codes the raw vector against the same
    * code budget and training — list PROBING uses the real means in
    * both modes, so the encode is the only experimental variable. The
    * codebook is trained ONCE per (session, dir, encode): a quantizer's
    * codebook is index BUILD state, not per-search work — a production
    * IVF-PQ trains at ingest and serves many queries. The memo is
    * bounded driver state (8 × 256 × 8 doubles); Bench's untimed first
    * run pays the training, the same footing the dedup decision-table
    * family gets from its pairsMemo.
    */
  private[graft] def cfxAdcSearch(spark: SparkSession, dir: String,
                                  encodeRaw: Boolean): DataFrame =
    probedAdcSearch(clusteredEmbeddings(spark, dir), CfxSub, CfxNProbe,
      encodeRaw, (res, sub) => Queries.cfxCodebookMemo(spark, (dir, encodeRaw)) {
        trainSubCodebook(sub, seedSubCodebook(seedRows(res, CfxCodes),
          graft.functions.Lsh.Dim / CfxSub, CfxSub), CfxTrainIters)
      })

  /** Exact L2 top-k ground truth over any (vec_id, v) frame. */
  private[graft] def exactL2TopKFrom(emb: DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") < AnnQueryMaxId)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
    emb.filter(col("vec_id") >= AnnQueryMaxId)
      .crossJoin(broadcast(q))
      .withColumn("d2",
        graft.plans.VectorExprs.l2dist2(col("qv"), col("v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnK)
      .select("query_id", "vec_id")
  }

  private[graft] def recallOf(truth: DataFrame, preds: DataFrame): DataFrame =
    truth
      .join(preds.withColumn("__hit", lit(1)),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(coalesce(sum(col("__hit")), lit(0)).cast("long").as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / lit(AnnK))
      .orderBy("query_id")

  /** q270: the fixture's own quality report — is it actually clustered?
    * Per list: size, truncation-quantized mean within-cluster d² to the
    * list mean, and the min inter-mean d² — the clustered-regime claim
    * (separation ≫ spread) as numbers the oracle re-derives.
    */
  def cfxFixtureReport(spark: SparkSession, dir: String): DataFrame = {
    val emb = clusteredEmbeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") >= AnnQueryMaxId)
    val means = Ivf.meanCentroids(corpus, "v", "label")
    val S = operators.Ivf.MeanQuantScale
    val within = corpus.join(broadcast(means), "label")
      .withColumn("d2",
        graft.plans.VectorExprs.l2dist2(col("v"), col("centroid")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("d2") * S).cast("long")).as("qsum"))
      .withColumn("avg_within_d2",
        col("qsum").cast("double") / (col("n_vecs") * S).cast("double"))
      .drop("qsum")
    val m2 = means.select(col("label").as("label2"),
      col("centroid").as("centroid2"))
    val inter = means.crossJoin(broadcast(m2))
      .filter(col("label") =!= col("label2"))
      .withColumn("d2",
        graft.plans.VectorExprs.l2dist2(col("centroid"), col("centroid2")))
      .groupBy("label").agg(min(col("d2")).as("min_inter_d2"))
    within.join(inter, "label")
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("avg_within_d2"), col("min_inter_d2"))
      .orderBy("label")
  }

  // q270 — the planted-mixture fixture's own clustered-regime
  // evidence: per-list size, quantized mean within-d², min inter-mean
  // d² (separation ≫ spread is what makes q271/q272 meaningful)
  query("q270_cfx_fixture", cfxFixtureReport, {
      import graft.functions.Lsh.Dim
      s"""WITH $cfxEmbCtes,
          $corpMeanCtes,
          wd AS (SELECT label, ${l2Sql("v", "cent", Dim)} AS d2
                 FROM corp JOIN mean USING (label)),
          w AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                       ${gridMeanSql("d2")} AS avg_within_d2
                FROM wd GROUP BY 1),
          inter AS (SELECT a.label,
                           MIN(${l2Sql("a.cent", "b.cent", Dim)}) AS min_inter_d2
                    FROM mean a JOIN mean b ON a.label <> b.label
                    GROUP BY 1)
          SELECT CAST(w.label AS BIGINT) AS label, n_vecs,
                 avg_within_d2, min_inter_d2
          FROM w JOIN inter ON w.label = inter.label"""
    })

  def cfxTrainedRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(exactL2TopKFrom(clusteredEmbeddings(spark, dir)),
      cfxAdcSearch(spark, dir, encodeRaw = false)
        .select("query_id", "vec_id"))

  // q271/q272 — the operating-point pair: identical fixture, budget,
  // training and probing; the encode (residual vs raw) is the only
  // difference, so the recall gap IS the residual transform's value
  // on clustered data
  query("q271_cfx_trained_recall", cfxTrainedRecall,
    recallSql(cfxAdcCtes(encodeRaw = false)))

  def cfxRawRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(exactL2TopKFrom(clusteredEmbeddings(spark, dir)),
      cfxAdcSearch(spark, dir, encodeRaw = true)
        .select("query_id", "vec_id"))

  query("q272_cfx_raw_recall", cfxRawRecall, recallSql(cfxAdcCtes(encodeRaw = true)))

  // --- oracle SQL fragments the specs above share --------------------------

  /** q223's PQ assignment oracle — shared by the batch gate and the
    * q234 stream-static twin (same rows, stream emission ≡ batch).
    */
  private lazy val pqCodesSql: String =
    s"""WITH $pqCtes
        SELECT vec_id, subspace, code, dist2 FROM codes"""

  /** The shared PQ CTE chain (emb → seeds → cents → sub → scored →
    * codes), used by q223/q234 (assignment) and the q237/q239/q254 ADC
    * searches.
    */
  private lazy val pqCtes: String = {
      val subDim = graft.functions.Lsh.Dim / PqSub
      val (nSub, nCodes) = (PqSub, PqCodes)
      // list_slice for the computed subspace bounds; dist² fold from the
      // first element ≡ Spark's aggregate from 0.0
      s"""emb AS (SELECT vec_id,
                              list_transform(embedding,
                                x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
          seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT)
                             - 1 AS code, v
                    FROM (SELECT vec_id, v FROM emb
                          WHERE vec_id >= ${AnnQueryMaxId}
                          ORDER BY vec_id LIMIT $nCodes)),
          sp AS (SELECT CAST(unnest(generate_series(0, ${nSub - 1})) AS INT)
                   AS subspace),
          cents AS (SELECT sp.subspace, seeds.code,
                           list_slice(v, sp.subspace * $subDim + 1,
                                      (sp.subspace + 1) * $subDim) AS cent
                    FROM seeds, sp),
          sub AS (SELECT vec_id, sp.subspace,
                         list_slice(v, sp.subspace * $subDim + 1,
                                    (sp.subspace + 1) * $subDim) AS sv
                  FROM emb, sp),
          scored AS (SELECT vec_id, sub.subspace, code,
                            list_reduce(list_transform(
                              generate_series(1, $subDim),
                              i -> (sv[i] - cent[i]) * (sv[i] - cent[i])),
                              (a, b) -> a + b) AS dist2
                     FROM sub JOIN cents ON sub.subspace = cents.subspace),
          codes AS (SELECT vec_id, subspace, code, dist2 FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                        ORDER BY dist2, code) AS rn
            FROM scored)
          WHERE rn = 1)"""
  }

  /** The embeddings with their norms, `e` (vec_id, label, embedding, nrm). */
  private lazy val embNrmCte: String =
    s"e AS (SELECT vec_id, label, embedding, $nrmSql AS nrm FROM embeddings)"

  /** `e` split into the query side `q` (query_id, qe, qn) and the corpus
    * side `c` (neighbor_id, label, ce, cn) of the cosine searches.
    */
  private lazy val cosSidesCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn
              FROM e WHERE vec_id < ${AnnQueryMaxId}),
        c AS (SELECT vec_id AS neighbor_id, label, embedding AS ce, nrm AS cn
              FROM e WHERE vec_id >= ${AnnQueryMaxId})"""

  /** Per-query top-AnnK by exact cosine over the candidate rows of `cand`
    * (query_id, qe, qn, neighbor_id, ce, cn), ties to the lower
    * neighbor_id — ≡ NearDup.cosTopK.
    */
  private def cosTopKSql(cand: String): String =
    s"""SELECT query_id, neighbor_id, cos, rank FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          FROM (SELECT query_id, neighbor_id, ${dotSql("qe", "ce")} / (qn * cn) AS cos
                FROM $cand))
        WHERE rank <= ${AnnK}"""

  /** The IVF probe over `e`: exact-decimal sum centroids `cent` of the
    * corpus lists and the IvfNProbe lists per query by centroid cosine,
    * ties to the lower label, as `pr` (query_id, qe, qn, label) —
    * ≡ Ivf.probeLists.
    */
  private lazy val ivfProbeCtes: String = {
    import graft.functions.Lsh.Dim
    s"""$cosSidesCtes,
        cent AS (
          SELECT label, array_agg(CAST(s AS DOUBLE) ORDER BY i) AS centroid
          FROM (SELECT label, i,
                       SUM(CAST(CAST(ce[i] AS DOUBLE) AS DECIMAL(20,10))) AS s
                FROM c, (SELECT unnest(generate_series(1, $Dim)) AS i) g
                GROUP BY 1, 2)
          GROUP BY label),
        pr AS (
          SELECT query_id, qe, qn, label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY ccos DESC, label) AS lr
            FROM (SELECT query_id, qe, qn, label,
                         ${dotSql("qe", "centroid")}
                           / (qn * sqrt(${dotSql("centroid", "centroid")})) AS ccos
                  FROM q, cent))
          WHERE lr <= ${IvfNProbe})"""
  }

  /** q33/q59: the IVF probe and exact cosine top-k over the lists that the
    * CTEs `eCtes` assign in `e` — ≡ Ivf.annIvfTopK.
    */
  private def ivfSearchSql(eCtes: String): String =
    s"""WITH $eCtes,
        $ivfProbeCtes
        ${cosTopKSql("pr JOIN c USING (label)")}"""

  /** Squared L2 of the `n`-vectors `a` and `b`, folded in index order
    * — ≡ l2Fold and VectorExprs.l2dist2.
    */
  private def l2Sql(a: String, b: String, n: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $n),
          i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"""

  /** Subspace `sp.subspace`'s slice of list `x`. */
  private def sliceSql(x: String, subDim: Int): String =
    s"list_slice($x, sp.subspace * $subDim + 1, (sp.subspace + 1) * $subDim)"

  /** The mean of `x` over a group on the 2^20 grid (floored integer sum,
    * one division) — the exact mean every engine rounds alike.
    */
  private def gridMeanSql(x: String): String = {
    val S = operators.Ivf.MeanQuantScale
    s"CAST(SUM(CAST(floor($x * $S) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) * $S AS DOUBLE)"
  }

  /** Per-`keys` grid means `cent` of the `n`-vectors `v` over `src` —
    * ≡ Ivf.meanCentroids and trainSubCodebook's re-centering.
    */
  private def gridMeansSql(keys: String, src: String, v: String, n: Int): String =
    s"""SELECT $keys, array_agg(m ORDER BY i) AS cent FROM (
          SELECT $keys, i, ${gridMeanSql(s"$v[i]")} AS m
          FROM $src, (SELECT unnest(generate_series(1, $n)) AS i) g
          GROUP BY $keys, i)
        GROUP BY $keys"""

  /** The fixture's corpus `corp` and its list means `mean` (label, cent). */
  private lazy val corpMeanCtes: String =
    s"""corp AS (SELECT vec_id, label, v FROM emb WHERE vec_id >= ${AnnQueryMaxId}),
        mean AS (${gridMeansSql("label", "corp", "v", graft.functions.Lsh.Dim)})"""

  /** The fixture's queries `qq` (query_id, v). */
  private lazy val qqCte: String =
    s"qq AS (SELECT vec_id AS query_id, v FROM emb WHERE vec_id < ${AnnQueryMaxId})"

  /** Per-(`keys`) ADC tables `lut` (keys, subspace, code, d2) of the
    * query vectors `qv` in `src` against the codebook `cents` — ≡ lutTabs.
    */
  private def lutCtes(src: String, keys: String, qv: String, subDim: Int): String =
    s"""qsub AS (SELECT $keys, sp.subspace, ${sliceSql(qv, subDim)} AS qsv
                 FROM $src, sp),
        lut AS (SELECT $keys, qsub.subspace, code, ${l2Sql("qsv", "cent", subDim)} AS d2
                FROM qsub JOIN cents ON qsub.subspace = cents.subspace)"""

  /** The per-query LUTs over the q223 seed codebook — ≡ pqLutDf. */
  private lazy val pqLutCtes: String =
    s"""$qqCte,
        ${lutCtes("qq", "query_id", "v", graft.functions.Lsh.Dim / PqSub)}"""

  /** The ADC sum of the `nSub` lookups `j` (query_id, vec_id, subspace,
    * d2) pivoted per subspace, so the addition order is fixed, and ranked
    * per query on (adc_dist2, vec_id) as `adck` — ≡ adcScored + adcTopK.
    */
  private def adcRankCtes(nSub: Int): String = {
    val adcSum = (0 until nSub).map(i =>
      s"MIN(CASE WHEN subspace = $i THEN d2 END)").mkString(" + ")
    s"""sq AS (SELECT query_id, vec_id, $adcSum AS adc_dist2
               FROM j GROUP BY 1, 2),
        adck AS (SELECT query_id, vec_id, adc_dist2,
                        CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_dist2, vec_id) AS BIGINT) AS rank
                 FROM sq)"""
  }

  /** The top-AnnK rows of the ranked `adck` that `ctes` end in. */
  private def adcTopKSql(ctes: String): String =
    s"""WITH $ctes
        SELECT query_id, rank, vec_id, adc_dist2 FROM adck
        WHERE rank <= ${AnnK}"""

  /** The q237 ADC chain up to `adck`: the q223 codes of the whole corpus
    * scored through the per-query LUTs.
    */
  private lazy val pqAdcRankedCtes: String =
    s"""$pqCtes,
        $pqLutCtes,
        j AS (SELECT query_id, vec_id, codes.subspace, d2
              FROM codes JOIN lut ON codes.subspace = lut.subspace
                                 AND codes.code = lut.code
              WHERE vec_id >= ${AnnQueryMaxId}),
        ${adcRankCtes(PqSub)}"""

  /** The probed IVF-PQ chain over the fixture CTEs `fixture` (ending in
    * `emb` (vec_id, label, v)) up to `adck` — ≡ probedAdcSearch: list
    * means, residual or raw encode, `nCodes` lowest-id seeds sliced into
    * `nSub` subspaces and `iters` Lloyd rounds (≡ trainSubCodebook:
    * argmin ties to the lower code, grid means, a memberless code keeps
    * its centroid), the codes, the `nprobe` nearest means per query (ties
    * to the lower label), per-(query, list) LUTs and the ADC ranking.
    */
  private def probedAdcCtes(fixture: String, nSub: Int, nCodes: Int, nprobe: Int,
                            iters: Int, encodeRaw: Boolean): String = {
    import graft.functions.Lsh.Dim
    val subDim = Dim / nSub
    def coded(v: String) =
      if (encodeRaw) v else s"list_transform(generate_series(1, $Dim), i -> $v[i] - cent[i])"
    def assign(cb: String) =
      s"""SELECT vec_id, label, subspace, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                         ORDER BY d2, code) AS rn
            FROM (SELECT vec_id, label, sub.subspace, code,
                         ${l2Sql("sv", "cent", subDim)} AS d2
                  FROM sub JOIN $cb cb ON sub.subspace = cb.subspace))
          WHERE rn = 1"""
    val rounds = (1 to iters).map { r =>
      s""",
        asg$r AS (${assign(s"cents${r - 1}")}),
        cn$r AS (${gridMeansSql("subspace, code",
                   s"asg$r JOIN sub USING (vec_id, subspace)", "sv", subDim)}),
        cents$r AS (SELECT p.subspace, p.code, COALESCE(n.cent, p.cent) AS cent
                    FROM cents${r - 1} p LEFT JOIN cn$r n
                      ON p.subspace = n.subspace AND p.code = n.code)"""
    }.mkString
    s"""$fixture,
        $corpMeanCtes,
        res AS (SELECT vec_id, label, ${coded("v")} AS r
                FROM corp JOIN mean USING (label)),
        seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code, r
                  FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT $nCodes)),
        sp AS (SELECT CAST(unnest(generate_series(0, ${nSub - 1})) AS INT) AS subspace),
        cents0 AS (SELECT sp.subspace, code, ${sliceSql("r", subDim)} AS cent
                   FROM seeds, sp),
        sub AS (SELECT vec_id, label, sp.subspace, ${sliceSql("r", subDim)} AS sv
                FROM res, sp)$rounds,
        cents AS (SELECT subspace, code, cent FROM cents$iters),
        codes AS (${assign("cents")}),
        $qqCte,
        pr AS (SELECT query_id, label, qr FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                                              ORDER BY d2, label) AS lr
                 FROM (SELECT query_id, label, ${coded("v")} AS qr,
                              ${l2Sql("v", "cent", Dim)} AS d2
                       FROM qq, mean))
               WHERE lr <= $nprobe),
        ${lutCtes("pr", "query_id, label", "qr", subDim)},
        j AS (SELECT lut.query_id, codes.vec_id, codes.subspace, d2
              FROM codes JOIN lut ON lut.label = codes.label
                                 AND lut.subspace = codes.subspace
                                 AND lut.code = codes.code),
        ${adcRankCtes(nSub)}"""
  }

  /** The residual IVF-PQ chain with `iters` Lloyd rounds — ≡
    * residualAdcSearch (q246/q257 untrained, q259/q260 trained).
    */
  private def residualAdcCtes(iters: Int): String =
    probedAdcCtes(
      """emb AS (SELECT vec_id, label,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings)""",
      PqSub, PqCodes, IvfNProbe, iters, encodeRaw = false)

  /** The planted-mixture corpus as SQL, `emb` (vec_id, label, v) — the
    * same integer-hash grid arithmetic as clusteredEmbeddings, so the
    * fixture is bit-identical across engines by construction (exact
    * {0,4,…,60} centers + exact k/128 noise; every term a small-integer
    * ratio).
    */
  private lazy val cfxEmbCtes: String = {
    import graft.functions.{Lsh, Sketches}
    s"""cids AS (SELECT vec_id * ${CfxExpand} + j AS vec_id
                 FROM embeddings,
                      (SELECT unnest(generate_series(0,
                         ${CfxExpand - 1})) AS j) e),
        emb AS (SELECT vec_id,
                  CAST(vec_id % ${CfxClusters} AS INT) AS label,
                  list_transform(generate_series(1, ${Lsh.Dim}), i ->
                    CAST((${Lsh.A(0)} * (vec_id % ${CfxClusters} + 1)
                          + ${Lsh.B(0)} * i) % ${Sketches.P} % 16 AS DOUBLE)
                      * 4.0
                    + (CAST((${Lsh.A(1)} * (vec_id + 1)
                             + ${Lsh.B(1)} * i) % ${Sketches.P} % 129
                        AS DOUBLE) - 64.0) / 128.0) AS v
                FROM cids)"""
  }

  /** The 8×256 trained chain over the planted corpus — ≡ cfxAdcSearch;
    * `encodeRaw` is the only difference between the q271 and q272 oracles.
    */
  private def cfxAdcCtes(encodeRaw: Boolean): String =
    probedAdcCtes(cfxEmbCtes, CfxSub, CfxCodes, CfxNProbe, CfxTrainIters, encodeRaw)

  /** recall@AnnK of the ranked `adck` that `adcCtes` end in against the
    * exact-L2 top-k of their queries `qq` over the corpus of `emb` —
    * ≡ recallOf(exactL2TopKFrom(emb), preds).
    */
  private def recallSql(adcCtes: String): String = {
    import graft.functions.Lsh.Dim
    s"""WITH $adcCtes,
        ext AS (SELECT query_id, vec_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY d2, vec_id) AS rk
                  FROM (SELECT query_id, c.vec_id, ${l2Sql("qq.v", "c.v", Dim)} AS d2
                        FROM qq, emb c WHERE c.vec_id >= ${AnnQueryMaxId}))
                WHERE rk <= ${AnnK})
        SELECT e.query_id, COUNT(a.vec_id) AS n_hits,
               CAST(COUNT(a.vec_id) AS DOUBLE) / ${AnnK} AS recall
        FROM ext e LEFT JOIN adck a
          ON e.query_id = a.query_id AND e.vec_id = a.vec_id AND a.rank <= ${AnnK}
        GROUP BY 1"""
  }

  /** BM25 scored-docs SQL shared by q69/q79 — ≡ TextQueries.bm25Scores (same
    * literal term order, same rational idf, same fixed fold order).
    */
  private[graft] lazy val bm25ScoredSql: String = {
    val terms = TextQueries.BmTerms
    val dfSel = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN list_contains(ws, '$t') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(",\n                  ")
    val scoreTerms = terms.zipWithIndex.map { case (t, i) =>
      s"""(CAST(n_docs AS DOUBLE) - df_$i + 0.5) / (df_$i + 0.5)
          * (CAST(len(list_filter(ws, w -> w = '$t')) AS DOUBLE) * ${TextQueries.BmK1 + 1})
          / (CAST(len(list_filter(ws, w -> w = '$t')) AS DOUBLE)
             + ${TextQueries.BmK1} * (${1 - TextQueries.BmB} + ${TextQueries.BmB}
                 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"""
    }.mkString("\n          + ")
    s"""WITH d AS (SELECT doc_id, $ws AS ws, len($ws) AS dl FROM documents),
        s AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
                $dfSel
              FROM d)
        SELECT doc_id, score FROM (
          SELECT doc_id,
                 $scoreTerms
                 AS score
          FROM d, s)
        WHERE score > 0"""
  }
}
