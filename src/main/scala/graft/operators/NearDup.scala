package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LeanCheckpoint
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.{Lsh, Similarity, TextAnalysis}
import graft.plans.CosineBlocks

/** Near-duplicate detection over documents and embeddings.
  *
  * The LLM-training-data extension of the reference's key-dedup surface
  * (reference: local_spotify_dab/src/silver/Silver_Dimensions.py
  * `dropDuplicates` — exact keys only): here "same document" is fuzzy, so
  * candidates are generated by content overlap instead of key equality.
  *
  * Scale design: the Jaccard path never forms the n² pair matrix — it
  * explodes distinct shingles and self-joins on the shingle value, so the
  * shuffle and join cost is O(sum of per-shingle posting-list²), which for
  * natural corpora is near-linear. Ultra-frequent shingles (stopword runs)
  * are dropped by a `maxPostings` document-frequency cap BEFORE the
  * self-join: a single shingle shared by 1M documents would otherwise emit
  * 10^12 join rows on one key. The cap is computed with a map-side-combined
  * groupBy (hot keys are cheap to COUNT, only quadratic to JOIN), and the
  * Jaccard domain is then "shingles with df <= cap" on both engines — an
  * explicit, deterministic semantic rather than a silent truncation. The
  * embedding path's brute force IS quadratic and exists as the correctness
  * baseline for the LSH operators, which are the 100 TB path; it is one
  * primitive all-pairs kernel (`graft.plans.CosineBlocks`) over vectors
  * packed once, not a pair join, so no row exists for a pair below the
  * threshold.
  */
object NearDup {

  /** Default document-frequency cap: a shingle present in more than this
    * many documents carries no near-dup signal (it is corpus boilerplate)
    * but contributes df² join rows; capping bounds per-key fan-out.
    */
  val DefaultMaxPostings = 1000

  /** Candidate pairs with exact n-gram Jaccard >= `threshold` over the
    * df-capped shingle domain (see object doc).
    * Output: (doc_a, doc_b, common, jaccard), doc_a < doc_b.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxPostings: Int = DefaultMaxPostings): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, n, maxPostings)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= lit(threshold))
      .select("doc_a", "doc_b", "common", "jaccard")

  /** Asymmetric CONTAINMENT pairs — the truncation/expansion duplicates
    * symmetric Jaccard structurally misses: a 200-gram excerpt fully
    * inside a 2000-gram page has Jaccard 0.1 (below any dedup threshold,
    * and MinHash bands recall BY Jaccard so LSH won't surface it either)
    * but containment |A∩B|/|A| = 1.0. Same df-capped posting-list join
    * as `ngramJaccardPairs` — the shared-shingle count is what both
    * scores need; only the normalization differs — kept when EITHER
    * direction's containment clears `threshold`. Same scale posture:
    * never an n² pair matrix, per-shingle fan-out bounded by the df cap.
    * Output: (doc_a, doc_b, common, cont_a_in_b, cont_b_in_a, jaccard),
    * doc_a < doc_b.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double,
                            maxPostings: Int = DefaultMaxPostings): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, n, maxPostings)
      .withColumn("cont_a_in_b", col("common").cast("double") / col("na"))
      .withColumn("cont_b_in_a", col("common").cast("double") / col("nb"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= lit(threshold))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select("doc_a", "doc_b", "common", "cont_a_in_b", "cont_b_in_a", "jaccard")

  /** (doc_a, doc_b, na, nb, common) for every doc pair sharing a shingle
    * of the df-capped domain (see object doc): na/nb are the capped set
    * sizes, common the shared-shingle count — what both the Jaccard and
    * the containment scores need. doc_a < doc_b.
    */
  private def sharedShingleCounts(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int, maxPostings: Int): DataFrame = {
    val ex0 = shingleSets(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("sh")).as("s"))
    // df cap: aggregate (partial map-side combine absorbs hot keys), then
    // a semi-join keeps only informative shingles. Set sizes are counted
    // AFTER the cap so both join sides and the score denominators see the
    // same shingle domain.
    val ok = ex0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPostings)
      .select("s")
    val ex = ex0.join(ok, Seq("s"), "left_semi")
      .withColumn("n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(idCol)))
    // Aliased self-join with BOTH sides the identical subtree: the per-side
    // doc_a/doc_b projections happen AFTER the join, so the two join-input
    // shuffles are physically equal and Spark reuses one exchange — the
    // corpus is scanned for the shingle kernel half as often. (Explicit
    // aliases also avoid the fragile self-join attribute heuristic and its
    // trivially-true-predicate warning.)
    val l = ex.alias("l")
    val r = ex.alias("r")
    l.join(r, col("l.s") === col("r.s") && col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"),
        col("l.n").as("na"), col("r.n").as("nb"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("common"))
  }

  /** EXACT Jaccard pairs via PPJoin-style PREFIX FILTERING (Chaudhuri et
    * al.'s SSJoin / Xiao et al.'s PPJoin prefix principle) — the
    * lossless scale path where `ngramJaccardPairs`' df cap is lossy and
    * LSH (q22) is probabilistic: under any GLOBAL total token order, two
    * sets with J ≥ θ MUST share a token within their first
    * |x| − ⌈θ·|x|⌉ + 1 tokens (pigeonhole: J ≥ θ forces overlap
    * ≥ ⌈θ·|x|⌉, and the suffix holds only ⌈θ·|x|⌉ − 1 tokens), so
    * joining PREFIXES alone finds every qualifying pair. Ordering by
    * ASCENDING document frequency puts the rarest tokens in the prefix —
    * the prefix join's per-token fan-out is df², and the prefix
    * concentrates exactly the tokens where df is smallest, which is why
    * this bounds the candidate explosion that makes the full posting
    * join quadratic on boilerplate shingles. A length filter
    * (θ·max ≤ min as integer cross-multiplication — no float boundary)
    * prunes further; survivors are VERIFIED with exact Jaccard on the
    * candidate set only.
    *
    * The threshold enters the prefix length as the RATIONAL thrNum/
    * thrDen (⌈θ|x|⌉ computed in exact integers), so the recall guarantee
    * can't fall to a float-rounding boundary. Output ≡ the UNBOUNDED
    * exact-Jaccard join: (doc_a, doc_b, common, jaccard), doc_a < doc_b.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int, thrNum: Long, thrDen: Long): DataFrame = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold must be a rational in (0,1]: $thrNum/$thrDen")
    val sh = shingleSets(docs, idCol, textCol, n)
    val ex0 = sh.select(col(idCol), explode(col("sh")).as("s"))
    val dfs = ex0.groupBy("s").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val tok = ex0.join(dfs, "s")
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("pos", row_number().over(wDoc.orderBy(col("df"), col("s"))))
    // prefix length |x| − ⌈θ|x|⌉ + 1 in exact integers:
    // ⌈a/b⌉ = (a + b − 1) div b for positive a, b
    val ceilThetaN =
      expr(s"(($thrNum * n + $thrDen - 1) div $thrDen)")
    val prefix = tok.filter(col("pos") <= col("n") - ceilThetaN + 1)
      .select(col(idCol), col("s"), col("n"))
    val l = prefix.alias("l")
    val r = prefix.alias("r")
    val cands = l.join(r,
        col("l.s") === col("r.s") && col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"),
        col("l.n").as("na"), col("r.n").as("nb"))
      .distinct()
      // J ≥ θ ⇒ |a∩b| ≤ min ∧ |a∪b| ≥ max ⇒ θ·max ≤ min (integer form)
      .filter(lit(thrNum) * greatest(col("na"), col("nb")) <=
        lit(thrDen) * least(col("na"), col("nb")))
      .select("doc_a", "doc_b")
    cands
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= lit(thrNum.toDouble / thrDen.toDouble))
      .select(col("doc_a"), col("doc_b"),
        col("common").cast("long").as("common"), col("jaccard"))
  }

  /** Near-dup pairs the way a 100 TB run builds them: candidates from
    * MinHash-LSH banding (O(candidates), never all-pairs), each candidate
    * then VERIFIED with exact Jaccard computed from the two shingle sets —
    * so the output carries true similarities, not signature estimates,
    * while the exact computation only ever touches the candidate set.
    * Output: (doc_a, doc_b, common, jaccard), doc_a < doc_b.
    */
  def lshVerifiedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double,
                              geom: Lsh.MinHashGeometry = Lsh.Mh16): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, n)
    val cand = minHashLshPairs(docs, idCol, textCol, n, geom).select("doc_a", "doc_b")
    cand
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= lit(threshold))
      .select("doc_a", "doc_b", "common", "jaccard")
  }

  /** The corpus dedup DECISION table, computed ONCE: every report a
    * training-data pipeline runs over its near-dup structure (cluster
    * membership q34, keep/drop choice q65, per-source health q80) is a
    * cheap consumer of this one frame — recomputing the LSH→verify→
    * connected-components pipeline per report would triple the dominant
    * cost. At 100 TB the table is Snapshots-committed by the pipeline run
    * and reports read the commit; in-session consumers share it via
    * `Queries.dedupDecisionTable`'s persist.
    *
    * Output, one row per doc: (idCol, carryCols…, quality_score,
    * cluster_id [min-id component label], cluster_size, canonical_doc
    * [argmax quality, min-id tiebreak], keep [id == canonical_doc]).
    * The argmax is a struct-max aggregation — no window, no per-cluster
    * sort, so beyond the component rounds the only shuffles are two
    * hash-aggs on cluster_id.
    */
  def componentTable(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, threshold: Double, quality: Column,
                     carryCols: Seq[String] = Nil,
                     geom: Lsh.MinHashGeometry = Lsh.Mh16,
                     precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val pairs = precomputedPairs
      .getOrElse(lshVerifiedJaccardPairs(docs, idCol, textCol, n, threshold, geom))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = Components.connectedComponents(
        docs.select(col(idCol).as("id")), pairs)
      .select(col("id").as(idCol), col("label").as("cluster_id"))
    val scored = docs.select(
      col(idCol) +: quality.as("quality_score") +: carryCols.map(col): _*)
    val joined = comp.join(scored, idCol)
    val reps = joined.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("quality_score"), (-col(idCol)).as("neg_id"))).as("m"))
      .select(col("cluster_id"), col("cluster_size"),
        (-col("m.neg_id")).as("canonical_doc"))
    joined.join(reps, "cluster_id")
      .select(col(idCol) +: (carryCols.map(col) ++ Seq(
        col("quality_score"), col("cluster_id"), col("cluster_size"),
        col("canonical_doc"), (col(idCol) === col("canonical_doc")).as("keep"))): _*)
  }

  /** Distinct n-gram shingle sets per document (empty-set docs dropped —
    * they can participate in no near-dup pair).
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    docs.select(
        col(idCol),
        graft.plans.SignatureExprs.distinctNGrams(
          TextAnalysis.words(col(textCol)), n).as("sh"))
      .filter(size(col("sh")) > 0)

  /** MinHash + LSH banding: signatures once per doc (one scan), band keys
    * exploded (Bands rows/doc), candidates from an equi-join on
    * (band, key) — the O(candidates) scale path for Jaccard near-dup.
    * Output: (doc_a, doc_b, est_jaccard) for every banded candidate pair,
    * est = signature agreement fraction.
    */
  /** MinHash signatures per document: (idCol, sig Array[Long]). The
    * K-long signature (~128 bytes) is the document's entire footprint in
    * a dedup INDEX — a billion-document index is ~128 GB distributed,
    * joinable without ever touching text again.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, geom: Lsh.MinHashGeometry = Lsh.Mh16): DataFrame =
    // Whole-signature codegen kernel: one pass over the shingles per row.
    // (HOF composition would re-evaluate the fingerprint fold K times per
    // row after CollapseProject inlining — see graft.plans.SignatureExprs.)
    shingleSets(docs, idCol, textCol, n)
      .select(col(idCol),
        graft.plans.SignatureExprs.minHashSig(col("sh"), geom.a, geom.b, Lsh.P).as("sig"))

  /** LSH band rows (idCol, sig, band, key) from a signature frame. The
    * signature rides along with its band rows (K longs per band row), so
    * candidate pairs emerge from the bucket join already carrying both
    * signatures — no post-join signature lookups.
    */
  def bandRows(sigs: DataFrame, idCol: String,
               geom: Lsh.MinHashGeometry = Lsh.Mh16): DataFrame =
    sigs
      .select(col(idCol), col("sig"), explode(Lsh.bandKeys(col("sig"), geom)).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** LSH candidate matches of `querySigs` against `indexSigs` (both from
    * `minHashSignatures`): (idCol, index_id, est_jaccard) for every band
    * collision — the cross-frame form the streaming dedup index uses.
    */
  def lshMatches(querySigs: DataFrame, indexSigs: DataFrame, idCol: String,
                 geom: Lsh.MinHashGeometry = Lsh.Mh16): DataFrame = {
    val q = bandRows(querySigs, idCol, geom)
      .select(col(idCol), col("sig").as("sig_q"), col("band"), col("key"))
    val i = bandRows(indexSigs, idCol, geom)
      .select(col(idCol).as("index_id"), col("sig").as("sig_i"), col("band"), col("key"))
    q.join(i, Seq("band", "key"))
      .dropDuplicates(idCol, "index_id")
      .select(col(idCol), col("index_id"),
        Lsh.signatureAgreement(col("sig_q"), col("sig_i"), geom.k).as("est_jaccard"))
  }

  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, geom: Lsh.MinHashGeometry = Lsh.Mh16): DataFrame = {
    val bands = bandRows(minHashSignatures(docs, idCol, textCol, n, geom), idCol, geom)
    // Self-join with both sides the IDENTICAL subtree (projections after
    // the join): the two bucket-shuffles are physically equal, so one
    // exchange is reused and the signature kernel runs once, not twice.
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Lsh.signatureAgreement(col("sig_a"), col("sig_b"), geom.k).as("est_jaccard"))
  }

  /** SimHash near-dup: one fingerprint per doc, band blocking
    * (pigeonhole-complete for hamming < geom.bands), exact hamming filter
    * on the candidates. Output: (doc_a, doc_b, hamming).
    *
    * The band geometry is the corpus-size lever: in-bucket collisions on
    * unrelated docs run ~2^-width per band, so candidate volume is
    * ~n²·bands/2^width — a growing corpus keeps the join subquadratic by
    * moving to a wider fingerprint (Lsh.Sim64 and beyond), not by scanning
    * more pairs.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, maxHamming: Int,
                   geom: Lsh.SimGeometry = Lsh.Sim32): DataFrame = {
    require(maxHamming < geom.bands,
      s"pigeonhole: maxHamming ($maxHamming) must be < bands (${geom.bands}) " +
        "or blocking misses qualifying pairs")
    // Whole-fingerprint codegen kernel: one pass over the shingles per row
    // (fold + mix + per-bit majority in a single loop nest).
    val sims = shingleSets(docs, idCol, textCol, n)
      .select(col(idCol),
        graft.plans.SignatureExprs.simHashWords(col("sh"),
          geom.gas, geom.gbs, Lsh.TwoPow32).as("sim"))
    // The fingerprint (words-wide) rides with its band rows — candidates
    // come out of the bucket join carrying both fingerprints directly.
    val bands = sims
      .select(col(idCol), col("sim"),
        explode(Lsh.simWordBands(col("sim"), geom)).as("bk"))
      .select(col(idCol), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
    // identical-subtree self-join (see minHashLshPairs): one reused
    // exchange, fingerprint kernel evaluated once
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        Lsh.hammingWords(col("sim_a"), col("sim_b"), geom.words).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Random-hyperplane LSH ANN: plane sign bits once per vector (the
    * planes are regenerated from an LCG on each executor — nothing
    * broadcast), band-code equi-join for candidates, exact cosine + top-k
    * only on the candidate set. The scale path replacing annBruteForce.
    */
  def annLshTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryMaxId: Long, k: Int): DataFrame = {
    val e = withNorm(emb, idCol, vecCol)
    // Vectors and norms ride with the band rows (queries are broadcast, so
    // the duplication is bounded by BandsRp on the corpus side) — the
    // bucket join yields candidates with both vectors in hand, and
    // dedup-before-cosine ensures each surviving pair pays VecDot once.
    def banded(rows: DataFrame, keys: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      rows.select(col(idCol), col(vecCol), col("nrm"),
          explode(keys(Lsh.planeBits(col(vecCol)))).as("bk"))
        .select(col(idCol), col(vecCol), col("nrm"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    // Queries multiprobe (base code + single-bit flips); the corpus keeps
    // one row per band — recall comes from extra probe rows on the tiny
    // query side, never from widening the corpus index.
    val qb = banded(e.filter(col(idCol) < queryMaxId), Lsh.planeBandProbeKeys)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"), col("nrm").as("qn"),
        col("band"), col("key"))
    val cb = banded(e.filter(col(idCol) >= queryMaxId), bits => Lsh.planeBandKeys(bits))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("ce"), col("nrm").as("cn"),
        col("band"), col("key"))
    cosTopK(cb.join(broadcast(qb), Seq("band", "key"))
      .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** Per-query top-k by exact cosine over (query_id, qe, qn, neighbor_id,
    * ce, cn) candidate rows, ties to the lower neighbor_id — the one
    * ranking tail of the brute-force, LSH and IVF searches.
    * Output: (query_id, neighbor_id, cos, rank).
    */
  private[operators] def cosTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("cos",
        Similarity.cosineFrom(Similarity.dot(col("qe"), col("ce")), col("qn"), col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Embedding rows with the norm precomputed once per row. */
  def withNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol), Similarity.l2Norm(col(vecCol)).as("nrm"))

  /** Embedding near-dup pairs the way a 100 TB run builds them:
    * candidates from a random-hyperplane band self-join (identical
    * subtrees — one reused exchange), exact cosine computed only on
    * candidates. Recall is threshold-dependent by construction: at the
    * cosines that mean near-duplicate (>= 0.9) a 4x4-bit banding catches
    * >= 95% of pairs; at low thresholds over isotropic data it degrades
    * toward the band collision rate — use `embeddingCosinePairs` when a
    * low-threshold exhaustive sweep is genuinely required.
    * Output: (vec_a, vec_b, cos), vec_a < vec_b.
    */
  def embeddingLshPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, planes: Int = Lsh.Planes,
                        bands: Int = Lsh.BandsRp, rows: Int = Lsh.RowsRp): DataFrame = {
    // Candidate generation and dedup run on ids ONLY: band rows carry
    // (id, band, key), the pair dedup shuffles 16-byte id pairs instead of
    // rows with two ride-along vectors, and the surviving pairs join back
    // to one vector table for the exact cosine. Measured against the
    // ride-along alternative (vectors riding the band rows through the
    // dedup) at 100k synthetic 64-dim vectors with 4x16-bit banding:
    // 9.3s vs 32.9s — banding-width x vector-width dedup bytes dominate
    // the two extra narrow join-back shuffles at any realistic width.
    val e = withNorm(emb, idCol, vecCol)
    val bandRows = emb.select(col(idCol),
        explode(Lsh.planeBandKeys(Lsh.planeBits(col(vecCol), planes), bands, rows)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = bandRows.alias("a")
    val b = bandRows.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("vec_a"), col(s"b.$idCol").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    pairs
      .join(e.select(col(idCol).as("vec_a"), col(vecCol).as("ea"), col("nrm").as("na")),
        Seq("vec_a"))
      .join(e.select(col(idCol).as("vec_b"), col(vecCol).as("eb"), col("nrm").as("nb")),
        Seq("vec_b"))
      .withColumn("cos",
        Similarity.cosineFrom(Similarity.dot(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= lit(threshold))
      .select("vec_a", "vec_b", "cos")
  }

  /** Brute-force cosine near-dup pairs >= `threshold`: the exhaustive
    * baseline the LSH and cluster-pruned paths are checked against,
    * quadratic by nature. It is one primitive kernel evaluated once per
    * call (`graft.plans.CosineBlocks`): one job collects the (id, vector)
    * rows, the driver packs them with their norms into a row-major double
    * matrix (n·dim doubles — the n² pair scan, not the matrix, bounds
    * this path), the
    * matrix is broadcast, and tasks spread over the session's cores scan
    * its block pairs; only pairs that pass the threshold become rows. The
    * rows are materialized in the same call (`LeanCheckpoint.ofRows`), so
    * a caller's sort samples them instead of re-running the kernel, and
    * the broadcast is destroyed before returning. Null ids and null
    * vectors pair with nothing; a repeated id keeps its multiplicity.
    * Output: (vec_a, vec_b, cos), vec_a < vec_b.
    */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    val sc = spark.sparkContext
    val sel = emb.select(col(idCol), col(vecCol))
    val Array(idField, vecField) = sel.schema.fields
    val idType = idField.dataType
    val vecType = vecField.dataType
    require(idType == LongType || idType == IntegerType,
      s"cosine pair ids must be int or long, got $idType")
    val packed = CosineBlocks.pack(
      GraftColumnBridge.internalRows(sel).map(_.copy()).collect().iterator, idType, vecType)
    val blockPairs = CosineBlocks.blockPairs(packed.blocks)
    val bc = sc.broadcast(packed)
    val rows = sc.parallelize(blockPairs,
        math.max(1, math.min(sc.defaultParallelism, blockPairs.size)))
      .mapPartitions(_.flatMap { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        CosineBlocks.scan(bc.value, a, b, threshold) { (x, y, cos) =>
          out += new GenericInternalRow(Array[Any](
            CosineBlocks.idValue(x, idType), CosineBlocks.idValue(y, idType), cos))
        }
        out
      })
      .setName(CosineBlocks.RddName)
    val schema = StructType(Seq(StructField("vec_a", idType, idField.nullable),
      StructField("vec_b", idType, idField.nullable), StructField("cos", DoubleType)))
    try LeanCheckpoint.ofRows(spark, rows, schema) finally bc.destroy()
  }

  /** SemDeDup-style cluster-pruned embedding near-dup: every vector is
    * assigned to its nearest centroid (broadcast centroid table,
    * struct-max argmax — `Ivf.assignListsByJoin`), and exact cosine runs
    * ONLY within each cluster. Cost is O(Σ nₖ²) over cluster sizes
    * instead of O(n²) — with k clusters of balanced size that is a k×
    * reduction, and the centroid count is the scale knob (SemDeDup runs
    * 50k clusters at web scale). By construction pairs straddling a
    * cluster boundary are not compared — the published semantics of the
    * method (near-duplicates land in the same semantic cluster at any
    * useful k), complementary to `embeddingLshPairs` whose recall knob
    * is banding rather than clustering. The cluster self-join is a
    * hash-partitioned equi-join on the list id; per-list skew surfaces
    * visibly as cluster imbalance (fix: more centroids), never as a
    * hidden cartesian.
    * Output: (list, vec_a, vec_b, cos), vec_a < vec_b.
    */
  def clusterCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                         cents: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val assigned = Ivf.assignListsByJoin(e, idCol, "__v", cents, "list")
      .withColumn("nrm", Similarity.l2Norm(col("__v")))
    val a = assigned.select(col("list"), col(idCol).as("vec_a"),
      col("__v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list"), col(idCol).as("vec_b"),
      col("__v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("list"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        Similarity.cosineFrom(Similarity.dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= lit(threshold))
      .select("list", "vec_a", "vec_b", "cos")
  }

  /** Brute-force top-k cosine neighbors of each query vector over the
    * corpus. The query set is broadcast (it is small by construction);
    * the corpus streams through — one scan, no shuffle of the corpus side.
    */
  def annBruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    cosTopK(c.crossJoin(broadcast(q)), k)
  }
}
