package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.TextAnalysis
import org.apache.spark.sql.graft.LeanCheckpoint.Ops
import OracleSql._

/** Text analysis and tokenization queries: README "Query-surface index",
  * section "Text analysis & tokenization". Each query is declared once, by
  * the `query(...)` call after its implementation, with its DuckDB oracle
  * SQL beside it.
  */
object TextQueries extends QueryFamily {

  // --- q27: heuristic language ID vs the labeled lang column -----------------
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    Tables.documents(spark, dir)
      .select(col("lang"), TextAnalysis.langPredict(ws).as("pred_lang"))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  query("q27_text_langid", textLangid, {
      val scores = graft.functions.TextAnalysis.LangProfiles
        .map { case (l, prof) => s"${stopCount(prof)} AS s_$l" }.mkString(",\n                  ")
      s"""WITH s AS (SELECT lang,
                  $scores
           FROM documents)
         SELECT lang, $langCase AS pred_lang, COUNT(*) AS n_docs
         FROM s GROUP BY 1, 2"""
    })

  // --- q28: document quality scoring (length/stopword/word-len ratios) -------
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val enStops = TextAnalysis.LangProfiles.head._2
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(ws).as("n_words"),
      (TextAnalysis.totalWordLen(ws).cast("double") / size(ws)).as("avg_word_len"),
      (TextAnalysis.stopwordCount(ws, enStops).cast("double") / size(ws)).as("stop_ratio"),
      (length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") /
        length(col("text"))).as("punct_ratio"))
      .withColumn("quality_score",
        lit(0.5) * col("stop_ratio") +
          lit(0.5) * least(lit(1.0), col("n_words").cast("double") / lit(200.0)))
      .orderBy("doc_id")
  }

  query("q28_text_quality", textQuality, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""SELECT doc_id,
                 CAST(len($ws) AS INT) AS n_words,
                 CAST(list_reduce(list_transform($ws, w -> CAST(length(w) AS BIGINT)),
                      (a,b) -> a+b) AS DOUBLE) / len($ws) AS avg_word_len,
                 CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE)
                   / len($ws) AS stop_ratio,
                 CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
                 0.5 * (CAST(len(list_filter($ws, w -> w IN $enStops)) AS DOUBLE) / len($ws))
                   + 0.5 * least(1.0, CAST(len($ws) AS DOUBLE) / 200.0) AS quality_score
          FROM documents"""
    })

  // --- q29: token counting — whitespace, regex lexer, subword estimate -------
  val TokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(ws).as("n_ws_tokens"),
      regexp_count(col("text"), lit(TokenPattern)).as("n_re_tokens"),
      aggregate(
        transform(ws, w => floor((length(w) + lit(3)) / lit(4.0))),
        lit(0L), (acc, x) => acc + x).as("n_subwords"))
      .orderBy("doc_id")
  }

  query("q29_text_tokens", textTokens,
      s"""SELECT doc_id,
                 CAST(len($ws) AS INT) AS n_ws_tokens,
                 CAST(len(regexp_extract_all(text, '${TokenPattern}')) AS INT)
                   AS n_re_tokens,
                 list_reduce(list_transform($ws,
                      w -> CAST(floor((length(w)+3)/4.0) AS BIGINT)),
                      (a,b) -> a+b) AS n_subwords
          FROM documents""")

  // --- q30: rolling polynomial-hash document fingerprint ----------------------
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  query("q30_text_fingerprint", textFingerprint,
      """SELECT doc_id,
                list_reduce(list_transform(string_split_regex(text, ''),
                     c -> CAST(ascii(c) AS BIGINT)),
                     (a,b) -> (a*31+b) % 1000000007) AS fp
         FROM documents""")

  // --- q46: corpus token-length histogram --------------------------------------
  val TokenBucketWidth = 20

  def tokenHistogram(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.words(col("text")))
    Tables.documents(spark, dir)
      .select(floor(nTok / lit(TokenBucketWidth.toDouble)).cast("long").as("bucket"),
        nTok.cast("long").as("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"))
      .orderBy("bucket")
  }

  query("q46_token_histogram", tokenHistogram,
      s"""SELECT CAST(floor(len($ws) / ${TokenBucketWidth}.0) AS BIGINT) AS bucket,
                 COUNT(*) AS n_docs,
                 CAST(SUM(CAST(len($ws) AS BIGINT)) AS BIGINT) AS total_tokens
          FROM documents GROUP BY 1""")

  // --- q44: text normalization — stopword removal + re-join -------------------
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val stops = TextAnalysis.LangProfiles.head._2
    val ws = TextAnalysis.words(col("text"))
    val kept = filter(ws, w => !w.isin(stops.map(lit): _*))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      array_join(kept, " ").as("clean_text"),
      (size(ws) - size(kept)).as("n_removed"))
      .orderBy("doc_id")
  }

  query("q44_text_normalize", textNormalize, {
      val stops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""SELECT doc_id,
                 array_to_string(list_filter($ws, w -> w NOT IN $stops), ' ')
                   AS clean_text,
                 CAST(len($ws) - len(list_filter($ws, w -> w NOT IN $stops)) AS INT)
                   AS n_removed
          FROM documents"""
    })

  // --- q41: top TF-IDF terms per document --------------------------------------
  // Log-free IDF (N/df) so scores are pure IEEE arithmetic on exact
  // integers — bit-identical across engines; ranking is unchanged
  // (x -> N/x and x -> log(N/x) are both monotone).
  val TfIdfTopK = 3

  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = docs.select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
    val tf = w.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df derived FROM tf (one row per doc×term already), not from a second
    // explode of the corpus — halves the scan+shuffle volume
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * (col("n").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TfIdfTopK)
      .select("doc_id", "term", "tf", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  query("q41_tfidf_terms", tfidfTerms,
      s"""WITH w AS (SELECT doc_id, unnest($ws) AS term FROM documents),
          tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
          df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
          nn AS (SELECT COUNT(*) AS n FROM documents)
          SELECT doc_id, term, tf, score, rank FROM (
            SELECT doc_id, term, tf,
                   CAST(tf AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS score,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY
                     CAST(tf AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
                     term) AS INT) AS rank
            FROM tf JOIN df USING (term), nn)
          WHERE rank <= ${TfIdfTopK}""")

  // --- q69: BM25 top-k retrieval over the corpus -------------------------------
  // Broadcast-stats retrieval: ONE row of corpus statistics (N, Σdl, per-term
  // df — all integer-exact) broadcast against one corpus scan computing the
  // BM25 sum in a fixed literal term order, then a global top-k
  // (TakeOrderedAndProject — never a full sort at scale). The idf uses the
  // rational form (N - df + 0.5)/(df + 0.5) WITHOUT the textbook ln().
  // This is a DELIBERATE scoring deviation, not an equivalence: ln is
  // monotone per term, but the score SUMS terms, and a sum of idf·w is not
  // order-equivalent to a sum of ln(idf)·w — multi-term rankings can
  // differ from textbook BM25 (rare idfs weigh relatively heavier here).
  // The rational form is chosen because neither the JVM's Math.log nor
  // another engine's libm guarantees correctly-rounded results; keeping
  // every arithmetic step IEEE-deterministic makes the score bit-comparable
  // across engines, and the oracle computes the identical rational form.
  val BmK1 = 1.2
  val BmB = 0.75
  val BmTerms: Seq[String] = Seq("vector", "stream", "window", "filter")
  val BmTopK = 20

  /** (doc_id, score) for every doc with a positive BM25 score — the shared
    * retrieval core of q69 (text top-k) and q79 (hybrid rerank).
    */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("ws"))
      .withColumn("dl", size(col("ws")))
    val dfCols = BmTerms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("ws"), t), 1L).otherwise(0L)).as(s"df_$i")
    }
    val stats = d.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl").cast("long")).as("sum_dl") +: dfCols): _*)
    val nD = col("n_docs").cast("double")
    val avgdl = col("sum_dl").cast("double") / nD
    val score = BmTerms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("ws"), w => w === lit(t))).cast("double")
      val idf = (nD - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5))
      idf * (tf * lit(BmK1 + 1)) /
        (tf + lit(BmK1) * (lit(1 - BmB) + lit(BmB) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    d.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"))
      .filter(col("score") > 0)
  }

  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(BmTopK)

  query("q69_bm25_search", bm25Search,
      s"""${AnnQueries.bm25ScoredSql}
          ORDER BY score DESC, doc_id LIMIT ${BmTopK}""")

  // --- q82: per-document shared-span rate (memorization risk) -----------------
  // For each document: what fraction of its distinct n-gram spans also
  // appears in at least one OTHER document. The per-doc number a dedup
  // pipeline uses to flag partially-duplicated text that whole-document
  // near-dup misses (boilerplate headers, quoted passages, templated
  // spans). No pair join anywhere: span df is one hash-agg over the
  // exploded grams, the shared-span set (df >= 2) joins back by LEFT SEMI
  // — cost is O(total grams), never O(doc pairs), and the heavy join key
  // is the gram itself (uniformly distributed, no skew salt needed).
  def spanDupRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val withSh = docs.select(col("doc_id"),
      graft.plans.SignatureExprs.distinctNGrams(
        TextAnalysis.words(col("text")), DedupQueries.JaccardN).as("sh"))
      .filter(size(col("sh")) > 0)
    val ex = withSh.select(col("doc_id"), explode(col("sh")).as("s"))
    val shared = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("s")
    val cnt = ex.join(shared, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    withSh.select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
      .join(cnt, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("shared_ratio", col("n_shared").cast("double") / col("n_grams"))
      .orderBy("doc_id")
  }

  query("q82_span_dup_rate", spanDupRate,
      s"""WITH d AS (SELECT doc_id,
                  list_distinct(list_transform(
                    generate_series(1, len($ws) - ${DedupQueries.JaccardN - 1}),
                    i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2])) AS sh
           FROM documents),
          ex AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE len(sh) > 0),
          shared AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) >= 2),
          cnt AS (SELECT doc_id, COUNT(*) AS n_shared
                  FROM ex JOIN shared USING (s) GROUP BY doc_id)
          SELECT d.doc_id, len(d.sh) AS n_grams,
                 COALESCE(cnt.n_shared, 0) AS n_shared,
                 CAST(COALESCE(cnt.n_shared, 0) AS DOUBLE) / len(d.sh)
                   AS shared_ratio
          FROM d LEFT JOIN cnt USING (doc_id)
          WHERE len(d.sh) > 0""")

  /** Duplicated-bigram count: total bigrams (size-1) minus DISTINCT
    * bigrams via the codegen DistinctNGrams kernel — the duplicate COUNT
    * never needs the non-distinct bigram array itself. (Building that
    * array with a `transform` HOF re-inlines the upstream `split` into
    * every lambda element after CollapseProject — measured 6.7s for 5k
    * docs; the kernel form is one pass, ~0.2s.)
    */
  private def dupBigrams(ws: Column): Column =
    size(ws) - 1 - size(graft.plans.SignatureExprs.distinctNGrams(ws, 2))

  // --- q47: repetition signals (duplicated-bigram fraction per doc) -----------
  // The Gopher-style repetition filter input: heavily self-repeating docs
  // are low-quality training data. Zero shuffles — pure projection.
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    Tables.documents(spark, dir)
      .filter(size(ws) >= 2)
      .select(col("doc_id"),
        (size(ws) - 1).as("n_bigrams"),
        dupBigrams(ws).as("n_dup_bigrams"))
      .withColumn("rep_ratio",
        col("n_dup_bigrams").cast("double") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  query("q47_text_repetition", textRepetition,
      s"""SELECT doc_id,
                 CAST(len(ws) - 1 AS INT) AS n_bigrams,
                 CAST(len(ws) - 1 - len(list_distinct(bg)) AS INT) AS n_dup_bigrams,
                 CAST(len(ws) - 1 - len(list_distinct(bg)) AS DOUBLE) / (len(ws) - 1)
                   AS rep_ratio
          FROM (SELECT doc_id, ws,
                       list_transform(generate_series(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i+1]) AS bg
                FROM (SELECT doc_id, $ws AS ws FROM documents))
          WHERE len(ws) >= 2""")

  // --- q48: composite quality gate (the C4/Gopher filter pass) ----------------
  val QfMinWords = 30
  val QfMaxWords = 90
  val QfMaxRep = 0.06
  val QfMinStop = 0.01

  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val enStops = TextAnalysis.LangProfiles.head._2
    Tables.documents(spark, dir)
      .filter(size(ws) >= 2)
      .select(col("doc_id"), size(ws).as("n_words"),
        (dupBigrams(ws).cast("double") / (size(ws) - 1)).as("rep_ratio"),
        (TextAnalysis.stopwordCount(ws, enStops).cast("double") / size(ws)).as("stop_ratio"))
      .filter(col("n_words").between(QfMinWords, QfMaxWords) &&
        col("rep_ratio") <= QfMaxRep && col("stop_ratio") >= QfMinStop)
      .orderBy("doc_id")
  }

  query("q48_quality_filter", qualityFilter, {
      val enStops = inList(graft.functions.TextAnalysis.LangProfiles.head._2)
      s"""SELECT doc_id, n_words, rep_ratio, stop_ratio FROM (
            SELECT doc_id,
                   CAST(len(ws) AS INT) AS n_words,
                   CAST(len(ws) - 1 - len(list_distinct(bg)) AS DOUBLE) / (len(ws) - 1)
                     AS rep_ratio,
                   CAST(len(list_filter(ws, w -> w IN $enStops)) AS DOUBLE) / len(ws)
                     AS stop_ratio
            FROM (SELECT doc_id, ws,
                         list_transform(generate_series(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1]) AS bg
                  FROM (SELECT doc_id, $ws AS ws FROM documents))
            WHERE len(ws) >= 2)
          WHERE n_words BETWEEN ${QfMinWords} AND ${QfMaxWords}
            AND rep_ratio <= ${QfMaxRep}
            AND stop_ratio >= ${QfMinStop}"""
    })

  // --- q53: corpus-wide top n-grams by document frequency ---------------------
  // Boilerplate discovery: the n-grams the near-dup df cap would drop.
  // Distinct-per-doc n-grams (codegen kernel) so the count IS document
  // frequency; map-side partial agg absorbs hot n-grams.
  val TopNgramsK = 20

  def topNgrams(spark: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    Tables.documents(spark, dir)
      .select(explode(graft.plans.SignatureExprs.distinctNGrams(ws, 2)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(TopNgramsK)
  }

  query("q53_top_ngrams", topNgrams,
      s"""SELECT ngram, COUNT(*) AS df
          FROM (SELECT unnest(list_distinct(list_transform(
                         generate_series(1, len($ws) - 1),
                         i -> ($ws)[i] || ' ' || ($ws)[i+1]))) AS ngram
                FROM documents)
          GROUP BY ngram
          ORDER BY df DESC, ngram
          LIMIT ${TopNgramsK}""")

  // --- q54: Unicode normalization layer (NFC + case fold + \p{L} tokens) ------
  // The corpus is lowercase ASCII, so multilingual reality is injected as
  // deterministic per-doc prefixes: mixed case, precomposed AND decomposed
  // accents (Café = e + combining acute), Cyrillic, CJK, digits,
  // punctuation. The normalize → tokenize pipeline is what q27/q29/q44/
  // q46-class operators consume on real crawl text; the ASCII body rides
  // the kernel's byte fast path. Only simple one-to-one case mappings are
  // in the fixture (final sigma / dotted-I are full-vs-simple folding
  // differences between engines — documented out of the contract).
  val UnicodeSnippets: Seq[String] = Seq(
    "Grüße aus MÜNCHEN im Frühjahr",
    "École élémentaire: ça va très bien, Café ouvert",
    "MAÑANA el niño COMERÁ paella",
    "Привет МИР сказал Он",
    "数据 管道 处理 文本 123 OK")

  def textUnicode(spark: SparkSession, dir: String): DataFrame = {
    val snippet = UnicodeSnippets.zipWithIndex.tail.foldLeft(
      when(pmod(col("doc_id"), lit(5)) === 0, lit(UnicodeSnippets.head))) {
      case (acc, (s, i)) => acc.when(pmod(col("doc_id"), lit(5)) === i, lit(s))
    }
    // tokens staged in their own projection: referenced twice below, and
    // CollapseProject keeps a non-cheap expression with two references —
    // the regex runs once per row, not per consumer
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.normalized(concat(snippet, lit(" "), col("text"))).as("norm_text"))
      .withColumn("toks", TextAnalysis.unicodeWords(col("norm_text")))
      .select(col("doc_id"), col("norm_text"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"))
      .orderBy("doc_id")
  }

  query("q54_text_unicode", textUnicode, {
      val cases = UnicodeSnippets.zipWithIndex
        .map { case (s, i) => s"WHEN $i THEN '$s'" }.mkString(" ")
      s"""WITH u AS (SELECT doc_id,
                  (CASE doc_id % 5 $cases END) || ' ' || text AS utext
           FROM documents),
          n AS (SELECT doc_id, nfc_normalize(lower(utext)) AS norm_text FROM u)
          SELECT doc_id, norm_text,
                 CAST(len(regexp_extract_all(norm_text, '[\\pL\\pN]+')) AS INT)
                   AS n_tokens,
                 CAST(len(list_distinct(regexp_extract_all(norm_text, '[\\pL\\pN]+'))) AS INT)
                   AS n_distinct
          FROM n"""
    })

  // --- q55: PII detection + redaction (crawl-pipeline scrubbing pass) ---------
  // The corpus carries no contact data, so PII is injected as deterministic
  // per-doc suffixes; the regexes live in the POSIX-ish Java/RE2
  // intersection so the DuckDB oracle applies the identical patterns.
  // Reference analog: the silver layer's regex email validation UDF
  // (reference: local_spotify_dab/utilities/utils.py `is_valid_email`) —
  // generalized from validate-a-column to scrub-free-text.
  // Case classes spelled out ([a-zA-Z]) rather than (?i): both engines
  // accept the explicit classes, whereas inline flags differ by dialect.
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  // Optional +1 country code, optional (area) / area- prefix, then the
  // 3-4 local number: covers 555-0192, (555) 123-4567, +1-844-555-2210.
  val PhoneRe = "(\\+1[-. ]?)?(\\([0-9]{3}\\) ?|[0-9]{3}[-. ])?[0-9]{3}[-. ][0-9]{4}"
  val PiiSnippets: Seq[String] = Seq(
    " contact me at John.Doe@Example.COM or admin@site.org today",
    " call (555) 123-4567 or 555-0192 now, fax +1-844-555-2210 later",
    "")

  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val snippet = when(pmod(col("doc_id"), lit(3)) === 0, lit(PiiSnippets(0)))
      .when(pmod(col("doc_id"), lit(3)) === 1, lit(PiiSnippets(1)))
      .otherwise(lit(PiiSnippets(2)))
    Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"), snippet).as("utext"))
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("utext"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("clean_text"),
        regexp_count(col("utext"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("utext"), lit(PhoneRe)).as("n_phones"))
      .orderBy("doc_id")
  }

  query("q55_pii_redact", piiRedact, {
      // DuckDB regular string literals keep backslashes, so the Java-side
      // pattern interpolates verbatim
      val em = EmailRe
      s"""WITH u AS (SELECT doc_id,
                  text || (CASE doc_id % 3 WHEN 0 THEN '${PiiSnippets(0)}'
                                           WHEN 1 THEN '${PiiSnippets(1)}'
                                           ELSE '' END) AS utext
           FROM documents)
          SELECT doc_id,
                 regexp_replace(regexp_replace(utext, '$em', '<EMAIL>', 'g'),
                                '${PhoneRe}', '<PHONE>', 'g') AS clean_text,
                 CAST(len(regexp_extract_all(utext, '$em')) AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(utext, '${PhoneRe}')) AS INT)
                   AS n_phones
          FROM u"""
    })

  // --- q108: per-source token Gini concentration -----------------------------------
  // Corpus-health inequality metric: is a source's token mass concentrated
  // in a few giant documents? Rank docs within source by (tokens, doc_id)
  // — a per-source window, parallel across sources; for a single enormous
  // group the rank decomposes over PrefixSum value-buckets exactly as
  // q72's global rank — then Gini from exact integer sums
  // (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx), one double division at the end.
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    // Null text coalesces to 0 tokens (the doc still counts toward
    // n_docs), and a source whose token mass is zero gets a null gini
    // instead of a 0/0 NaN — both guards mirrored in the oracle.
    val t = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        coalesce(size(TextAnalysis.words(col("text"))).cast("long"), lit(0L))
          .as("tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("tok"), col("doc_id"))
    val r = t.withColumn("__i", row_number().over(w).cast("long"))
    r.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        sum(col("__i") * col("tok")).as("__si"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        when(col("total_tokens") > 0L,
          (lit(2L) * col("__si") - (col("n_docs") + lit(1L)) * col("total_tokens"))
            .cast("double") /
            (col("n_docs") * col("total_tokens")).cast("double")).as("gini"))
      .orderBy("source")
  }

  query("q108_token_gini", tokenGini,
      s"""WITH t AS (
            SELECT source, doc_id,
                   COALESCE(CAST(len($ws) AS BIGINT), 0) AS tok
            FROM documents),
          r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY tok, doc_id) AS BIGINT) AS i
                FROM t),
          g AS (SELECT source, COUNT(*) AS n_docs,
                       CAST(SUM(tok) AS BIGINT) AS total_tokens,
                       CAST(SUM(i * tok) AS BIGINT) AS si
                FROM r GROUP BY 1)
          SELECT source, n_docs, total_tokens,
                 CASE WHEN total_tokens > 0 THEN
                   CAST(2*si - (n_docs + 1)*total_tokens AS DOUBLE)
                     / CAST(n_docs * total_tokens AS DOUBLE)
                 END AS gini
          FROM g""")

  // --- q126: tokenizer-faithful BPE token counts -----------------------------------
  // q29's subword count is an estimate; shard packing (q52) and
  // token-budget selection (q83) budget on it, and estimate drift
  // compounds at corpus scale. This runs the REAL greedy byte-pair-merge
  // procedure (Sennrich et al. 2016 — the algorithm behind GPT-2/LLaMA
  // vocab files) per word in a codegen'd kernel (plans/BpeExprs.scala)
  // against a fixed plan-embedded merge table, so the budget is exact for
  // that vocabulary. The oracle twin executes the same merges via a
  // recursive CTE whose per-pass rewrite is a delimiter-string replace —
  // '|p1||p2|' → '|p1p2|' reproduces leftmost non-overlapping merge-all
  // exactly. Scale shape: pure map-side per-row work, one scan, no
  // shuffle before the per-doc projection; the Zipf word distribution
  // makes the kernel's word memo absorb almost every call.
  val BpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("s", "t"),
    ("o", "r"), ("or", "d"), ("f", "a"), ("fa", "st"), ("r", "o"), ("ro", "w"),
    ("q", "u"), ("qu", "e"), ("que", "r"), ("quer", "y"), ("s", "c"),
    ("sc", "an"), ("j", "o"), ("jo", "in"), ("t", "a"), ("ta", "b"),
    ("l", "e"), ("tab", "le"), ("g", "r"), ("gr", "o"), ("u", "p"),
    ("gro", "up"), ("h", "a"), ("s", "h"), ("ha", "sh"), ("d", "a"),
    ("da", "ta"), ("k", "e"), ("ke", "y"), ("m", "e"), ("v", "a"),
    ("va", "l"), ("u", "e"), ("val", "ue"))

  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        graft.plans.BpeExprs.bpeTokenCount(split(col("text"), " "), BpeMerges)
          .as("bpe_tokens"))
      .orderBy("doc_id")

  // The recursive-CTE BPE twin: one merge pass is a delimiter-string
  // replace ('|p1||p2|' → '|p1p2|'), which IS leftmost non-overlapping
  // merge-all; iteration stops when no ranked pair remains; final token
  // count = half the '|' count. Semantics cross-checked against an
  // independent reference implementation of the greedy merge loop.
  query("q126_bpe_tokens", bpeTokenCounts, {
      val ms = BpeMerges
      val rankCase = "CASE " + ms.zipWithIndex.map { case ((a, b), r) =>
        s"WHEN syms[i]='$a' AND syms[i+1]='$b' THEN $r" }.mkString(" ") + " END"
      val bp1Case = "CASE best " + ms.zipWithIndex.map { case ((a, _), r) =>
        s"WHEN $r THEN '$a'" }.mkString(" ") + " END"
      val bp2Case = "CASE best " + ms.zipWithIndex.map { case ((_, b), r) =>
        s"WHEN $r THEN '$b'" }.mkString(" ") + " END"
      s"""WITH RECURSIVE
          w AS (SELECT DISTINCT unnest($ws) AS word
                FROM documents WHERE text IS NOT NULL),
          bpe(word, s, step) AS (
            SELECT word,
                   '|' || array_to_string(list_transform(
                     generate_series(1, length(word)), i -> word[i]), '||') || '|',
                   0
            FROM w
            UNION ALL
            SELECT word,
                   replace(s, '|' || bp1 || '||' || bp2 || '|',
                              '|' || bp1 || bp2 || '|'),
                   step + 1
            FROM (
              SELECT word, s, step, $bp1Case AS bp1, $bp2Case AS bp2
              FROM (
                SELECT word, s, step,
                       list_min(list_filter(list_transform(
                         generate_series(1, len(syms)-1), i -> $rankCase),
                         x -> x IS NOT NULL)) AS best
                FROM (SELECT word, s, step,
                             string_split(substr(s, 2, length(s)-2), '||') AS syms
                      FROM bpe) a) b
              WHERE best IS NOT NULL) c
          ),
          counts AS (
            SELECT word,
                   CAST((length(s) - length(replace(s,'|','')))/2 AS BIGINT) AS toks
            FROM (SELECT word, s,
                         row_number() OVER (PARTITION BY word ORDER BY step DESC) AS rn
                  FROM bpe) z
            WHERE rn = 1
          ),
          docw AS (SELECT doc_id, len($ws) AS n_words, unnest($ws) AS word
                   FROM documents WHERE text IS NOT NULL)
          SELECT doc_id, CAST(ANY_VALUE(n_words) AS BIGINT) AS n_words,
                 CAST(SUM(toks) AS BIGINT) AS bpe_tokens
          FROM docw JOIN counts USING (word)
          GROUP BY doc_id"""
    })

  // --- q132: token-window document chunking ----------------------------------------
  // Fixed-size overlapping token windows (120 tokens, stride 90) — the
  // standard pre-embedding / pre-training segmentation. Pure map-side
  // explode: chunk starts come from `sequence`, the chunk text from
  // `slice` + `array_join` on the already-split word array — one scan,
  // no shuffle, output partitioned exactly like the input.
  val ChunkTokens = 120
  val ChunkStride = 90

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(ChunkStride))).as("s"))
      .select(col("doc_id"),
        (col("s") / lit(ChunkStride)).cast("long").as("chunk_idx"),
        least(lit(ChunkTokens), size(col("w")) - col("s")).cast("long")
          .as("chunk_tokens"),
        array_join(slice(col("w"), col("s") + 1, lit(ChunkTokens)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  query("q132_doc_chunks", docChunks, {
      val (c, st) = (ChunkTokens, ChunkStride)
      s"""WITH d AS (SELECT doc_id, $ws AS w FROM documents
                     WHERE text IS NOT NULL),
          s AS (SELECT doc_id, w,
                       unnest(generate_series(0, len(w) - 1, $st)) AS s
                FROM d)
          SELECT doc_id, CAST(s // $st AS BIGINT) AS chunk_idx,
                 CAST(least($c, len(w) - s) AS BIGINT) AS chunk_tokens,
                 array_to_string(w[s+1 : s+$c], ' ') AS chunk_text
          FROM s"""
    })

  // --- q142: inverted-index build ---------------------------------------------------
  // The lexical-search build step (df / collection frequency / champion
  // doc per term) as a pure two-level aggregation: (term, doc) term
  // frequencies in one shuffle, per-term stats in a second — the
  // champion (highest-tf, lowest-id) doc via a struct max, not a window,
  // so map-side partial aggregation applies all the way up.
  val IdxMinDf = 5

  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        max(struct(col("tf").as("tf"), (-col("doc_id")).as("negid")))
          .as("__top"))
      .filter(col("df") >= IdxMinDf)
      .select(col("term"), col("df"), col("cf"),
        (-col("__top.negid")).as("top_doc"), col("__top.tf").as("top_tf"))
      .orderBy("term")
  }

  query("q142_inverted_index", invertedIndex,
      s"""WITH tf AS (
            SELECT term, doc_id, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest($ws) AS term FROM documents
                  WHERE text IS NOT NULL)
            GROUP BY 1, 2),
          top AS (SELECT term, doc_id, tf,
                         ROW_NUMBER() OVER (PARTITION BY term
                           ORDER BY tf DESC, doc_id) AS rn
                  FROM tf),
          agg AS (SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf
                  FROM tf GROUP BY 1)
          SELECT a.term, a.df, a.cf, t.doc_id AS top_doc, t.tf AS top_tf
          FROM agg a JOIN top t ON a.term = t.term AND t.rn = 1
          WHERE a.df >= ${IdxMinDf}""")

  // --- q215: PMI collocation mining --------------------------------------------------
  // Adjacent word pairs occurring together far beyond what their
  // marginal slot frequencies predict (operators/Collocations): one
  // corpus pass (slice+zip+explode, no join), one bigram hash-agg;
  // marginals and the grand total re-aggregated from that table. The
  // gated value is the exact ratio INSIDE the PMI log (monotone in it):
  // n_ab·N / (n_left·n_right), products in DECIMAL(38,0) — the q211
  // overflow lesson applied up front — and one IEEE-exact division.
  val PmiMinMarginal = 5L
  val PmiMinPair     = 3L

  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    Collocations.bigramPmi(Tables.documents(spark, dir), col("text"),
        PmiMinMarginal, PmiMinPair)
      .orderBy(col("pmi_lift").desc, col("word_a"), col("word_b"))

  query("q215_pmi_collocations", pmiCollocations, {
      val (m, p) = (PmiMinMarginal, PmiMinPair)
      // zipped parallel unnests over the two length-(n-1) slices ≡ the
      // Spark slice+arrays_zip bigram walk; HUGEINT products ≡ the
      // DECIMAL(38,0) multiply-through
      s"""WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents
                        WHERE text IS NOT NULL
                          AND len(string_split(text, ' ')) >= 2),
          bg AS (SELECT unnest(ws[1:len(ws)-1]) AS word_a,
                        unnest(ws[2:len(ws)])   AS word_b FROM toks),
          c AS (SELECT word_a, word_b, CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM bg GROUP BY 1, 2),
          la AS (SELECT word_a, CAST(SUM(n_ab) AS BIGINT) AS n_left
                 FROM c GROUP BY 1),
          rb AS (SELECT word_b, CAST(SUM(n_ab) AS BIGINT) AS n_right
                 FROM c GROUP BY 1),
          nn AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_total FROM c)
          SELECT word_a, word_b, n_ab, n_left, n_right,
                 CAST(CAST(n_ab AS HUGEINT) * n_total AS DOUBLE)
                   / CAST(CAST(n_left AS HUGEINT) * n_right AS DOUBLE)
                   AS pmi_lift
          FROM c JOIN la USING (word_a) JOIN rb USING (word_b)
          CROSS JOIN nn
          WHERE n_left >= $m AND n_right >= $m AND n_ab >= $p"""
    })

  // --- q224: Kneser–Ney continuation-count table ---------------------------------------
  // The LM-training count tables (operators/Collocations.kneserNeyCounts):
  // per word, token count, distinct left contexts N1+(·w), distinct
  // right continuations N1+(w·), and the continuation probability
  // N1+(·w)/N1+(··) — the statistic KN smoothing replaces raw unigram
  // frequency with ("Francisco" is frequent but only ever follows
  // "San"). Exact integers from two hash-aggs over the distinct
  // bigram-TYPE table (the q215 bigram walk shared), one division.
  val KnMinTokens = 5L

  def knCounts(spark: SparkSession, dir: String): DataFrame =
    Collocations.kneserNeyCounts(Tables.documents(spark, dir), col("text"),
        KnMinTokens)
      .orderBy("word")

  query("q224_kn_counts", knCounts,
      // distinct bigram TYPES from the zipped-slice walk; continuation
      // counts are two hash-aggs over that table
      s"""WITH toks AS (SELECT string_split(text, ' ') AS ws FROM documents
                        WHERE text IS NOT NULL),
          uni AS (SELECT unnest(ws) AS word FROM toks),
          uc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tokens
                 FROM uni GROUP BY 1),
          bg AS (SELECT DISTINCT unnest(ws[1:len(ws)-1]) AS word_a,
                                 unnest(ws[2:len(ws)])   AS word_b
                 FROM toks WHERE len(ws) >= 2),
          lt AS (SELECT word_b AS word, CAST(COUNT(*) AS BIGINT)
                   AS n_left_types FROM bg GROUP BY 1),
          rt AS (SELECT word_a AS word, CAST(COUNT(*) AS BIGINT)
                   AS n_right_types FROM bg GROUP BY 1),
          tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM bg)
          SELECT uc.word, uc.n_tokens,
                 COALESCE(lt.n_left_types, 0) AS n_left_types,
                 COALESCE(rt.n_right_types, 0) AS n_right_types,
                 CAST(COALESCE(lt.n_left_types, 0) AS DOUBLE)
                   / CAST(tot.n_bigram_types AS DOUBLE) AS p_continuation
          FROM uc LEFT JOIN lt ON uc.word = lt.word
                  LEFT JOIN rt ON uc.word = rt.word
          CROSS JOIN tot
          WHERE uc.n_tokens >= ${KnMinTokens}""")

  // --- q225: BPE merge training ---------------------------------------------------------
  // The TRAINING side of q126's tokenizer: learn the first N byte-pair
  // merges from the corpus. BPE training is inherently sequential (each
  // merge changes the next round's pair counts), so the operator is N
  // rounds of [weighted adjacent-pair count over the WORD-FREQUENCY
  // table → argmax (count DESC, pair ASC) → apply the merge]. The
  // distributed shape is right: the corpus is scanned ONCE into the
  // word-frequency table (vocabulary-sized — the classic BPE trick);
  // every round then runs on that tiny frame, and only the 1-row argmax
  // ever reaches the driver (the watermark-store bound). Words are
  // space-separated symbol strings padded with sentinel spaces; the
  // merge is a plain substring replace of " a b " with " ab " —
  // LEFT-TO-RIGHT non-overlapping in BOTH engines (java String.replace
  // ≡ DuckDB replace), which is the tie-handling the oracle replays.
  // Pair counts count adjacent POSITIONS (an "a a a" word yields two
  // (a,a)); both sides count identically, so the gate pins the whole
  // sequential procedure.
  val BpeMergeRounds = 5

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrom(spark, Tables.documents(spark, dir), col("text"),
      BpeMergeRounds)

  query("q225_bpe_merges", bpeMerges, {
      // the sequential merge procedure unrolled: per round, weighted
      // adjacent-pair counts (zipped parallel unnests) → 1-row argmax →
      // left-to-right substring replace (≡ java String.replace)
      val rounds = (1 to BpeMergeRounds).map { r =>
        s"""p$r AS (SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
               SELECT unnest(sy[1:len(sy)-1]) AS a,
                      unnest(sy[2:len(sy)]) AS b, n
               FROM (SELECT string_split(trim(s), ' ') AS sy, n FROM s${r - 1})
               WHERE len(sy) >= 2)
             GROUP BY 1, 2),
          b$r AS (SELECT a, b, cnt FROM p$r
                  ORDER BY cnt DESC, a, b LIMIT 1),
          s$r AS MATERIALIZED (SELECT replace(s,
                    ' ' || (SELECT a FROM b$r) || ' '
                        || (SELECT b FROM b$r) || ' ',
                    ' ' || (SELECT a FROM b$r)
                        || (SELECT b FROM b$r) || ' ') AS s, n
                  FROM s${r - 1})"""
      }.mkString(",\n          ")
      val out = (1 to BpeMergeRounds).map { r =>
        s"SELECT CAST($r AS INT) AS round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM b$r"
      }.mkString("\nUNION ALL ")
      s"""WITH w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE text IS NOT NULL)
            WHERE len(w) > 0 GROUP BY 1),
          s0 AS (SELECT ' ' || array_to_string(
                   list_transform(generate_series(1, length(w)), i -> w[i]),
                   ' ') || ' ' AS s, n
                 FROM w0),
          $rounds
          $out"""
    })

  /** The merge loop over any (doc frame, text column) — factored so the
    * spec can drive it with a hand-computable fixture. Stops early if
    * the symbol inventory exhausts before `rounds` merges (every word
    * fully merged) — the gated corpus never does.
    */
  def bpeMergesFrom(spark: SparkSession, docs: DataFrame, textCol: Column,
                    rounds: Int): DataFrame = {
    val words = docs
      .filter(textCol.isNotNull)
      .select(explode(split(textCol, " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(concat(lit(" "),
        expr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')"),
        lit(" ")).as("s"), col("n"))
    var cur = words.leanCheckpoint()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val sy = expr("split(trim(s), ' ')")
      val best = cur
        .select(col("n"), explode(arrays_zip(
          slice(sy, lit(1), size(sy) - 1).as("a"),
          slice(sy, lit(2), size(sy) - 1).as("b"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect() // bounded: at most ONE row per round
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, cnt))
        cur = cur.select(org.apache.spark.sql.functions.replace(col("s"),
            lit(s" $a $b "), lit(s" $a$b ")).as("s"), col("n"))
          .leanCheckpoint()
      }
    }
    import spark.implicits._
    merges.result()
      .toDF("round", "sym_a", "sym_b", "pair_count")
      .orderBy("round")
  }

  // --- q233: multi-word collocation spans ----------------------------------------------
  // q225's merge machinery iterated over q215's bigram LIFTS (VERDICT
  // r13 item 6): per round, the adjacent pair with the highest PMI
  // lift over the CURRENT symbol sequences merges into one unit, so
  // n-ary spans ("new york city") surface where the flat bigram table
  // only ever shows their binary prefixes. Selection rides the
  // quantized exact-integer lift key (DECIMAL(38,0) products, floor
  // div by 2^-20 — deterministic total order, ties (a, b) lexic);
  // the oracle unrolls the same rounds with HUGEINT arithmetic and
  // DuckDB `replace` ≡ java String.replace left-to-right merging (the
  // q225 contract).
  val SpanRounds = 4

  def collocationSpanMining(spark: SparkSession, dir: String): DataFrame =
    Collocations.collocationSpans(spark, Tables.documents(spark, dir),
      col("text"), SpanRounds, PmiMinMarginal, PmiMinPair)

  query("q233_colloc_spans", collocationSpanMining, {
      val (m, p) = (PmiMinMarginal, PmiMinPair)
      // the lift-driven merge procedure unrolled (q225's shape with
      // q215's statistics): per round, adjacent-pair lift over the
      // current symbol strings → 1-row argmax on the quantized integer
      // key → left-to-right replace; HUGEINT ≡ DECIMAL(38,0)
      val rounds = (1 to SpanRounds).map { r =>
        s"""p$r AS MATERIALIZED (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab FROM (
               SELECT unnest(sy[1:len(sy)-1]) AS a,
                      unnest(sy[2:len(sy)]) AS b
               FROM (SELECT string_split(trim(s), ' ') AS sy FROM s${r - 1})
               WHERE len(sy) >= 2)
             GROUP BY 1, 2),
          l$r AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS nl FROM p$r GROUP BY 1),
          r$r AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS nr FROM p$r GROUP BY 1),
          t$r AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS nt FROM p$r),
          b$r AS MATERIALIZED (SELECT a, b, n_ab,
                         CAST(CAST(n_ab AS HUGEINT) * nt AS DOUBLE)
                           / CAST(CAST(nl AS HUGEINT) * nr AS DOUBLE) AS lift
                  FROM p$r JOIN l$r USING (a) JOIN r$r USING (b)
                  CROSS JOIN t$r
                  WHERE n_ab >= $p AND nl >= $m AND nr >= $m
                  ORDER BY (CAST(n_ab AS HUGEINT) * nt * 1048576)
                             // (CAST(nl AS HUGEINT) * nr) DESC, a, b
                  LIMIT 1),
          s$r AS MATERIALIZED (SELECT replace(s,
                    ' ' || (SELECT a FROM b$r) || ' '
                        || (SELECT b FROM b$r) || ' ',
                    ' ' || (SELECT a FROM b$r) || chr(1)
                        || (SELECT b FROM b$r) || ' ') AS s
                  FROM s${r - 1})"""
      }.mkString(",\n          ")
      val out = (1 to SpanRounds).map { r =>
        s"""SELECT CAST($r AS INT) AS round,
                   replace(a, chr(1), ' ') AS span_a,
                   replace(b, chr(1), ' ') AS span_b, n_ab, lift FROM b$r"""
      }.mkString("\nUNION ALL ")
      s"""WITH s0 AS MATERIALIZED (SELECT ' ' || text || ' ' AS s
                      FROM documents
                      WHERE text IS NOT NULL),
          $rounds
          $out"""
    })

  // --- oracle SQL fragments the specs above share --------------------------

  /** Per-profile stopword frequency — ≡ TextAnalysis.stopwordCount. */
  private def stopCount(prof: Seq[String]) =
    s"len(list_filter($ws, w -> w IN ${inList(prof)}))"

  /** argmax CASE cascade — ≡ TextAnalysis.langPredict (first-wins ties). */
  private lazy val langCase: String = {
    val ps = graft.functions.TextAnalysis.LangProfiles.map(_._1)
    val cases = ps.zipWithIndex.dropRight(1).map { case (l, i) =>
      val conds = ps.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${ps.last}' END"
  }
}
