package graft
package queries

/** DuckDB SQL fragments shared by the oracles of several query families. */
object OracleSql {

  /** `string_split` ≡ Spark `split(text, " ")`. */
  private[graft] val ws = "string_split(text, ' ')"

  private[graft] def inList(s: Seq[String]) = s.map(w => s"'$w'").mkString("(", ",", ")")

  /** Sequential-fold dot product — ≡ Similarity.dot (bit-identical). */
  private[graft] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, len($a)),
       i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)"""

  /** ≡ Similarity.l2Norm of the `embedding` column. */
  private[graft] val nrmSql: String = s"sqrt(${dotSql("embedding", "embedding")})"

  /** Polynomial fingerprint of string expr `x` — ≡ rollingFingerprint. */
  private[graft] def fpSql(x: String): String =
    s"""list_reduce(list_transform(string_split_regex($x, ''),
       c -> CAST(ascii(c) AS BIGINT)), (a,b) -> (a*31+b) % ${graft.functions.Lsh.P})"""

  /** Distinct word-trigram shingles — ≡ NearDup.shingleSets. */
  private[graft] val shinglesSql: String =
    s"""list_distinct(list_transform(generate_series(1, len($ws) - 2),
       i -> $ws[i] || ' ' || $ws[i+1] || ' ' || $ws[i+2]))"""

  private[graft] def sqlArr(xs: Seq[Long]): String = xs.mkString("[", ",", "]")

  /** Random-hyperplane sign bits `bits` of `e`'s embeddings and their band
    * keys `bands` (vec_id, t, key) — ≡ Lsh.planeBits → Lsh.planeBandKeys
    * (q26, q51).
    */
  private[graft] val planeBandsCtes: String = {
    import graft.functions.Lsh._
    s"""bits AS (SELECT vec_id,
                        list_transform(generate_series(0, ${Planes - 1}), p ->
                          CASE WHEN list_reduce(list_transform(generate_series(1, $Dim), i ->
                                 (CAST(((p*$Dim+i) * 2654435761) % $TwoPow32 AS DOUBLE)
                                    / 4294967296.0 - 0.5)
                                 * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y) >= 0
                               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS bits
                 FROM e),
        bands AS (SELECT vec_id, t,
                         list_reduce(bits[t*$RowsRp+1 : t*$RowsRp+$RowsRp],
                           (x,y) -> x*2+y) AS key
                  FROM bits, (SELECT unnest(generate_series(0, ${BandsRp - 1})) AS t) bt)"""
  }

  /** Shared CTE chain for near-dup connected components (q34, q65):
    * MinHash-LSH banding candidates (same CTEs as q22, legacy Mh16
    * geometry) verified by exact Jaccard on the candidate set only, then
    * transitive closure `reach(id, r)` over the verified edges —
    * ≡ Components.connectedComponents over lshVerifiedJaccardPairs.
    */
  private[graft] val componentCtes: String = {
    import graft.functions.Lsh._
    s"""WITH RECURSIVE
        d AS (SELECT doc_id, $shinglesSql AS sh FROM documents
                   WHERE len($ws) >= ${DedupQueries.JaccardN}),
        f AS (SELECT doc_id, list_transform(sh, s -> ${fpSql("s")}) AS fps FROM d),
        sigs AS (SELECT doc_id,
                        list_transform(generate_series(1, $K), i ->
                          list_aggregate(list_transform(fps,
                            v -> (${sqlArr(A)}[i]*v + ${sqlArr(B)}[i]) % $P), 'min')) AS sig
                 FROM f),
        bands AS (SELECT doc_id, t,
                         list_reduce(sig[t*$RowsPerBand+1 : t*$RowsPerBand+$RowsPerBand],
                           (x,y) -> x*31+y) AS key
                  FROM sigs, (SELECT unnest(generate_series(0, ${Bands - 1})) AS t) bt),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bands a JOIN bands b
                   ON a.t = b.t AND a.key = b.key AND a.doc_id < b.doc_id),
        pairs AS (SELECT doc_a, doc_b, jaccard FROM (
              SELECT doc_a, doc_b,
                     CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                       / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
                       AS jaccard
              FROM cand JOIN d da ON doc_a = da.doc_id
                        JOIN d db ON doc_b = db.doc_id)
            WHERE jaccard >= ${DedupQueries.JaccardThreshold}),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)"""
  }

  private[graft] val discTerm =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))"
}
