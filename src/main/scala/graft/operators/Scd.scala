package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension builds over a changelog.
  *
  * Reference analog: the gold layer applies CDC flows with
  * `stored_as_scd_type=2` for dimensions (reference: local_spotify_dab/src/
  * gold/spotify_etl/transformations/DimArtist.py:99-109, DimUser.py,
  * DimTrack.py, DimDate.py) and `stored_as_scd_type=1` for the fact table
  * (reference: .../FactStream.py:96-105), keyed by a business key and
  * ordered by a sequence column.
  */
object Scd {

  /** SCD Type 1: latest-wins snapshot per key (FactStream.py semantics). */
  def scd1Latest(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame =
    Dedup.latestByKey(df, keys, orderCols)

  /** SCD Type 1 incremental merge: apply an update batch onto a base
    * snapshot, latest wins per key. Union + argmax keeps it a single
    * shuffle (no join), which is the scalable upsert shape when the sink
    * has no native MERGE.
    */
  def scd1Merge(base: DataFrame, updates: DataFrame, keys: Seq[String],
                orderCols: Seq[String]): DataFrame =
    Dedup.latestByKey(base.unionByName(updates), keys, orderCols)

  /** SCD Type 2: changelog → validity intervals. Each change row becomes a
    * version effective from its sequence value until the next change for
    * the same key (`effective_to` null = current). One shuffle on the key;
    * the per-key sort is what SCD2 fundamentally requires.
    */
  def scd2FromChangelog(df: DataFrame, keys: Seq[String], seqCol: String,
                        tieCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((seqCol +: tieCols).map(col): _*)
    df.withColumn("effective_from", col(seqCol))
      .withColumn("effective_to", lead(col(seqCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** SCD2 incremental merge: fold a batch of new change rows into an
    * existing history. Only keys present in the batch are rebuilt — their
    * history rows (which still carry the original sequence column) are
    * re-derived together with the new changes — while untouched keys pass
    * through without recomputation. Exactly-once under redelivery: change
    * rows are deduplicated on (keys, seq, ties) before rebuilding.
    *
    * Scale: two semi/anti joins on the key (batch side is small) plus one
    * keyed shuffle over only the AFFECTED keys' rows — cost tracks batch
    * size, not history size.
    */
  def scd2Merge(history: DataFrame, updates: DataFrame, keys: Seq[String],
                seqCol: String, tieCols: Seq[String]): DataFrame = {
    val (touched, untouched) = splitByBatchKeys(history, updates, keys)
    val changelog = touched.drop(MetaCols: _*)
      .unionByName(updates)
      .dropDuplicates(keys ++ (seqCol +: tieCols))
    scd2FromChangelog(changelog, keys, seqCol, tieCols).unionByName(untouched)
  }

  private val MetaCols = Seq("effective_from", "effective_to", "is_current")

  /** A history's rows split into those whose key the update batch touches
    * and those it leaves alone (semi/anti joins against the batch's
    * distinct keys).
    */
  private def splitByBatchKeys(history: DataFrame, updates: DataFrame,
                               keys: Seq[String]): (DataFrame, DataFrame) = {
    val batchKeys = updates.select(keys.map(col): _*).distinct()
    (history.join(batchKeys, keys, "left_semi"),
      history.join(batchKeys, keys, "left_anti"))
  }

  /** Temporal ALIGNMENT of two SCD2 histories of the same entity — the
    * temporal-join primitive: every output row is an elementary validity
    * segment on which exactly one version of A and one version of B are
    * simultaneously valid, carrying both sides' attributes over
    * [greatest(from), least(to)). Open current versions (`effective_to`
    * null) participate via null-aware overlap (null reads as +∞), and a
    * segment is open iff both inputs are open. Both inputs must follow
    * the [[scd2FromChangelog]] column contract (`effective_from` /
    * `effective_to`); attribute names must be disjoint across the sides.
    *
    * Scale: one equi-join on the entity keys with an overlap residual —
    * per-key fan-out is bounded by the two history lengths (versions per
    * entity, not table size), each history shuffles once on the key, and
    * bucketed storage makes the join exchange-free. Never a range/cross
    * join: the key equality carries all the distribution.
    */
  def alignHistories(a: DataFrame, b: DataFrame, keys: Seq[String],
                     attrsA: Seq[String], attrsB: Seq[String]): DataFrame = {
    val aa = a.select(keys.map(col) ++ attrsA.map(col) ++ Seq(
      col("effective_from").as("__af"), col("effective_to").as("__at")): _*)
    val bb = b.select(keys.map(col) ++ attrsB.map(col) ++ Seq(
      col("effective_from").as("__bf"), col("effective_to").as("__bt")): _*)
    aa.join(bb, keys)
      .filter((col("__bt").isNull || col("__af") < col("__bt")) &&
        (col("__at").isNull || col("__bf") < col("__at")))
      .withColumn("valid_from", greatest(col("__af"), col("__bf")))
      .withColumn("valid_to",
        when(col("__at").isNull, col("__bt"))
          .when(col("__bt").isNull, col("__at"))
          .otherwise(least(col("__at"), col("__bt"))))
      .select(keys.map(col) ++ attrsA.map(col) ++ attrsB.map(col) ++
        Seq(col("valid_from"), col("valid_to")): _*)
  }

  /** Point-in-time (as-of) snapshot of an SCD2 table: the version valid at
    * `at`. Pure filter — pushed into the scan, no shuffle.
    */
  def asOfSnapshot(scd2: DataFrame, at: Column): DataFrame =
    scd2.filter(col("effective_from") <= at &&
      (col("effective_to").isNull || col("effective_to") > at))

  /** SCD Type 2 with PARTIAL history tracking — DLT's
    * `track_history_column_list` / `track_history_except_column_list`
    * (reference: local_spotify_dab/src/gold/spotify_etl/transformations/
    * DimArtist.py:87-103, the parameter every gold dim exposes): a new
    * validity interval opens ONLY when one of `trackCols` changes; change
    * rows touching untracked columns alone update the current version in
    * place (latest untracked values win, `effective_from` keeps the
    * version's opening sequence value). This is what stops churning audit
    * columns from versioning a dimension.
    *
    * Mechanics: one keyed window marks rows whose tracked tuple differs
    * (null-safely) from the previous row's, a running sum turns the marks
    * into run ids, and a struct-max per (key, run) picks the run's LAST
    * row as the version payload (tracked columns are constant within a
    * run by construction, so only untracked values "win"). effective_from
    * = the run's first sequence value; effective_to chains via lead. All
    * windows/aggs hash-partition by the business key — same single-
    * shuffle posture as [[scd2FromChangelog]] (which is the special case
    * trackCols = all payload columns, where every change opens a run).
    */
  def scd2FromChangelogTracked(df: DataFrame, keys: Seq[String], seqCol: String,
                               tieCols: Seq[String],
                               trackCols: Seq[String]): DataFrame =
    scd2TrackedCore(df.withColumn("__from", col(seqCol)),
      keys, seqCol, tieCols, trackCols)

  /** DLT's `track_history_except_column_list` (reference:
    * local_spotify_dab/src/gold/spotify_etl/transformations/DimDate.py:19
    * and the other gold dims) — the COMPLEMENT form of
    * [[scd2FromChangelogTracked]]: track every payload column EXCEPT the
    * listed ones. The tracked set is derived structurally — all columns
    * minus keys, the sequence/tie columns (ordering metadata, tracking
    * them would degenerate to full versioning since they change every
    * row) and `exceptCols` — so adding a payload column to the frame
    * automatically tracks it, which is exactly the contract that makes
    * the EXCEPT form the right call when the untracked set (audit
    * timestamps, measures) is the smaller, stabler list.
    */
  def scd2FromChangelogTrackedExcept(df: DataFrame, keys: Seq[String],
                                     seqCol: String, tieCols: Seq[String],
                                     exceptCols: Seq[String]): DataFrame =
    scd2FromChangelogTracked(df, keys, seqCol, tieCols,
      complementTrack(df.columns, keys, seqCol, tieCols, exceptCols))

  /** The merge-shape twin of [[scd2FromChangelogTrackedExcept]] — the
    * complement is computed on the UPDATE batch's columns (the history
    * side carries the same payload plus validity metadata).
    */
  def scd2MergeTrackedExcept(history: DataFrame, updates: DataFrame,
                             keys: Seq[String], seqCol: String,
                             tieCols: Seq[String],
                             exceptCols: Seq[String]): DataFrame =
    scd2MergeTracked(history, updates, keys, seqCol, tieCols,
      complementTrack(updates.columns, keys, seqCol, tieCols, exceptCols))

  private def complementTrack(cols: Array[String], keys: Seq[String],
                              seqCol: String, tieCols: Seq[String],
                              exceptCols: Seq[String]): Seq[String] = {
    val excluded = (keys ++ (seqCol +: tieCols) ++ exceptCols).toSet
    val track = cols.filterNot(excluded).toSeq
    require(track.nonEmpty,
      s"except-list $exceptCols leaves no tracked columns on ${cols.toSeq}")
    track
  }

  /** Incremental fold of an update batch into a TRACKED SCD2 history
    * (the merge-shape twin of [[scd2Merge]]): only keys present in the
    * batch are rebuilt — their version rows re-enter the collapse as
    * pseudo-change rows carrying their original `effective_from`, so an
    * update whose tracked columns equal the current version's extends
    * that version in place (its effective_from survives the merge)
    * instead of opening a new interval. Exactly-once under redelivery:
    * a re-delivered change row collides with the version row at the same
    * (keys, seq, ties) and the earlier effective_from wins
    * deterministically. For batches arriving in sequence order the fold
    * is spec-verified ≡ the full-changelog rebuild.
    */
  def scd2MergeTracked(history: DataFrame, updates: DataFrame,
                       keys: Seq[String], seqCol: String, tieCols: Seq[String],
                       trackCols: Seq[String]): DataFrame = {
    val (touched, untouched) = splitByBatchKeys(history, updates, keys)
    val histRows = touched
      .withColumn("__from", col("effective_from"))
      .drop(MetaCols: _*)
    val updRows = updates.withColumn("__from", col(seqCol))
    val dupW = Window
      .partitionBy((keys ++ (seqCol +: tieCols)).map(col): _*)
      .orderBy(col("__from"))
    val changelog = histRows.unionByName(updRows)
      .withColumn("__rn", row_number().over(dupW))
      .filter(col("__rn") === 1).drop("__rn")
    scd2TrackedCore(changelog, keys, seqCol, tieCols, trackCols)
      .unionByName(untouched)
  }

  private def scd2TrackedCore(withFrom: DataFrame, keys: Seq[String],
                              seqCol: String, tieCols: Seq[String],
                              trackCols: Seq[String]): DataFrame = {
    require(trackCols.nonEmpty, "tracked-history SCD2 needs tracked columns")
    val payloadCols = withFrom.columns.filterNot(_ == "__from").toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((seqCol +: tieCols).map(col): _*)
    val tracked = struct(trackCols.map(col): _*)
    val runs = withFrom
      // null-safe: a null tracked value equals a null, and the first row
      // of a key (lag = null struct) always opens a run
      .withColumn("__opens",
        when(tracked <=> lag(tracked, 1).over(w), lit(0L)).otherwise(lit(1L)))
      .withColumn("__run", sum(col("__opens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = runs
      .groupBy((keys.map(col) :+ col("__run")): _*)
      .agg(min(col("__from")).as("effective_from"),
        max(struct((seqCol +: tieCols).map(col) :+
          struct(payloadCols.map(col): _*).as("__p"): _*)).as("__last"))
      .select(col("__last.__p.*"), col("effective_from"))
    val wKey = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq("effective_from", seqCol) ++ tieCols).map(col): _*)
    versions
      .withColumn("effective_to", lead(col("effective_from"), 1).over(wKey))
      .withColumn("is_current", col("effective_to").isNull)
  }
}
