package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Quality, Scd}
import graft.sources.Snapshots

/** Config-driven medallion pipeline: the reference's orchestration as a
  * library facility.
  *
  * Reference analogs, end to end:
  * - the ForEach-over-table-configs driver (reference: pipeline/
  *   incremental_ingestion.json + data_scripts/loop_input.json) →
  *   `TableSpec` list;
  * - watermark lookup/update around each copy (`last_cdc` Lookup /
  *   `update_last_cdc` Script) → `WatermarkStore` (compacted snapshot
  *   state, one row per table);
  * - bronze→silver cleaning (dedup by business key + expectations) →
  *   `Dedup.latestByKey` + `Quality.enforce`;
  * - gold CDC flows (`create_auto_cdc_flow`, scd_type 1/2) →
  *   `Scd.scd1Merge` / `Scd.scd2Merge` over a BUCKETED snapshot store.
  *
  * Scale: each run reads only the (low, high] slice of each source (the
  * window predicate reaches the scan), and both sides of the gold commit
  * are slice-proportional — the merge COMPUTATION reads only the gold
  * buckets containing touched keys, and the WRITE rewrites only those
  * buckets, with every untouched bucket carried forward by manifest
  * reference (Snapshots.publishBuckets). A daily 0.1%-of-keys slice on a
  * 100 TB gold table costs ~0.1% of the table in both read and write.
  */
object Medallion {

  /** One table's pipeline config. `scdType` ∈ {1, 2}. `buckets` is the
    * gold table's hash-bucket count — pinned by the first commit; size it
    * so one bucket of the table at full scale is a comfortable rewrite
    * unit (e.g. 100 TB / 4096 buckets ≈ 25 GB per touched bucket).
    */
  final case class TableSpec(
      name: String,
      keys: Seq[String],
      seqCol: String,
      tieCols: Seq[String] = Seq.empty,
      rules: Seq[Quality.Rule] = Seq.empty,
      scdType: Int = 1,
      buckets: Int = 16)

  /** Outcome of one table's run. `extracted` = rows in the (low, high]
    * slice; `cleaned` = slice rows passing the DQ expectations (what
    * proceeds to the gold merge); `goldRows` = rows in the committed gold
    * snapshot. Slice stats come from `Observation` metrics piggybacked on
    * the run's own actions and gold totals from manifest row counts — a
    * run triggers no full-table counting actions, so stats stay free at
    * any data size.
    */
  final case class RunResult(table: String, extracted: Long, cleaned: Long,
                             goldRows: Long, watermark: java.sql.Timestamp)

  /** Per-table high-watermark state, kept compacted: each update rewrites
    * the tiny state table (one row per table, max watermark wins) through
    * the crash-safe snapshot protocol instead of appending a row per run —
    * N runs leave ≤ 1 row per table, and `snapshot` reads a bounded table.
    */
  final class WatermarkStore(spark: SparkSession, path: String) {
    import spark.implicits._

    /** The whole state in one read: one manifest resolution + one scan of
      * the one-row-per-table state, regardless of how many tables the run
      * covers. The collect is bounded by the table count, not the data.
      */
    def snapshot(): Map[String, java.sql.Timestamp] =
      if (!Snapshots.exists(spark, path)) Map.empty
      else Snapshots.read(spark, path).collect()
        .map(r => r.getString(0) -> r.getTimestamp(1)).toMap

    /** One commit for a whole run's watermarks (max wins per table). Safe
      * at run granularity: gold merges are replay-idempotent, so a crash
      * before the batched commit just re-merges the same slices.
      */
    def updateAll(wms: Map[String, java.sql.Timestamp]): Unit = {
      val fresh = wms.toSeq.toDF("table_name", "watermark")
      val all =
        if (!Snapshots.exists(spark, path)) fresh
        else Snapshots.read(spark, path).unionByName(fresh)
          .groupBy("table_name").agg(max("watermark").as("watermark"))
      Snapshots.commit(all, path)
    }
  }

  /** Run one incremental pass for every table spec:
    * extract (wm, high] → clean → merge into bucketed gold. Returns
    * per-table stats. `source(name)` provides the changelog frame (any
    * reader). Gold stores fold back into one snapshot root once their
    * manifest references more than `compactAfterRoots`.
    */
  def run(spark: SparkSession, specs: Seq[TableSpec],
          source: String => DataFrame, stateDir: String,
          highWatermark: java.sql.Timestamp,
          compactAfterRoots: Int = Snapshots.CompactAfterRoots): Seq[RunResult] = {
    val store = new WatermarkStore(spark, s"$stateDir/_watermarks")
    // resolve the watermark state ONCE per run, not once per table
    val lows = store.snapshot()
    val results = specs.map { spec =>
      val src = source(spec.name)
      val low = lows.get(spec.name)
      val obsSlice = Observation()
      val obsClean = Observation()
      // bronze: the (low, high] slice only; the observe nodes piggyback
      // row counts on the actions the run performs anyway.
      val slice = low.fold(src.filter(col(spec.seqCol) <= lit(highWatermark)))(wm =>
          src.filter(col(spec.seqCol) > lit(wm) && col(spec.seqCol) <= lit(highWatermark)))
        .observe(obsSlice, count(lit(1)).as("n"))
      // silver: expectations; SCD1 consumes a latest-per-key snapshot of
      // the slice, SCD2 keeps every change row.
      val enforced = Quality.enforce(slice, spec.rules)
        .observe(obsClean, count(lit(1)).as("n"))
      val goldPath = s"$stateDir/gold/${spec.name}"
      // Bucketed gold merge: the read prunes to touched buckets, the
      // commit rewrites only them (Snapshots.mergeCommitBuckets — its
      // probe action also fires the slice/clean observations).
      val goldRows = Snapshots.mergeCommitBuckets(
          enforced, goldPath, spec.keys, spec.buckets)(
          init = e =>
            if (spec.scdType == 2)
              Scd.scd2FromChangelog(e, spec.keys, spec.seqCol, spec.tieCols)
            else Dedup.latestByKey(e, spec.keys, spec.seqCol +: spec.tieCols))(
          merge = (gold, e) =>
            if (spec.scdType == 2)
              Scd.scd2Merge(gold, e, spec.keys, spec.seqCol, spec.tieCols)
            else Scd.scd1Merge(gold, e, spec.keys, spec.seqCol +: spec.tieCols))
      Snapshots.maybeCompact(spark, goldPath, compactAfterRoots)
      def n(o: Observation): Long =
        o.get.getOrElse("n", 0L).asInstanceOf[Long]
      RunResult(spec.name, n(obsSlice), n(obsClean), goldRows, highWatermark)
    }
    // one watermark commit for the whole run (merges are idempotent, so
    // run-granular watermark durability loses nothing on a crash)
    store.updateAll(specs.map(_.name -> highWatermark).toMap)
    results
  }
}
