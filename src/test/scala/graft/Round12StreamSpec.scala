package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import graft.queries.EtlQueries

/** Round-12 soak (VERDICT r11 item 6): the SCD2 sink under a live
  * `Trigger.ProcessingTime` query — scd1 and the near-dup sink got this
  * drill in round 11; the SCD2 history sink had only run bounded
  * (`availableNow`) passes. Files land WHILE the query is running,
  * multiple micro-batches fire, and the final history must equal the
  * batch-rebuilt SCD2 table — the state machinery is trigger-agnostic
  * by design; this pins it for the last unsoaked sink.
  */
class Round12StreamSpec extends AnyFunSuite {
  import TestSession._

  private val eventCols = Seq("user_id", "event_id", "event_type", "value", "ts")
  private lazy val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)

  test("scd2 foreachBatch sink under a live ProcessingTime trigger equals the batch history") {
    import spark.implicits._
    val dir = TestSession.tempDir("graft_scd2_soak")
    val (src, target, cp) = (s"$dir/src", s"$dir/scd2", s"$dir/cp")
    val outCols = Seq("user_id", "event_id", "event_type", "value",
      "effective_from", "effective_to", "is_current")
    // time-ordered waves (the changelog arrival order the availableNow
    // spec also drives): quartile boundaries from the data itself
    val ts = ev.select(col("ts").cast("long")).orderBy("ts").as[Long].collect()
    val cuts = Seq(Long.MinValue, ts(ts.length / 4), ts(ts.length / 2),
      ts(3 * ts.length / 4), Long.MaxValue)
    def wave(i: Int) = ev.filter(
      col("ts").cast("long") > cuts(i) && col("ts").cast("long") <= cuts(i + 1))
    // seed the first wave so the source dir exists before the query starts
    wave(0).coalesce(1).write.mode("append").parquet(src)
    val q = IngestPipeline.boundedFileStream(spark, src, ev.schema)
      .writeStream
      .foreachBatch(ScdSinks.scd2(target, Seq("user_id"), "ts", Seq("event_id")) _)
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // three more waves land WHILE the query is live, each coalesced to
      // one file so a wave is atomic wrt micro-batch boundaries
      (1 to 3).foreach { i =>
        wave(i).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = graft.sources.Snapshots.read(spark, target)
      .select(outCols.map(col): _*)
    val exp = EtlQueries.scd2Build(spark, sf).select(outCols.map(col): _*)
    assert(got.count() > 0)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0,
      "live-trigger SCD2 history diverged from the batch-rebuilt table")
  }
}
