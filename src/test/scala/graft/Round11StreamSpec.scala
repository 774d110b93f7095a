package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import graft.queries.{DedupQueries, EtlQueries}

/** Continuous-trigger soak for the stateful sinks: every other streaming
  * spec drives `availableNow` bounded runs (the reference's
  * `trigger(availableNow=True)` posture, Silver_Dimensions.py:383); the
  * reference's Autoloader docs also describe the continuous mode
  * (Silver_Dimensions.py:271 "Continuously"), so these run the SAME sink
  * classes under a live `Trigger.ProcessingTime` query — files arriving
  * while the query runs, N micro-batches, stop condition — and assert
  * final-state equality with the bounded/batch result. The state
  * machinery is trigger-agnostic by design; this pins it.
  */
class Round11StreamSpec extends AnyFunSuite {
  import TestSession._

  private val eventCols = Seq("user_id", "event_id", "event_type", "value", "ts")
  private lazy val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)

  private def tmp(): String = TestSession.tempDir("graft_soak")

  test("scd1 foreachBatch sink under a live ProcessingTime trigger converges to batch latest-wins") {
    val dir = tmp()
    val (src, target, cp) = (s"$dir/src", s"$dir/scd1", s"$dir/cp")
    // seed one wave so the source dir exists before the query starts
    ev.filter(pmod(col("event_id"), lit(4)) === 0)
      .coalesce(1).write.mode("append").parquet(src)
    val q = IngestPipeline.boundedFileStream(spark, src, ev.schema)
      .writeStream
      .foreachBatch(ScdSinks.scd1(target, Seq("user_id"), Seq("ts", "event_id")) _)
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // three more waves land WHILE the query is live — each coalesced to
      // one file so a wave is atomic wrt micro-batch boundaries
      (1 to 3).foreach { wave =>
        ev.filter(pmod(col("event_id"), lit(4)) === wave)
          .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = graft.sources.Snapshots.read(spark, target)
      .select(eventCols.map(col): _*)
    val exp = EtlQueries.scd1Latest(spark, sf).select(eventCols.map(col): _*)
    assert(got.count() > 0)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0,
      "live-trigger SCD1 state diverged from the batch latest-wins snapshot")
  }

  test("streaming near-dup sink under a live ProcessingTime trigger matches the bounded-run result") {
    val dir = tmp()
    val (src, cp) = (s"$dir/src", s"$dir/cp")
    val (idxPath, corpusPath) = (s"$dir/index", s"$dir/corpus")
    val docs = Tables.documents(spark, sf)
    val mid = 250L
    val t = DedupQueries.JaccardThreshold
    docs.filter(col("doc_id") < mid).coalesce(1).write.mode("append").parquet(src)
    val q = IngestPipeline.boundedFileStream(spark, src, docs.schema)
      .writeStream
      .foreachBatch(StreamingNearDup.dedupSink(idxPath, corpusPath,
        "doc_id", "text", DedupQueries.JaccardN, t) _)
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= mid).coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()

    // Expected = the sink's documented drop rule replayed with the batch
    // operators over the same two-wave arrival order (the availableNow
    // spec in StreamingSpec pins the same rule for bounded runs)
    val pairs = operators.NearDup.minHashLshPairs(docs, "doc_id", "text", DedupQueries.JaccardN)
      .filter(col("est_jaccard") >= t)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val partners = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).toSet }
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val admitted = scala.collection.mutable.Set[Long]()
    for (batch <- Seq(allIds.filter(_ < mid), allIds.filter(_ >= mid)); d <- batch) {
      val ps = partners.getOrElse(d, Set.empty)
      val sameBatch = if (d < mid) ps.exists(_ < mid) else ps.exists(_ >= mid)
      if (!sameBatch && !ps.exists(admitted)) admitted += d
    }
    val got = graft.sources.Snapshots.read(spark, corpusPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == admitted.toSet,
      s"live-trigger corpus mismatch: extra=${got -- admitted}, missing=${admitted.toSet -- got}")
    assert(graft.sources.Snapshots.read(spark, idxPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == got,
      "index and corpus disagree after the live run")
  }
}
