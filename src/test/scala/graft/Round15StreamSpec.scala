package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{CusumStream, IngestPipeline}
import graft.queries.EtlQueries

/** Round-15 negative-path drill (VERDICT r14 item 8): CusumStream
  * documents that cross-batch day order is the caller's watermark
  * contract and that a violation FAILS the query rather than
  * corrupting the fold (CusumStream.scala fail-fast). Round14 drilled
  * only the happy path; this delivers an out-of-order day in a LATER
  * micro-batch and asserts the query dies with the contract error —
  * not with plausible output.
  */
class Round15StreamSpec extends AnyFunSuite {
  import TestSession._

  private val day = 86400000000L

  test("CusumStream fails fast when a later batch delivers an earlier day") {
    import spark.implicits._
    val dir = TestSession.tempDir("graft_cusum_ooo")
    val (src, cp) = (s"$dir/src", s"$dir/cp")
    val enc = Encoders.product[CusumStream.CEv]
    val w1 = Seq(("k", 5L * day), ("k", 5L * day), ("k", 6L * day))
      .toDF("key", "tsMicros")
    w1.coalesce(1).write.mode("append").parquet(src)
    val stream = IngestPipeline.boundedFileStream(spark, src, w1.schema).as(enc)
    val q = CusumStream.detect(stream, Map("k" -> 1L)).writeStream
      .outputMode("update")
      .format("memory").queryName("cusum_ooo_t")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      // the happy prefix emitted (day 5 closed against the open day 6)
      assert(spark.table("cusum_ooo_t").count() >= 1)
      // batch 2: day 4 regresses behind the open day 6 → contract error
      Seq(("k", 4L * day)).toDF("key", "tsMicros")
        .coalesce(1).write.mode("append").parquet(src)
      val ex = intercept[StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination()
      }
      val causes = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).take(10).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
          c.getMessage.contains("out-of-order day")),
        s"expected the watermark-contract IllegalStateException, got: " +
          causes.map(_.getClass.getSimpleName).mkString(" <- "))
    } finally q.stop()
  }

  test("CusumStream absorbs an out-of-order day WITHIN one batch (sorted fold)") {
    import spark.implicits._
    // the contract is CROSS-batch only: within a batch the fold sorts
    val dir = TestSession.tempDir("graft_cusum_inb")
    val (src, cp) = (s"$dir/src", s"$dir/cp")
    val enc = Encoders.product[CusumStream.CEv]
    val w1 = Seq(("k", 6L * day), ("k", 5L * day), ("k", 5L * day),
        ("k", 7L * day))
      .toDF("key", "tsMicros")
    w1.coalesce(1).write.mode("append").parquet(src)
    val stream = IngestPipeline.boundedFileStream(spark, src, w1.schema).as(enc)
    val q = CusumStream.detect(stream, Map("k" -> 1L)).writeStream
      .outputMode("update")
      .format("memory").queryName("cusum_inb_t")
      .option("checkpointLocation", cp)
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cusum_inb_t")
        .orderBy(col("n_days").desc).collect()
      assert(rows.nonEmpty)
      val last = rows.head
      // days 5 (c=2) and 6 (c=1) closed: s = max(0, 0+2−1)=1, then
      // max(0, 1+1−1)=1; peak seats at day 5 (s=1, earliest tiebreak)
      assert(last.getLong(1) == 2L && last.getLong(2) == 1L &&
        last.getLong(3) == 1L && last.getLong(4) == 5L,
        s"got $last")
    } finally q.stop()
  }

  // --- q245: IvmSink marker machinery -----------------------------------------

  private def ivmState(path: String): Seq[(Long, Long, String)] =
    graft.streaming.IvmSink.readView(spark, path, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).toSeq

  test("IvmSink: signed batches fold; REPLAYED batches rewrite state unchanged") {
    import spark.implicits._
    val path = s"${TestSession.tempDir("graft_ivmsink")}/view"
    val sink = graft.streaming.IvmSink.signedView(
      path, "k", "s", "n_events", Seq("v" -> Cols.dec2(col("value")))) _
    val b0 = Seq((1L, 1, 10.0), (1L, 1, 20.0), (2L, 1, 5.0))
      .toDF("k", "s", "value")
    sink(b0, 0L)
    val v0 = ivmState(path)
    assert(v0 == Seq((1L, 2L, "30.00"), (2L, 1L, "5.00")))
    // at-least-once redelivery of the SAME batch id: signed addition is
    // not idempotent, so only the marker can absorb this
    sink(b0, 0L)
    assert(ivmState(path) == v0, "replayed batch 0 double-applied")
    // batch 1 retracts a u1 row and u2 entirely, inserts u3
    val b1 = Seq((1L, -1, 10.0), (2L, -1, 5.0), (3L, 1, 7.5))
      .toDF("k", "s", "value")
    sink(b1, 1L)
    val v1 = ivmState(path)
    assert(v1 == Seq((1L, 1L, "20.00"), (3L, 1L, "7.50")))
    sink(b1, 1L)
    assert(ivmState(path) == v1, "replayed batch 1 double-applied")
    // a stale replay AFTER newer commits is also absorbed
    sink(b0, 0L)
    assert(ivmState(path) == v1, "stale batch-0 replay double-applied")
  }

  test("IvmSink: retracting rows the view never held fails the batch") {
    import spark.implicits._
    val path = s"${TestSession.tempDir("graft_ivmsink_uf")}/view"
    val sink = graft.streaming.IvmSink.signedView(
      path, "k", "s", "n_events", Seq("v" -> Cols.dec2(col("value")))) _
    sink(Seq((1L, 1, 10.0)).toDF("k", "s", "value"), 0L)
    val ex = intercept[Exception] {
      sink(Seq((1L, -1, 10.0), (1L, -1, 10.0)).toDF("k", "s", "value"), 1L)
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .flatMap(c => Option(c.getMessage)).mkString("|")
    assert(msgs.contains("IVM underflow"), s"expected underflow error, got $msgs")
    // and the failed batch left the committed view intact
    assert(ivmState(path) == Seq((1L, 1L, "10.00")))
  }

  test("q245: the streamed view equals the batch IVM result") {
    val streamed = EtlQueries.streamedIvm(spark, sf)
    val batch = EtlQueries.ivmSigned(spark, sf)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }
}
