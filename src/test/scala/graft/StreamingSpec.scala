package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._
import graft.queries._

/** Streaming components driven end-to-end with real `availableNow` runs:
  * parquet landing dirs play the cloud-files source, checkpoints carry
  * state between runs (the incremental-batch contract of the reference's
  * Autoloader + DLT flows).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  private val eventCols = Seq("user_id", "event_id", "event_type", "value", "ts")
  private lazy val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
  private lazy val half1 = ev.filter(col("ts") <= Cols.utcTs(EtlQueries.SplitTs))
  private lazy val half2 = ev.filter(col("ts") > Cols.utcTs(EtlQueries.SplitTs))

  private def tmp(): String = TestSession.tempDir("graft_stream")

  test("ingest pipeline processes only newly arrived files per run") {
    val dir = tmp()
    val (src, sink, cp) = (s"$dir/src", s"$dir/sink", s"$dir/cp")
    half1.write.mode("append").parquet(src)
    def run(): Unit =
      IngestPipeline.runOnce(
        IngestPipeline.boundedFileStream(spark, src, ev.schema),
        identity, sink, cp).awaitTermination()
    run()
    assert(spark.read.parquet(sink).count() == half1.count())
    half2.write.mode("append").parquet(src)
    run()
    // second run appended exactly the new files — nothing reprocessed
    assert(spark.read.parquet(sink).count() == ev.count())
  }

  test("streaming dedup state persists across incremental runs") {
    val dir = tmp()
    val (src, sink, cp) = (s"$dir/src", s"$dir/sink", s"$dir/cp")
    half1.write.mode("append").parquet(src)
    def run(): Unit =
      IngestPipeline.runOnce(
        IngestPipeline.boundedFileStream(spark, src, ev.schema),
        s => StreamingDedup.exactKeys(s, Seq("user_id")), sink, cp).awaitTermination()
    run()
    half2.write.mode("append").parquet(src)
    run()
    val out = spark.read.parquet(sink)
    // a user first seen in run 1 must NOT be re-emitted by run 2
    assert(out.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    assert(out.count() == ev.select("user_id").distinct().count())
  }

  test("watermarked dedup drops redelivered events within the window") {
    val dir = tmp()
    val (src, sink, cp) = (s"$dir/src", s"$dir/sink", s"$dir/cp")
    // every event delivered twice (CDC redelivery)
    ev.unionAll(ev).write.mode("append").parquet(src)
    IngestPipeline.runOnce(
      IngestPipeline.boundedFileStream(spark, src, ev.schema),
      s => StreamingDedup.withinWatermark(s, "ts", "10 minutes", Seq("event_id")),
      sink, cp).awaitTermination()
    val out = spark.read.parquet(sink)
    assert(out.count() == ev.select("event_id").distinct().count())
  }

  test("tumbling window agg emits exactly the watermark-finalized windows") {
    val dir = tmp()
    val (src, sink, cp) = (s"$dir/src", s"$dir/sink", s"$dir/cp")
    ev.write.mode("append").parquet(src)
    IngestPipeline.runOnce(
      IngestPipeline.boundedFileStream(spark, src, ev.schema),
      s => WindowedAgg.tumbling(s, "ts", "1 day", "0 seconds", Seq("event_type"),
        Seq(count(lit(1)).as("n_events"), sum("value").as("sum_value"))),
      sink, cp).awaitTermination()
    val got = spark.read.parquet(sink)
    val expAll = ev.groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val expEmitted = expAll.filter(col("window_end") <= lit(maxTs))
    val gotSel = got.select(expEmitted.columns.map(col): _*)
    assert(gotSel.count() > 0)
    assert(gotSel.except(expAll).count() == 0, "emitted window disagrees with batch result")
    assert(expEmitted.except(gotSel).count() == 0, "finalized window missing from stream output")
  }

  test("scd1 foreachBatch sink converges to the batch latest-wins snapshot") {
    val dir = tmp()
    val (src, target, cp) = (s"$dir/src", s"$dir/scd1", s"$dir/cp")
    def run(): Unit =
      IngestPipeline.boundedFileStream(spark, src, ev.schema)
        .writeStream
        .foreachBatch(ScdSinks.scd1(target, Seq("user_id"), Seq("ts", "event_id")) _)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    half1.write.mode("append").parquet(src)
    run()
    half2.write.mode("append").parquet(src)
    run()
    val got = graft.sources.Snapshots.read(spark, target).select(eventCols.map(col): _*)
    val exp = EtlQueries.scd1Latest(spark, sf).select(eventCols.map(col): _*)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = tmp()
    val ev2 = Tables.events(spark, sf).select("user_id", "event_id", "event_type", "value", "ts")
    val purchases = ev2.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val views = ev2.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    purchases.write.parquet(s"$dir/p")
    views.write.parquet(s"$dir/v")
    val joined = StreamJoin.intervalJoin(
      IngestPipeline.boundedFileStream(spark, s"$dir/p", purchases.schema), "p_ts",
      IngestPipeline.boundedFileStream(spark, s"$dir/v", views.schema), "v_ts",
      keys = Seq("user_id"), delay = "0 seconds", lookback = "24 HOURS")
    joined.writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.read.parquet(s"$dir/out").select("p_id", "v_id")
    val exp = purchases.join(views,
        purchases("user_id") === views("user_id") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS") &&
          col("v_ts") <= col("p_ts"))
      .select("p_id", "v_id")
    assert(got.count() > 0)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }

  test("custom-state streaming sessionization matches batch sessions") {
    val dir = tmp()
    val src = s"$dir/src"
    ev.write.mode("append").parquet(src)
    import org.apache.spark.sql.Encoders
    val evEnc = Encoders.product[SessionizeStream.Ev]
    val stream = IngestPipeline.boundedFileStream(spark, src, ev.schema)
      .select(col("user_id").as("key"),
        unix_micros(col("ts")).as("tsMicros"),
        round(col("value") * 100).cast("long").as("cents"))
      .as(evEnc)
    // A 10-year lateness keeps the watermark behind every event, so no
    // open tail is flushed by the TTL: this test isolates the fold logic
    // (closed-session convergence); eviction has its own churn spec below.
    val q = SessionizeStream.sessionize(stream, AnalyticsQueries.SessionGapMicros,
        lateness = "3650 days")
      .writeStream.format("memory").queryName("graft_sessions")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("graft_sessions")
    // one batch closes every session except each key's open tail
    val batch = operators.Sessionize.sessions(
      Tables.events(spark, sf).select("user_id", "event_id", "ts", "value"),
      "user_id", "ts", Seq("event_id"), "value", AnalyticsQueries.SessionGapMicros)
    val lastSeq = batch.groupBy("user_id").agg(max("session_seq").as("last_seq"))
    val expected = batch.join(lastSeq, "user_id")
      .filter(col("session_seq") < col("last_seq"))
      .select(col("user_id").as("key"), col("session_seq"),
        unix_micros(col("session_start")).as("start_micros"),
        unix_micros(col("session_end")).as("end_micros"),
        col("n_events"),
        round(col("total_value") * 100).cast("long").as("total_cents"))
    val gotSel = got.select(expected.columns.map(col): _*)
    assert(gotSel.count() > 0)
    assert(gotSel.except(expected).count() == 0 && expected.except(gotSel).count() == 0)
  }

  test("streaming near-dup dedup accumulates a signature index across batches") {
    val dir = tmp()
    val (src, cp) = (s"$dir/src", s"$dir/cp")
    val (idxPath, corpusPath) = (s"$dir/index", s"$dir/corpus")
    val docs = Tables.documents(spark, sf)
    val mid = 250L
    val t = DedupQueries.JaccardThreshold
    def run(): Unit =
      IngestPipeline.boundedFileStream(spark, src, docs.schema)
        .writeStream
        .foreachBatch(StreamingNearDup.dedupSink(idxPath, corpusPath,
          "doc_id", "text", DedupQueries.JaccardN, t) _)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    docs.filter(col("doc_id") < mid).write.mode("append").parquet(src)
    run()
    docs.filter(col("doc_id") >= mid).write.mode("append").parquet(src)
    run()

    // Expected: replay the sink's documented drop rule with the batch
    // operators — drop d when a pair (p, d) exists with p in the same
    // batch, or p admitted to the index by an earlier batch.
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
      s"corpus mismatch: extra=${got -- admitted}, missing=${admitted.toSet -- got}")
    assert(got.size < allIds.length, "planted near-dups should have been dropped")
    // index holds exactly the admitted docs' signatures
    assert(graft.sources.Snapshots.read(spark, idxPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet == got)
  }

  test("streaming near-dup state stays ~128 B/doc and per-batch writes stay flat over 24 batches") {
    import spark.implicits._
    val dir = tmp()
    val (idxPath, corpusPath) = (s"$dir/index", s"$dir/corpus")
    val vocab = (0 until 5000).map(i => s"w$i")
    def batchDocs(b: Int, size: Int): org.apache.spark.sql.DataFrame = {
      val rows = (0 until size).map { j =>
        val id = b.toLong * size + j
        val rnd = new scala.util.Random(id)
        (id, (0 until 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      rows.toDF("doc_id", "text")
    }
    def storeBytes(path: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.startsWith("snap-") || f.getName.endsWith(".parquet")) f.length
        else f.length
      graft.sources.Snapshots.logSegments(spark, path).get.map { s =>
        walk(new java.io.File(s"$path/${s.dir}"))
      }.sum
    }
    val batches = 24
    val size = 300
    val stats = (0 until batches).map { b =>
      val t0 = System.nanoTime()
      StreamingNearDup.dedupSink(idxPath, corpusPath, "doc_id", "text",
        DedupQueries.JaccardN, DedupQueries.JaccardThreshold)(batchDocs(b, size), b.toLong)
      val secs = (System.nanoTime() - t0) / 1e9
      val seg = graft.sources.Snapshots.logSegments(spark, idxPath).get.last
      val segBytes = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles.map(walk).sum else f.length
        walk(new java.io.File(s"$idxPath/${seg.dir}"))
      }
      (secs, segBytes)
    }
    val docs = batches.toLong * size
    assert(graft.sources.Snapshots.totalRows(spark, idxPath) == docs,
      "unique random docs must all be admitted")
    // state footprint: signatures are 16 longs + id ≈ 136 B raw; parquet
    // encoding + footers must stay within ~4x of that, however many
    // batches accumulated
    val bytesPerDoc = storeBytes(idxPath).toDouble / docs
    assert(bytesPerDoc < 550.0, f"index grew to $bytesPerDoc%.0f B/doc")
    // the WRITE side is O(batch): the bytes a batch commits do not grow
    // with the index (deterministic — file sizes, not wall time)
    val segs = stats.map(_._2)
    assert(segs.last < segs(1) * 2,
      s"per-batch segment bytes grew with index size: first=${segs(1)} last=${segs.last}")
    // smoke guard on compute growth: late batches may pay the (tiny,
    // growing) index scan but nothing super-linear — generous bound so
    // box load can't flake the suite
    val early = stats.slice(2, 8).map(_._1).sum / 6
    val late = stats.slice(batches - 6, batches).map(_._1).sum / 6
    assert(late < early * 5, f"per-batch time grew: early=$early%.2fs late=$late%.2fs")
  }

  test("streaming funnel converges to the batch funnel across two runs") {
    import org.apache.spark.sql.Encoders
    val dir = tmp()
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val fEnc = Encoders.product[FunnelStream.FEv]
    def run(): Unit = {
      val stream = IngestPipeline.boundedFileStream(spark, src, ev.schema)
        .select(col("user_id").as("user"),
          unix_micros(col("ts")).as("tsMicros"),
          col("event_type").as("step"))
        .as(fEnc)
      // A practically-infinite TTL: this test isolates cross-run chain
      // carrying (batch convergence); eviction has its own churn spec.
      FunnelStream.track(stream, ttlMicros = Long.MaxValue / 2)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[FunnelStream.Funnel], id: Long) =>
          df.withColumn("batch", lit(id)).write.mode("append").parquet(out))
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    // three checkpointed runs over a 3-way time split: state must carry a
    // half-built chain across two run boundaries
    val thirds = Seq(
      ev.filter(col("ts") <= Cols.utcTs("2024-01-10 00:00:00")),
      ev.filter(col("ts") > Cols.utcTs("2024-01-10 00:00:00") &&
        col("ts") <= Cols.utcTs("2024-01-20 00:00:00")),
      ev.filter(col("ts") > Cols.utcTs("2024-01-20 00:00:00")))
    thirds.foreach { part =>
      part.write.mode("append").parquet(src)
      run()
    }
    // a user's final state is their emission from the LAST batch they
    // appeared in (update semantics: downstream sinks upsert by user)
    val emitted = spark.read.parquet(out)
    val last = emitted.groupBy("user").agg(max("batch").as("batch"))
    val got = emitted.join(last, Seq("user", "batch"))
      .select(col("user").as("user_id"), col("stage"),
        col("view_micros"), col("click_micros"), col("purchase_micros"))
    val exp = AnalyticsQueries.funnel(spark, sf)
      .select(col("user_id"), col("stage"),
        unix_micros(col("view_ts")).as("view_micros"),
        unix_micros(col("click_ts")).as("click_micros"),
        unix_micros(col("purchase_ts")).as("purchase_micros"))
    assert(got.count() == exp.count(), "one final row per user")
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0,
      "streamed funnel must equal the batch funnel")
  }

  test("funnel state stays flat under user churn (event-time TTL eviction)") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val dir = tmp()
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val fEnc = Encoders.product[FunnelStream.FEv]
    val cohorts = 6
    val cohortSize = 100
    val dayMicros = 24L * 3600 * 1000000L
    val baseMicros = 1700000000000000L
    // Each run lands a fresh cohort of users one event-time day later;
    // the 1-hour TTL means every prior cohort is expired by the time the
    // next lands. NoTimeout (the round-6 finding) would accrete all 600
    // users; the TTL must hold state near one cohort.
    def cohortEvents(c: Int) = (0 until cohortSize).flatMap { u =>
      val user = c.toLong * cohortSize + u
      val t0 = baseMicros + c * dayMicros + u * 1000000L
      Seq((user, t0, "view"), (user, t0 + 1000L, "click"),
        (user, t0 + 2000L, "purchase"))
    }.toDF("user", "tsMicros", "step")
    val stateRows = (0 until cohorts).map { c =>
      cohortEvents(c).write.mode("append").parquet(src)
      val stream = IngestPipeline
        .boundedFileStream(spark, src, fEnc.schema).as(fEnc)
      val q = FunnelStream.track(stream, ttlMicros = 3600L * 1000000L)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[FunnelStream.Funnel], id: Long) =>
          df.write.mode("append").parquet(out))
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).lastOption
        .getOrElse(fail("no state-operator progress recorded"))
    }
    // State must track the ACTIVE cohort, not the cumulative user count:
    // at most the current cohort plus one not-yet-evicted predecessor
    // (eviction for cohort c-1 fires on the first batch whose watermark
    // has passed its TTL — same run's no-data batch or the next run).
    assert(stateRows.last <= 2L * cohortSize,
      s"state accreted under churn: per-run state rows = ${stateRows.toList}")
    assert(stateRows.max <= 2L * cohortSize,
      s"state exceeded two cohorts mid-run: ${stateRows.toList}")
    // Eviction must not lose results: every user still reached stage 3.
    val byUser = spark.read.parquet(out).groupBy("user")
      .agg(max("stage").as("stage"))
    assert(byUser.count() == cohorts.toLong * cohortSize)
    assert(byUser.filter(col("stage") =!= 3).count() == 0)
  }

  test("funnel steady state: 24 batches of churning users, flat seconds and state") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val dir = tmp()
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val fEnc = Encoders.product[FunnelStream.FEv]
    val batches = 24
    val cohortSize = 1000 // 10x the churn spec's cohort
    val dayMicros = 24L * 3600 * 1000000L
    val baseMicros = 1700000000000000L
    def cohortEvents(b: Int) = (0 until cohortSize).flatMap { u =>
      val user = b.toLong * cohortSize + u
      val t0 = baseMicros + b * dayMicros + u * 1000L
      Seq((user, t0, "view"), (user, t0 + 100L, "click"),
        (user, t0 + 200L, "purchase"))
    }.toDF("user", "tsMicros", "step")
    val stats = (0 until batches).map { b =>
      cohortEvents(b).write.mode("append").parquet(src)
      val t0 = System.nanoTime()
      val stream = IngestPipeline
        .boundedFileStream(spark, src, fEnc.schema).as(fEnc)
      val q = FunnelStream.track(stream, ttlMicros = 3600L * 1000000L)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[FunnelStream.Funnel], id: Long) =>
          df.write.mode("append").parquet(out))
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val op = q.recentProgress.flatMap(_.stateOperators).lastOption
        .getOrElse(fail("no state-operator progress recorded"))
      (secs, op.numRowsTotal, op.memoryUsedBytes)
    }
    // State rows track the active cohort (current + at most one
    // not-yet-evicted predecessor) across the WHOLE run — 24 cohorts in,
    // the store holds 1/12th of the users ever seen.
    assert(stats.map(_._2).max <= 2L * cohortSize,
      s"state rows accreted: ${stats.map(_._2).toList}")
    // State memory is flat too: the last batch's store is no bigger than
    // a small multiple of the early steady state (lumpy allocator
    // reporting tolerated).
    val earlyBytes = stats.slice(2, 8).map(_._3).max
    assert(stats.last._3 <= earlyBytes * 3,
      s"state bytes grew: early=$earlyBytes last=${stats.last._3}")
    // Per-batch wall time does not trend with batch count (generous bound
    // so box load cannot flake the suite).
    val early = stats.slice(2, 8).map(_._1).sum / 6
    val late = stats.slice(batches - 6, batches).map(_._1).sum / 6
    assert(late < early * 5, f"per-batch time grew: early=$early%.2fs late=$late%.2fs")
    // And the results are right: every user completed the funnel.
    val byUser = spark.read.parquet(out).groupBy("user")
      .agg(max("stage").as("stage"))
    assert(byUser.count() == batches.toLong * cohortSize)
    assert(byUser.filter(col("stage") =!= 3).count() == 0)
  }

  test("sessionize state is evicted and silent keys' open tails are flushed") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val dir = tmp()
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val evEnc = Encoders.product[SessionizeStream.Ev]
    val cohorts = 5
    val cohortSize = 80
    val gap = 60L * 1000000L // 1 minute
    val dayMicros = 24L * 3600 * 1000000L
    val baseMicros = 1700000000000000L
    // Each key produces two sessions: a closed pair (two events 1s apart)
    // and an open tail (one event a gap+ later). The tail can only reach
    // the output via the event-time timeout — NoTimeout (round-6 finding)
    // would hold every tail in state forever.
    def cohortEvents(c: Int) = (0 until cohortSize).flatMap { k =>
      val key = c.toLong * cohortSize + k
      val t0 = baseMicros + c * dayMicros + k * 1000000L
      Seq((key, t0, 100L), (key, t0 + 1000000L, 50L),
        (key, t0 + gap + 10000000L, 25L))
    }.toDF("key", "tsMicros", "cents")
    val stateRows = (0 until cohorts).map { c =>
      cohortEvents(c).write.mode("append").parquet(src)
      val stream = IngestPipeline
        .boundedFileStream(spark, src, evEnc.schema).as(evEnc)
      val q = SessionizeStream.sessionize(stream, gap)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).lastOption
        .getOrElse(fail("no state-operator progress recorded"))
    }
    assert(stateRows.last <= 2L * cohortSize,
      s"state accreted under churn: per-run state rows = ${stateRows.toList}")
    val got = spark.read.parquet(out)
    // Every cohort the watermark has passed is COMPLETE in the output:
    // both the closed session and the flushed tail, with exact aggregates.
    val settled = got.filter(col("key") < (cohorts - 1).toLong * cohortSize)
    assert(settled.count() == (cohorts - 1).toLong * cohortSize * 2,
      "each settled key must emit its closed session AND its flushed tail")
    val firsts = settled.filter(col("session_seq") === 1)
    assert(firsts.filter(col("n_events") =!= 2 || col("total_cents") =!= 150).count() == 0)
    val tails = settled.filter(col("session_seq") === 2)
    assert(tails.filter(col("n_events") =!= 1 || col("total_cents") =!= 25).count() == 0)
  }

  test("sessionize: a never-expire gap must not flush open sessions early") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    // round-7 advice: evictAtMs = (last + gap)/1000 + 1 overflowed for a
    // huge "never expire" gap, the max() clamped the negative result to
    // watermark+1, and every open session was flushed on the next batch —
    // premature emission plus session_seq resetting for later events.
    val dir = tmp()
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val evEnc = Encoders.product[SessionizeStream.Ev]
    val keys = 10
    val gap = Long.MaxValue - 1L
    val dayMicros = 24L * 3600 * 1000000L
    val baseMicros = 1700000000000000L
    def runBatch(b: Int): Long = {
      (0 until keys).map(k =>
        (k.toLong, baseMicros + b * 2 * dayMicros + k * 1000L, 10L))
        .toDF("key", "tsMicros", "cents")
        .write.mode("append").parquet(src)
      val stream = IngestPipeline
        .boundedFileStream(spark, src, evEnc.schema).as(evEnc)
      val q = SessionizeStream.sessionize(stream, gap)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal).lastOption
        .getOrElse(0L)
    }
    val stateRows = (0 until 3).map(runBatch)
    // every key's session is still OPEN (one state row each, n growing)
    assert(stateRows.last == keys.toLong,
      s"state rows per run: ${stateRows.toList}")
    val emitted =
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    assert(emitted == 0L,
      s"$emitted sessions emitted despite an effectively-infinite gap")
  }

  test("sessionize steady state: 24 batches of churning keys, flat seconds and state") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    val dir = tmp()
    val (src, cp, out) = (s"$dir/src", s"$dir/cp", s"$dir/out")
    val evEnc = Encoders.product[SessionizeStream.Ev]
    val batches = 24
    val cohortSize = 800
    val gap = 60L * 1000000L
    val dayMicros = 24L * 3600 * 1000000L
    val baseMicros = 1700000000000000L
    def cohortEvents(b: Int) = (0 until cohortSize).flatMap { k =>
      val key = b.toLong * cohortSize + k
      val t0 = baseMicros + b * dayMicros + k * 1000L
      Seq((key, t0, 100L), (key, t0 + 1000L, 50L))
    }.toDF("key", "tsMicros", "cents")
    val stats = (0 until batches).map { b =>
      cohortEvents(b).write.mode("append").parquet(src)
      val t0 = System.nanoTime()
      val stream = IngestPipeline
        .boundedFileStream(spark, src, evEnc.schema).as(evEnc)
      val q = SessionizeStream.sessionize(stream, gap)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val op = q.recentProgress.flatMap(_.stateOperators).lastOption
        .getOrElse(fail("no state-operator progress recorded"))
      (secs, op.numRowsTotal)
    }
    assert(stats.map(_._2).max <= 2L * cohortSize,
      s"state accreted under churn: ${stats.map(_._2).toList}")
    val early = stats.slice(2, 8).map(_._1).sum / 6
    val late = stats.slice(batches - 6, batches).map(_._1).sum / 6
    assert(late < early * 5, f"per-batch time grew: early=$early%.2fs late=$late%.2fs")
    // once the watermark passes a cohort, its sessions are COMPLETE in
    // the output: one flushed session per key with both events in it
    val settled = spark.read.parquet(out)
      .filter(col("key") < (batches - 1).toLong * cohortSize)
    assert(settled.count() == (batches - 1).toLong * cohortSize)
    assert(settled.filter(col("n_events") =!= 2 || col("total_cents") =!= 150).count() == 0)
  }

  test("streaming histogram sketch: committed per-batch bins finalize to the batch quantiles") {
    val dir = tmp()
    val (src, cp, store) = (s"$dir/src", s"$dir/cp", s"$dir/bins")
    val (width, bins) = (5.0, 200)
    val qs = Seq(0.25, 0.5, 0.75, 0.99)
    // Each micro-batch commits ONLY its own (event_type, bin) partial
    // counts as an append-log segment — O(batch) state, no read of prior
    // segments. Additivity is the whole trick: finalizing over the SUM of
    // all segments must equal the single-pass batch sketch, whatever the
    // batch boundaries were.
    def run(): Unit =
      IngestPipeline.boundedFileStream(spark, src, ev.schema)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val part = df.groupBy(col("event_type"),
              graft.functions.Sketches.binOf(col("value"), width, bins).as("bin"))
            .agg(count(lit(1)).as("cnt"))
          graft.sources.Snapshots.appendCommit(part, store, token = id)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    half1.write.mode("append").parquet(src)
    run()
    half2.write.mode("append").parquet(src)
    run()
    val merged = graft.sources.Snapshots.read(spark, store)
      .groupBy("event_type", "bin").agg(sum("cnt").as("cnt"))
    val got = graft.functions.Sketches.quantilesFromBinCounts(
      merged, "event_type", "bin", "cnt", width, qs)
    val expected = graft.functions.Sketches.histogramQuantiles(
      ev.select("event_type", "value"), "event_type", "value", width, bins, qs)
    assert(got.count() == expected.count() && got.count() > 0)
    assert(got.except(expected).count() == 0 && expected.except(got).count() == 0,
      "merged streaming partials must reproduce the batch sketch exactly")
  }

  test("streaming CMS: committed per-batch counters finalize to the batch sketch") {
    val dir = tmp()
    val (src, cp, store) = (s"$dir/src", s"$dir/cp", s"$dir/cms")
    val (depth, width) = (SketchQueries.CmsDepth, SketchQueries.CmsWidth)
    def fp(c: org.apache.spark.sql.Column) = graft.functions.Sketches.keyHash(c)
    // Same contract as the histogram sketch: each micro-batch commits ONLY
    // its own depth×width partial cells (O(batch) work, O(d·w) rows);
    // additivity makes the summed segments equal the single-pass batch
    // sketch regardless of batch boundaries.
    def run(): Unit =
      IngestPipeline.boundedFileStream(spark, src, ev.schema)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val part = graft.functions.Sketches.cmsCounters(
            df, fp(col("user_id")), depth, width)
          graft.sources.Snapshots.appendCommit(part, store, token = id)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    half1.write.mode("append").parquet(src)
    run()
    half2.write.mode("append").parquet(src)
    run()
    val merged = graft.sources.Snapshots.read(spark, store)
      .groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
    val whole = graft.functions.Sketches.cmsCounters(
      ev, fp(col("user_id")), depth, width)
    assert(merged.except(whole).count() == 0 && whole.except(merged).count() == 0,
      "merged streaming partials must reproduce the batch CMS exactly")
    // the finalized estimates keep the one-sided guarantee for every user
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
    val est = graft.functions.Sketches.cmsEstimates(exact, fp(col("user_id")),
      merged, depth, width, "est")
    assert(est.count() > 0 && est.filter(col("est") < col("exact_n")).count() == 0)
  }

  test("streaming HLL: max-merged per-batch registers equal the batch sketch, re-delivery absorbed") {
    val dir = tmp()
    val (src, cp, store) = (s"$dir/src", s"$dir/cp", s"$dir/hll")
    val m = 64
    // Each micro-batch commits its own dense m-row register table; the
    // merge algebra is per-index MAX — unlike the additive sketches this
    // is IDEMPOTENT, so a re-delivered (duplicate) segment must leave the
    // merged registers unchanged, not double-count.
    def run(): Unit =
      IngestPipeline.boundedFileStream(spark, src, ev.schema)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val part = graft.functions.Sketches.hllRegisters(df, col("event_id"), m)
          graft.sources.Snapshots.appendCommit(part, store, token = id)
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    half1.write.mode("append").parquet(src)
    run()
    half2.write.mode("append").parquet(src)
    run()
    def mergedRegs() = graft.sources.Snapshots.read(spark, store)
      .groupBy("idx").agg(max("rho").as("rho"))
    val whole = graft.functions.Sketches.hllRegisters(ev, col("event_id"), m)
    assert(mergedRegs().except(whole).count() == 0 &&
      whole.except(mergedRegs()).count() == 0,
      "max-merged streaming registers must reproduce the batch sketch exactly")
    // re-deliver half2's registers under a fresh token: max absorbs them
    graft.sources.Snapshots.appendCommit(
      graft.functions.Sketches.hllRegisters(
        spark.read.schema(ev.schema).parquet(src), col("event_id"), m),
      store, token = 99L)
    assert(mergedRegs().except(whole).count() == 0 &&
      whole.except(mergedRegs()).count() == 0,
      "a re-delivered segment must not change the merged registers")
    // finalized estimate from the merged registers = batch-path estimate
    val gotEst = graft.functions.Sketches.hllEstimate(mergedRegs(), Nil, m, "est")
      .head().getDouble(0)
    val batchEst = graft.functions.Sketches.hllEstimate(whole, Nil, m, "est")
      .head().getDouble(0)
    assert(gotEst == batchEst)
  }

  test("scd2 foreachBatch sink converges to the batch-rebuilt history") {
    val dir = tmp()
    val (src, target, cp) = (s"$dir/src", s"$dir/scd2", s"$dir/cp")
    val outCols = Seq("user_id", "event_id", "event_type", "value",
      "effective_from", "effective_to", "is_current")
    def run(): Unit =
      IngestPipeline.boundedFileStream(spark, src, ev.schema)
        .writeStream
        .foreachBatch(ScdSinks.scd2(target, Seq("user_id"), "ts", Seq("event_id")) _)
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    half1.write.mode("append").parquet(src)
    run()
    half2.write.mode("append").parquet(src)
    run()
    val got = graft.sources.Snapshots.read(spark, target).select(outCols.map(col): _*)
    val exp = EtlQueries.scd2Build(spark, sf).select(outCols.map(col): _*)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }
}
