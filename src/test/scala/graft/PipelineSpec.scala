package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Medallion
import graft.pipeline.Medallion.TableSpec
import graft.sources.Snapshots
import graft.queries.{DedupQueries, EtlQueries}

/** The config-driven medallion runner: watermark-bounded extraction,
  * silver cleaning, gold SCD merges — across two incremental runs.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSession._

  private val eventCols = Seq("user_id", "event_id", "event_type", "value", "ts")

  test("two-run medallion pipeline converges and extracts each slice once") {
    val state = TestSession.tempDir("graft_medallion")
    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val specs = Seq(
      TableSpec("events_scd1", keys = Seq("user_id"), seqCol = "ts",
        tieCols = Seq("event_id"), scdType = 1),
      TableSpec("events_scd2", keys = Seq("user_id"), seqCol = "ts",
        tieCols = Seq("event_id"), scdType = 2))
    val source = (_: String) => ev

    val mid = new java.sql.Timestamp(
      java.time.LocalDateTime.parse(EtlQueries.SplitTs.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    val end = new java.sql.Timestamp(4102444800000L) // 2100-01-01: beyond all data

    val r1 = Medallion.run(spark, specs, source, state, mid)
    val half1Count = ev.filter(col("ts") <= lit(mid)).count()
    assert(r1.forall(_.extracted == half1Count), "first run extracts the full first slice")

    val r2 = Medallion.run(spark, specs, source, state, end)
    val half2Count = ev.filter(col("ts") > lit(mid)).count()
    assert(r2.forall(_.extracted == half2Count),
      "second run extracts ONLY rows beyond the stored watermark")

    // gold converges to the direct batch operators over the full changelog
    val scd1 = Snapshots.read(spark, s"$state/gold/events_scd1")
      .select(eventCols.map(col): _*)
    val expScd1 = EtlQueries.scd1Latest(spark, sf).select(eventCols.map(col): _*)
    assert(scd1.except(expScd1).count() == 0 && expScd1.except(scd1).count() == 0)

    val scd2Cols = Seq("user_id", "event_id", "event_type", "value",
      "effective_from", "effective_to", "is_current")
    val scd2 = Snapshots.read(spark, s"$state/gold/events_scd2")
      .select(scd2Cols.map(col): _*)
    val expScd2 = EtlQueries.scd2Build(spark, sf).select(scd2Cols.map(col): _*)
    assert(scd2.except(expScd2).count() == 0 && expScd2.except(scd2).count() == 0)

    // a third run with the same high watermark is a no-op extraction
    val r3 = Medallion.run(spark, specs, source, state, end)
    assert(r3.forall(_.extracted == 0), "same-watermark rerun extracts nothing")
    val scd1b = Snapshots.read(spark, s"$state/gold/events_scd1")
      .select(eventCols.map(col): _*)
    assert(scd1b.except(expScd1).count() == 0 && expScd1.except(scd1b).count() == 0)
  }

  test("DQ rules quarantine rows before they reach gold") {
    val state = TestSession.tempDir("graft_medallion_dq")
    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val specs = Seq(TableSpec("ev", keys = Seq("user_id"), seqCol = "ts",
      tieCols = Seq("event_id"), scdType = 1,
      rules = Seq(operators.Quality.Rule("value_positive", col("value") < 0))))
    val end = new java.sql.Timestamp(4102444800000L)
    Medallion.run(spark, specs, (_: String) => ev, state, end)
    val gold = Snapshots.read(spark, s"$state/gold/ev")
    assert(gold.filter(col("value") < 0).count() == 0)
  }

  test("snapshot commit is crash-safe: a reader always sees a complete snapshot") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_snap") + "/t"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), target)
    assert(Snapshots.read(spark, target).count() == 2)

    // Crash window 1: new snapshot staged, manifest NOT yet published —
    // readers still resolve the old, complete snapshot.
    val staged2 = Snapshots.writeSnapshot(Seq((1L, "a2")).toDF("id", "v"), target)
    assert(Snapshots.read(spark, target).count() == 2,
      "reader must not see an unpublished snapshot")

    // Crash window 2: published but not yet garbage-collected — readers
    // resolve the NEW snapshot even with stale files still present.
    Snapshots.publish(spark, target, staged2)
    assert(Snapshots.read(spark, target).count() == 1)
    assert(Snapshots.read(spark, target).filter(col("v") === "a2").count() == 1)

    // GC retains the immediately-previous snapshot (grace for in-flight
    // readers) and the store keeps working.
    Snapshots.gc(spark, target)
    assert(Snapshots.read(spark, target).count() == 1)
    // A crashed attempt's orphan is reaped by the next commit's gc, and
    // retention stays bounded at current + previous (dir names carry the
    // version they were staged for plus a writer salt).
    Snapshots.commit(Seq((9L, "z")).toDF("id", "v"), target)
    assert(Snapshots.read(spark, target).collect().map(_.getLong(0)).toSeq == Seq(9L))
    val snaps = new java.io.File(target).listFiles.map(_.getName)
      .filter(_.startsWith("snap-")).map(_.take(13)).sorted.toSeq
    assert(snaps == Seq("snap-00000002", "snap-00000003"),
      s"expected bounded current+previous retention, found $snaps")
  }

  test("incremental gold commit rewrites only touched buckets") {
    val state = TestSession.tempDir("graft_medallion_slice")
    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val spec = TableSpec("ev", keys = Seq("user_id"), seqCol = "ts",
      tieCols = Seq("event_id"), scdType = 2, buckets = 8)
    val mid = new java.sql.Timestamp(
      java.time.LocalDateTime.parse(EtlQueries.SplitTs.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    val end = new java.sql.Timestamp(4102444800000L)
    val goldPath = s"$state/gold/ev"

    // run 1: the full first half → initial build writes its buckets in v1
    Medallion.run(spark, Seq(spec), (_: String) => ev, state, mid)
    assert(Snapshots.currentVersion(spark, goldPath).contains(1L))

    // run 2's slice touches a SINGLE user → a single gold bucket
    val u = ev.filter(col("ts") > lit(mid)).select("user_id").head.get(0)
    val src2 = ev.filter(col("ts") <= lit(mid) || col("user_id") === lit(u))
    Medallion.run(spark, Seq(spec), (_: String) => src2, state, end)
    val touchedBucket = ev.filter(col("user_id") === lit(u)).limit(1)
      .select(Snapshots.bucketOf(Seq("user_id"), 8).as("b")).head.getInt(0)

    // file-listing diff: the v2 snapshot dir holds ONLY the touched bucket,
    // and the manifest carries every other bucket forward from v1
    val (nb, entries) = Snapshots.currentBuckets(spark, goldPath).get
    assert(nb == 8)
    val fresh = entries.filter(_.dir.startsWith("snap-00000002"))
    assert(fresh.map(_.bucket) == Seq(touchedBucket),
      s"expected only bucket $touchedBucket rewritten, got ${fresh.map(_.bucket)}")
    assert(entries.filterNot(_.dir.startsWith("snap-00000002"))
      .forall(_.dir.startsWith("snap-00000001")), "untouched buckets carried by reference")
    val v2Root = new java.io.File(goldPath).listFiles()
      .filter(_.getName.startsWith("snap-00000002")).head
    val v2Dirs = v2Root.listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(v2Dirs == Seq(s"${Snapshots.BucketCol}=$touchedBucket"),
      s"v2 snapshot should contain only the touched bucket dir, found $v2Dirs")

    // readers still see one consistent snapshot = the from-scratch rebuild
    val scd2Cols = Seq("user_id", "event_id", "event_type", "value",
      "effective_from", "effective_to", "is_current")
    val gold = Snapshots.read(spark, goldPath).select(scd2Cols.map(col): _*)
    val expected = operators.Scd
      .scd2FromChangelog(src2, Seq("user_id"), "ts", Seq("event_id"))
      .select(scd2Cols.map(col): _*)
    assert(gold.except(expected).count() == 0 && expected.except(gold).count() == 0)
    assert(Snapshots.totalRows(spark, goldPath) == expected.count(),
      "manifest row counts must equal the data")

    // run 3, same watermark: empty slice → NO new snapshot version at all
    Medallion.run(spark, Seq(spec), (_: String) => src2, state, end)
    assert(Snapshots.currentVersion(spark, goldPath).contains(2L),
      "an empty slice must not write or publish anything")
  }

  test("watermark store stays compacted: N runs leave one row per table") {
    val state = TestSession.tempDir("graft_medallion_wm")
    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val specs = Seq(TableSpec("a", keys = Seq("user_id"), seqCol = "ts",
      tieCols = Seq("event_id")), TableSpec("b", keys = Seq("user_id"),
      seqCol = "ts", tieCols = Seq("event_id")))
    (1 to 4).foreach { i =>
      val hi = new java.sql.Timestamp(1704067200000L + i * 86400000L)
      Medallion.run(spark, specs, (_: String) => ev, state, hi)
    }
    val wm = Snapshots.read(spark, s"$state/_watermarks")
    assert(wm.count() == 2, "one row per table after 4 runs")
    assert(wm.groupBy("table_name").count().filter(col("count") > 1).count() == 0)
  }

  test("fragmented bucketed store compacts back into one root") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_compact") + "/t"
    def commitOne(bucket: Int, ids: Seq[Long]): Unit = {
      val df = ids.toDF("id").withColumn(Snapshots.BucketCol, lit(bucket))
      val dir = Snapshots.writeBucketSnapshot(df, target)
      Snapshots.publishBuckets(spark, target, dir, numBuckets = 4,
        touched = Seq(bucket), rowsByBucket = Map(bucket -> ids.size.toLong))
      Snapshots.gc(spark, target)
    }
    commitOne(0, Seq(1L, 2L))
    commitOne(1, Seq(10L))
    commitOne(2, Seq(20L, 21L))
    assert(Snapshots.referencedRoots(spark, target) == 3)
    Snapshots.compactBuckets(spark, target)
    assert(Snapshots.referencedRoots(spark, target) == 1)
    assert(Snapshots.read(spark, target).orderBy("id").as[Long].collect().toSeq ==
      Seq(1L, 2L, 10L, 20L, 21L))
    assert(Snapshots.totalRows(spark, target) == 5)
    // carried counts survive compaction per bucket
    val entries = Snapshots.currentBuckets(spark, target).get._2
    assert(entries.map(e => e.bucket -> e.rows).toMap ==
      Map(0 -> 2L, 1 -> 1L, 2 -> 2L))
  }

  /** A 1000-key store bucketed `numBuckets` ways: one commit of every key,
    * then one rewriting the keys of each bucket in `later` (one root each).
    */
  private def fragmentedStore(target: String, numBuckets: Int, later: Seq[Set[Int]]): Unit = {
    import spark.implicits._
    val all = (0L until 1000L).map(k => (k, s"v$k")).toDF("id", "v")
    def commit(df: org.apache.spark.sql.DataFrame): Unit =
      Snapshots.mergeCommitBuckets(df, target, Seq("id"), numBuckets)(identity)(
        (base, u) => base.join(u.select("id"), Seq("id"), "left_anti").unionByName(u))
    commit(all)
    later.foreach { bs =>
      commit(all.filter(Snapshots.bucketOf(Seq("id"), numBuckets).isin(bs.toSeq: _*))
        .withColumn("v", concat(col("v"), lit("'"))))
    }
  }

  /** `body`'s result, the Spark jobs it starts and the tasks of the stages
    * they submit, told apart by job group on a listener. A marker job in
    * a second group, started after `body`, flushes the listener queue
    * (events of one queue arrive in order).
    */
  private def sparkWork[A](body: => A): (A, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id")))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties).foreach(jobs.add)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(marker), "the listener never saw the marker job")
      (result, jobs.toArray.count(_ == group), tasks.get)
    } finally sc.removeSparkListener(listener)
  }

  test("compaction puts every row back into its own bucket dir") {
    // a space and a key=value segment in the store path: neither may be
    // taken for a bucket
    val target = TestSession.tempDir("graft_compact_place") + "/x=1/gold store/t"
    fragmentedStore(target, 16, Seq(Set(1, 2, 3), Set(12, 13), Set(0, 15)))
    val (n, before) = Snapshots.currentBuckets(spark, target).get
    assert(n == 16 && before.size == 16, s"every bucket holds keys: $before")
    assert(Snapshots.referencedRoots(spark, target) == 4)
    val rowsBefore = Snapshots.read(spark, target).collect().toSet
    Snapshots.compactBuckets(spark, target)
    val after = Snapshots.currentBuckets(spark, target).get._2
    assert(Snapshots.referencedRoots(spark, target) == 1)
    assert(after.map(e => e.bucket -> e.rows) == before.map(e => e.bucket -> e.rows),
      "per-bucket manifest row counts carry over unchanged")
    after.foreach { e =>
      val dir = new org.apache.hadoop.fs.Path(target, e.dir).toString
      val got = spark.read.parquet(dir)
        .select(Snapshots.bucketOf(Seq("id"), 16).as("b")).groupBy("b").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == Map(e.bucket -> e.rows), s"bucket ${e.bucket} dir ${e.dir} holds $got")
    }
    assert(Snapshots.read(spark, target).collect().toSet == rowsBefore)
  }

  test("compaction job count does not grow with the bucket count") {
    def compactWork(numBuckets: Int): (Int, Int) = {
      val target = TestSession.tempDir(s"graft_compact_jobs$numBuckets") + "/t"
      fragmentedStore(target, numBuckets, Seq(Set(0, 1)))
      assert(Snapshots.referencedRoots(spark, target) == 2)
      val (_, jobs, tasks) = sparkWork(Snapshots.compactBuckets(spark, target))
      assert(Snapshots.referencedRoots(spark, target) == 1)
      (jobs, tasks)
    }
    val ((wideJobs, wideTasks), (narrowJobs, narrowTasks)) = (compactWork(32), compactWork(4))
    assert(wideJobs == narrowJobs && wideJobs <= 4,
      s"32 buckets took $wideJobs jobs, 4 buckets took $narrowJobs")
    // one scan packs the small bucket files into a few read tasks; a
    // read per bucket would start a task per bucket
    assert(wideTasks <= 2 * narrowTasks,
      s"32 buckets took $wideTasks tasks, 4 buckets took $narrowTasks")
  }

  test("snapshot reads take the schema Spark infers, without a Spark job") {
    import spark.implicits._
    val base = TestSession.tempDir("graft_read_schema")
    val df = (1L to 8L).map { i =>
      (i, if (i % 2 == 0) null else s"s$i", i * 0.5,
        if (i % 3 == 0) null else BigDecimal(i) / 4, Seq.fill(i.toInt % 3)(i.toInt))
    }.toDF("id", "s", "d", "m", "xs")
      .withColumn("ts", timestamp_seconds(col("id")))
      .withColumn("st", struct(col("id").as("k"), col("s").as("w")))
    Snapshots.commit(df, s"$base/whole")
    Snapshots.mergeCommitBuckets(df, s"$base/bucketed", Seq("id"), 4)(identity)(
      (b, u) => b.unionByName(u))
    Snapshots.appendCommit(df, s"$base/log", 1L)
    Snapshots.appendCommit(df.filter(col("id") === 2L), s"$base/log", 2L)
    val dirsOf = Map(
      "whole" -> new java.io.File(s"$base/whole").list().filter(_.startsWith("snap-")).toSeq,
      "bucketed" -> Snapshots.currentBuckets(spark, s"$base/bucketed").get._2.map(_.dir),
      "log" -> Snapshots.logSegments(spark, s"$base/log").get.map(_.dir))
    dirsOf.foreach { case (t, ds) =>
      assert(ds.size >= (if (t == "whole") 1 else 2), s"$t store dirs $ds")
      val (read, jobs, _) = sparkWork(Snapshots.read(spark, s"$base/$t"))
      assert(jobs == 0, s"reading the $t store started $jobs Spark jobs")
      val plain = spark.read.parquet(ds.map(d => s"$base/$t/$d"): _*)
      assert(read.schema == plain.schema, s"$t store schema")
      assert(read.count() == plain.count())
    }
  }

  test("random batch folds through bucketed commits equal one global latest-wins") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val target = TestSession.tempDir("graft_bucket_prop") + "/t"
    val batches = (0 until 6).map { b =>
      (0 until 400).map { i =>
        (rnd.nextInt(150).toLong, (b * 1000 + i).toLong, rnd.nextDouble())
      }.toDF("k", "seq", "v")
    }
    batches.foreach { b =>
      Snapshots.mergeCommitBuckets(b, target, Seq("k"), numBuckets = 8)(
        operators.Dedup.latestByKey(_, Seq("k"), Seq("seq")))(
        (base, u) => operators.Scd.scd1Merge(base, u, Seq("k"), Seq("seq")))
    }
    val got = Snapshots.read(spark, target)
    val global = operators.Dedup.latestByKey(
      batches.reduce(_ unionByName _), Seq("k"), Seq("seq"))
    assert(got.except(global).count() == 0 && global.except(got).count() == 0)
    assert(Snapshots.totalRows(spark, target) == global.count(),
      "manifest counts must track the data through every fold")
    // compaction preserves the converged state
    Snapshots.compactBuckets(spark, target)
    val after = Snapshots.read(spark, target)
    assert(after.except(global).count() == 0 && global.except(after).count() == 0)
    assert(Snapshots.referencedRoots(spark, target) == 1)
  }

  test("bucketed commit is crash-safe across both windows") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_bucket_crash") + "/t"
    def commitKv(rows: Seq[(Long, String)]): Unit =
      Snapshots.mergeCommitBuckets(rows.toDF("id", "v"), target, Seq("id"), 4)(
        identity)((base, u) => base.unionByName(u))
    commitKv(Seq((1L, "a"), (2L, "b"), (9L, "c")))
    val before = Snapshots.read(spark, target).collect().map(_.getLong(0)).toSet

    // Crash window 1: bucket snapshot staged, manifest NOT published —
    // readers still resolve the previous manifest's buckets.
    val staged = Seq((1L, "a2")).toDF("id", "v")
      .withColumn(Snapshots.BucketCol, Snapshots.bucketOf(Seq("id"), 4))
    val d2 = Snapshots.writeBucketSnapshot(staged, target)
    assert(Snapshots.read(spark, target).collect().map(_.getLong(0)).toSet == before,
      "unpublished bucket snapshot must be invisible")

    // Crash window 2: published, gc not yet run — readers already see the
    // new bucket layout, stale dirs are inert.
    val b1 = staged.select(Snapshots.bucketOf(Seq("id"), 4)).head.getInt(0)
    Snapshots.publishBuckets(spark, target, d2, 4, Seq(b1), Map(b1 -> 1L))
    val afterPublish = Snapshots.read(spark, target)
    assert(afterPublish.filter(col("v") === "a2").count() == 1)
    // the replaced bucket's other keys are gone with it (the staged write
    // is the bucket's full new content), every other bucket is untouched
    Snapshots.gc(spark, target)
    assert(Snapshots.read(spark, target).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == afterPublish.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("two interleaved writers to disjoint buckets both land (OCC)") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_occ_disjoint") + "/t"
    // base: two keys in two different buckets
    val k = (0L until 16L).map(i => (i, s"base$i"))
    Snapshots.mergeCommitBuckets(k.toDF("id", "v"), target, Seq("id"), 4)(
      identity)((b, u) => b.unionByName(u))
    val baseEntries = Snapshots.currentBuckets(spark, target).get._2

    // writer A merges against v1 and STAGES, but does not publish yet
    val bucketA = 0
    val aRows = Seq((100L, "fromA")).toDF("id", "v")
      .withColumn(Snapshots.BucketCol, lit(bucketA))
    val aDir = Snapshots.writeBucketSnapshot(aRows, target)

    // writer B commits bucket 1 FIRST (full commit incl. gc — the
    // interleaving that used to clobber A's staged work)
    val bucketB = 1
    val bRows = Seq((101L, "fromB")).toDF("id", "v")
      .withColumn(Snapshots.BucketCol, lit(bucketB))
    val bDir = Snapshots.writeBucketSnapshot(bRows, target)
    Snapshots.publishBuckets(spark, target, bDir, 4, Seq(bucketB),
      Map(bucketB -> 1L),
      expectedTouched = Some(baseEntries.filter(_.bucket == bucketB)))
    Snapshots.gc(spark, target)

    // B's gc must NOT reap A's still-unreferenced staged dir: its name
    // embeds the version it was staged for (>= the retained window), so
    // version-aware gc leaves in-flight staging untouched
    assert(new java.io.File(s"$target/$aDir").isDirectory,
      "a concurrent commit's gc must not reap another writer's fresh staging dir")

    // A now publishes: loses the v2 race, re-derives carried entries from
    // B's manifest, lands at v3 — nothing of B's commit is lost
    Snapshots.publishBuckets(spark, target, aDir, 4, Seq(bucketA),
      Map(bucketA -> 1L),
      expectedTouched = Some(baseEntries.filter(_.bucket == bucketA)))
    assert(Snapshots.currentVersion(spark, target).contains(3L))
    val entries = Snapshots.currentBuckets(spark, target).get._2
    assert(entries.find(_.bucket == bucketA).exists(_.dir.startsWith(aDir)))
    assert(entries.find(_.bucket == bucketB).exists(_.dir.startsWith(bDir)))
    val got = Snapshots.read(spark, target).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(100L) == "fromA" && got(101L) == "fromB",
      "both writers' buckets must survive the interleaving")
  }

  test("concurrent commits to the SAME bucket re-merge instead of losing an update") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_occ_conflict") + "/t"
    Snapshots.mergeCommitBuckets(Seq((1L, "base")).toDF("id", "v"), target,
      Seq("id"), 4)(identity)((b, u) => b.unionByName(u))
    val base = Snapshots.currentBuckets(spark, target).get._2
    val b1 = Seq((1L, "x")).toDF("id", "v")
      .select(Snapshots.bucketOf(Seq("id"), 4)).head.getInt(0)

    // A stages a merge computed against v1's bucket content...
    val aDir = Snapshots.writeBucketSnapshot(
      Seq((1L, "fromA")).toDF("id", "v")
        .withColumn(Snapshots.BucketCol, lit(b1)), target)
    // ...then B rewrites the SAME bucket and publishes first
    Snapshots.mergeCommitBuckets(Seq((1L, "fromB")).toDF("id", "v"), target,
      Seq("id"), 4)(identity)((b, u) => b.unionByName(u))
    // A's base moved: publish must refuse (the caller re-merges)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.publishBuckets(spark, target, aDir, 4, Seq(b1),
        Map(b1 -> 1L), expectedTouched = Some(base.filter(_.bucket == b1)))
    }

    // the high-level path retries internally: two racing threads, same
    // bucket — both updates land, none lost
    val t2 = TestSession.tempDir("graft_occ_threads") + "/t"
    Snapshots.mergeCommitBuckets(Seq((1L, "seed")).toDF("id", "v"), t2,
      Seq("id"), 2)(identity)((b, u) => b.unionByName(u))
    val writers = Seq("w1", "w2").map { tag =>
      new Thread(() => {
        Snapshots.mergeCommitBuckets(Seq((1L, tag)).toDF("id", "v"), t2,
          Seq("id"), 2)(identity)((b, u) => b.unionByName(u))
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    val vals = Snapshots.read(spark, t2).select("v").as[String].collect().toSet
    assert(vals == Set("seed", "w1", "w2"),
      s"every concurrent writer's rows must survive, got $vals")
    assert(Snapshots.totalRows(spark, t2) == 3)
  }

  test("a wide touched set takes the footer-count path and stays exact") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_footer") + "/t"
    val n = 500
    val df = (0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val buckets = 128
    val total = Snapshots.mergeCommitBuckets(df, target, Seq("id"), buckets)(
      identity)((b, u) => b.unionByName(u))
    assert(total == n, "footer-derived manifest counts must equal the data")
    assert(Snapshots.read(spark, target).count() == n)
    // per-bucket manifest rows equal the true per-bucket distribution
    val entries = Snapshots.currentBuckets(spark, target).get._2
    val trueDist = df.groupBy(Snapshots.bucketOf(Seq("id"), buckets).as("b"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(entries.map(e => e.bucket -> e.rows).toMap == trueDist)
  }

  test("a store merged down to zero rows reads with a clear guard") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_empty_store") + "/t"
    Snapshots.mergeCommitBuckets(Seq((1L, "a")).toDF("id", "v"), target,
      Seq("id"), 4)(identity)((b, u) => b.unionByName(u))
    // the next merge deletes every row of the only occupied bucket
    Snapshots.mergeCommitBuckets(Seq((1L, "del")).toDF("id", "v"), target,
      Seq("id"), 4)(identity)((b, _) => b.filter(lit(false)))
    assert(Snapshots.totalRows(spark, target) == 0)
    val e = intercept[IllegalArgumentException] {
      Snapshots.read(spark, target)
    }
    assert(e.getMessage.contains("holds no rows"),
      s"expected the empty-store guard, got: ${e.getMessage}")
  }

  test("gc retains a configurable window of previous manifests") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_gc_retain") + "/t"
    (1 to 3).foreach { i =>
      val dir = Snapshots.writeSnapshot(Seq((i.toLong, "x")).toDF("id", "v"), target)
      Snapshots.publish(spark, target, dir)
    }
    def liveSnaps = new java.io.File(target).listFiles
      .map(_.getName).filter(_.startsWith("snap-")).toSeq
    Snapshots.gc(spark, target, retainManifests = 2)
    assert(liveSnaps.size == 3, "retain=2 keeps current + two previous roots")
    Snapshots.gc(spark, target, retainManifests = 0)
    assert(liveSnaps.size == 1, "retain=0 keeps only the current root")
  }

  test("log store survives empty segments at any position") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_log_empty") + "/t"
    val empty = Seq((0L, "x")).toDF("id", "v").filter("id < 0")
    // empty FIRST segment records its token; reads are guarded by totalRows
    assert(Snapshots.appendCommit(empty, target, 0L))
    assert(Snapshots.totalRows(spark, target) == 0)
    assert(!Snapshots.appendCommit(empty, target, 0L), "same token replays as no-op")
    assert(Snapshots.appendCommit(Seq((1L, "a")).toDF("id", "v"), target, 1L))
    assert(Snapshots.appendCommit(empty, target, 2L))
    assert(Snapshots.read(spark, target).count() == 1)
    Snapshots.compactLog(spark, target)
    assert(Snapshots.read(spark, target).count() == 1)
    assert(Snapshots.totalRows(spark, target) == 1)
    // the compacted token is the LAST committed one, so replays stay no-ops
    assert(!Snapshots.appendCommit(empty, target, 2L))
  }

  test("8-run incremental soak converges, compacting gold in-pipeline") {
    val state = TestSession.tempDir("graft_medallion_soak")
    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val spec = TableSpec("ev", keys = Seq("user_id"), seqCol = "ts",
      tieCols = Seq("event_id"), scdType = 2, buckets = 4)
    // slice the changelog into 8 daily windows; compaction threshold low
    // enough to trigger mid-soak (each run adds one snapshot root)
    val bounds = (1 to 8).map(i =>
      new java.sql.Timestamp(1704067200000L + i * 4L * 86400000L))
    bounds.foreach(hi =>
      Medallion.run(spark, Seq(spec), (_: String) => ev, state, hi,
        compactAfterRoots = 3))
    val goldPath = s"$state/gold/ev"
    assert(Snapshots.referencedRoots(spark, goldPath) <= 4,
      "in-pipeline compaction must bound store fragmentation")
    val scd2Cols = Seq("user_id", "event_id", "event_type", "value",
      "effective_from", "effective_to", "is_current")
    val gold = Snapshots.read(spark, goldPath).select(scd2Cols.map(col): _*)
    val expected = operators.Scd.scd2FromChangelog(
      ev.filter(col("ts") <= lit(bounds.last)), Seq("user_id"), "ts", Seq("event_id"))
      .select(scd2Cols.map(col): _*)
    assert(gold.except(expected).count() == 0 && expected.except(gold).count() == 0,
      "8 incremental folds must equal the from-scratch rebuild")
    assert(Snapshots.totalRows(spark, goldPath) == expected.count())
  }

  test("a medallion run triggers no counting actions beyond its writes") {
    val state = TestSession.tempDir("graft_medallion_jobs")
    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val specs = Seq(TableSpec("ev", keys = Seq("user_id"), seqCol = "ts",
      tieCols = Seq("event_id"), scdType = 1))
    val end = new java.sql.Timestamp(4102444800000L)
    Medallion.run(spark, specs, (_: String) => ev, state, end) // warm: gold exists

    def maxJobId: Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val before = maxJobId
    val r = Medallion.run(spark, specs, (_: String) => ev, state, end)
    val jobs = maxJobId - before
    // Stats come from Observation metrics on the single gold write; the
    // only other jobs are tiny state ops (watermark read/append, gold
    // snapshot read, parquet footer reads) — none scale with the data.
    // Before this bound, three extra full count() scans ran per table.
    assert(jobs <= 8, s"medallion run fired $jobs jobs")
    assert(r.head.extracted == 0 && r.head.goldRows > 0,
      "observation stats should still be populated")
  }

  test("end-to-end: landed files → bronze ingest → quarantine split → SCD2 gold") {
    // The full reference pipeline shape in one walk: files arrive in a
    // landing zone in two waves (Autoloader drops), a bounded file stream
    // lifts each wave into bronze exactly once, the silver hop splits off
    // a quarantine table with failure reasons, and the gold SCD2 merge
    // folds only the watermark slice through bucketed commits.
    import graft.operators.Quality
    import graft.streaming.IngestPipeline

    val root = TestSession.tempDir("graft_e2e")
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    val state = s"$root/state"
    val quarantine = s"$root/quarantine"

    val ev = Tables.events(spark, sf).select(eventCols.map(col): _*)
    val mid = new java.sql.Timestamp(
      java.time.LocalDateTime.parse(EtlQueries.SplitTs.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    val end = new java.sql.Timestamp(4102444800000L)
    val rules = Seq(Quality.Rule("no_error_events", col("event_type") === "error"))
    val spec = TableSpec("events", keys = Seq("user_id"), seqCol = "ts",
      tieCols = Seq("event_id"), scdType = 2, buckets = 4)

    def ingestOnce(): Unit =
      IngestPipeline.runOnce(
        IngestPipeline.boundedFileStream(spark, landing, ev.schema),
        identity, bronze, s"$root/_ckpt").awaitTermination()

    // One wave: silver splits the bronze slice, quarantine accumulates
    // with failure reasons, clean rows proceed to the gold merge.
    def silverGold(low: Option[java.sql.Timestamp],
                   hi: java.sql.Timestamp): Unit = {
      val slice = spark.read.parquet(bronze).select(eventCols.map(col): _*)
        .filter(col("ts") <= lit(hi))
      val bounded = low.fold(slice)(wm => slice.filter(col("ts") > lit(wm)))
      val (clean, bad) = Quality.split(bounded, rules)
      bad.write.mode("append").parquet(quarantine)
      Medallion.run(spark, Seq(spec), (_: String) => clean, state, hi)
    }

    ev.filter(col("ts") <= lit(mid)).write.mode("append").parquet(landing)
    ingestOnce()
    silverGold(None, mid)

    ev.filter(col("ts") > lit(mid)).write.mode("append").parquet(landing)
    ingestOnce()
    silverGold(Some(mid), end)

    // Bronze holds every landed row exactly once: the second ingest pass
    // processed only the wave-2 files (checkpointed file tracking).
    assert(spark.read.parquet(bronze).count() == ev.count(),
      "each landed file must reach bronze exactly once")

    // Quarantine holds exactly the violating rows, each carrying the
    // failing rule's name; none of them reached gold.
    val quar = spark.read.parquet(quarantine)
    assert(quar.count() == ev.filter(col("event_type") === "error").count())
    assert(quar.filter(!array_contains(col("failed_rules"), "no_error_events"))
      .count() == 0, "quarantined rows must name the failed rule")
    val goldPath = s"$state/gold/events"
    val scd2Cols = Seq("user_id", "event_id", "event_type", "value",
      "effective_from", "effective_to", "is_current")
    val gold = Snapshots.read(spark, goldPath).select(scd2Cols.map(col): _*)
    assert(gold.filter(col("event_type") === "error").count() == 0)

    // Gold converges to the from-scratch SCD2 build over the clean changelog.
    val expected = operators.Scd.scd2FromChangelog(
      ev.filter(col("event_type") =!= "error"), Seq("user_id"), "ts",
      Seq("event_id")).select(scd2Cols.map(col): _*)
    assert(gold.except(expected).count() == 0 && expected.except(gold).count() == 0,
      "two incremental waves must equal the from-scratch clean rebuild")
    assert(Snapshots.totalRows(spark, goldPath) == expected.count())
  }

  test("one committed dedup decision table feeds the keep/drop and health reports") {
    val dir = TestSession.tempDir("graft_decision")
    val target = s"$dir/decision"
    // The pipeline run: compute the component table ONCE, commit it.
    val table = operators.NearDup.componentTable(
      Tables.documents(spark, sf), "doc_id", "text",
      DedupQueries.JaccardN, DedupQueries.JaccardThreshold, Queries.docQuality,
      carryCols = Seq("source"))
    Snapshots.commit(table, target)
    // The reports: pure consumers of the COMMITTED table — no LSH, no
    // component rounds, just a projection and a rollup over the snapshot.
    val committed = Snapshots.read(spark, target)
    val keep = DedupQueries.clusterCanonicalFrom(committed)
    val health = DedupQueries.dupRateBySourceFrom(committed)
    // Both equal their oracle-gated registry forms (which share the same
    // in-session decision table via dedupDecisionTable's memo).
    val expKeep = SparkEntry.queries("q65_cluster_canonical")(spark, sf)
    assert(keep.except(expKeep).count() == 0 && expKeep.except(keep).count() == 0,
      "keep/drop report from the committed table must equal q65")
    val expHealth = SparkEntry.queries("q80_dup_rate_by_source")(spark, sf)
    assert(health.except(expHealth).count() == 0 && expHealth.except(health).count() == 0,
      "health report from the committed table must equal q80")
    // The committed plan really is consumer-shaped: scans the snapshot's
    // parquet, not the documents table.
    val plan = keep.queryExecution.executedPlan.toString
    assert(!plan.contains("documents"), s"report recomputed from raw docs: $plan")
  }

  test("partitioned writes prune whole directories at read time") {
    import graft.sources.Sources
    val dir = TestSession.tempDir("graft_part")
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    Sources.writePartitioned(ev, s"$dir/events", Seq("event_type"))
    val read = spark.read.parquet(s"$dir/events")
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"partition filter did not reach the scan: $plan")
    // the pruned read returns exactly the partition's rows, and only the
    // matching directory exists under the matching partition value
    val expected = ev.filter(
      org.apache.spark.sql.functions.col("event_type") === "click").count()
    assert(read.count() == expected)
    val dirs = new java.io.File(s"$dir/events").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("event_type=")) == 5, dirs.mkString(","))
    // round-trip: partition column is restored from the directory layout
    assert(read.columns.contains("event_type"))
  }

  test("OCC storm: writers over overlapping buckets with gc racing lose nothing") {
    import spark.implicits._
    val numWriters = 4
    val commitsPer = 2
    (1 to 8).foreach { it =>
      val target = TestSession.tempDir("graft_occ_storm") + "/t"
      Snapshots.mergeCommitBuckets(Seq((0L, "seed")).toDF("id", "v"), target,
        Seq("id"), 4)(identity)((b, u) => b.unionByName(u))
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val stopGc = new java.util.concurrent.atomic.AtomicBoolean(false)
      // a maintenance gc spinning through the whole storm: the protocol
      // must survive gc racing stage/publish windows, not just other commits
      val gcThread = new Thread(() => {
        while (!stopGc.get()) {
          try Snapshots.gc(spark, target)
          catch { case t: Throwable => failures.add(t) }
        }
      })
      // even/odd writers share key sets, so bucket ownership overlaps both
      // ways: disjoint against half the fleet, conflicting against the rest
      val writers = (0 until numWriters).map { w =>
        new Thread(() => {
          try (0 until commitsPer).foreach { c =>
            val rows = (0 until 4).map(i => ((i * 2 + w % 2).toLong, s"w$w-c$c-$i"))
            Snapshots.mergeCommitBuckets(rows.toDF("id", "v"), target,
              Seq("id"), 4)(identity)((b, u) => b.unionByName(u))
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      gcThread.start(); writers.foreach(_.start()); writers.foreach(_.join())
      stopGc.set(true); gcThread.join()
      // bounded retries: no writer may exhaust MaxCommitRetries (losses are
      // capped by the other writers' commit count, which is below the bound)
      assert(failures.isEmpty, s"iteration $it writer/gc failure: ${failures.peek()}")
      val got = Snapshots.read(spark, target)
        .select("id", "v").as[(Long, String)].collect().toSet
      val want = Set(0L -> "seed") ++ (for {
        w <- 0 until numWriters; c <- 0 until commitsPer; i <- 0 until 4
      } yield (i * 2 + w % 2).toLong -> s"w$w-c$c-$i")
      assert(got == want, s"iteration $it lost updates: ${want -- got}")
      assert(Snapshots.totalRows(spark, target) == want.size.toLong)
    }
  }

  test("OCC missing-file classifier: trailing-slash target still matches in-store paths") {
    // round-7 advice: prefixes built as s"$b/" from a target handed in as
    // "store/" produced "store//", matching nothing — a genuinely
    // retryable gc race would then propagate as a hard failure.
    val store = "/tmp/graft_clsfr_store"
    val gcRace = new RuntimeException("boom",
      new RuntimeException(s"File file:$store/buckets/b3/part-0001.parquet does not exist"))
    assert(Snapshots.fileNotFoundRooted(gcRace, store))
    assert(Snapshots.fileNotFoundRooted(gcRace, s"$store/"),
      "a trailing slash in the configured target must not defeat the prefix match")
    val elsewhere = new RuntimeException(
      "File file:/tmp/graft_elsewhere/no_such_table does not exist")
    assert(!Snapshots.fileNotFoundRooted(elsewhere, s"$store/"))
    assert(!Snapshots.fileNotFoundRooted(
      new RuntimeException(s"File file:$store/buckets/b1/x.parquet is corrupt"), store),
      "a non-missing-file error under the store must not classify as retryable")
  }

  test("a missing table OUTSIDE the store fails the commit immediately, unretried") {
    import spark.implicits._
    val base = TestSession.tempDir("graft_fnf")
    val target = s"$base/t"
    Snapshots.mergeCommitBuckets(Seq((0L, "seed")).toDF("id", "v"), target,
      Seq("id"), 4)(identity)((b, u) => b.unionByName(u))
    // A merge closure referencing a mistyped side-table path: the missing
    // file is NOT under the store, so no amount of re-merging can cure it.
    // The old classifier called any "does not exist" an OCC conflict and
    // re-ran the merge MaxCommitRetries times before dying.
    val missing = s"$base/no_such_table"
    val merges = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[Exception] {
      Snapshots.mergeCommitBuckets(Seq((0L, "upd")).toDF("id", "v"), target,
        Seq("id"), 4)(identity) { (b, u) =>
        merges.incrementAndGet()
        val side = spark.read.schema("id LONG, v STRING").parquet(missing)
        b.unionByName(u).unionByName(side)
      }
    }
    assert(merges.get() == 1,
      s"a caller bug was retried ${merges.get()} times as an OCC conflict")
    // the surfaced error names the actual missing path — no publish-race story
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(16).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("no_such_table")), msgs.mkString(" | "))
    assert(!e.isInstanceOf[java.util.ConcurrentModificationException], e.toString)
    // and the store is unharmed: the seed commit still reads back intact
    assert(Snapshots.read(spark, target).count() == 1)
  }

  test("time travel: retained versions read their historical snapshots") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_tt") + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), target, retainManifests = 2)
    Snapshots.commit(Seq((1L, "b"), (2L, "c")).toDF("id", "v"), target,
      retainManifests = 2)
    Snapshots.commit(Seq((3L, "d")).toDF("id", "v"), target, retainManifests = 2)
    val vs = Snapshots.versions(spark, target)
    assert(vs.size == 3, s"three commits, three retained versions: $vs")
    // each historical version reads ITS snapshot, not the current one
    assert(Snapshots.readAt(spark, target, vs(0))
      .as[(Long, String)].collect().toSet == Set(1L -> "a"))
    assert(Snapshots.readAt(spark, target, vs(1))
      .as[(Long, String)].collect().toSet == Set(1L -> "b", 2L -> "c"))
    assert(Snapshots.readAt(spark, target, vs(2))
      .as[(Long, String)].collect().toSet == Set(3L -> "d"))
    // the default retention ages the oldest out; a gc'd version refuses
    // with the retained window (its data dirs may already be deleted)
    Snapshots.commit(Seq((4L, "e")).toDF("id", "v"), target)
    val e = intercept[IllegalArgumentException] {
      Snapshots.readAt(spark, target, vs(0))
    }
    assert(e.getMessage.contains("retained versions"))
    assert(Snapshots.readAt(spark, target,
      Snapshots.versions(spark, target).max)
      .as[(Long, String)].collect().toSet == Set(4L -> "e"))
  }

  test("manifest-claim contract matrix: link local, rename allowlist, refuse object stores") {
    assert(Snapshots.claimStrategy("file") == Snapshots.HardLinkClaim)
    assert(Snapshots.claimStrategy("hdfs") == Snapshots.RenameIfAbsentClaim)
    assert(Snapshots.claimStrategy("abfs") == Snapshots.RenameIfAbsentClaim)
    // an object store with copy-semantics rename is refused, and the
    // error names the fix
    val e = intercept[IllegalStateException] { Snapshots.claimStrategy("s3a") }
    assert(e.getMessage.contains("registerClaim") && e.getMessage.contains("s3a"))
    // a registered conditional-put primitive lifts the refusal
    Snapshots.registerClaim("s3a", (_, _, _) => false)
    try assert(Snapshots.claimStrategy("s3a").isInstanceOf[Snapshots.CustomClaim])
    finally Snapshots.unregisterClaim("s3a")
    intercept[IllegalStateException] { Snapshots.claimStrategy("s3a") }
  }

  test("overwriting rename loses a commit despite read-back — why refusal is right") {
    // rename(2) on the local filesystem silently replaces an existing
    // file — the same copy-over semantics S3A emulates — so the factored
    // rename-if-absent claim can be driven against the RAW local fs to
    // exhibit the exact double-win the AtomicRenameSchemes allowlist
    // exists to prevent.
    val dir = TestSession.tempDir("graft_claim")
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration).getRawFileSystem
    def stage(name: String, content: String) = {
      val p = new org.apache.hadoop.fs.Path(dir, name)
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      p
    }
    val dst = new org.apache.hadoop.fs.Path(dir, "00000001")
    def readBack(): String = {
      val in = fs.open(dst)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val aTmp = stage(".tmp-a", "content-A")
    val bTmp = stage(".tmp-b", "content-B")
    // Interleaving: both writers pass the exists probe while v1 is
    // unclaimed (the claim is three non-atomic steps on such stores).
    assert(!fs.exists(dst) && !fs.exists(dst))
    // A completes its whole claim — rename, read-back — and believes it won.
    assert(fs.rename(aTmp, dst) && readBack() == "content-A")
    // B's rename then REPLACES A's manifest (no failure!), and B's
    // read-back sees B's own content: B believes it won too.
    assert(fs.rename(bTmp, dst),
      "fixture assumption: raw local rename overwrites like an object store")
    assert(readBack() == "content-B")
    // Two winners for one version = A's commit silently lost. This is the
    // contract violation no read-back ordering can close, hence
    // claimStrategy refuses schemes with overwriting rename outright.
  }

  test("append-log contention: a won appendCommit is never erased by a racer") {
    import spark.implicits._
    (1 to 6).foreach { it =>
      val target = TestSession.tempDir("graft_log_storm") + "/t"
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val threads = (0 until 6).map { w =>
        new Thread(() => {
          try {
            if (Snapshots.appendCommit(
                Seq((w.toLong, s"w$w")).toDF("id", "v"), target, token = w.toLong))
              landed.add(w.toLong)
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(failures.isEmpty, s"iteration $it append failure: ${failures.peek()}")
      // tokens race, so a later token can legally reject an earlier one as a
      // replay — but every append that RETURNED true must survive: losing a
      // won segment to a concurrent publish is the lost-update defect
      val got = Snapshots.read(spark, target).select("id").as[Long].collect().toSet
      scala.jdk.CollectionConverters.CollectionHasAsScala(landed).asScala.foreach(w =>
        assert(got.contains(w), s"iteration $it: won append $w vanished from the log"))
      assert(Snapshots.totalRows(spark, target) == got.size.toLong)
      val toks = Snapshots.logSegments(spark, target).get.map(_.token)
      assert(toks == toks.sorted && toks.distinct == toks,
        s"iteration $it: log tokens must be strictly increasing, got $toks")
    }
  }

  // --- repair: a staged dir reaped under a won CAS, one drill per flavor ---------

  private def snapRoots(target: String): Set[String] =
    Option(new java.io.File(target).listFiles).toSeq.flatten
      .map(_.getName).filter(_.startsWith("snap-")).toSet

  /** Runs `body` under a `file` claim that wins each version through
    * `link(2)` and, on its FIRST win for a manifest of `target`, deletes
    * every snapshot root not in `keep`: the gc reap that lands between a
    * publish's staged-dir check and its version CAS, made deterministic.
    * Returns the body's result and the reaped root names.
    */
  private def reapOnFirstWin[A](target: String, keep: Set[String])(body: => A): (A, Set[String]) = {
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    val reaped = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val root = new java.io.File(target).getAbsolutePath + "/"
    Snapshots.registerClaim("file", (fs, tmp, dst) => {
      val won =
        try {
          Files.createLink(java.nio.file.Paths.get(dst.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      if (won && dst.toUri.getPath.startsWith(root) && armed.getAndSet(false))
        snapRoots(target).filterNot(keep).foreach { n =>
          reaped.add(n)
          fs.delete(new org.apache.hadoop.fs.Path(target, n), true)
        }
      won
    })
    try {
      val out = body
      (out, scala.jdk.CollectionConverters.SetHasAsScala(reaped).asScala.toSet)
    } finally Snapshots.unregisterClaim("file")
  }

  test("repair, whole-table: a reaped stage rolls the pointer back to the previous snapshot") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_repair_whole") + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), target)
    val keep = snapRoots(target)
    val staged = Snapshots.writeSnapshot(Seq((2L, "b")).toDF("id", "v"), target)
    val (e, reaped) = reapOnFirstWin(target, keep) {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.publish(spark, target, staged)
      }
    }
    assert(reaped == Set(staged), s"fixture must reap exactly the stage, reaped $reaped")
    assert(e.getMessage.contains("corrective manifest"), e.getMessage)
    // v2 named the dead dir; the corrective v3 points back at v1's snapshot
    assert(Snapshots.currentVersion(spark, target).contains(3L))
    assert(Snapshots.read(spark, target).as[(Long, String)].collect().toSeq == Seq(1L -> "a"))
  }

  test("repair, bucketed: touched buckets return to their prior entries, new ones drop out") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_repair_buckets") + "/t"
    def stage(rows: Seq[(Int, Long)]): String = Snapshots.writeBucketSnapshot(
      rows.toDF(Snapshots.BucketCol, "id"), target)
    val first = stage(Seq(0 -> 1L, 1 -> 2L, 1 -> 3L))
    Snapshots.publishBuckets(spark, target, first, 4, Seq(0, 1), Map(0 -> 1L, 1 -> 2L))
    val prior = Snapshots.currentBuckets(spark, target).get
    val keep = snapRoots(target)
    // rewrites bucket 1 (has a prior entry) and opens bucket 2 (has none)
    val second = stage(Seq(1 -> 20L, 2 -> 30L))
    val (_, reaped) = reapOnFirstWin(target, keep) {
      intercept[java.util.ConcurrentModificationException] {
        Snapshots.publishBuckets(spark, target, second, 4, Seq(1, 2), Map(1 -> 1L, 2 -> 1L))
      }
    }
    assert(reaped == Set(second), s"fixture must reap exactly the stage, reaped $reaped")
    assert(Snapshots.currentVersion(spark, target).contains(3L))
    assert(Snapshots.currentBuckets(spark, target).get == prior,
      "every touched bucket must point back at its prior entry")
    assert(Snapshots.read(spark, target).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(Snapshots.totalRows(spark, target) == 3)
  }

  test("repair, log: the dead segment is cut and the retried append lands once") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_repair_log") + "/t"
    assert(Snapshots.appendCommit(Seq((1L, "a")).toDF("id", "v"), target, 1L))
    val keep = snapRoots(target)
    val (landed, reaped) = reapOnFirstWin(target, keep) {
      Snapshots.appendCommit(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), target, 2L)
    }
    assert(landed, "the append must retry past the reaped stage")
    assert(reaped.size == 1, s"fixture must reap exactly the first stage, reaped $reaped")
    val segments = Snapshots.logSegments(spark, target).get
    assert(segments.map(_.token) == Seq(1L, 2L))
    assert(segments.forall(s => !reaped(s.dir)), s"dead segment still referenced: $segments")
    // v2 carried the dead segment, v3 cut it, v4 is the retried append
    assert(Snapshots.currentVersion(spark, target).contains(4L))
    assert(Snapshots.read(spark, target).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(Snapshots.totalRows(spark, target) == 3)
    assert(!Snapshots.appendCommit(Seq((2L, "b")).toDF("id", "v"), target, 2L),
      "the landed token replays as a no-op")
  }

  // --- the on-disk manifest formats, pinned ---------------------------------------

  /** Hand-writes manifest `v` of `target` with exactly `lines`. */
  private def writeManifest(target: String, v: Long, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(target, "_manifests")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"$v%08d"), lines.mkString("\n").getBytes("UTF-8"))
  }

  /** The current manifest's lines, byte-exact: a trailing newline would
    * show up as an empty last line.
    */
  private def manifestLines(target: String): Seq[String] = {
    val v = Snapshots.currentVersion(spark, target).get
    new String(Files.readAllBytes(java.nio.file.Paths.get(target, "_manifests", f"$v%08d")),
      "UTF-8").split("\n", -1).toSeq
  }

  test("manifest format: a hand-written whole-table store reads and extends") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_fmt_whole") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$target/snap-00000001-0000aaaa")
    writeManifest(target, 1, Seq("snap-00000001-0000aaaa"))
    assert(Snapshots.read(spark, target).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b"))
    val e = intercept[IllegalStateException] { Snapshots.totalRows(spark, target) }
    assert(e.getMessage.contains("whole-table"))
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), target)
    assert(Snapshots.currentVersion(spark, target).contains(2L))
    assert(manifestLines(target).size == 1 && manifestLines(target).head.startsWith("snap-00000002-"))
    assert(Snapshots.read(spark, target).as[(Long, String)].collect().toSeq == Seq(3L -> "c"))
  }

  test("manifest format: a hand-written bucketed store reads and carries entries verbatim") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_fmt_buckets") + "/t"
    val root = "snap-00000001-0000bbbb"
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
      .withColumn(Snapshots.BucketCol, Snapshots.bucketOf(Seq("id"), 4))
      .write.partitionBy(Snapshots.BucketCol).parquet(s"$target/$root")
    val byBucket = Seq(1L, 2L, 3L, 4L).toDF("id")
      .select(Snapshots.bucketOf(Seq("id"), 4).as("b")).groupBy("b").count()
      .as[(Int, Long)].collect().sorted.toSeq
    val entryLines = byBucket.map { case (b, n) => s"$b\t$root/${Snapshots.BucketCol}=$b\t$n" }
    writeManifest(target, 1, "buckets=4" +: entryLines)
    assert(Snapshots.currentBuckets(spark, target).contains((4, byBucket.map {
      case (b, n) => Snapshots.BucketEntry(b, s"$root/${Snapshots.BucketCol}=$b", n)
    })))
    assert(Snapshots.totalRows(spark, target) == 4)
    assert(Snapshots.read(spark, target).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // a merge touching key 1's bucket carries every other line verbatim
    val b1 = Seq(1L).toDF("id").select(Snapshots.bucketOf(Seq("id"), 4)).head.getInt(0)
    Snapshots.mergeCommitBuckets(Seq((1L, "a2")).toDF("id", "v"), target, Seq("id"), 4)(
      identity)((base, u) => base.filter(col("id") =!= 1L).unionByName(u))
    val lines = manifestLines(target)
    assert(lines.head == "buckets=4")
    assert(lines.tail.filterNot(_.startsWith(s"$b1\t")) ==
      entryLines.filterNot(_.startsWith(s"$b1\t")))
    assert(lines.tail.exists(l => l.startsWith(s"$b1\tsnap-00000002-")))
    assert(lines.tail.map(_.takeWhile(_ != '\t').toInt) == byBucket.map(_._1),
      "entries are written in bucket order")
    assert(Snapshots.read(spark, target).as[(Long, String)].collect().toMap ==
      Map(1L -> "a2", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(Snapshots.totalRows(spark, target) == 4)
  }

  test("manifest format: a hand-written log store reads and appends verbatim") {
    import spark.implicits._
    val target = TestSession.tempDir("graft_fmt_log") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$target/snap-00000001-0000cccc")
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$target/snap-00000002-0000dddd")
    val segLines = Seq("snap-00000001-0000cccc\t2\t5", "snap-00000002-0000dddd\t1\t7")
    writeManifest(target, 2, "log" +: segLines)
    assert(Snapshots.logSegments(spark, target).contains(Seq(
      Snapshots.LogSegment("snap-00000001-0000cccc", 2, 5),
      Snapshots.LogSegment("snap-00000002-0000dddd", 1, 7))))
    assert(Snapshots.totalRows(spark, target) == 3)
    assert(Snapshots.read(spark, target).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(!Snapshots.appendCommit(Seq((9L, "z")).toDF("id", "v"), target, 7L),
      "token 7 is already in the hand-written log")
    assert(Snapshots.appendCommit(Seq((4L, "d")).toDF("id", "v"), target, 8L))
    val lines = manifestLines(target)
    assert(lines.take(3) == "log" +: segLines)
    assert(lines.size == 4 && lines(3).startsWith("snap-00000003-") && lines(3).endsWith("\t1\t8"))
    assert(Snapshots.totalRows(spark, target) == 4)
  }
}
