package graft
object Bench {
  /** One measured block: median seconds (-1 on failure), GC ms and heap
    * peak over the timed runs, the executor task deltas (run ms, GC ms,
    * spill bytes, shuffle-read bytes) and the first failure, if any.
    */
  private final case class Block(sec: Double, gcMs: Long, heapPeakMb: Long,
                                 task: Seq[Long], error: Option[String]) {
    /** `,"error":"..."` on a failed block, empty otherwise. */
    def errorField: String = error.fold("")(e => s""","error":${jsonString(e)}""")
  }

  /** Class and first message line of a failure, bounded so a per-query
    * line stays short.
    */
  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
    s"${e.getClass.getName}: $msg".take(300)
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // SPARK_GRAFT_QUERIES restricts the run (scaling studies on one table
    // family); unset = the full surface.
    val queries = Sessions.selectQueries()
    // Warmup: run every query once at the smallest SF so JIT + codegen
    // compilation costs don't land on the first timed queries.
    val warmDir = "/root/testdata/sf0.001"
    // Force EVERY output column, not `count()`: under count() Catalyst can
    // eliminate whole subtrees that don't affect the row count — measured
    // on q64, whose left join-back to a per-key aggregate was removed
    // entirely (0.42s "benched" vs 33s real at sf1-eq). Hashing all
    // columns into one aggregate preserves the orderBy-elision property
    // count() had (EliminateSorts under an Aggregate) while no join or
    // projection can be pruned away. Note: rounds benched under count()
    // (r01–r05) may UNDERSTATE cost for any query whose subtrees count()
    // pruned — those historical numbers are not comparable to forced-eval
    // rounds except where the query shape already forced evaluation.
    def forceEval(df: org.apache.spark.sql.DataFrame): Unit = {
      val h = org.apache.spark.sql.functions.xxhash64(
        df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      // bit_xor, not sum: ANSI mode makes a long-sum of hashes overflow
      df.select(h.as("__h"))
        .agg(org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.col("__h"))).head()
    }
    if (new java.io.File(warmDir).isDirectory)
      queries.foreach { case (name, fn) =>
        try forceEval(fn(spark, warmDir))
        catch { case e: Throwable => System.err.println(s"warmup $name failed: ${describe(e)}") }
      }
    // Median of 3 timed runs per query AFTER one untimed run at the target
    // SF (JMH-style: warm up, then measure steady state, consecutively).
    // JIT depth at the target data shape adds a one-time ~2x on a query's
    // first target-SF run (q26: 1.20, 0.86, 0.74, 0.69, 0.65, ...
    // converging ~0.63), and map-order changes between rounds moved that
    // warmup onto different queries — reading as per-query drift (the
    // round-5 "q26 regression"). Dropping the first target-SF run makes
    // medians steady-state and round-over-round comparable. (Interleaving
    // the passes across the suite was tried for burst-noise robustness and
    // rejected: cycling 62 plans between samples evicts code cache and
    // inflates every query ~15% — it measures a different thing.)
    // Per-query GC/heap self-explanation (VERDICT r12 item 5): the
    // recurring in-suite ~2x excursions on the heaviest graph rows
    // (q199/q213-class) adjudicate from the artifact when each row
    // carries the GC time its timed runs paid and the heap high-water
    // they touched — an excursion with gc_ms ≈ the excess seconds is
    // JVM pressure, not a plan change.
    // SparkListener task-metric forensics (VERDICT r15 item 5): the
    // r15 in-suite 2.3x excursions on q198/q186 adjudicated clean but
    // the MECHANISM stayed undiagnosed. Per-block EXECUTOR-side task
    // aggregates (run time, task GC, spill, shuffle read) over exactly
    // the timed runs let the artifact separate the two hypotheses with
    // no re-run: inflated wall + flat task_ms = driver-side stall
    // (GC/JIT/cleaner); inflated task_ms = the executors really did
    // more work (cache miss, plan change, spill). Listener events are
    // posted async, so the bus is DRAINED (waitUntilEmpty, below)
    // before every snap — otherwise late onTaskEnd events from block N
    // land in block N+1's delta and per-block attribution carries
    // cross-block skew, not just noise (ADVICE r16).
    val taskAgg = new org.apache.spark.scheduler.SparkListener {
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      val taskGcMs = new java.util.concurrent.atomic.AtomicLong
      val spillB = new java.util.concurrent.atomic.AtomicLong
      val shufB = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          taskGcMs.addAndGet(m.jvmGCTime)
          spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          shufB.addAndGet(m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead)
          ()
        }
      }
      def snap: Seq[Long] =
        Seq(taskMs.get, taskGcMs.get, spillB.get, shufB.get)
    }
    spark.sparkContext.addSparkListener(taskAgg)
    // LiveListenerBus.waitUntilEmpty is private[spark] API surface but
    // public in bytecode; reflection keeps the bench compiling against
    // the public jar while still getting a true drain. Falls back to a
    // no-op (attribution approximate, as before) if the internals move.
    val drainBus: () => Unit = {
      try {
        val busM = spark.sparkContext.getClass.getMethod("listenerBus")
        val bus = busM.invoke(spark.sparkContext)
        val waitM = bus.getClass.getMethod("waitUntilEmpty")
        () => { try { waitM.invoke(bus); () } catch { case _: Throwable => () } }
      } catch { case _: Throwable => () => () }
    }
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    val heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcNowMs: Long = gcBeans.asScala.map(_.getCollectionTime).sum
    // Equal-footing sweep, run before every block: the round-17 verdict
    // measured the graph tier inflating 3.5-8.5× in-suite while isolated
    // re-runs read at pin — storage/heap accumulated across 283 blocks.
    // clearCache() alone missed three leak classes: (1) RDD-level
    // persists (LeanCheckpoint leaves under the memoized decision
    // table/co-purchase graph, SuffixSpans' stranded hits frame) live in
    // the block manager but NOT the SQL cache; (2) memory-sink temp
    // tables from the streaming gate queries accumulate one table per
    // RUN — those live in the MEMOIZED STREAM SESSION's catalog, which
    // this session cannot see; Queries.evictMemos() stops that session's
    // strays and drops its graft_q* sinks, and Sessions.dropStrays does
    // the same for THIS session; (3)
    // the memo maps keep (1) reachable forever. The sweep evicts the
    // memos FIRST (so no memoized plan dangles over a freed
    // lineage-free checkpoint), then unpersists every persistent RDD,
    // then clears the SQL cache. Queries that rely on a shared cache
    // (the dedup decision-table family) rebuild it on first use
    // (Queries.ensureCached) and pay the build once in the untimed
    // first run below — the same footing as their isolated adjudication
    // runs, so medians stay comparable to BASELINE.md.
    def sweep(): Unit = {
      Sessions.dropStrays(spark)
      Queries.evictMemos()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.gc()
    }
    // One measurement block, the protocol shared by the suite loop and
    // the adjudication re-run: equal-footing sweep, one untimed run,
    // GC, bus drain, three timed runs, bus drain; median of the three,
    // or -1 if any run threw (a throwing query must not record its
    // fast elapsed time as a valid sample — that reads as a speedup).
    // The FIRST exception's class and message ride along so the row
    // says why it failed.
    def measure(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Block = {
      sweep()
      var error: Option[String] = None
      def run(): Double = {
        val t0 = System.nanoTime()
        try forceEval(fn(spark, sfDir))
        catch { case e: Throwable => if (error.isEmpty) error = Some(describe(e)) }
        (System.nanoTime() - t0) / 1e9
      }
      run() // untimed steady-state run at the target SF (JIT depth)
      // collect the untimed run's debris BEFORE timing: the steady-state
      // run rebuilds any memoized cache its query rides plus a full
      // query's transient allocations, and on the heaviest blocks that
      // garbage was being collected DURING the timed runs (r15: q198
      // gc_ms 4613 over three timed runs, heap near the 8g ceiling) —
      // paying it here moves the cost to untimed wall-clock, where it
      // belongs
      System.gc()
      // diagnostics cover exactly the three timed runs
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcNowMs
      drainBus()
      val task0 = taskAgg.snap
      val times = (1 to 3).map(_ => run())
      val gcMs = gcNowMs - gc0
      drainBus()
      val taskD = taskAgg.snap.zip(task0).map { case (a, b) => a - b }
      // sum of per-pool peaks (eden+survivor+old): an upper bound on the
      // true simultaneous high-water, but self-consistent across rows
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576
      Block(if (error.isDefined) -1.0 else times.sorted.apply(1), gcMs,
        heapPeakMb, taskD, error)
    }
    val results = queries.map { case (name, fn) =>
      val r = measure(fn)
      // One short line per query, printed as it completes: the driver's
      // tail capture truncated the single giant summary line in round 6
      // (BENCH_r06.json "parsed": null, 22/80 timings lost), and short
      // per-query lines can't fall off a byte-bounded tail the same way.
      println(s"""{"query":"$name","sec":${r.sec},"gc_ms":${r.gcMs},"heap_peak_mb":${r.heapPeakMb},"task_ms":${r.task(0)},"task_gc_ms":${r.task(1)},"spill_mb":${r.task(2) / 1048576},"shuffle_mb":${r.task(3) / 1048576}${r.errorField}}""")
      name -> r
    }
    // Auto-adjudication (VERDICT r13 process item): every row whose
    // in-suite median exceeds 2x its BASELINE.md pin is re-run ISOLATED
    // right here — same harness, same box, clean cache/GC, untimed run +
    // median-of-3 — and both numbers land in the artifact, so no judge
    // re-run is ever needed. Runs ONLY on full-suite invocations (a
    // SPARK_GRAFT_QUERIES restriction is already an isolation run) and
    // only for rows with a pin (new queries have nothing to exceed).
    val pins: Map[String, Double] =
      if (queries.size < SparkEntry.queries.size) Map.empty
      else try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
        "\\| (q\\d+\\w*) \\| ([0-9.]+) \\|".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val adjudicated = results.collect {
      case (name, r) if r.sec > 0 && pins.get(name).exists(p => r.sec > 2 * p) =>
        val iso = measure(queries(name))
        // the isolated task_ms next to the in-suite task_ms (in diag) is
        // the diagnosis: flat task_ms + inflated wall = driver-side
        // stall; inflated task_ms = real executor work appeared in-suite
        println(s"""{"adjudicate":"$name","insuite_sec":${r.sec},"isolated_sec":${iso.sec},"pin_sec":${pins(name)},"iso_task_ms":${iso.task(0)},"iso_task_gc_ms":${iso.task(1)}${iso.errorField}}""")
        name -> iso
    }
    val adjJson = adjudicated.map { case (k, v) =>
      s"""\"$k\":{"insuite_sec":${results(k).sec},"isolated_sec":${v.sec},"pin_sec":${pins(k)},"iso_task_ms":${v.task(0)},"iso_task_gc_ms":${v.task(1)}${v.errorField}}"""
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.sec }
      .mkString("{", ",", "}")
    // per-query diagnostics, file artifact only (the stdout line is
    // byte-bounded; the per-query lines above carry them for the tail)
    val diag = results.map { case (k, v) =>
      s"""\"$k\":{"gc_ms":${v.gcMs},"heap_peak_mb":${v.heapPeakMb},"task_ms":${v.task(0)},"task_gc_ms":${v.task(1)},"spill_mb":${v.task(2) / 1048576},"shuffle_mb":${v.task(3) / 1048576}${v.errorField}}"""
    }.mkString("{", ",", "}")
    // Stdout summary uses SHORT keys (the qNN prefix) and 3-decimal
    // seconds: the driver keeps only a byte-bounded tail of stdout, and
    // round-6/7 artifacts show the full-name summary line (~3KB at 90
    // queries) getting its head truncated ("parsed": null). ~1.2KB
    // survives the capture; the full-name line still lands in the
    // results file below for the human record.
    val qsShort = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + BigDecimal(v.sec)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.mkString("{", ",", "}")
    // failed queries are EXCLUDED from total (their -1 sentinel would make
    // it nonsense), so name them explicitly — otherwise a broken query
    // shrinks the total and reads as a fleet-wide speedup round-over-round
    val failures = results.collect { case (k, v) if v.sec < 0 => s"\"$k\"" }
    val fq = failures.mkString("[", ",", "]")
    val total = if (failures.nonEmpty) -1.0 else results.values.map(_.sec).sum
    val fullSummary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"diag":$diag,"adjudication":$adjJson,"failures":$fq,"sf":"$sfDir"}"""
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsShort,"failures":$fq,"sf":"$sfDir"}"""
    // Belt and braces: the full summary also lands in a file next to the
    // repo so the round's perf record never depends on stdout capture.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        "bench_results.json")), fullSummary)
    catch { case _: Throwable => () }
    // Code-cache diagnostic (round-9: the last six queries in the suite ran
    // 3-23x their isolated medians — the suspected cause is the JIT code
    // cache filling across 124x5 codegen'd plans and the compiler shutting
    // off). One line per CodeHeap pool at exit proves/refutes it for the
    // round's record: a pool at ~100% of max means late queries ran
    // interpreted. Goes to stderr so it can't corrupt the stdout JSON.
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
        .foreach { p =>
          val u = p.getUsage
          System.err.println(
            f"codecache ${p.getName}: used=${u.getUsed / 1048576.0}%.1fMB " +
              f"max=${u.getMax / 1048576.0}%.1fMB (${100.0 * u.getUsed / u.getMax}%.0f%%)")
        }
    } catch { case _: Throwable => () }
    // The driver keeps only a byte-bounded TAIL of stdout, and the
    // per-query progress lines above are printed as the suite runs —
    // at 269 queries the EARLY ones scroll off the capture (r16's
    // BENCH tail held 150/269 rows). Re-print the complete per-query
    // map here, as the LAST lines, chunked so no single line can be
    // head-truncated the way the round-6/7 monolithic summaries were
    // (~1.2KB survives per line). Short keys + 3 decimals keep a
    // 64-entry chunk under ~1KB.
    results.toSeq.grouped(64).zipWithIndex.foreach { case (chunk, i) =>
      val m = chunk.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + BigDecimal(v.sec)
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.mkString("{", ",", "}")
      println(s"""{"qchunk":$i,"of":${(results.size + 63) / 64},"queries":$m}""")
    }
    println(summary)
    // VERDICT r17 item 6: the driver keeps only ~2000 bytes of stdout
    // tail, and a 283-row queries map can never fit it — so the very
    // LAST line is a complete, short, self-sufficient summary that a
    // byte-bounded tail always captures whole: total, row/failure
    // counts, the median ratio vs the BASELINE pins, and every >2× row
    // with its ratio. The full per-query map lives in the qchunk lines
    // above and in bench_results.json.
    def r3(x: Double): Double =
      BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ratios = results.toSeq.collect {
      case (k, v) if v.sec > 0 && pins.contains(k) => v.sec / pins(k)
    }.sorted
    val medianVsPin =
      if (ratios.isEmpty) "null" else r3(ratios(ratios.size / 2)).toString
    val over2x = results.toSeq.collect {
      case (k, v) if v.sec > 0 && pins.get(k).exists(p => v.sec > 2 * p) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + r3(v.sec / pins(k))
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","rows":${results.size},"failures":$fq,"median_vs_pin":$medianVsPin,"pinned_rows":${ratios.size},"over2x":$over2x,"sf":"$sfDir"}""")
    spark.stop()
  }
}
