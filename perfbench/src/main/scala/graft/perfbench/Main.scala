package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one workload from a seed, runs it in
  * a closed loop with one client for the given seconds, and writes a raw
  * record (every op's latency, fingerprint and failure, per-pass listings
  * and live heap, and in traced runs the spans) that `run.py` turns into
  * metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores K
  *             --src DIR --work DIR --record FILE
  */
object Main {
  val SetupReps = 3
  /** Timed passes a run makes at least, whatever its time budget: one
    * pass's time varies ~10% run to run on a shared host.
    */
  val MinPasses = 2

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
    case "cdc_refresh"    => new CdcRefresh(spark, work, seed)
    case "training_graph" => new TrainingGraph(spark, work, seed)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Workloads = Seq("cdc_refresh", "training_graph")

  /** Equal-footing sweep between passes, as `graft.Bench` does it: memos
    * first, then persisted RDDs, then the SQL cache, then a full GC — so a
    * memo or cache hit cannot pass for a speed-up.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    graft.Queries.evictMemos()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Driver heap the pass left reachable: used heap after a full GC, taken
    * before the next sweep releases memos and caches.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Files under `dir` (relative path → bytes). */
  def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) Map.empty
    else {
      val it = java.nio.file.Files.walk(root)
      try it.iterator.asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
      finally it.close()
    }
  }

  private def err(t: Throwable): (String, String) = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    (root.getClass.getName, String.valueOf(root.getMessage).take(500))
  }

  /** Runs whole passes until `seconds` have gone by and at least
    * `minPasses` passes ran. Each op's output is fingerprinted and checked
    * by the workload.
    */
  def passes(wl: Workload, tracer: Tracer, seconds: Double, minPasses: Int,
             firstPass: Int): Map[String, Any] = {
    val spark = wl.spark
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ps = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = firstPass
    while (ps.size < minPasses || System.nanoTime() < deadline) {
      sweep(spark)
      wl.beforePass()
      val lists = mutable.ArrayBuffer(wl.outputDirs.map { case (k, d) => k -> listing(d) })
      val t0 = tracer.nowMs
      tracer.span(s"pass$p", "pass") {
        wl.ops.zipWithIndex.foreach { case (op, i) =>
          val s = tracer.nowMs
          val r = try Right(tracer.span(op, "op")(wl.runOp(i))) catch { case t: Throwable => Left(t) }
          val e = tracer.nowMs
          val rec = r match {
            case Right(fp) => wl.check(op, fp) match {
              case None      => Map("ok" -> true, "fp" -> fp.toString)
              case Some(why) => Map("ok" -> false, "fp" -> fp.toString,
                "error_class" -> "WrongOutput", "error" -> why)
            }
            case Left(t) =>
              val (c, m) = err(t)
              Map("ok" -> false, "error_class" -> c, "error" -> m)
          }
          ops += rec ++ Map("pass" -> p, "op" -> op, "start" -> s, "end" -> e, "ms" -> (e - s))
          lists += wl.outputDirs.map { case (k, d) => k -> listing(d) }
        }
      }
      val t1 = tracer.nowMs
      val heap = liveHeapMb()
      val check = try wl.afterPass() catch { case t: Throwable => Some(err(t).toString) }
      ps += Map("pass" -> p, "start" -> t0, "end" -> t1, "ms" -> (t1 - t0),
        "heap_live_mb" -> heap, "check" -> check, "listings" -> lists.toList,
        "input_bytes" -> wl.inputBytesPerPass)
      p += 1
    }
    Map("ops" -> ops.toList, "passes" -> ps.toList)
  }

  /** One untimed pass, checked like the timed ones. */
  def warmPass(wl: Workload): Map[String, Any] = {
    val r = passes(wl, wl.tracer, 0, 1, 0)
    Map("errors" -> r("ops").asInstanceOf[List[Map[String, Any]]].filter(_.contains("error_class")),
      "pass_check" -> r("passes").asInstanceOf[List[Map[String, Any]]].head("check"))
  }

  private def writeRecord(path: String, v: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(path), v)

  /** Fingerprint of every generated table under `dir`, by table name. */
  def tableFps(spark: SparkSession, dir: String): Map[String, String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten.filter(_.isDirectory).map { f =>
      f.getName -> Fp.of(spark.read.parquet(f.getPath)).toString
    }.toMap

  /** Generates every workload's inputs for `seed` twice and for `seed + 1`
    * once and records each table's fingerprint, for the stability test.
    */
  def selfcheck(opt: Map[String, String]): Unit = {
    val (seed, work) = (opt("seed").toLong, opt("work"))
    val spark = session(opt("cores").toInt, work)
    val out = Workloads.map { w =>
      val runs = Seq(seed, seed, seed + 1).zipWithIndex.map { case (s, i) =>
        val dir = s"$work/check_${w}_$i"
        workload(w, spark, work, s).generate(opt("src"), dir)
        tableFps(spark, dir)
      }
      w -> Map("same_seed" -> runs.take(2), "next_seed" -> runs(2))
    }.toMap
    stop(spark)
    writeRecord(opt("record"), out)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("selfcheck")) return selfcheck(opt)
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val (src, work) = (opt("src"), opt("work"))
    require(Workloads.contains(name), s"unknown workload $name")
    val jvmMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "seconds" -> seconds,
      "trace" -> traced, "jvm_start_ms" -> jvmMs)

    def generate(spark: SparkSession, wname: String, dir: String) = {
      val wl = workload(wname, spark, work, seed)
      val tables = wl.generate(src, dir)
      (wl, tables)
    }

    if (!traced) {
      // Set-up is repeated: a fresh session and freshly generated inputs
      // each time; the median is reported and the last one is kept.
      val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
      var kept: (SparkSession, Workload, Map[String, Inputs.Table]) = null
      (0 until SetupReps).foreach { r =>
        if (kept != null) stop(kept._1)
        val t0 = System.nanoTime()
        val spark = session(cores, work)
        val t1 = System.nanoTime()
        val (wl, tables) = generate(spark, name, s"$work/in$r")
        val t2 = System.nanoTime()
        reps += Map("session_s" -> (t1 - t0) / 1e9, "generate_s" -> (t2 - t1) / 1e9)
        kept = (spark, wl, tables)
      }
      val (spark, wl, tables) = kept
      val t0 = System.nanoTime()
      wl.prepare()
      val t1 = System.nanoTime()
      val warm = warmPass(wl)
      val t2 = System.nanoTime()
      rec ++= Seq("setup_reps" -> reps.toList, "prepare_s" -> (t1 - t0) / 1e9,
        "warm_s" -> (t2 - t1) / 1e9, "inputs" -> tables.map { case (k, t) =>
          k -> Map("rows" -> t.rows, "bytes" -> t.bytes) }, "warm" -> warm)
      rec ++= passes(wl, wl.tracer, seconds, MinPasses, 1)
      stop(spark)
    } else {
      // The traced run covers every workload (the named one first), so
      // one run reports every per-layer metric: per workload, untraced
      // passes then traced passes, each for a sixth of the time.
      val spark = session(cores, work)
      val per = Workloads.sortBy(w => if (w == name) 0 else 1).map { wname =>
        sweep(spark)
        val (wl0, tables) = generate(spark, wname, s"$work/in_$wname")
        wl0.prepare()
        val warm = warmPass(wl0)
        val plain = passes(wl0, wl0.tracer, seconds / 6, 1, 1)
        val tracer = new Tracer(spark, true)
        wl0.tracer = tracer
        val tracedRuns = passes(wl0, tracer, seconds / 6, 1, 1)
        tracer.close()
        val extras = wl0.layerExtras()
        wname -> Map("inputs" -> tables.map { case (k, t) =>
            k -> Map("rows" -> t.rows, "bytes" -> t.bytes) }, "warm" -> warm,
          "untraced" -> plain, "traced" -> tracedRuns, "trace" -> tracer.record,
          "extras" -> extras, "cores" -> cores)
      }
      rec ++= Seq("workloads" -> per.toMap)
      stop(spark)
    }
    writeRecord(opt("record"), rec.toMap)
  }
}
