package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * Benchmark spans (pass → op → call into a layer's public function) are
  * opened here, around the calls the benchmark makes; Spark job and stage
  * spans come from a SparkListener and are parented through the job group
  * the benchmark sets to the innermost open span's id. Jobs a stream
  * thread runs carry the stream's own group, so the summarizer falls back
  * to time containment for them. Times are epoch milliseconds, the clock
  * Spark's listener events use. Everything stays in memory until `record`.
  *
  * With `enabled = false` a span is just its body: the untraced runs that
  * give the end-to-end metrics pay nothing here.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final case class Span(id: Int, parent: Int, name: String, kind: String,
                                start: Double, var end: Double,
                                attrs: mutable.Map[String, Any])
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private def gcMs: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Run `body` inside a span named `name`; `kind` is pass, op or call. */
  def span[A](name: String, kind: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.fold(0)(_.id), name, kind,
        nowMs, Double.NaN, mutable.Map.empty)
      spans += s
      stack.push(s)
      spark.sparkContext.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      val gc0 = gcMs
      try body
      finally {
        s.end = nowMs
        s.attrs("gc_ms") = gcMs - gc0
        stack.pop()
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None    => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  private final class StageAgg(val id: Int, val job: Int) {
    var submit = Double.NaN
    var complete = Double.NaN
    var tasks = 0L
    var runMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var compact = false
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private final case class JobRec(id: Int, group: String, start: Double,
                                  var end: Double, stages: Seq[Int])
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, g, e.time.toDouble, Double.NaN, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    private def stage(info: StageInfo): StageAgg =
      stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
        new StageAgg(info.stageId, stageJob.getOrElse(info.stageId, -1)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stage(e.stageInfo)
      s.submit = e.stageInfo.submissionTime.fold(Double.NaN)(_.toDouble)
      // the stage's long call site names the graft frames that ran it
      s.compact = Option(e.stageInfo.details).exists(_.contains("compactBuckets"))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stage(e.stageInfo)
      if (s.submit.isNaN) s.submit = e.stageInfo.submissionTime.fold(Double.NaN)(_.toDouble)
      s.complete = e.stageInfo.completionTime.fold(Double.NaN)(_.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageAgg(e.stageId, stageJob.getOrElse(e.stageId, -1)))
      s.tasks += 1
      s.durations += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.shuffleReadB += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) synchronized {
        plans += ((ps.map(_.startTimeMs).min.toDouble, ps.map(_.durationMs).sum.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = Tracer.drain(spark)

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** The recorded spans, jobs, stages and planning intervals; a time
    * that was never observed (a job still running) is null.
    */
  def record: Map[String, Any] = synchronized {
    def t(ms: Double): Option[Double] = if (ms.isNaN) None else Some(ms)
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start" -> s.start, "end" -> t(s.end),
        "attrs" -> s.attrs.toMap)).toList,
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
        "start" -> j.start, "end" -> t(j.end), "stages" -> j.stages)).toList,
      "stages" -> stages.values.map(s => Map("id" -> s.id, "job" -> s.job,
        "submit" -> t(s.submit), "complete" -> t(s.complete), "tasks" -> s.tasks,
        "run_ms" -> s.runMs, "shuffle_read_b" -> s.shuffleReadB,
        "shuffle_write_b" -> s.shuffleWriteB, "spill_b" -> s.spillB, "compact" -> s.compact,
        "task_ms" -> s.durations.toList)).toList,
      "plans" -> plans.map { case (st, d) => Map("start" -> st, "ms" -> d) }.toList)
  }
}

object Tracer {
  /** LiveListenerBus.waitUntilEmpty is public in bytecode only; reflection
    * keeps this compiling against the public API. A no-op if it moves.
    */
  def drain(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    } catch { case _: Throwable => () }
}
