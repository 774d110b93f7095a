package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** A session's lifetime in one place: the factory every entry point
  * (Bench, Verify, PlanDump, ScaleGen, the test session) builds its
  * session with, the `SPARK_GRAFT_QUERIES` selector, the sweep of what
  * the streaming gate queries leave on a session, and the JVM-lifetime
  * temp-dir registry. State cached per session lives in [[SessionMemo]].
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, or every core of the box when unset, so ad-hoc
    * runs measure what full-box runs measure instead of a 4-core slice.
    */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC, no UI
    * and WARN logging.
    *
    * The UI is off but the AppStatus/SQL listeners still retain
    * per-job/stage/task/execution state in heap at their defaults (1000
    * jobs / 1000 stages / 100k tasks / 1000 SQL executions, each SQL
    * execution holding its full plan graph string). A 283-query × 5-run
    * bench churns ~10k executions through those stores, so late queries
    * ran against a heap holding megabytes of dead plan descriptions.
    * Nothing here reads the stores, so they are kept small and
    * constant-size; the caps bound memory only.
    */
  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries `SPARK_GRAFT_QUERIES=q21_...,q22_...` names;
    * all of them when unset. Blank names are dropped, so an empty value
    * behaves as unset instead of selecting nothing, and a selection that
    * matches no query fails fast.
    */
  private[graft] def selectQueries(
      spec: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES"))
      : Map[String, (SparkSession, String) => DataFrame] = {
    val only = spec.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
    require(selected.nonEmpty,
      s"SPARK_GRAFT_QUERIES=${spec.getOrElse("")} matched no queries")
    selected
  }

  /** Stops `spark`'s active streams and drops its `graft_q*` memory-sink
    * views: what the streaming gate queries leave on a session.
    */
  private[graft] def dropStrays(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    try spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_q"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }

  private val tmpDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val tmpCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpDirs.forEach(p => deleteRecursively(p.toFile))))
  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Temp dir deleted at JVM exit, for gate queries that exercise
    * filesystem machinery (bucketed writes, snapshot stores, stream
    * checkpoints) and for test scratch, so repeated runs cannot
    * accumulate disk. The DataFrames built over these paths read them
    * lazily, so deletion cannot be earlier than shutdown without
    * breaking re-evaluation.
    */
  private[graft] def tempDir(tag: String): String = {
    tmpCleanupHook
    val p = java.nio.file.Files.createTempDirectory(tag)
    tmpDirs.add(p)
    p.toString
  }
}

/** Values cached per (SparkSession, key) for as long as the session
  * lives. An entry whose session's SparkContext has stopped is dropped on
  * the memo's next use, so a stopped session stays reachable from a memo
  * only until the process uses that memo again.
  */
private[graft] final class SessionMemo[K, V] {
  private val m = new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()

  /** The value for (`spark`, `key`), built by `build` on first use. */
  def apply(spark: SparkSession, key: K)(build: => V): V = {
    releaseStopped()
    m.computeIfAbsent((spark, key), _ => build)
  }

  def values: Seq[V] = { releaseStopped(); m.values.asScala.toSeq }

  def clear(): Unit = m.clear()

  def releaseStopped(): Unit =
    m.keySet.removeIf(_._1.sparkContext.isStopped): Unit
}
