package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Dedup, Quality, Scd, StarSchema}
import graft.pipeline.Medallion
import graft.sources.Snapshots
import graft.streaming.IngestPipeline

/** Output fingerprint: row count plus an order-independent
  * bit_xor(xxhash64(all columns)), the shape of `graft.Bench.forceEval`.
  */
final case class Fp(rows: Long, xor: Long) {
  override def toString: String = s"$rows:$xor"
}

object Fp {
  def of(df: DataFrame): Fp = {
    val cols = df.columns.toIndexedSeq.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1))
  }

  /** Write `df` as the op's result under `path`, then fingerprint the
    * written files, seen through `canon`: the result is materialised once,
    * as a user keeps it.
    */
  def written(df: DataFrame, path: String, canon: DataFrame => DataFrame): Fp = {
    df.write.mode("overwrite").parquet(path)
    of(canon(df.sparkSession.read.parquet(path)))
  }
}

/** One benchmark workload: a fixed list of ops that make up one pass. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long) {
  /** Spans recorder; Main swaps in an enabled one for traced passes. */
  var tracer: Tracer = new Tracer(spark, false)
  def name: String
  def ops: Seq[String]
  /** Seeded inputs into `dir`; returns rows and bytes per table. */
  def generate(src: String, dir: String): Map[String, Inputs.Table]
  /** Untimed preparation after generation. */
  def prepare(): Unit = ()
  /** Untimed; restores whatever state a pass starts from. */
  def beforePass(): Unit = ()
  def runOp(i: Int): Fp
  /** Checks op `op`'s output fingerprint against a reference the code
    * under test does not produce: Some(reason) when wrong.
    */
  def check(op: String, fp: Fp): Option[String]
  /** Untimed pass-level output check: Some(reason) when wrong. */
  def afterPass(): Option[String] = None
  /** The workload's output and state directories, by role. */
  def outputDirs: Map[String, String]
  /** Generated input bytes one pass consumes. */
  def inputBytesPerPass: Long
  /** Extra per-layer figures gathered untimed (traced runs only). */
  def layerExtras(): Map[String, Any] = Map.empty
}

/** Training-data kernels and iterative graph operators, one pass over
  * both: embedding-cosine near-dup detection over a ×`Factor` replica of
  * the embeddings (executor-kernel work that scales with data), then SCC
  * and triangle counting over the co-purchase graph of a 1/`OrderMod`
  * line-item sample (a driver/job-bound fixpoint loop beside a join-heavy
  * count). Each op runs one registered graft query.
  *
  * Every op's output is fingerprinted in canonical form — relabelled keys
  * mapped back, pairs ordered, component labels renamed to their least
  * original member — which is the same for every seed, so each op is
  * checked against `Expected` whatever the seed.
  */
final class TrainingGraph(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val Factor = 2
  val OrderMod = 16
  /** Canonical output fingerprints on the sf0.1 testdata at `Factor` and
    * `OrderMod`: row count and xor of row hashes, as `Fp.of` gives them.
    */
  val Expected = Map(
    "embed_dedup" -> "3818:-1676005490937513799",
    "scc" -> "4072:4688479393436880900",
    "triangles" -> "1:9207636020735517396")
  def name = "training_graph"
  /** (op name, query-name prefix in `SparkEntry.queries`). */
  private val queries = Seq("embed_dedup" -> "q24_", "scc" -> "q232_", "triangles" -> "q187_")
  def ops: Seq[String] = queries.map(_._1)

  private val out = s"$work/out"
  private var inDir: String = _
  private var inBytes: Long = 0L
  private var ids: Inputs.Relabel = _
  private var parts: Inputs.Relabel = _

  def generate(src: String, dir: String): Map[String, Inputs.Table] = {
    inDir = dir
    val (e, i) = Inputs.embeddings(spark, src, dir, seed, Factor)
    val (g, p) = Inputs.graph(spark, src, dir, seed, OrderMod)
    ids = i
    parts = p
    inBytes = (e ++ g).values.map(_.bytes).sum
    e ++ g
  }

  private def canon(op: String)(df: DataFrame): DataFrame = op match {
    case "embed_dedup" =>
      val (a, b) = (ids.inverse(col("vec_a")), ids.inverse(col("vec_b")))
      df.select(least(a, b).as("vec_a"), greatest(a, b).as("vec_b"), col("cos"))
    case "scc" =>
      df.withColumn("item", parts.inverse(col("item")))
        .withColumn("scc_id", min("item").over(
          org.apache.spark.sql.expressions.Window.partitionBy("scc_id")))
        .select("item", "scc_id", "scc_size")
    case _ => df
  }

  private lazy val fns = queries.map { case (op, prefix) =>
    val (qname, fn) = SparkEntry.queries.find(_._1.startsWith(prefix))
      .getOrElse(sys.error(s"no query registered as $prefix*"))
    (op, qname, fn)
  }
  def runOp(i: Int): Fp = {
    val (op, qname, fn) = fns(i)
    tracer.span(qname, "call") {
      Fp.written(fn(spark, inDir), s"$out/$op", canon(op))
    }
  }
  def check(op: String, fp: Fp): Option[String] =
    if (Expected.get(op).contains(fp.toString)) None
    else Some(s"canonical fingerprint $fp, expected ${Expected.getOrElse(op, "none")}")
  def outputDirs: Map[String, String] = Map("out" -> out)
  def inputBytesPerPass: Long = inBytes
}

/** The reference's medallion path, one increment per op: land files,
  * bronze→silver stream, bucketed SCD2/SCD1 gold, star read over gold.
  *
  * Every pass replays increment 2 (sparse changes) from the state the
  * untimed increment 1 (the initial load) left, so passes do identical
  * work. Gold compacts once its manifest references more than
  * `CompactRoots` snapshot roots; the sparse dimension changes make that
  * fire inside every pass, so a run covers as many compaction cycles as
  * passes within the run's time budget (the library default of 16 roots
  * would need ~17 increments per cycle). Gold and the star read are
  * checked against a declarative full recompute over the changelog.
  */
final class CdcRefresh(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val DimChanges = 6
  val CompactRoots = 1
  /** Event time is cut into this many windows; only the first two, the
    * initial load and the replayed increment, are generated.
    */
  val Windows = 8
  def name = "cdc_refresh"
  def ops: Seq[String] = Seq("inc2")

  private var inDir: String = _
  private var wms: Seq[java.sql.Timestamp] = Nil
  private val live = s"$work/cdc_live"
  private val snap = s"$work/cdc_snap"
  private val tables = Seq("customer" -> "c_custkey", "events" -> "user_id")
  private val specs = Seq(
    Medallion.TableSpec("customer_dim", Seq("c_custkey"), "upd_ts",
      rules = Seq(Quality.Rule("key_present", col("c_custkey").isNull)),
      scdType = 2, buckets = 32),
    Medallion.TableSpec("events_fact", Seq("user_id"), "ts", tieCols = Seq("event_id"),
      rules = Seq(Quality.Rule("key_present", col("user_id").isNull))))
  private val silverOf = Map("customer_dim" -> "customer", "events_fact" -> "events")
  private val goldCols = Map(
    "customer_dim" -> Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal",
      "upd_ts", "effective_from", "effective_to", "is_current"),
    "events_fact" -> Seq("event_id", "ts", "user_id", "event_type", "value", "custkey"))

  def outputDirs: Map[String, String] = Map(
    "silver" -> s"$live/silver", "checkpoint" -> s"$live/cp",
    "state" -> s"$live/state")
  private var landedBytes: Long = 0L
  def inputBytesPerPass: Long = landedBytes

  def generate(src: String, dir: String): Map[String, Inputs.Table] = {
    inDir = dir
    val c = Inputs.cdc(spark, src, dir, seed, Windows, 2, DimChanges)
    wms = c.watermarks
    landedBytes = tables.map { case (t, _) => Inputs.dirBytes(s"$dir/$t/inc=2") }.sum
    c.tables
  }

  private lazy val schemas = tables.map { case (t, _) =>
    t -> spark.read.parquet(s"$inDir/$t").drop("inc").schema }.toMap

  private def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(g => rmrf(g.getPath))
    f.delete()
  }
  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally it.close()
  }

  override def prepare(): Unit = {
    rmrf(live)
    new java.io.File(live).mkdirs()
    increment(1)
    rmrf(snap)
    copyTree(live, snap)
  }

  override def beforePass(): Unit = {
    rmrf(live)
    copyTree(snap, live)
  }

  def runOp(i: Int): Fp = increment(2)

  private val layer = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def increment(i: Int): Fp = {
    tracer.span("land", "call") {
      tables.foreach { case (t, _) =>
        val dst = new java.io.File(s"$live/landing/$t")
        dst.mkdirs()
        Option(new java.io.File(s"$inDir/$t/inc=$i").listFiles).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.copy(f.toPath, new java.io.File(dst, f"i$i%05d-${f.getName}").toPath)
          }
      }
    }
    tracer.span("ingest", "call") {
      tables.foreach { case (t, key) =>
        IngestPipeline.runOnce(
          IngestPipeline.boundedFileStream(spark, s"$live/landing/$t", schemas(t)),
          df => Quality.enforce(df, Seq(Quality.Rule("key_present", col(key).isNull)))
            .dropDuplicates(),
          s"$live/silver/$t", s"$live/cp/$t").awaitTermination()
      }
    }
    val before = if (tracer.enabled) goldState() else Map.empty[String, Gold]
    val results = tracer.span("medallion", "call") {
      Medallion.run(spark, specs, name => spark.read.parquet(s"$live/silver/${silverOf(name)}"),
        s"$live/state", wms(i), compactAfterRoots = CompactRoots)
    }
    if (tracer.enabled) {
      val after = goldState()
      val b0 = (n: String) => before.getOrElse(n, Gold(Map.empty, -1L))
      layer += Map("inc" -> i,
        "extracted" -> results.map(_.extracted).sum, "cleaned" -> results.map(_.cleaned).sum,
        "rewritten" -> specs.map(s => after(s.name).buckets.count { case (b, d) =>
          !b0(s.name).buckets.get(b).contains(d) }).sum,
        // a compaction publishes one more version right after the merge's
        "compactions" -> specs.count(s =>
          b0(s.name).version >= 0 && after(s.name).version - b0(s.name).version == 2))
    }
    tracer.span("star_read", "call") {
      val (fact, dim) = tracer.span("snapshots_read", "call") {
        (Snapshots.read(spark, s"$live/state/gold/events_fact"),
          Snapshots.read(spark, s"$live/state/gold/customer_dim").filter(col("is_current")))
      }
      val df = StarSchema.compose(fact, Seq("event_type", "value"),
          Seq(StarSchema.Dim(dim, Seq("c_mktsegment"), "custkey", "c_custkey")))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
      if (tracer.enabled) {
        val t0 = tracer.nowMs
        df.queryExecution.executedPlan
        tracer.note("plan_ms", tracer.nowMs - t0)
      }
      Fp.of(df)
    }
  }

  private final case class Gold(buckets: Map[Int, String], version: Long)

  /** Per gold table: bucket → snapshot dir, and the manifest version. */
  private def goldState(): Map[String, Gold] = specs.map { s =>
    val p = s"$live/state/gold/${s.name}"
    s.name -> Gold(Snapshots.currentBuckets(spark, p).fold(Map.empty[Int, String])(
      _._2.map(e => e.bucket -> e.dir).toMap), Snapshots.currentVersion(spark, p).getOrElse(-1L))
  }.toMap

  private def goldFp(name: String): Fp =
    Fp.of(Snapshots.read(spark, s"$live/state/gold/$name").select(goldCols(name).map(col): _*))

  /** Rows the pipeline must keep from table `t` up to increment `upTo`:
    * non-null keys, exact duplicates once, and only rows newer than the
    * watermark the previous increment left (late rows are dropped).
    */
  private def valid(t: String, key: String, seqCol: String, upTo: Int): DataFrame = {
    import spark.implicits._
    val lows = (1 to upTo).map(i =>
      (i, if (i == 1) new java.sql.Timestamp(wms(0).getTime - 1) else wms(i - 1))).toDF("inc", "low")
    spark.read.parquet(s"$inDir/$t").filter(col("inc") <= upTo && col(key).isNotNull)
      .join(broadcast(lows), "inc").filter(col(seqCol) > col("low"))
      .drop("low").dropDuplicates()
  }

  /** The declarative full recompute over the whole changelog: gold, and
    * the star read over it as a plain inner join.
    */
  private lazy val expectedGold: Map[String, Fp] = {
    val fact = Dedup.latestByKey(valid("events", "user_id", "ts", 2).drop("inc"),
      Seq("user_id"), Seq("ts", "event_id")).select(goldCols("events_fact").map(col): _*)
    val dim = Scd.scd2FromChangelog(valid("customer", "c_custkey", "upd_ts", 2).drop("inc"),
      Seq("c_custkey"), "upd_ts", Nil).select(goldCols("customer_dim").map(col): _*)
    val star = fact.join(dim.filter(col("is_current")), col("custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    Map("events_fact" -> Fp.of(fact), "customer_dim" -> Fp.of(dim), "star" -> Fp.of(star))
  }

  def check(op: String, fp: Fp): Option[String] =
    if (fp == expectedGold("star")) None
    else Some(s"star read $fp, full recompute gives ${expectedGold("star")}")

  override def afterPass(): Option[String] = {
    val bad = specs.map(_.name).filter(n => goldFp(n) != expectedGold(n))
    if (bad.isEmpty) None
    else Some(s"gold differs from the full recompute: ${bad.mkString(", ")}")
  }

  /** Buckets holding each replayed increment's valid keys, via bucketOf. */
  override def layerExtras(): Map[String, Any] = {
    val holding = specs.map { s =>
      val (t, key) = (silverOf(s.name), s.keys.head)
      valid(t, key, s.seqCol, 2).filter(col("inc") === 2)
        .select(Snapshots.bucketOf(s.keys, s.buckets).as("b")).distinct().count()
    }.sum
    Map("increments" -> layer.toList, "holding" -> holding)
  }
}
