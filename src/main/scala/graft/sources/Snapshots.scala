package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Crash-safe parquet snapshot store: a manifest-pointer commit protocol
  * with never-zero live copies, in three flavors:
  *
  *  - '''whole-table''' (`commit`): every commit writes a complete snapshot
  *    dir. Right for small state tables (watermarks, streaming indexes).
  *  - '''bucketed''' (`writeBucketSnapshot`/`publishBuckets`): the table is
  *    hash-partitioned into a fixed number of key buckets and the manifest
  *    maps each bucket to the snapshot dir that last rewrote it. A commit
  *    writes ONLY the touched buckets and carries every other bucket
  *    forward by reference — the write side of an incremental merge is
  *    O(touched buckets), not O(table). This is the transaction-log idea
  *    the reference's gold layer gets from Delta
  *    (reference: local_spotify_dab/src/gold/spotify_etl/transformations/
  *    DimArtist.py:96-101 `stored_as_scd_type=2`; FactStream.py:96-105 —
  *    `create_auto_cdc_flow` commits only changed files via the Delta log).
  *  - '''append-only log''' (`appendCommit`): each commit adds one segment
  *    dir and carries the earlier ones; a caller token per segment makes
  *    redelivery a no-op.
  *
  * Layout under `target/`:
  * {{{
  *   _manifests/00000007               # commit point (see formats below)
  *   snap-00000007-1a2b3c4d/...        # whole-table: a complete parquet snapshot
  *   snap-00000007-1a2b3c4d/graft_bucket=3/...  # bucketed: one dir per rewritten bucket
  * }}}
  *
  * Snapshot dir names carry the version they were staged FOR plus a
  * writer-unique salt, so two concurrent writers never stage into the same
  * directory (the Delta/Iceberg shape: data files are uniquely named, the
  * numbered log entry is the only contended object). The manifest records
  * exact dir names, so the salt never matters to readers.
  *
  * Manifest formats (the file content):
  *  - whole-table: a single line naming the snapshot dir.
  *  - bucketed: a header `buckets=<N>` then one line per non-empty bucket
  *    `<bucket>\t<relative dir>\t<rows>`. Row counts ride in the manifest
  *    so readers and stats never need a data scan.
  *  - append-only log: a header `log` then one line per segment
  *    `<relative dir>\t<rows>\t<token>`.
  * `render` writes these and `parseManifest` reads them; nothing else
  * touches manifest text.
  *
  * Commit protocol: every flavor stages a salted snapshot dir (readers
  * unaffected), then publishes through ONE loop (`commitLoop`):
  *  1. read the current version `v` and its manifest;
  *  2. a per-flavor function derives the next manifest (whole-table: the
  *     staged dir; bucketed: the touched buckets replaced, every other one
  *     carried; log: the new segment appended) or declines (a replayed log
  *     token, a compaction whose base moved);
  *  3. check the staged dir still exists and still holds its gc lease
  *     (named for a version ≥ `v`, see `stagePath`);
  *  4. claim manifest `<v+1>` by compare-and-set (`casPublish`): the content
  *     is staged in a dot-temp file and the version claimed with an
  *     atomic-if-absent primitive — `link(2)` on local filesystems (POSIX
  *     rename overwrites, so it cannot claim), rename + content read-back
  *     on HDFS-style stores (their rename refuses an existing target). A
  *     lost claim re-runs the loop from step 1;
  *  5. verify the staged dir survived the claim. A gc racing the
  *     check-to-claim window can reap it; then `repair` publishes a
  *     corrective manifest without the dead dir — the whole-table pointer
  *     rolls back, the touched buckets get their prior entries back, the
  *     log loses the dead segment — and the writer re-stages.
  * Then gc deletes snapshot dirs referenced by NONE of the retained
  * manifests (`retainManifests` previous versions are kept as a grace
  * window for in-flight readers), and manifests below the retained window.
  *
  * A crash between any two steps leaves a fully-readable store; nothing
  * relies on directory-rename atomicity (object stores don't provide it).
  * Bucketed gc is reference-based, so a bucket dir written ten commits ago
  * but still referenced stays live; `compactBuckets` folds a store that
  * has accumulated many referenced roots back into a single snapshot dir.
  *
  * Concurrency contract: optimistic concurrency, the Delta shape
  * (reference: local_spotify_dab/src/gold/spotify_etl/transformations/
  * FactStream.py:96-105 — concurrent `create_auto_cdc_flow` streams are
  * safe because the Delta log CAS-es each commit). A writer that loses the
  * manifest CAS re-reads the current manifest and retries: carried-forward
  * entries are re-derived, and if another writer changed a bucket this
  * writer's merge was computed against, `mergeCommitBuckets` re-runs the
  * merge against the new state before re-staging — both commits land, no
  * bucket is lost. Losing writers' staged dirs become unreferenced garbage
  * reaped by the next gc. Readers are unlimited and never block.
  */
object Snapshots {

  private val ManifestDir = "_manifests"

  /** Partition column bucketed writes group by; never part of the logical
    * schema (it lives in directory names only and is re-derived from the
    * business key on every commit).
    */
  val BucketCol = "graft_bucket"

  /** One manifest entry of a bucketed store. `dir` is relative to the
    * store root, e.g. `snap-00000007/graft_bucket=3`.
    */
  final case class BucketEntry(bucket: Int, dir: String, rows: Long)

  /** One segment of an append-only log store. `token` is the caller's
    * commit token (e.g. a streaming batch id) — the replay-idempotency
    * handle.
    */
  final case class LogSegment(dir: String, rows: Long, token: Long)

  private sealed trait Manifest
  private final case class WholeTable(dir: String) extends Manifest
  private final case class Bucketed(numBuckets: Int, entries: Seq[BucketEntry]) extends Manifest
  private final case class AppendLog(segments: Seq[LogSegment]) extends Manifest

  /** Deterministic bucket of a business key — stable across runs, engines
    * and partitionings, so the same key always lands in the same bucket.
    */
  def bucketOf(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong)).cast("int")

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(target: String) = new Path(target, ManifestDir)

  private def fmt(v: Long): String = f"$v%08d"

  /** Every version still readable at `target`, ascending — the retained
    * time-travel window. gc keeps `retainManifests` previous versions
    * plus the current one, so history depth is a store policy, exactly
    * like transaction-log table formats' retention.
    */
  def versions(spark: SparkSession, target: String): Seq[Long] = {
    val fs = fsOf(spark, target)
    val dir = manifestPath(target)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).toSeq.sorted
  }

  /** Highest published version, if any commit has completed. */
  def currentVersion(spark: SparkSession, target: String): Option[Long] =
    versions(spark, target).lastOption

  /** True once at least one commit has been published. */
  def exists(spark: SparkSession, target: String): Boolean =
    currentVersion(spark, target).isDefined

  private def manifestContent(spark: SparkSession, target: String, v: Long): String = {
    val fs = fsOf(spark, target)
    val in = fs.open(new Path(manifestPath(target), fmt(v)))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Manifest formats (by first line): `buckets=<n>` → bucketed,
    * `log` → append-only log, anything else → whole-table snap dir name.
    */
  private def parseManifest(content: String): Manifest = {
    val lines = content.split("\n").map(_.trim).filter(_.nonEmpty)
    if (lines.headOption.exists(_.startsWith("buckets="))) {
      val n = lines.head.stripPrefix("buckets=").toInt
      Bucketed(n, lines.tail.map { l =>
        val Array(b, dir, rows) = l.split("\t")
        BucketEntry(b.toInt, dir, rows.toLong)
      }.toSeq)
    } else if (lines.headOption.contains("log")) {
      AppendLog(lines.tail.map { l =>
        val Array(dir, rows, token) = l.split("\t")
        LogSegment(dir, rows.toLong, token.toLong)
      }.toSeq)
    } else WholeTable(lines.head)
  }

  /** The inverse of `parseManifest` — the only writer of manifest text. */
  private def render(m: Manifest): String = m match {
    case WholeTable(dir) => dir
    case Bucketed(n, entries) => (s"buckets=$n" +: entries.sortBy(_.bucket)
      .map(e => s"${e.bucket}\t${e.dir}\t${e.rows}")).mkString("\n")
    case AppendLog(segments) =>
      ("log" +: segments.map(s => s"${s.dir}\t${s.rows}\t${s.token}")).mkString("\n")
  }

  private def readManifest(spark: SparkSession, target: String, v: Long): Manifest =
    parseManifest(manifestContent(spark, target, v))

  /** The current version (0 before the first commit) and its manifest. */
  private def current(spark: SparkSession, target: String): (Long, Option[Manifest]) =
    currentVersion(spark, target)
      .fold((0L, Option.empty[Manifest]))(v => (v, Some(readManifest(spark, target, v))))

  private def bucketsOf(target: String, m: Manifest): (Int, Seq[BucketEntry]) = m match {
    case Bucketed(n, entries) => (n, entries)
    case _ => throw new IllegalStateException(s"$target is not a bucketed store")
  }

  private def segmentsOf(target: String, m: Manifest): Seq[LogSegment] = m match {
    case AppendLog(segments) => segments
    case _ => throw new IllegalStateException(s"$target is not a log store")
  }

  /** Bucket layout of the current manifest: (numBuckets, entries). None if
    * no commit has been published; throws on a non-bucketed store.
    */
  def currentBuckets(spark: SparkSession, target: String): Option[(Int, Seq[BucketEntry])] =
    current(spark, target)._2.map(bucketsOf(target, _))

  /** Segments of the current log manifest. None if no commit has been
    * published; throws on a non-log store.
    */
  def logSegments(spark: SparkSession, target: String): Option[Seq[LogSegment]] =
    current(spark, target)._2.map(segmentsOf(target, _))

  /** Total rows of the current bucketed/log snapshot — straight from
    * manifest metadata, no data scan.
    */
  def totalRows(spark: SparkSession, target: String): Long =
    current(spark, target)._2.fold(0L)(rowsOf(target, _))

  private def rowsOf(target: String, m: Manifest): Long = m match {
    case Bucketed(_, entries) => entries.map(_.rows).sum
    case AppendLog(segments) => segments.map(_.rows).sum
    case WholeTable(_) =>
      throw new IllegalStateException(s"$target stores no row counts (whole-table)")
  }

  /** Time travel: read the snapshot a SPECIFIC published version pointed
    * at. Fails with the retained window in the message when `v` has aged
    * out (or was never published) — a gc'd version's data dirs may
    * already be deleted, so there is nothing consistent to read.
    */
  def readAt(spark: SparkSession, target: String, v: Long): DataFrame = {
    val live = versions(spark, target)
    require(live.contains(v),
      s"version $v is not readable at $target; retained versions: " +
        (if (live.isEmpty) "none" else s"${live.min}..${live.max}"))
    readResolved(spark, target, v)
  }

  /** Read the current snapshot (any flavor): the set of dirs the highest
    * manifest points at.
    */
  def read(spark: SparkSession, target: String): DataFrame = {
    val v = currentVersion(spark, target).getOrElse(
      throw new IllegalStateException(s"no published snapshot at $target"))
    readResolved(spark, target, v)
  }

  private def readResolved(spark: SparkSession, target: String, v: Long): DataFrame = {
    readManifest(spark, target, v) match {
      case WholeTable(name) => readDirs(spark, Seq(new Path(target, name)))
      case Bucketed(_, entries) =>
        // a legally-published manifest can reference zero buckets (every
        // touched bucket merged to zero rows, nothing carried) — mirror
        // the log-store guard instead of failing inside readEntries
        require(entries.nonEmpty, s"bucketed store at $target holds no rows " +
          "(all buckets merged to empty) — guard reads with totalRows > 0")
        readEntries(spark, target, entries)
      case AppendLog(segments) =>
        // zero-row segments (empty batches committed for their token) hold
        // no files, so they can't contribute schema — skip them
        val live = segments.filter(_.rows > 0)
        require(live.nonEmpty, s"log store at $target holds no rows yet " +
          "(only empty segments) — guard reads with totalRows > 0")
        readDirs(spark, live.map(s => new Path(target, s.dir)))
    }
  }

  /** Read a subset of a bucketed store by its manifest entries. Only the
    * listed bucket dirs are opened — file-level pruning by construction.
    */
  def readEntries(spark: SparkSession, target: String,
                  entries: Seq[BucketEntry]): DataFrame = {
    require(entries.nonEmpty, "readEntries needs at least one bucket entry")
    readDirs(spark, entries.map(e => new Path(target, e.dir)))
  }

  /** Read the parquet data under `dirs` with the schema `storedSchema`
    * finds, so the read launches no schema-inference job.
    */
  private def readDirs(spark: SparkSession, dirs: Seq[Path]): DataFrame =
    storedSchema(spark, dirs).fold(spark.read)(spark.read.schema)
      .parquet(dirs.map(_.toString): _*)

  /** The logical schema a plain `spark.read.parquet(dirs)` would infer,
    * taken in this process from the footer of the file that inference
    * reads (the first data file by path): the Spark row-metadata JSON
    * every Spark parquet write stores. Inference would spend a one-task
    * Spark job on that same footer. None when the file carries no such
    * JSON (a foreign writer); the reader then infers as usual.
    */
  private def storedSchema(spark: SparkSession, dirs: Seq[Path]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dirs.head.getFileSystem(conf)
    val first = dirs.iterator.filter(fs.exists).flatMap(fs.listStatus(_).iterator)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .minByOption(_.getPath.toString)
    first.flatMap { f =>
      val json = withFooter(f, conf, HadoopReadOptions.builder(conf).build())(r => Option(
        r.getFooter.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)))
      json.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption.collect {
        case st: StructType => st })
    }
  }

  /** Bounded attempts for optimistic-concurrency loops: version CAS
    * retries inside a publish, and full re-stage retries in `commit`,
    * `mergeCommitBuckets` and `appendCommit`. Contention beyond this
    * indicates a misconfigured orchestrator (many writers hammering one
    * store), not a transient race.
    */
  val MaxCommitRetries = 8

  private def newSalt(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def stagePath(spark: SparkSession, target: String): Path = {
    val v = currentVersion(spark, target).getOrElse(0L) + 1
    // the version prefix is a gc LEASE, not decoration: gc only reaps
    // unreferenced staged dirs named for versions below its keep horizon,
    // so a dir named at-or-above the store's current version is immune to
    // any gc whose view predates this writer's publish. Writers must
    // therefore never publish a dir named for an older version than the
    // one they are CASing against (`commitLoop` enforces this for every
    // flavor — the Round12FaultSpec storm drill caught the lost-update race
    // reusing a stale-named stage across several lost CASes opens).
    // The salt is what prevents two concurrent writers from staging into
    // one directory.
    new Path(target, s"snap-${fmt(v)}-${newSalt()}")
  }

  /** The version a staged dir's name was aimed at (`snap-<v>-<salt>`) —
    * the writer-side mirror of gc's reap-eligibility parse.
    */
  private def stagedVersion(name: String): Long =
    name.stripPrefix("snap-").takeWhile(_.isDigit) match {
      case "" => -1L
      case d => d.toLong
    }

  /** Stage (whole-table) the next complete snapshot dir (invisible
    * to readers). Returns the staged dir name (relative to the store root).
    */
  def writeSnapshot(df: DataFrame, target: String): String = {
    val p = stagePath(df.sparkSession, target)
    df.write.mode("overwrite").parquet(p.toString)
    p.getName
  }

  /** Stage (bucketed): write ONLY the touched buckets' data. `df` must
    * carry `BucketCol`; each bucket lands in `<staged dir>/graft_bucket=<b>`.
    * A rebalance hint keyed on the bucket routes each bucket's rows
    * together (AQE sizes the output partitions), so file count per bucket
    * tracks bucket bytes instead of upstream-tasks × buckets — without it
    * every one of N shuffle tasks opens a file in every touched bucket,
    * the small-file explosion table formats run OPTIMIZE to undo.
    * Readers are unaffected until publish. Returns the staged dir name.
    */
  def writeBucketSnapshot(df: DataFrame, target: String): String = {
    val p = stagePath(df.sparkSession, target)
    df.hint("rebalance", BucketCol)
      .write.mode("overwrite").partitionBy(BucketCol)
      .parquet(p.toString)
    p.getName
  }

  private def conflict(msg: String) = new java.util.ConcurrentModificationException(msg)

  /** The one commit loop behind every publish (steps 1-5 of the protocol
    * in the header): `next` derives the manifest to publish from the
    * current one, or declines with None. Returns the published version
    * and manifest, or None when `next` declined. Throws
    * ConcurrentModificationException when the staged dir is gone or has
    * lost its gc lease, when a racing gc reaped it under a won claim (the
    * store is repaired first), or after MaxCommitRetries lost claims —
    * every case the caller cures by re-staging.
    */
  private def commitLoop(spark: SparkSession, target: String, stagedDir: String)
                        (next: Option[Manifest] => Option[Manifest]): Option[(Long, Manifest)] = {
    val fs = fsOf(spark, target)
    val staged = new Path(target, stagedDir)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val (v, cur) = current(spark, target)
      val m = next(cur) match { case Some(x) => x; case None => return None }
      if (!fs.exists(staged))
        throw conflict(s"staged snapshot $stagedDir at $target was garbage-collected " +
          "by a concurrent commit before publish — re-stage and retry")
      // a dir named for an older version than the current one has lost
      // its gc lease: a racing gc can reap it in the unobservable window
      // right after the post-win verify below — refuse to publish it
      if (stagedVersion(stagedDir) < v)
        throw conflict(s"staged snapshot $stagedDir at $target is named for an older " +
          "version than the store's current one (gc lease expired) — re-stage and retry")
      if (casPublish(spark, target, v + 1, render(m))) {
        // a gc racing this publish can reap the staged dir in the window
        // between the existence check above and the CAS win (needs
        // ≥ retainManifests+2 concurrent commits inside that window).
        // Verify AFTER the win; on failure repair the store so no reader
        // or re-merge ever resolves the dead dir, then make the caller
        // re-stage.
        if (fs.exists(staged)) return Some((v + 1, m))
        repair(spark, target, stagedDir, cur)
        throw conflict(s"staged snapshot $stagedDir at $target was garbage-collected " +
          "between the existence check and the version CAS — corrective " +
          "manifest published; re-stage and retry")
      }
      attempt += 1
    }
    throw conflict(s"lost the publish race $MaxCommitRetries times at $target")
  }

  /** Publish a corrective manifest with no reference to `dead`, a staged
    * root a racing gc reaped after its commit won. `prior` is the manifest
    * that commit replaced. Per flavor: a whole-table pointer rolls back to
    * `prior`; each bucket pointing into `dead` gets its `prior` entry back
    * (a bucket with none drops out — it held no rows before); a log cuts
    * the dead segment. Later manifests carry entries forward verbatim, so
    * the dead references stay identifiable wherever they were dragged;
    * once none is left (a later commit superseded them) there is nothing
    * to do.
    */
  private def repair(spark: SparkSession, target: String, dead: String,
                     prior: Option[Manifest]): Unit = {
    def isDead(dir: String) = rootOf(dir) == dead
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val (v, cur) = current(spark, target)
      val fixed = cur.flatMap {
        case WholeTable(dir) if dir == dead => prior
        case Bucketed(n, entries) if entries.exists(e => isDead(e.dir)) =>
          val (bad, good) = entries.partition(e => isDead(e.dir))
          val restored = prior.toSeq.flatMap(bucketsOf(target, _)._2)
            .filter(p => bad.exists(_.bucket == p.bucket))
          Some(Bucketed(n, good ++ restored))
        case AppendLog(segments) if segments.exists(s => isDead(s.dir)) =>
          Some(AppendLog(segments.filterNot(s => isDead(s.dir))))
        case _ => None
      }
      if (fixed.forall(m => casPublish(spark, target, v + 1, render(m)))) return
      attempt += 1
    }
  }

  /** Run a whole stage-and-publish `body` up to MaxCommitRetries times,
    * re-running it on a lost commit race: a ConcurrentModificationException
    * (a moved base, a reaped or stale stage, a lost claim storm) or a
    * missing file under this store (`fileNotFoundRooted`).
    */
  private def retrying[A](target: String, attempt: Int = 1)(body: => A): A =
    try body
    catch {
      case e: Exception if attempt < MaxCommitRetries &&
          (e.isInstanceOf[java.util.ConcurrentModificationException] ||
            fileNotFoundRooted(e, target)) =>
        retrying(target, attempt + 1)(body)
    }

  /** The commit point (whole-table): claim the next version for
    * the staged dir, retrying past versions claimed by concurrent writers.
    * Returns the published version. Throws ConcurrentModificationException
    * if the staged dir was reaped by a concurrent writer's gc (the caller
    * must re-stage — `commit` does).
    */
  def publish(spark: SparkSession, target: String, stagedDir: String): Long =
    commitLoop(spark, target, stagedDir)(_ => Some(WholeTable(stagedDir))).get._1

  /** The commit point (bucketed): publish the staged dir's entries for the `touched`
    * buckets (row counts from the caller — no data scan here) with every
    * other bucket carried forward by reference from the manifest current
    * AT PUBLISH TIME. Returns total rows of the published snapshot.
    *
    * Optimistic concurrency: losing the version CAS re-reads the current
    * manifest and re-derives the carried entries, so a concurrent commit
    * to OTHER buckets merges cleanly. If `expectedTouched` is given and
    * the current manifest's entries for this writer's touched buckets no
    * longer match it, the base this merge was computed against has moved —
    * ConcurrentModificationException, and the caller must re-merge
    * (`mergeCommitBuckets` does, bounded).
    *
    * `numBuckets` is pinned by the first bucketed commit; changing it would
    * silently mis-route carried keys, so a mismatch throws.
    */
  def publishBuckets(spark: SparkSession, target: String, stagedDir: String,
                     numBuckets: Int, touched: Seq[Int],
                     rowsByBucket: Map[Int, Long],
                     expectedTouched: Option[Seq[BucketEntry]] = None): Long = {
    val touchedSet = touched.toSet
    // a touched bucket with zero surviving rows simply drops out of the
    // manifest (its stale dir becomes unreferenced garbage)
    val fresh = touched.flatMap(b => rowsByBucket.get(b).filter(_ > 0)
      .map(BucketEntry(b, s"$stagedDir/$BucketCol=$b", _)))
    val (_, published) = commitLoop(spark, target, stagedDir) { cur =>
      val prev = cur.fold(Seq.empty[BucketEntry]) { m =>
        val (n, entries) = bucketsOf(target, m)
        require(n == numBuckets,
          s"bucket count is pinned at $n for $target, got $numBuckets")
        entries
      }
      if (expectedTouched.exists(_.toSet != prev.filter(e => touchedSet(e.bucket)).toSet))
        throw conflict(s"buckets ${touched.mkString(",")} of $target changed under this " +
          "merge (concurrent commit to the same buckets) — re-merge " +
          "against the current snapshot and re-stage")
      Some(Bucketed(numBuckets, prev.filterNot(e => touchedSet(e.bucket)) ++ fresh))
    }.get
    rowsOf(target, published)
  }

  /** An atomic manifest-claim primitive for one filesystem scheme:
    * publish the staged file `tmp` at `dst` if and only if `dst` does not
    * yet exist, returning true exactly when THIS writer's content is the
    * one now at `dst`. The atomicity must come from the STORE (a
    * conditional put / if-absent link), not from an exists-check — two
    * racing writers must never both see true for one `dst`.
    */
  type ClaimPrimitive =
    (org.apache.hadoop.fs.FileSystem, Path, Path) => Boolean

  private val customClaims =
    new java.util.concurrent.ConcurrentHashMap[String, ClaimPrimitive]()

  /** Register the claim primitive for a scheme whose native conditional
    * put should back the commit atom — e.g. S3 `If-None-Match: *`, GCS
    * `x-goog-if-generation-match: 0`, an etag-gated ABFS create. A
    * registered primitive takes precedence over every built-in path
    * (including `file`, which is how the contract specs inject simulated
    * semantics).
    */
  def registerClaim(scheme: String, p: ClaimPrimitive): Unit =
    customClaims.put(scheme, p)

  def unregisterClaim(scheme: String): Unit = customClaims.remove(scheme)

  /** Filesystems whose Hadoop `rename` atomically REFUSES an existing
    * destination (directory-namespace stores). Object stores emulating
    * rename as copy+delete (s3a, gs, wasb) are deliberately absent: their
    * rename silently replaces the destination, and no read-back can close
    * the both-writers-read-back-after-both-renamed window (proven by the
    * contract spec), so they require a registered conditional-put claim.
    */
  private val AtomicRenameSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs", "abfs", "abfss")

  private[graft] sealed trait ClaimStrategy
  private[graft] case object HardLinkClaim extends ClaimStrategy
  private[graft] case object RenameIfAbsentClaim extends ClaimStrategy
  private[graft] final case class CustomClaim(p: ClaimPrimitive) extends ClaimStrategy

  /** The FS contract matrix, resolved per scheme:
    *
    *  | scheme            | primitive            | why it is atomic        |
    *  |-------------------|----------------------|-------------------------|
    *  | (registered)      | caller's conditional | store-side if-absent    |
    *  | file              | `link(2)`            | kernel rejects existing |
    *  | hdfs/viewfs/abfs… | rename-if-absent     | namespace rename fails  |
    *  |                   |                      | on an existing dst      |
    *  | s3a/gs/wasb/other | REFUSED              | rename overwrites; an   |
    *  |                   |                      | exists+rename+read-back |
    *  |                   |                      | pair still loses commits|
    *
    * Refusing is the correctness-preserving default: a silently-lost
    * commit on an object store is unbounded damage, an exception naming
    * the fix (registerClaim with the store's conditional put) is not.
    */
  private[graft] def claimStrategy(scheme: String): ClaimStrategy = {
    val custom = customClaims.get(scheme)
    if (custom != null) CustomClaim(custom)
    else if (scheme == "file") HardLinkClaim
    else if (AtomicRenameSchemes.contains(scheme)) RenameIfAbsentClaim
    else throw new IllegalStateException(
      s"no atomic manifest-claim primitive for filesystem scheme '$scheme': " +
        "its rename replaces existing destinations, so optimistic commits " +
        "could silently lose updates. Register the store's conditional-put " +
        s"via Snapshots.registerClaim(\"$scheme\", ...) (S3: If-None-Match, " +
        "GCS: if-generation-match 0, ABFS: etag-gated create).")
  }

  /** The rename-if-absent claim, factored out so the contract spec can
    * drive it against a filesystem with OVERWRITING rename semantics and
    * demonstrate the lost update that keeps such schemes out of
    * `AtomicRenameSchemes`.
    */
  private[graft] def renameIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
                                    tmp: Path, dst: Path,
                                    readBack: () => String,
                                    content: String): Boolean =
    !fs.exists(dst) && fs.rename(tmp, dst) && readBack() == content

  /** The commit atom: claim version `v` with `content`. The content is
    * fully staged in a salted dot-file (readers ignore those) and the
    * version number is then claimed with the scheme's atomic-if-absent
    * primitive (`claimStrategy` — see the contract matrix there), so the
    * claim and the content land together and two writers can never both
    * win one version. On the local path, POSIX `rename(2)` is NOT usable:
    * it silently replaces an existing target, so the claim is `link(2)`
    * via `Files.createLink` — the kernel rejects an existing target in
    * the same syscall that publishes the content.
    *
    * False (lost the race) means the caller must re-read the current
    * manifest before retrying at a later version.
    */
  private def casPublish(spark: SparkSession, target: String, v: Long,
                         content: String): Boolean = {
    val fs = fsOf(spark, target)
    val dir = manifestPath(target)
    val tmp = new Path(dir, s".tmp-${fmt(v)}-${newSalt()}")
    val dst = new Path(dir, fmt(v))
    val strategy = claimStrategy(fs.getScheme) // unsupported scheme: throw
    val won =                                  // BEFORE staging anything
      try {
        // the tmp staging itself can race a concurrent gc (a tmp aimed at
        // an already-superseded version looks like a crashed-writer
        // leftover and gets reaped mid-create) — any IO failure before
        // the claim lands is a lost race, never an error
        val out = fs.create(tmp, true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        strategy match {
          case CustomClaim(p) => p(fs, tmp, dst)
          case HardLinkClaim =>
            try {
              java.nio.file.Files.createLink(
                java.nio.file.Paths.get(dst.toUri.getPath),
                java.nio.file.Paths.get(tmp.toUri.getPath))
              true
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
            }
          case RenameIfAbsentClaim =>
            // the read-back is defense in depth on top of the atomic
            // rename (salted dir names make every writer's content
            // distinct), NOT a substitute for it — see AtomicRenameSchemes
            renameIfAbsent(fs, tmp, dst,
              () => manifestContent(spark, target, v), content)
        }
      } catch { case _: java.io.IOException => false }
    // the link claim leaves tmp behind (dst shares its inode) — always
    // drop it; on the rename path tmp survives only after a lost race
    if (fs.exists(tmp)) fs.delete(tmp, false)
    won
  }


  private def rootOf(dir: String): String = dir.takeWhile(_ != '/')

  /** Snapshot roots (snap-XXXXXXXX dir names) a manifest references. */
  private def roots(m: Manifest): Set[String] = m match {
    case WholeTable(dir) => Set(dir)
    case Bucketed(_, entries) => entries.map(e => rootOf(e.dir)).toSet
    case AppendLog(segments) => segments.map(s => rootOf(s.dir)).toSet
  }

  /** Delete snapshot dirs referenced by NONE of the retained
    * manifests, and manifests below the retained window.
    * `retainManifests` previous versions (default 1) stay live as a grace
    * window for in-flight readers that resolved a manifest just before a
    * commit — the same reason transaction-log table formats retain
    * superseded files for a configurable spell; widen it for deployments
    * whose readers can lag more than one commit interval. Reference-based
    * liveness keeps bucketed carry-forward dirs alive for as long as any
    * retained manifest points at them.
    *
    * Two rules keep gc safe against concurrent writers without clocks:
    * the candidate dirs are LISTED before liveness is resolved against the
    * then-current version (a dir published mid-gc references roots this gc
    * re-reads), and an unreferenced dir is deleted ONLY when the version
    * embedded in its name has fallen below the retained window — a
    * concurrent writer's in-flight staging dir always targets a version
    * at or above current+1, so it can never be reaped mid-write. A
    * crashed writer's abandoned dir ages out of the window after
    * `retainManifests`+1 more commits — bounded, deterministic garbage.
    */
  def gc(spark: SparkSession, target: String, retainManifests: Int = 1): Unit =
    currentVersion(spark, target).foreach { cur0 =>
      val fs = fsOf(spark, target)
      val snaps = fs.listStatus(new Path(target))
        .map(_.getPath).filter(_.getName.startsWith("snap-"))
      // a commit racing this gc publishes new roots after our liveness
      // read; recompute against the advanced version before deleting
      val cur = currentVersion(spark, target).getOrElse(cur0)
      val keep = math.max(1L, cur - retainManifests)
      val live = (keep to cur).iterator
        .filter(v => fs.exists(new Path(manifestPath(target), fmt(v))))
        .flatMap(v => roots(readManifest(spark, target, v))).toSet
      snaps.foreach { p =>
        if (!live(p.getName) && stagedVersion(p.getName) < keep) fs.delete(p, true)
      }
      fs.listStatus(manifestPath(target)).foreach { st =>
        val n = st.getPath.getName
        val staleTmp = n.startsWith(".tmp-") && // crashed-writer leftovers;
          n.stripPrefix(".tmp-").takeWhile(_.isDigit) // in-flight tmps aim
            .toLongOption.exists(_ < keep)            // at versions > cur
        if ((n.forall(_.isDigit) && n.toLong < keep) || staleTmp)
          fs.delete(st.getPath, false)
      }
    }

  /** Full whole-table commit: stage, publish (re-staging if a concurrent
    * gc reaped the staged dir while the version race was lost), gc.
    * Whole-table content is last-write-wins by design — it stores small
    * state tables where the latest complete snapshot is the truth.
    */
  def commit(df: DataFrame, target: String, retainManifests: Int = 1): Unit = {
    retrying(target)(publish(df.sparkSession, target, writeSnapshot(df, target)))
    gc(df.sparkSession, target, retainManifests)
  }

  /** Number of distinct snapshot roots the current bucketed manifest
    * references — the store's fragmentation measure.
    */
  def referencedRoots(spark: SparkSession, target: String): Int =
    currentBuckets(spark, target).fold(0) { case (n, es) => roots(Bucketed(n, es)).size }

  /** Fold a fragmented bucketed store back into a single snapshot root:
    * read every live bucket, rewrite all of them into `snap-<v+1>`, and
    * publish a manifest whose entries all point there (row counts carry
    * over — the data is unchanged). Readers stay consistent throughout
    * (same protocol). Cost is one scan of the live bucket dirs plus one
    * partitioned write, so the number of Spark jobs does not depend on the
    * bucket count; callers amortize the full-table rewrite with
    * `maybeCompact`.
    */
  def compactBuckets(spark: SparkSession, target: String): Unit =
    currentBuckets(spark, target).foreach { case (numBuckets, entries) =>
      if (entries.nonEmpty) {
        // every row keeps the bucket of the dir its file sits in (the last
        // `graft_bucket=<b>` segment of the file path), so one partitioned
        // write routes it back to the same bucket
        val live = readEntries(spark, target, entries)
        val full = live.withColumn(BucketCol, regexp_extract(
          live.metadataColumn("_metadata").getField("file_path"),
          s"/$BucketCol=([0-9]+)/[^/]+$$", 1).cast("int"))
        val staged = writeBucketSnapshot(full, target)
        // compaction is optional maintenance: a concurrent commit that
        // moves any bucket under it just cancels this pass (the staged
        // dir becomes garbage for the next gc) — the next maybeCompact
        // runs against the new state
        try {
          publishBuckets(spark, target, staged, numBuckets,
            touched = entries.map(_.bucket),
            rowsByBucket = entries.map(e => e.bucket -> e.rows).toMap,
            expectedTouched = Some(entries))
          gc(spark, target)
        } catch { case _: java.util.ConcurrentModificationException => () }
      }
    }

  /** The fragmentation past which the medallion gold layer and the
    * streaming SCD/IVM sinks fold a bucketed store back into one root
    * (bounds small-file accumulation from many tiny incremental commits —
    * the Delta OPTIMIZE analog).
    */
  val CompactAfterRoots = 16

  /** Compact when fragmentation crosses `maxRoots` referenced snapshot
    * roots. O(1) manifest check per call; the rewrite runs only when due.
    */
  def maybeCompact(spark: SparkSession, target: String, maxRoots: Int): Unit =
    if (referencedRoots(spark, target) > maxRoots) compactBuckets(spark, target)

  /** Parquet footer row counts of the files under `dir` (recursive),
    * summed per parent directory name — a metadata read per file in this
    * process, no Spark action and no data scan. Plain per-level listings and
    * one shared read-options object keep it cheap: a located recursive
    * listing (which resolves every file's permissions) or a reader that
    * builds its own options is over ten times slower per file on the
    * local filesystem.
    */
  private def footerRows(spark: SparkSession, dir: Path): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    val options = HadoopReadOptions.builder(conf).build()
    files(dir).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
      withFooter(f, conf, options)(f.getPath.getParent.getName -> _.getRecordCount)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Open one parquet file's footer in this process and apply `body`. */
  private def withFooter[A](f: FileStatus, conf: org.apache.hadoop.conf.Configuration,
                            options: ParquetReadOptions)(body: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), options)
    try body(r) finally r.close()
  }

  /** The bucketed read-merge-write commit both the medallion gold layer
    * and the streaming SCD sinks run on: prune the stored table to the
    * buckets `updates` touches, apply `merge(storedSubset, updates)` —
    * or `init(updates)` where no stored bucket exists yet — and commit
    * ONLY those buckets, every other bucket carried forward by manifest
    * reference. Both the read and the write are O(touched buckets).
    *
    * Mechanics per commit, all slice-proportional:
    *  1. one probe action over `updates` (distinct over ≤ numBuckets
    *     values) decides the pruning — an empty slice commits NOTHING;
    *  2. per-bucket manifest row counts come from the staged files'
    *     parquet footers — metadata only, no extra action, at any
    *     touched-set width;
    *  3. publish + reference-based gc as usual.
    *
    * Returns total rows now in the store (from manifest metadata).
    */
  def mergeCommitBuckets(updates: DataFrame, target: String, keys: Seq[String],
                         numBuckets: Int)
                        (init: DataFrame => DataFrame)
                        (merge: (DataFrame, DataFrame) => DataFrame): Long = {
    val spark = updates.sparkSession
    val bucket = bucketOf(keys, numBuckets)
    // the slice feeds two actions (the probe and the write); persist it so
    // the source is scanned once, spilling to disk for oversized batches
    val u = updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = u.select(bucket.as(BucketCol)).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val touchedSet = touched.toSet
      // Optimistic concurrency: each attempt merges against the CURRENT
      // manifest; a publish-time conflict on this writer's buckets (or a
      // reaped staged dir) re-runs the merge against the new state, so
      // concurrent writers to overlapping buckets both land. The base
      // bucket dirs are read LAZILY during the staged write, so a
      // concurrent commit that rewrites them (and a gc that ages the old
      // dirs out mid-write) surfaces as a FileNotFound-rooted failure
      // from the write action — a conflict in disguise, retried the same
      // way instead of killing the job on a transient race.
      if (touched.isEmpty) totalRows(spark, target)
      else retrying(target) {
        val touchedEntries = currentBuckets(spark, target).toSeq.flatMap(_._2)
          .filter(e => touchedSet(e.bucket))
        // keys sharing a bucket with a touched key ride through the merge's
        // untouched path and rewrite into the same bucket
        val merged =
          if (touchedEntries.isEmpty) init(u)
          else merge(readEntries(spark, target, touchedEntries), u)
        val dir = writeBucketSnapshot(merged.withColumn(BucketCol, bucket), target)
        val rowsByBucket = footerRows(spark, new Path(target, dir))
          .map { case (d, n) => d.stripPrefix(s"$BucketCol=").toInt -> n }
        // a merge emitting keys OUTSIDE the touched buckets would write
        // rows no manifest entry points at — fail loudly, never silently
        val stray = rowsByBucket.keys.filterNot(touchedSet).toSeq.sorted
        require(stray.isEmpty,
          s"merge wrote buckets $stray outside the touched set $touched " +
            s"of $target — merge must not invent keys outside the update " +
            "slice's buckets")
        val total = publishBuckets(spark, target, dir, numBuckets, touched,
          rowsByBucket, expectedTouched = Some(touchedEntries))
        gc(spark, target)
        total
      }
    } finally u.unpersist()
  }

  /** True when `t`'s cause chain (or a wrapped task-failure message) is
    * rooted in a missing file UNDER THIS STORE — how Spark and Hadoop
    * surface a dir that a concurrent commit rewrote and gc'd while this
    * writer was still reading it. The message patterns matter: the local
    * filesystem shells out for permission bits and wraps a vanished file
    * as a RuntimeException over an ExitCodeException ("No such file or
    * directory"), with no FileNotFoundException anywhere in the chain.
    *
    * The store-path requirement is the narrowing: only a path under
    * `target`'s own directories (staged segments, bucket dirs, manifests)
    * can vanish because of a concurrent commit's gc — that is the ONLY
    * missing-file cause a retry can cure. A missing file anywhere else
    * (a mistyped input table feeding the update DataFrame, a dropped
    * upstream) is a caller bug that re-merging would re-hit
    * MaxCommitRetries times before dying with a misleading "lost the
    * publish race" story; it must propagate immediately as itself.
    */
  private[graft] def fileNotFoundRooted(t: Throwable, target: String): Boolean = {
    // Prefixes an in-store path carries in error messages: the raw target,
    // its scheme-stripped URI path, and file:-qualified forms of either.
    // Normalize a trailing slash first — "$b/" built from "store/" would
    // be "store//", matching nothing, and a genuine gc race would then
    // propagate as a hard failure instead of retrying.
    val t0 = if (target.length > 1) target.stripSuffix("/") else target
    val bases = Seq(t0, new Path(t0).toUri.getPath).distinct
    val prefixes = bases.flatMap(b => Seq(s"$b/", s"file:$b/", s"file://$b/",
      s"file:///${b.stripPrefix("/")}/"))
    var c: Throwable = t
    var fnf = false
    var inStore = false
    var depth = 0
    while (c != null && depth < 16) {
      val m = c.getMessage
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          (m != null && (m.contains("FileNotFoundException") ||
            m.contains("No such file or directory") || m.contains("does not exist"))))
        fnf = true
      if (m != null && prefixes.exists(m.contains)) inStore = true
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    fnf && inStore
  }


  /** Append-only commit: write ONLY `df` as a new log segment and publish
    * a manifest carrying every previous segment forward by reference — the
    * write side is O(batch) however large the table has grown. `token`
    * makes redelivery a no-op (returns false): a segment with
    * `token <=` the last committed token is already applied. The row count
    * for the manifest comes from the new segment's parquet footers
    * (metadata-only read, no data scan).
    */
  def appendCommit(df: DataFrame, target: String, token: Long): Boolean = {
    val spark = df.sparkSession
    def log(cur: Option[Manifest]) = cur.fold(Seq.empty[LogSegment])(segmentsOf(target, _))
    def replayed(cur: Option[Manifest]) = log(cur).lastOption.exists(_.token >= token)
    retrying(target) {
      // a replay stages nothing
      !replayed(current(spark, target)._2) && {
        val dir = writeSnapshot(df, target)
        val segment =
          LogSegment(dir, footerRows(spark, new Path(target, dir)).values.sum, token)
        // the carried segments come from the manifest the loop CASes
        // against, so an append landing in between costs this writer the
        // claim (and a re-derive), never its segment
        val won = commitLoop(spark, target, dir) { cur =>
          if (replayed(cur)) None else Some(AppendLog(log(cur) :+ segment))
        }.isDefined
        if (won) gc(spark, target)
        won
      }
    }
  }

  /** Fold all log segments into one (data unchanged, token = the last
    * committed token). One full rewrite — amortize with `maybeCompactLog`.
    */
  def compactLog(spark: SparkSession, target: String): Unit =
    logSegments(spark, target).foreach { segments =>
      val live = segments.filter(_.rows > 0)
      if (segments.size > 1 && live.nonEmpty) {
        val dir = writeSnapshot(readDirs(spark, live.map(s => new Path(target, s.dir))), target)
        val folded = AppendLog(Seq(LogSegment(dir, live.map(_.rows).sum, segments.last.token)))
        // compaction is optional maintenance: publish only over the log it
        // read — a moved log declines and a reaped stage cancels the pass,
        // leaving the staged dir to the next gc, never clobbering a
        // concurrent append
        try {
          val base = Some(AppendLog(segments))
          if (commitLoop(spark, target, dir)(cur => if (cur == base) Some(folded) else None)
              .isDefined) gc(spark, target)
        } catch { case _: java.util.ConcurrentModificationException => () }
      }
    }

  /** Compact when the log exceeds `maxSegments` (bounds read fan-in and
    * small-file accumulation; O(1) manifest check per call).
    */
  def maybeCompactLog(spark: SparkSession, target: String, maxSegments: Int): Unit =
    if (logSegments(spark, target).exists(_.size > maxSegments))
      compactLog(spark, target)
}
