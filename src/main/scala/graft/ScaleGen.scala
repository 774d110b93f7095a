package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Deterministic corpus scale-up for the second decade of the scaling
  * curve. No sf1 dataset ships in this environment, so this derives an
  * sf1-EQUIVALENT `documents`/`embeddings` pair from sf0.1 by replication
  * under structure-preserving, collision-free transforms; every other
  * table is copied through unchanged. Bench tooling — not part of the
  * query surface.
  *
  * Why replication instead of fresh sampling: the scaling fit compares
  * the SAME query at two corpus sizes, so the scaled corpus must keep
  * the sf0.1 distributions (words/doc, near-dup density, df shape,
  * embedding isotropy) while growing row count 10×. The transforms
  * below make each replica internally IDENTICAL to the original and
  * mutually non-colliding:
  *
  *  - documents: replica i > 0 suffixes every word with a replica tag.
  *    Within-replica shingle/minhash/simhash/prefix structure is exactly
  *    the original's (the transform is a vocabulary bijection), while
  *    cross-replica n-gram collisions are impossible — 10× rows and 10×
  *    the planted dup structure, no new hot shingles. `n_chars` is
  *    recomputed so length-derived features stay consistent.
  *  - embeddings: replica i > 0 applies a cyclic coordinate shift plus
  *    per-coordinate sign flips — an orthogonal map, so norms and all
  *    within-replica cosines are preserved exactly, while cross-replica
  *    cosines sit at the isotropic noise floor of the corpus.
  *  - orders/lineitem: replica i > 0 offsets the order key (the fact
  *    identity) while keeping dim keys (custkey/partkey/suppkey) and all
  *    dates — the realistic scale-up shape: facts grow 10×, dims stay
  *    fixed, per-dim-key fan-out grows 10× with identical distribution.
  *  - events: replica i > 0 offsets event_id and user_id, preserving ts —
  *    each replica user carries the original user's exact event timeline,
  *    so sessions-per-user and gap structure replicate instead of 10
  *    timelines collapsing into one user's (which would merge sessions).
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <destDir> [factor=10]
  */
object ScaleGen {

  /** doc_id / vec_id stride between replicas; far above any real id. */
  val IdStride = 10000000L

  def scaleDocuments(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { i =>
      if (i == 0) df
      else {
        val tag = s"x$i"
        val text = array_join(
          transform(split(col("text"), " "), w => concat(w, lit(tag))), " ")
        df.withColumn("doc_id", col("doc_id") + lit(i * IdStride))
          .withColumn("text", text)
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }.reduce(_.unionByName(_))

  def scaleEmbeddings(df: DataFrame, factor: Int, dim: Int): DataFrame =
    (0 until factor).map { i =>
      if (i == 0) df
      else {
        val shift = (i * 7) % dim
        // Deterministic ±1 per (replica, coordinate): a fixed LCG-style
        // mix, no RNG state — reruns are bit-identical.
        val rotated = (0 until dim).map { j =>
          val sign = if ((((j * 2654435761L + i * 40503L) >>> 13) & 1L) == 0L) 1f else -1f
          (col("embedding")((j + shift) % dim) * lit(sign)).cast(FloatType)
        }
        df.withColumn("vec_id", col("vec_id") + lit(i * IdStride))
          .withColumn("embedding", array(rotated: _*).cast(ArrayType(FloatType)))
      }
    }.reduce(_.unionByName(_))

  /** Key-offset replication: bump each column in `keyCols` by the replica
    * stride, pass everything else through. A bijection on the offset keys,
    * identity on the rest — within-replica join/window structure is exactly
    * the original's.
    */
  def scaleByKeyOffset(df: DataFrame, factor: Int, keyCols: Seq[String]): DataFrame =
    (0 until factor).map { i =>
      if (i == 0) df
      else keyCols.foldLeft(df)((d, k) =>
        d.withColumn(k, col(k) + lit(i * IdStride)))
    }.reduce(_.unionByName(_))

  def scaleOrders(df: DataFrame, factor: Int): DataFrame =
    scaleByKeyOffset(df, factor, Seq("o_orderkey"))

  def scaleLineitem(df: DataFrame, factor: Int): DataFrame =
    scaleByKeyOffset(df, factor, Seq("l_orderkey"))

  def scaleEvents(df: DataFrame, factor: Int): DataFrame =
    scaleByKeyOffset(df, factor, Seq("event_id", "user_id"))

  /** One scaling run as the three mains share it: `src dest [factor=10]`
    * from `args`, a session whose parquet writer pins TIMESTAMP_MICROS
    * (Spark defaults to INT96; scaled copies of MICROS-era fixtures carry
    * the source's physical annotation), `scale` writing the scaled tables
    * with `write`, then every other table of `src` copied through so the
    * dest dir is a complete SF directory any tool (Bench, Verify) can
    * point at.
    */
  private def run(name: String, tag: String, args: Array[String])(
      scale: (SparkSession, String, Int, (DataFrame, String) => Unit) => Unit): Unit = {
    val src = args(0)
    val dest = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // fail up front on a missing/non-local src: listFiles() below would
    // return null and NPE after work was already done
    val srcDir = new java.io.File(src)
    require(srcDir.isDirectory,
      s"$name src must be a local testdata directory, got $src")
    val cpus = Sessions.envCpus
    val spark = Sessions.local(cpus)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
    scale(spark, src, factor, (df, table) =>
      df.repartition(cpus).write.mode("overwrite").parquet(s"$dest/$table"))
    srcDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val out = java.nio.file.Paths.get(dest, f.getName)
      if (!java.nio.file.Files.exists(out)) {
        if (f.isDirectory)
          spark.read.parquet(f.getPath).write.mode("overwrite")
            .parquet(out.toString)
        else { java.nio.file.Files.copy(f.toPath, out); () }
      }
    }
    println(s"""{"$tag":"$src -> $dest","factor":$factor}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit =
    run("ScaleGen", "scaled", args) { (spark, src, factor, write) =>
      write(scaleDocuments(Tables.documents(spark, src), factor),
        "documents.parquet")
      val dim = Tables.embeddings(spark, src)
        .select(size(col("embedding"))).first().getInt(0)
      write(scaleEmbeddings(Tables.embeddings(spark, src), factor, dim),
        "embeddings.parquet")
      // Fact tables for the ETL/star family's second decade.
      write(scaleOrders(spark.read.parquet(s"$src/orders.parquet"), factor),
        "orders.parquet")
      write(scaleLineitem(spark.read.parquet(s"$src/lineitem.parquet"), factor),
        "lineitem.parquet")
      // events.ts format follows the source fixtures (Tables.eventsTsUnit
      // detects TIMESTAMP(MICROS) vs TIMESTAMP(NANOS)). MICROS sources copy
      // through as native TimestampType (written back as TIMESTAMP(MICROS),
      // which Tables.events re-detects); NANOS sources copy as raw INT64
      // nanos, which the long-read path picks up. The scaled dir feeds Bench
      // only, never the DuckDB oracle.
      val evSrc = Tables.eventsTsUnit(spark, src) match {
        case Tables.TsMicros => Tables.events(spark, src)
        case Tables.TsNanos  => Tables.eventsRawNanos(spark, src)
      }
      write(scaleEvents(evSrc, factor), "events.parquet")
    }

  /** Graph-drill variant (`runMain graft.ScaleGenGraph src dest factor`):
    * lineitem replicated with BOTH l_orderkey and l_partkey offset, all
    * other tables passed through unchanged. Rationale: the co-purchase
    * graph has the ITEM CATALOG as its vertex set, and `scaleLineitem`
    * (facts-only offset) holds that set fixed while basket count grows —
    * at 100× the pair table saturates toward the complete graph on 20k
    * parts, which is a density regime no real 100× corpus is in (a 100×
    * catalog grows too). Offsetting both keys yields `factor` disjoint
    * copies of the original graph — the structure-preserving scale-up
    * the graph family's exponents should be fitted on (same reasoning as
    * scaleEvents preserving per-user timelines).
    */
  def graphMain(args: Array[String]): Unit =
    run("ScaleGenGraph", "graph_scaled", args) { (spark, src, factor, write) =>
      write(scaleByKeyOffset(spark.read.parquet(s"$src/lineitem.parquet"),
        factor, Seq("l_orderkey", "l_partkey")), "lineitem.parquet")
    }

  /** Lineitem-only facts scaler (`runMain graft.ScaleGenLineitem src dest
    * factor`): lineitem replicated with l_orderkey offset (per-part
    * chains grow `factor`× DEEPER — the q210 FIFO drill regime, where
    * per-key cumulative totals cross many bucket widths), every other
    * table passed through. Much cheaper than `main` when only the
    * lineitem family is under drill (no document/embedding blow-up).
    */
  def lineitemMain(args: Array[String]): Unit =
    run("ScaleGenLineitem", "lineitem_scaled", args) { (spark, src, factor, write) =>
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      // Detect an already-scaled source: offsets are i·IdStride, so
      // replicating a dir whose keys already reach the stride would
      // collide replica 1's keys with the source's replica 1 — silently
      // corrupting per-key chains. Always scale from the ORIGINAL
      // fixture dir.
      val maxKey = li.agg(max("l_orderkey")).collect()(0).getLong(0)
      require(maxKey < IdStride,
        s"$src looks already scaled (max l_orderkey $maxKey >= IdStride " +
          s"$IdStride): replica offsets would collide — always " +
          "scale from the ORIGINAL fixture dir")
      write(scaleLineitem(li, factor), "lineitem.parquet")
    }
}

object ScaleGenGraph {
  def main(args: Array[String]): Unit = ScaleGen.graphMain(args)
}

object ScaleGenLineitem {
  def main(args: Array[String]): Unit = ScaleGen.lineitemMain(args)
}
