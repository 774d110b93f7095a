package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.ZOrderExprs

/** Z-order (Morton-curve) data layout planner.
  *
  * The write-side half of multi-dimensional file skipping: quantize two
  * layout dimensions to a fixed grid, interleave the grid coordinates
  * into a Morton code (graft.plans.ZOrderExprs — codegen'd integer
  * kernel), and treat contiguous Z-ranges as the target files. The
  * resulting per-file manifest carries min/max for BOTH dimensions, and
  * because a Z-range is a small rectangle in (x, y) space those bounds
  * are tight — a point/range predicate on either dimension prunes most
  * files, which is the entire economics of a 100 TB scan.
  *
  * Scale shape: the quantization bounds are one scalar aggregate
  * (broadcast back — O(1) rows); the Morton code is map-side codegen;
  * the manifest is one hash-aggregation over O(blocks) groups. To
  * actually LAY OUT the data at scale you'd `repartitionByRange(zCol)`
  * and write — the manifest produced here is exactly the zone-map index
  * that layout would publish. Reference analog: the medallion tables'
  * partition-by-date layout (Ch3rry-Pi3-Data-Engineering notebooks write
  * date-partitioned silver tables); Z-order generalizes that to two
  * dimensions with bounded file counts.
  */
object ZOrder {

  /** Quantize `v` (long) into `2^qBits` equal-width buckets of
    * [lo, hi]: `floor((v-lo) * 2^qBits / (hi-lo+1))`. The division runs
    * in double but both operands are exact integers far below 2^53 and
    * the true quotient is a rational with denominator ≤ range, so the
    * floor is exact — bit-identical to integer `//` in the oracle.
    */
  def quantize(v: Column, lo: Column, hi: Column, qBits: Int): Column =
    floor(((v - lo) * lit(1L << qBits)) / (hi - lo + lit(1L))).cast("long")

  /** Per-Z-block layout manifest for `df` laid out on (xCol, yCol).
    *
    * Output: (block, n_rows, min_x, max_x, min_y, max_y) in quantized
    * grid coordinates, one row per occupied Z-block of `2^blockShift`
    * consecutive Z-values (an aligned rectangle of the grid).
    */
  def layoutManifest(df: DataFrame, xCol: Column, yCol: Column,
                     qBits: Int = 8, blockShift: Int = 6): DataFrame = {
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val bounds = base.agg(min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"))
    base.crossJoin(broadcast(bounds))
      .select(
        quantize(col("x"), col("minx"), col("maxx"), qBits).as("bx"),
        quantize(col("y"), col("miny"), col("maxy"), qBits).as("by"))
      .withColumn("z", ZOrderExprs.morton16(col("bx"), col("by")))
      .groupBy(shiftright(col("z"), blockShift).as("block"))
      .agg(count(lit(1)).as("n_rows"),
        min("bx").as("min_x"), max("bx").as("max_x"),
        min("by").as("min_y"), max("by").as("max_y"))
      .orderBy("block")
  }

  /** `layoutManifest` on the HILBERT curve (plans/HilbertExprs): same
    * quantize → index → block zone map, with the curve that never takes
    * the Z-curve's diagonal jumps — every block of 2^blockShift
    * consecutive indices is a spatially compact region, so the
    * per-block min/max bounds are uniformly tight (the reason layout
    * engines offer Hilbert next to ZORDER for 100-TB file skipping).
    */
  /** Hilbert-ordered WRITE path — the end-to-end half of the layout
    * story (q221 PLANS the layout, q227 scores it against Morton; this
    * actually lays the data out and lets a reader skip it): quantize
    * the two layout dimensions on the frame's own bounds, compute the
    * Hilbert index (plans/HilbertExprs codegen kernel), range-cluster
    * rows by the index — `repartitionByRange(h)`, so each writer task
    * owns a contiguous index range, i.e. a spatially compact region —
    * and write hive-partitioned by `hblock` (index div 2^blockShift:
    * the zone = the partition directory). A sibling `<path>_manifest`
    * parquet carries the per-block zone map (min/max of both quantized
    * dims + row count) and the global quantization bounds, so a reader
    * translates an original-coordinate rectangle probe into the
    * qualifying block list and scans ONLY those partition directories
    * — static partition pruning at the source, the file-skipping loop
    * q178 proves for 1-D hive layout closed for the 2-D curve.
    *
    * Scale shape: bounds are one scalar aggregate collected to the
    * driver (one row of four longs); the index is map-side codegen;
    * the range shuffle is the one exchange a clustering write always
    * pays. The coded frame is persisted for the length of the call,
    * and both the data write and the manifest aggregate read that one
    * cached evaluation, so the zone map describes exactly the rows
    * written: a non-deterministic or mutated input source can skew
    * WHAT was written, but never make the manifest disagree with it
    * (the pruning contract is manifest ⊇ file contents). Nothing is
    * read back from the written directories. Rows with a NULL
    * layout dimension are excluded (a production writer would route
    * them to a dedicated overflow partition).
    */
  def writeHilbertLayout(df: DataFrame, xCol: Column, yCol: Column,
                         path: String, qBits: Int = 8,
                         blockShift: Int = 6): Unit = {
    val b = df.select(xCol.cast("long").as("__x"), yCol.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .agg(min("__x"), max("__x"), min("__y"), max("__y")).head()
    val (minx, maxx, miny, maxy) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val coded = df
      .filter(xCol.isNotNull && yCol.isNotNull)
      .withColumn("bx", quantize(xCol.cast("long"), lit(minx), lit(maxx), qBits))
      .withColumn("by", quantize(yCol.cast("long"), lit(miny), lit(maxy), qBits))
      .withColumn("h", graft.plans.HilbertExprs.hilbert(col("bx"), col("by"), qBits))
      .withColumn("hblock", shiftright(col("h"), blockShift))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      coded
        .repartitionByRange(col("h"))
        .write.mode("overwrite").partitionBy("hblock").parquet(path)
      // Zone map from the cached rows the write just stored: reading
      // the written table back would pay a 2^(2qBits − blockShift)-
      // directory listing, partition-schema inference and a tiny-file
      // scan per block dir (the dominant non-commit cost of q230).
      coded
        .groupBy(col("hblock"))
        .agg(count(lit(1)).as("n_rows"),
          min("bx").as("min_x"), max("bx").as("max_x"),
          min("by").as("min_y"), max("by").as("max_y"))
        .withColumn("minx", lit(minx)).withColumn("maxx", lit(maxx))
        .withColumn("miny", lit(miny)).withColumn("maxy", lit(maxy))
        .coalesce(1)
        .write.mode("overwrite").parquet(path + "_manifest")
    } finally coded.unpersist()
  }

  /** `hilbertLayoutManifest` with the zone map in ORIGINAL coordinates
    * (parquet-footer semantics): blocks are still Hilbert-index ranges
    * on the quantized grid, but min/max are of the raw values, so a
    * raw-rectangle probe intersects without replaying quantization.
    * This is the comparable unit for layout-quality comparisons where
    * the two layouts use DIFFERENT grids (q238's two-level evolution).
    */
  def rawHilbertManifest(df: DataFrame, xCol: Column, yCol: Column,
                         qBits: Int = 8, blockShift: Int = 6): DataFrame = {
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val bounds = base.agg(min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"))
    base.crossJoin(broadcast(bounds))
      .select(col("x"), col("y"),
        quantize(col("x"), col("minx"), col("maxx"), qBits).as("bx"),
        quantize(col("y"), col("miny"), col("maxy"), qBits).as("by"))
      .withColumn("h", graft.plans.HilbertExprs.hilbert(col("bx"), col("by"), qBits))
      .groupBy(shiftright(col("h"), blockShift).as("block"))
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
  }

  /** TWO-LEVEL layout manifest — the partition-evolution shape real
    * lakehouses use when one dimension is time: the OUTER dimension
    * (`yCol`, e.g. event day) is range-planned first into `2^obBits`
    * equal-width ranges on its GLOBAL bounds (ingestion-aligned time
    * partitions), and each range is laid out on the Hilbert curve over
    * its OWN per-range bounds — so the inner grid's resolution adapts
    * to each era's actual key/time spread instead of stretching one
    * global grid across all history. Zone map rows are (ob, block)
    * with raw-coordinate min/max (same comparable unit as
    * `rawHilbertManifest`).
    *
    * Scale shape: global bounds = one scalar agg; per-range bounds =
    * one tiny agg (≤ 2^obBits rows, broadcast back); the curve code is
    * map-side codegen; the manifest is one hash-agg. A writer would
    * `repartitionByRange(ob, h)` — time ranges stay contiguous on
    * disk, so dropping/compacting an old era never rewrites the rest
    * (the evolution property the flat global curve lacks: ANY new
    * day moves the global y-bounds and reshuffles every block).
    */
  def twoLevelHilbertManifest(df: DataFrame, xCol: Column, yCol: Column,
                              obBits: Int = 3, qBits: Int = 8,
                              blockShift: Int = 6): DataFrame = {
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val gb = base.agg(min("y").as("gminy"), max("y").as("gmaxy"))
    val wOb = base.crossJoin(broadcast(gb))
      .withColumn("ob", quantize(col("y"), col("gminy"), col("gmaxy"), obBits))
      .select("x", "y", "ob")
    val pb = wOb.groupBy("ob").agg(
      min("x").as("pminx"), max("x").as("pmaxx"),
      min("y").as("pminy"), max("y").as("pmaxy"))
    wOb.join(broadcast(pb), "ob")
      .select(col("ob"), col("x"), col("y"),
        quantize(col("x"), col("pminx"), col("pmaxx"), qBits).as("bx"),
        quantize(col("y"), col("pminy"), col("pmaxy"), qBits).as("by"))
      .withColumn("h", graft.plans.HilbertExprs.hilbert(col("bx"), col("by"), qBits))
      .groupBy(col("ob"), shiftright(col("h"), blockShift).as("block"))
      .agg(count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
  }

  /** 3-D layout manifest on curve `ix` — the d>2 generalization real
    * lakehouse OPTIMIZE runs (ZORDER BY three or four columns). Same
    * shape as the 2-D manifests: one scalar bounds agg broadcast back,
    * map-side codegen'd curve index (`ZOrderExprs.mortonN` /
    * `HilbertExprs.hilbertN`), one hash-agg over O(blocks) groups; the
    * zone map carries min/max of all THREE quantized dims, so a probe
    * box on any dim subset prunes.
    */
  private def manifest3(df: DataFrame, xCol: Column, yCol: Column,
                        zCol: Column, qBits: Int, blockShift: Int,
                        ix: Seq[Column] => Column): DataFrame = {
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"),
        zCol.cast("long").as("z"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)
    val bounds = base.agg(min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"),
      min("z").as("minz"), max("z").as("maxz"))
    base.crossJoin(broadcast(bounds))
      .select(
        quantize(col("x"), col("minx"), col("maxx"), qBits).as("bx"),
        quantize(col("y"), col("miny"), col("maxy"), qBits).as("by"),
        quantize(col("z"), col("minz"), col("maxz"), qBits).as("bz"))
      .withColumn("c", ix(Seq(col("bx"), col("by"), col("bz"))))
      .groupBy(shiftright(col("c"), blockShift).as("block"))
      .agg(count(lit(1)).as("n_rows"),
        min("bx").as("min_x"), max("bx").as("max_x"),
        min("by").as("min_y"), max("by").as("max_y"),
        min("bz").as("min_z"), max("bz").as("max_z"))
      .orderBy("block")
  }

  /** 3-D Morton (Z-order) manifest. */
  def layoutManifest3(df: DataFrame, xCol: Column, yCol: Column, zCol: Column,
                      qBits: Int = 6, blockShift: Int = 6): DataFrame =
    manifest3(df, xCol, yCol, zCol, qBits, blockShift,
      cs => ZOrderExprs.mortonN(qBits, cs))

  /** 3-D Hilbert manifest (Skilling transpose walk). */
  def hilbertManifest3(df: DataFrame, xCol: Column, yCol: Column, zCol: Column,
                       qBits: Int = 6, blockShift: Int = 6): DataFrame =
    manifest3(df, xCol, yCol, zCol, qBits, blockShift,
      cs => graft.plans.HilbertExprs.hilbertN(qBits, cs))

  def hilbertLayoutManifest(df: DataFrame, xCol: Column, yCol: Column,
                            qBits: Int = 8, blockShift: Int = 6): DataFrame = {
    val base = df.select(xCol.cast("long").as("x"), yCol.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val bounds = base.agg(min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"))
    base.crossJoin(broadcast(bounds))
      .select(
        quantize(col("x"), col("minx"), col("maxx"), qBits).as("bx"),
        quantize(col("y"), col("miny"), col("maxy"), qBits).as("by"))
      .withColumn("h", graft.plans.HilbertExprs.hilbert(col("bx"), col("by"), qBits))
      .groupBy(shiftright(col("h"), blockShift).as("block"))
      .agg(count(lit(1)).as("n_rows"),
        min("bx").as("min_x"), max("bx").as("max_x"),
        min("by").as("min_y"), max("by").as("max_y"))
      .orderBy("block")
  }
}
