package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ZOrder
import graft.queries.RuntimeQueries

/** Round-14 contracts. q230 Hilbert write path: the probe scan must
  * prune at the partition-directory level (PartitionFilters on hblock
  * in the executed plan) and the manifest-derived block list must be a
  * STRICT subset of the occupied blocks — otherwise the "layout" is a
  * full scan with extra steps.
  */
class Round14Spec extends AnyFunSuite {
  import TestSession._

  test("q230: probe scan prunes hilbert block partitions in the plan") {
    val df = SparkEntry.queries("q230_hilbert_layout")(spark, sf)
    df.collect() // run once (writes the layout, finalizes AQE)
    val p = df.queryExecution.executedPlan.toString
    val m = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(m.isDefined, s"no PartitionFilters in scan:\n$p")
    assert(m.get.group(1).contains("hblock"),
      s"hblock list must reach the partition filter: ${m.get.group(1)}")
  }

  test("q230: manifest probe intersection reads strictly fewer blocks than the layout holds") {
    val path = s"${TestSession.tempDir("graft_hilw_spec")}/orders_h"
    val orders = Tables.orders(spark, sf)
      .withColumn("day",
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("long"))
    ZOrder.writeHilbertLayout(orders, col("o_custkey"), col("day"), path,
      RuntimeQueries.ZQBits, RuntimeQueries.ZBlockShift)
    val man = spark.read.parquet(path + "_manifest")
    val total = man.count()
    val hit = man.filter(
      ZOrder.quantize(lit(RuntimeQueries.HilXLo), col("minx"), col("maxx"),
        RuntimeQueries.ZQBits) <= col("max_x") &&
        col("min_x") <= ZOrder.quantize(lit(RuntimeQueries.HilXHi), col("minx"),
          col("maxx"), RuntimeQueries.ZQBits) &&
        ZOrder.quantize(lit(RuntimeQueries.HilDayLo), col("miny"), col("maxy"),
          RuntimeQueries.ZQBits) <= col("max_y") &&
        col("min_y") <= ZOrder.quantize(lit(RuntimeQueries.HilDayHi), col("miny"),
          col("maxy"), RuntimeQueries.ZQBits)).count()
    assert(hit > 0, "probe must intersect at least one block")
    assert(hit < total,
      s"probe must prune: $hit of $total blocks — the manifest gives no skipping")
    // the manifest's row accounting covers the written data exactly
    val manRows = man.agg(sum("n_rows")).collect()(0).getLong(0)
    val dataRows = spark.read.parquet(path).count()
    assert(manRows == dataRows,
      s"manifest rows $manRows != written rows $dataRows")
  }

  // --- q233: collocation spans -------------------------------------------------------

  test("collocationSpans surfaces the planted trigram across rounds (hand-computed lifts)") {
    import spark.implicits._
    val docs = Seq(
      "a new york city b",
      "c new york city d",
      "e new york city f").toDF("text")
    val got = graft.operators.Collocations
      .collocationSpans(spark, docs, col("text"), rounds = 2,
        minMarginal = 1L, minPair = 2L)
      .collect()
    assert(got.length == 2)
    val r1 = got(0)
    // 12 slots; (new,york) and (york,city) both lift 3·12/(3·3) = 4 —
    // the quantized keys tie, (a,b) lexicographic picks (new,york)
    assert((r1.getInt(0), r1.getString(1), r1.getString(2), r1.getLong(3),
      r1.getDouble(4)) == ((1, "new", "york", 3L, 4.0)))
    val r2 = got(1)
    // after the merge: 9 slots, ("new york", city) count 3, lift 3·9/9
    assert((r2.getInt(0), r2.getString(1), r2.getString(2), r2.getLong(3),
      r2.getDouble(4)) == ((2, "new york", "city", 3L, 3.0)))
  }

  test("q230: hive layout partitions blocks on disk (one dir per occupied block)") {
    val path = s"${TestSession.tempDir("graft_hilw_dirs")}/orders_h"
    val orders = Tables.orders(spark, sf)
      .withColumn("day",
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("long"))
    ZOrder.writeHilbertLayout(orders, col("o_custkey"), col("day"), path,
      RuntimeQueries.ZQBits, RuntimeQueries.ZBlockShift)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hblock="))
      .map(_.getName.stripPrefix("hblock=").toLong).sorted
    val manBlocks = spark.read.parquet(path + "_manifest")
      .select("hblock").collect().map(_.getLong(0)).sorted
    assert(dirs.sameElements(manBlocks),
      "partition directories and manifest blocks must agree")
  }
}
