package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KCore, Triangles}

/** Round-19 (optimization round 2) contracts: every rewritten operator
  * must compute EXACTLY what it computed before — these specs pin the
  * equivalences the optimizations rely on.
  */
class Round19Spec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // --- Triangles: broadcast wedge pipeline ≡ shuffle plan --------------------------

  /** A graph with a hub, a clique, chains and an isolated edge — degree
    * skew plus both closed and open wedges.
    */
  private def messyEdges = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), // hub 1
    (2L, 3L), (3L, 4L),                               // two triangles at 1
    (7L, 8L), (8L, 9L), (9L, 7L),                     // clique {7,8,9}
    (10L, 11L), (11L, 12L),                           // open chain
    (13L, 14L)                                        // isolated edge
  ).toDF("a", "b")

  test("triangleStats: broadcast and shuffle paths are identical") {
    val bc = Triangles.triangleStats(messyEdges, "a", "b",
      bcastMaxEdges = Long.MaxValue).collect()
    val sh = Triangles.triangleStats(messyEdges, "a", "b",
      bcastMaxEdges = 0L).collect()
    assert(bc.toSeq == sh.toSeq)
    val r = bc.head
    assert(r.getLong(r.fieldIndex("n_triangles")) == 3L)
  }

  test("localTriangleStats: broadcast and shuffle paths are identical") {
    val bc = Triangles.localTriangleStats(messyEdges, "a", "b",
      bcastMaxEdges = Long.MaxValue).orderBy("node").collect()
    val sh = Triangles.localTriangleStats(messyEdges, "a", "b",
      bcastMaxEdges = 0L).orderBy("node").collect()
    assert(bc.toSeq == sh.toSeq)
    // hub 1 sits on the two triangles {1,2,3} and {1,3,4}
    val hub = bc.find(_.getLong(0) == 1L).get
    assert(hub.getLong(hub.fieldIndex("n_triangles")) == 2L)
  }

  // --- KCore: null endpoints are dropped, not kept forever -------------------------

  test("kCore ignores null-endpoint edges") {
    val rows = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (Some(4L), None), (None, Some(1L)))
    val edges = rows.toDF("a", "b")
    val got = KCore.kCore(edges, "a", "b", k = 2, rounds = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  // --- SuffixSpans: the tightened pid-aliasing guard --------------------------------

  test("repeatedSpans rejects maxChars within windowLen of the pid base") {
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      operators.SuffixSpans.repeatedSpans(docs, "doc_id", "text",
        windowLen = 16, maxChars = (1 << 20) - 8)
    }
    assert(ex.getMessage.contains("maxChars"))
  }

  // --- ZOrder: manifest from the coded frame ≡ zone map of the written files -------

  test("writeHilbertLayout manifest matches the written files' zone map") {
    val df = spark.range(0, 512).select(
      (col("id") % 37).as("x"), (col("id") % 53).as("y"))
    val path = TestSession.tempDir("r19_hilw_") + "/t"
    operators.ZOrder.writeHilbertLayout(df, col("x"), col("y"), path,
      qBits = 4, blockShift = 2)
    val man = spark.read.parquet(path + "_manifest")
    // recompute the zone map the old way: from the files just written
    val back = spark.read.parquet(path)
      .groupBy(col("hblock").cast("long").as("hblock"))
      .agg(count(lit(1)).as("n_rows"),
        min("bx").as("min_x"), max("bx").as("max_x"),
        min("by").as("min_y"), max("by").as("max_y"))
    val a = man.select("hblock", "n_rows", "min_x", "max_x", "min_y", "max_y")
      .orderBy("hblock").collect().toSeq
    val b = back.orderBy("hblock").collect().toSeq
    assert(a == b)
  }
}
