package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scc
import graft.queries.GraphQueries

/** Strongly-connected components (`operators/Scc`) and the q236
  * condensation built on them. Both sides of the kernel gate are
  * forced through `Scc.components`' gate overload: `Long.MaxValue`
  * runs the driver Tarjan kernel on every graph here, -1 runs the
  * trim + coloring path on every graph, the empty one included.
  */
class SccSpec extends AnyFunSuite {
  import TestSession._

  private val Kernel = Long.MaxValue
  private val Coloring = -1L
  private val Sides = Seq("kernel" -> Kernel, "coloring" -> Coloring)

  private def scc(edges: DataFrame, gate: Long,
                  maxOuterRounds: Int = Scc.MaxOuterRounds,
                  maxTrimRounds: Int = Scc.MaxTrimRounds): DataFrame =
    Scc.components(edges, gate, maxOuterRounds, Scc.MaxPropRounds, maxTrimRounds)

  // --- moved contracts ---------------------------------------------------------------

  test("Scc.components solves a hand-computed bow-tie exactly") {
    import spark.implicits._
    // two 3-cycles bridged one-way, a tendril chain off the second
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),     // SCC {1,2,3}
      (4L, 5L), (5L, 6L), (6L, 4L),     // SCC {4,5,6}
      (3L, 4L),                         // one-way bridge
      (6L, 7L), (7L, 8L)                // tendril: singletons {7},{8}
    ).toDF("src", "dst")
    for ((side, gate) <- Sides) {
      val got = scc(edges, gate).orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 8L), side)
    }
  }

  test("Scc.components: two disjoint replicas equal two independent runs") {
    val li = Tables.lineitem(spark, sf)
      .filter(pmod(col("l_orderkey"), lit(GraphQueries.SccOrderMod.toLong)) === 0)
      .select("l_orderkey", "l_linenumber", "l_partkey")
    val a = li.alias("a")
    val b = li.alias("b")
    val ed = a.join(b, col("a.l_orderkey") === col("b.l_orderkey") &&
        col("b.l_linenumber") === col("a.l_linenumber") + 1)
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    val off = 1000000L
    val two = ed.unionByName(
      ed.select((col("src") + off).as("src"), (col("dst") + off).as("dst")))
    for ((side, gate) <- Sides) {
      val single = scc(ed, gate)
      val both = scc(two, gate)
      val expected = single.select(col("node"), col("scc_id"))
        .unionByName(single.select((col("node") + off).as("node"),
          (col("scc_id") + off).as("scc_id")))
      assert(both.exceptAll(expected).isEmpty && expected.exceptAll(both).isEmpty,
        s"$side: replica labels must equal two independent runs (offset-shifted)")
    }
  }

  test("Scc.components fails fast when the outer cap binds (no plausible partial labels)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    intercept[IllegalArgumentException] {
      scc(edges, Coloring, maxOuterRounds = 1).collect()
    }
    ()
  }

  test("Scc.components on an empty edge set returns an empty labeled frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    for ((side, gate) <- Sides) {
      val got = scc(empty, gate)
      assert(got.columns.toSeq == Seq("node", "scc_id") && got.count() == 0, side)
    }
  }

  test("q236: condensation depths on a planted two-chain DAG") {
    import spark.implicits._
    // SCCs {1,2} → {3,4} → {5} (depths 0,1,2) and {6} → {7} (0,1)
    val edges = Seq(
      (1L, 2L), (2L, 1L),
      (3L, 4L), (4L, 3L),
      (2L, 3L), (4L, 5L),
      (6L, 7L)
    ).toDF("src", "dst")
    for ((side, gate) <- Sides) {
      val got = GraphQueries.condensationDepths(edges, gate)
        .orderBy("scc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 2L, 0L), (3L, 2L, 1L), (5L, 1L, 2L),
        (6L, 1L, 0L), (7L, 1L, 1L)), side)
    }
  }

  test("q236: a 3-cycle feeding a 3-chain layers at depths 0..3") {
    import spark.implicits._
    for ((side, gate) <- Sides) {
      val res = GraphQueries.condensationDepths(
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
          .toDF("src", "dst"), gate)
      val rows = res.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // SCC {1,2,3} (id 1, depth 0) → 4 → 5 → 6
      assert(rows == Map(1L -> 0L, 4L -> 1L, 5L -> 2L, 6L -> 3L), side)
    }
  }

  test("Scc trim+color ≡ color alone (planted tendril graph and the gated basket graph)") {
    import spark.implicits._
    // planted: two cycles, a one-way bridge, in-tendril AND out-tendril
    // chains deep enough to need several trim layers, plus an isolated
    // self-loop (degree test must ignore the self edge but still emit
    // the singleton)
    val planted = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L),    // SCC {10,11,12}
      (20L, 21L), (21L, 20L),                // SCC {20,21}
      (12L, 20L),                            // bridge
      (1L, 2L), (2L, 3L), (3L, 10L),         // in-tendril 1→2→3→core
      (20L, 30L), (30L, 31L), (31L, 32L),    // out-tendril core→30→31→32
      (40L, 40L)                             // self-loop singleton
    ).toDF("src", "dst")
    val basket = GraphQueries.basketEdges(spark, sf)
    for (edges <- Seq(planted, basket)) {
      val trimmed = scc(edges, Coloring)
      val colored = scc(edges, Coloring, maxTrimRounds = 0)
      assert(trimmed.exceptAll(colored).isEmpty &&
        colored.exceptAll(trimmed).isEmpty,
        "trim must be label-invariant: trim+color ≡ color alone")
    }
  }

  test("Scc trim peels a pure tendril forest entirely (no fixpoint rounds needed)") {
    import spark.implicits._
    // a DAG has only singleton SCCs; trim alone must finish it
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    for ((side, gate) <- Sides) {
      val got = scc(dag, gate).orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L), side)
    }
  }

  /** Long tendrils (deeper than one 4-layer trim batch) feeding and
    * draining a 3-cycle, plus a 2-cycle and a pure chain: the peel
    * must cross batch boundaries and leave exactly the cycles.
    */
  test("SCC components with deep tendrils across trim batches") {
    import spark.implicits._
    // chain 1→2→…→10 → cycle {11,12,13} → chain 14→…→23; 2-cycle {30,31};
    // pure chain 40→41→…→49 (all singletons)
    val inChain = (1L to 9L).map(i => (i, i + 1)) :+ (10L, 11L)
    val cycle = Seq((11L, 12L), (12L, 13L), (13L, 11L))
    val outChain = Seq((13L, 14L)) ++ (14L until 23L).map(i => (i, i + 1))
    val two = Seq((30L, 31L), (31L, 30L))
    val chain = (40L until 49L).map(i => (i, i + 1))
    val edges = (inChain ++ cycle ++ outChain ++ two ++ chain)
      .toDF("src", "dst")
    for ((side, gate) <- Sides) {
      val got = scc(edges, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nodes = (1L to 23L) ++ Seq(30L, 31L) ++ (40L to 49L)
      assert(got.keySet == nodes.toSet, side)
      for (n <- Seq(11L, 12L, 13L)) assert(got(n) == 11L, s"$side: cycle member $n")
      for (n <- Seq(30L, 31L)) assert(got(n) == 30L, s"$side: 2-cycle member $n")
      for (n <- nodes if !Seq(11L, 12L, 13L, 30L, 31L).contains(n))
        assert(got(n) == n, s"$side: singleton $n")
    }
  }

  test("SCC trim batch boundary: tendril depth a multiple of the unroll") {
    import spark.implicits._
    // exactly 8 peel layers (2 full 4-layer batches) then a 0-peel batch
    val edges = ((1L to 8L).map(i => (i, i + 1)) ++
      Seq((9L, 10L), (10L, 9L))).toDF("src", "dst")
    for ((side, gate) <- Sides) {
      val got = scc(edges, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got(9L) == 9L && got(10L) == 9L, side)
      for (n <- 1L to 8L) assert(got(n) == n, side)
    }
  }

  // --- the Tarjan kernel -------------------------------------------------------------

  /** `edges` with `n` nodes drawn from ids 100, 103, …: about one edge in
    * twelve a self-loop, one in eight repeated, and one in `nullEvery`
    * (0 = none) with a null endpoint.
    */
  private def randomEdges(rnd: scala.util.Random, n: Int, m: Int,
                          nullEvery: Int): Seq[(Option[Long], Option[Long])] = {
    def node() = 100L + 3L * rnd.nextInt(n)
    val base = Seq.fill(m) {
      val s = node()
      val d = if (rnd.nextInt(12) == 0) s else node()
      if (nullEvery > 0 && rnd.nextInt(nullEvery) == 0)
        rnd.nextInt(3) match {
          case 0 => (None, Some(d))
          case 1 => (Some(s), None)
          case _ => (None, None)
        }
      else (Some(s), Some(d))
    }
    base ++ base.filter(_ => rnd.nextInt(8) == 0)
  }

  test("the Tarjan kernel equals the coloring path on random and planted graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(232)
    def frame(es: Seq[(Option[Long], Option[Long])]) = es.toDF("src", "dst")
    val random = Seq((30, 60, 0), (50, 70, 15), (20, 80, 0), (60, 45, 10))
      .map { case (n, m, nulls) => randomEdges(rnd, n, m, nulls) }
    val replica = random.head ++ random.head.map { case (s, d) =>
      (s.map(_ + 1000000L), d.map(_ + 1000000L)) }
    def some(es: (Long, Long)*) = es.map { case (s, d) => (Option(s), Option(d)) }
    val graphs = random.zipWithIndex.map { case (es, i) => s"random $i" -> frame(es) } ++ Seq(
      "two disjoint replicas" -> frame(replica),
      "null endpoints" -> frame(Seq((None, Some(1L)), (Some(2L), None), (None, None),
        (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(5L), None))),
      "n = 0" -> frame(Seq.empty),
      "one self-loop node" -> frame(some(7L -> 7L)),
      "bow-tie" -> frame(some(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
        6L -> 4L, 3L -> 4L, 6L -> 7L, 7L -> 8L, 0L -> 1L)),
      "pure DAG" -> frame(some(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L)))
    for ((name, edges) <- graphs) {
      val k = scc(edges, Kernel)
      val c = scc(edges, Coloring)
      assert(k.schema == c.schema, s"$name: ${k.schema} vs ${c.schema}")
      val rows = Seq(k, c).map(_.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(",")))
      assert(rows(0) == rows(1), s"$name: kernel ${rows(0).take(8)} vs coloring ${rows(1).take(8)}")
    }
    // int ids stay int; the coloring path labels only long ids (its
    // convergence witness is a long sum), so it runs on the widened frame
    val ints = frame(random(2)).select(col("src").cast("int").as("src"),
      col("dst").cast("int").as("dst"))
    val k = scc(ints, Kernel)
    assert(k.schema.map(_.dataType) == Seq(IntegerType, IntegerType), k.schema)
    val c = scc(frame(random(2)), Coloring)
    assert(k.collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).sorted.toSeq ==
      c.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq, "int ids")
    // the null contract both sides share: the non-null endpoints are
    // nodes, and every null-endpoint edge together adds one (null, null)
    val nulls = scc(graphs.toMap.apply("null endpoints"), Kernel).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(nulls == Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(5L), Some(5L)),
      (None, None)), nulls)
  }

  test("the Tarjan kernel is iterative: a 100 000-node chain and a 100 000-node cycle") {
    val n = 100000L
    val chain = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val cycle = spark.range(n).select((col("id") + 2 * n).as("src"),
      (pmod(col("id") + 1, lit(n)) + 2 * n).as("dst"))
    val got = scc(chain.unionByName(cycle), Kernel)
    val chainRows = got.filter(col("node") < 2 * n)
    assert(chainRows.count() == n && chainRows.filter(col("node") =!= col("scc_id")).isEmpty,
      "every chain node is its own component")
    val c = got.filter(col("node") >= 2 * n)
      .agg(count(lit(1)), min("scc_id"), max("scc_id")).head()
    assert((c.getLong(0), c.getLong(1), c.getLong(2)) == ((n, 2 * n, 2 * n)),
      s"the cycle is one component labelled by its least id: $c")
  }

  test("q232 below the gate runs no min-label round and a fixed handful of jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    // (job group, the call sites of its stages) of every job started
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
          e.stageInfos.map(_.details)))
    }
    def run(tag: String)(body: => Unit): Seq[Seq[String]] = {
      val group = s"$tag-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, tag)
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once the marker job is seen,
      // every job of the call has been
      val marker = s"$group-marker"
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.toArray.exists { case (g, _) => g == marker } && System.nanoTime() < deadline)
        Thread.sleep(10)
      jobs.toArray.toSeq.collect { case (g: String, d: Seq[String] @unchecked) if g == group => d }
    }
    def minLabelJobs(js: Seq[Seq[String]]) = js.count(_.exists(_.contains("Fixpoint$.minLabel")))
    sc.addSparkListener(listener)
    try {
      // the detector sees the coloring path's rounds
      val colored = run("scc-coloring") {
        scc(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"), Coloring).collect()
      }
      assert(minLabelJobs(colored) > 0, s"no min-label job found in ${colored.size} jobs")
      val q232 = run("q232") { GraphQueries.sccBaskets(spark, sf).collect() }
      assert(minLabelJobs(q232) == 0, "q232 ran a min-label round below the gate")
      // the edge read (schema, broadcast side), the distinct-edge
      // checkpoint (map, result) and q232's window and sort (window
      // exchange, range sample, sort exchange, result)
      assert(q232.size <= 8, s"q232 ran ${q232.size} jobs")
    } finally sc.removeSparkListener(listener)
  }
}
