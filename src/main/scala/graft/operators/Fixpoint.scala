package graft.operators

import java.nio.file.{Files, OpenOption, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LeanCheckpoint
import org.apache.spark.sql.graft.LeanCheckpoint.Ops
import org.apache.spark.storage.StorageLevel

/** The iteration discipline of the graph tier (PageRank ×3, LabelProp,
  * BFS, Components, SCC above its kernel gate, k-core, condensation
  * depths; SCC on a graph that fits the driver runs no loop, as
  * `Scc.components` labels it in one Tarjan pass), stated once:
  *
  *  1. A frame joined on the same key every round (the edge list) is
  *     cached ONCE, hash-partitioned on that key with a data-sized
  *     partition count (`IterParts`), and warmed by a count before round
  *     1 — an unmaterialized cached AdaptiveSparkPlan reports unknown
  *     output partitioning, so the first round would re-exchange the
  *     O(edges) frame at the session default (`cache`).
  *  2. The per-round state side is repartitioned to the cache's count on
  *     its join key and built as the shuffled-hash table (`probe`). A
  *     state frame arriving with any other partitioning would make
  *     EnsureRequirements re-exchange the cache instead, so the rule is:
  *     per-round exchanges carry O(nodes), never O(edges).
  *  3. Every round is materialized by one lean checkpoint
  *     (`LeanCheckpoint` — a bare LogicalRDD leaf), keeping plans O(1)
  *     in rounds. A convergence witness (the exact sum of a monotone long
  *     column) rides that same job (`localCheckpointSummed`), so a
  *     fixpoint loop is one job per round: at fixpoint scale the
  *     sequential job latency is the cost, not the row work.
  *  4. A fixpoint whose round cap binds fails fast: partial labels
  *     silently split or merge components.
  *  5. Callers unpersist their caches once the final state is a
  *     checkpointed leaf, which no longer references them.
  *
  * Fusing rounds into one job is only recompute-free when the round body
  * references the previous state exactly once (the undirected PageRanks);
  * it is the caller's choice, made in its step function.
  *
  * GRAFT_ROUND_PLAN_DIR is the one debug knob: when set, each loop
  * writes its round-2 (steady-state) formatted plan to
  * `<dir>/<tag>_round2.txt`, once per tag per JVM, and appends
  * `<tag> rounds=<n> ms=<t>` to `<dir>/rounds.txt` for every run, where
  * `n` counts the loop's checkpoint jobs. Unset, it costs nothing.
  */
object Fixpoint {

  /** A cached, key-partitioned, materialized round frame. */
  final class Cached private[Fixpoint] (val df: DataFrame, parts: Int) {

    /** `state` repartitioned to this cache's layout on `stateKey` and
      * hinted as the shuffled-hash build side of the round join.
      */
    def probe(state: DataFrame, stateKey: String): DataFrame =
      state.repartition(parts, col(stateKey)).hint("shuffle_hash")

    def unpersist(): Unit = df.unpersist()
  }

  /** `df` (of ~`rows` rows at ~`rowBytes` each) cached hash-partitioned
    * on `key` and warmed.
    */
  def cache(df: DataFrame, key: String, rows: Long, rowBytes: Long): Cached = {
    val parts = IterParts.forRows(df, rows, rowBytes)
    val c = df.repartition(parts, col(key)).persist(StorageLevel.MEMORY_AND_DISK)
    c.count()
    new Cached(c, parts)
  }

  /** Exactly `n` rounds of `step(state, round)` from `init`, rounds
    * numbered from 1, one lean checkpoint each.
    */
  def rounds(init: DataFrame, n: Int, tag: String)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    logged(tag) {
      var s = init
      for (i <- 1 to n) {
        val next = step(s, i)
        dumpPlan(tag, i, next)
        s = next.leanCheckpoint()
      }
      (s, n)
    }._1

  /** Rounds of `step` from `init` until the sum of long column `witness`
    * stops changing; returns the fixpoint and the rounds it took
    * (including the confirming round). `witness` must be monotone so
    * that an unchanged sum means an unchanged frame. Fails when
    * `maxRounds` binds, naming `what`.
    */
  def untilStable(init: DataFrame, witness: String, maxRounds: Int,
                  what: String, tag: String)(
      step: DataFrame => DataFrame): (DataFrame, Int) =
    logged(tag) {
      var (s, _, prev) = LeanCheckpoint.localCheckpointSummed(init, witness)
      var stable = false
      var n = 0
      while (!stable && n < maxRounds) {
        n += 1
        val next = step(s)
        dumpPlan(tag, n, next)
        val (leaf, _, sum) = LeanCheckpoint.localCheckpointSummed(next, witness)
        s = leaf
        stable = sum == prev
        prev = sum
      }
      require(stable, s"$what did not fixpoint within $maxRounds rounds")
      (s, n)
    }

  /** Jumped min-label propagation: from c(v) = v over `nodes` (column
    * `n`), each round sets c(v) = min(c(v), min over in-edges of the
    * source's label (flowing `src` → `dst`), c(c(v))) until no label
    * drops. Returns ((n, c), rounds).
    *
    * The pointer jump (path halving) works because label values are
    * node ids: c(c(v)) is one equi-join of the label table with itself,
    * and it halves every label path per round — O(log diameter) rounds
    * where plain edge-min needs O(longest path). Labels only decrease,
    * so the label sum is the convergence witness. On a mirrored edge
    * list this is connected components; on a directed one, the minimum
    * ancestor id (SCC forward coloring).
    */
  def minLabel(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
               what: String, tag: String): (DataFrame, Int) = {
    val e = cache(edges, "src", edges.count(), 32)
    try untilStable(nodes.select(col("n"), col("n").as("c")), "c",
        maxRounds, what, tag) { lab =>
      val side = e.probe(lab, "n")
      val upd = e.df.join(side, e.df("src") === side("n"))
        .groupBy(e.df("dst").as("n2")).agg(min("c").as("cin"))
      val stepped = lab.join(upd, lab("n") === upd("n2"), "left")
        .select(lab("n"),
          least(col("c"), coalesce(col("cin"), col("c"))).as("step"))
      // one jump per round: real label forests saturate at self-labeled
      // roots after one hop, so chained lookups measured a no-op
      val parents = lab.select(col("n").as("p_id"), col("c").as("p_c"))
      stepped.join(parents, stepped("step") === parents("p_id"), "left")
        .select(stepped("n"),
          least(col("step"), coalesce(col("p_c"), col("step"))).as("c"))
    } finally e.unpersist()
  }

  private val planDir = sys.env.get("GRAFT_ROUND_PLAN_DIR")

  private val dumped =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def dumpPlan(tag: String, round: Int, df: DataFrame): Unit =
    if (round == 2 && planDir.nonEmpty && dumped.add(tag))
      emit(s"${tag}_round2.txt",
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))

  private def logged(tag: String)(
      loop: => (DataFrame, Int)): (DataFrame, Int) = {
    val t0 = System.nanoTime()
    val res = loop
    emit("rounds.txt",
      s"$tag rounds=${res._2} ms=${(System.nanoTime() - t0) / 1000000}\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    res
  }

  private def emit(file: String, text: => String,
                   opts: OpenOption*): Unit = synchronized {
    planDir.foreach { d =>
      try {
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, file), text, opts: _*)
      } catch { case NonFatal(_) => () }
    }
  }
}
