package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — a whole-operator Catalyst extension (logical node
  * + planner strategy + physical exec), the third extension-point class
  * this engine uses after scalar codegen `Expression`s and
  * SessionExtensions-registered SQL functions.
  *
  * Why a physical operator when `AsOf.asOfJoin` already composes the
  * semantics from built-ins: the union+window encoding pays for (a) a
  * union of BOTH tables into one shuffle (left rows travel with every
  * right attribute nulled, right rows with every left attribute nulled —
  * the shuffled row is the WIDTH OF BOTH SIDES), (b) a window carry whose
  * state is per-attribute `last(ignoreNulls)` buffers, and (c) a
  * post-filter dropping the right-side rows back out. The native exec
  * shuffles each side once AT ITS OWN WIDTH, sorts within partitions,
  * and streams a per-partition two-pointer merge with O(1) state (the
  * current backward candidate) — the textbook as-of plan (kdb, Flink,
  * QuestDB) expressed in Spark's operator algebra. Catalyst still owns
  * distribution/ordering: the exec only DECLARES ClusteredDistribution +
  * per-key sort requirements and EnsureRequirements plans the exchanges,
  * so AQE, reuse, and co-partitioning elision all apply unchanged.
  *
  * Join semantics (mirrors `AsOf.asOfJoin`): backward = latest right row
  * with rts ≤ lts per key (forward = earliest with rts ≥ lts), inclusive
  * at equality; optional tolerance turns stale matches into nulls; null
  * keys and null timestamps never match (standard join null semantics).
  * Precondition as documented on `AsOf`: right unique per (keys, ts).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightVals: Seq[Attribute],
    toleranceMicros: Option[Long], forward: Boolean)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]; injected via
  * `GraftExtensions` or `GraftFunctions.install`.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKeys,
        j.rightKeys, j.leftTs, j.rightTs, j.rightVals, j.toleranceMicros,
        j.forward) :: Nil
    case _ => Nil
  }
}

/** Per-partition sorted two-pointer as-of merge.
  *
  * Both children arrive hash-clustered on the join key and sorted by
  * (keys…, ts) — declared below, planned by EnsureRequirements. Within a
  * partition the merge keeps one candidate (backward) or peeks the head
  * (forward); every discarded right row is provably dead for all later
  * left rows because both streams are key-then-ts ascending.
  */
case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightVals: Seq[Attribute],
    toleranceMicros: Option[Long], forward: Boolean)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val (lOut, rOut) = (left.output, right.output)
    val (lk, rk, lts, rts) = (leftKeys, rightKeys, leftTs, rightTs)
    val rv: Seq[Expression] = rightVals
    val tol = toleranceMicros
    val fwd = forward
    val out = output
    val numVals = rightVals.length
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lts), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rts), rOut)
      val valProj = UnsafeProjection.create(rv, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullVals = new GenericInternalRow(numVals)
      val joined = new JoinedRow
      // bind against the NULLABLE form of the value attrs — binding the
      // raw right attributes would mark non-nullable columns as such and
      // codegen would read 0 instead of null from the no-match row
      val resultProj =
        UnsafeProjection.create(out, lOut ++ rightVals.map(_.withNullability(true)))
      val rBuf = rIter.buffered
      // backward state: the latest qualifying right row seen for candKey
      var candKey: UnsafeRow = null
      var candTs = 0L
      var candVals: UnsafeRow = null
      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTsRow = lTsProj(lRow)
        var matched: InternalRow = null
        if (!lKey.anyNull && !lTsRow.isNullAt(0)) {
          val lTsV = lTsRow.getLong(0)
          if (!fwd) {
            var continue = true
            while (continue && rBuf.hasNext) {
              val head = rBuf.head
              val hKey = rKeyProj(head)
              val hTs = rTsProj(head)
              if (hKey.anyNull || hTs.isNullAt(0)) rBuf.next()
              else {
                val c = keyOrd.compare(hKey, lKey)
                if (c < 0) rBuf.next() // dead for every later left row too
                else if (c == 0 && hTs.getLong(0) <= lTsV) {
                  candKey = hKey.copy(); candTs = hTs.getLong(0)
                  candVals = valProj(head).copy()
                  rBuf.next()
                } else continue = false
              }
            }
            if (candKey != null && keyOrd.compare(candKey, lKey) == 0 &&
                tol.forall(t => lTsV - candTs <= t))
              matched = candVals
          } else {
            var continue = true
            while (continue && rBuf.hasNext) {
              val head = rBuf.head
              val hKey = rKeyProj(head)
              val hTs = rTsProj(head)
              if (hKey.anyNull || hTs.isNullAt(0)) rBuf.next()
              else {
                val c = keyOrd.compare(hKey, lKey)
                if (c < 0 || (c == 0 && hTs.getLong(0) < lTsV)) rBuf.next()
                else continue = false
              }
            }
            if (rBuf.hasNext) {
              val head = rBuf.head
              val hKey = rKeyProj(head)
              val hTs = rTsProj(head)
              if (!hKey.anyNull && !hTs.isNullAt(0) &&
                  keyOrd.compare(hKey, lKey) == 0 &&
                  tol.forall(t => hTs.getLong(0) - lTsV <= t))
                matched = valProj(head) // consumed before the next probe
            }
          }
        }
        resultProj(joined(lRow, if (matched == null) nullVals else matched))
      }
    }
  }
}
