package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native INTERVAL-OVERLAP join — the second whole-operator rung after
  * [[AsOfJoinPlan]] (SURVEY §2.10 c): INNER (or LEFT OUTER) join on an
  * equi key plus `[lLo, lHi] ∩ [rLo, rHi] ≠ ∅` (closed intervals, long
  * endpoints). Left-outer emits unmatched (and null-endpoint) left
  * rows once, null-padded — the impact-analysis complement.
  *
  * Spark plans a bare overlap predicate as a nested loop; the composed
  * remedy bins both sides and equi-joins the bin (ops.RangeJoin, q294)
  * — correct, but it duplicates every interval into each bin it spans
  * and pays the dedup discipline. This operator plans overlap the way
  * a database's range join does:
  *
  *  - requiredChildDistribution clusters both sides on the key (one
  *    hash exchange each — EnsureRequirements co-partitions),
  *  - requiredChildOrdering sorts each partition by (key, lo, tie),
  *  - doExecute is a zipPartitions PLANE SWEEP: left rows arrive in lo
  *    order; right rows with rLo ≤ lHi are admitted to an active
  *    buffer, buffered rows with rHi < lLo are evicted permanently
  *    (future left los only grow — they can never match again), and
  *    the surviving buffer is exactly the match set. Per-key state is
  *    the maximum number of CONCURRENT right intervals — the honest
  *    bound for interval workloads (seconds-long sessions against
  *    hour-long windows ⇒ tiny), never the key's row count.
  *
  * Null endpoints never match (admission and eviction both require
  * non-null lo/hi); null keys group like values, as in [[AsOfJoinPlan]].
  */
case class IntervalJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftLo: Expression, leftHi: Expression,
    rightLo: Expression, rightHi: Expression,
    leftTie: Seq[Expression], rightTie: Seq[Expression],
    leftOuter: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class IntervalJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftLo: Expression, leftHi: Expression,
    rightLo: Expression, rightHi: Expression,
    leftTie: Seq[Expression], rightTie: Seq[Expression],
    leftOuter: Boolean = false)
    extends BinaryExecNode {

  require(Seq(leftLo, leftHi, rightLo, rightHi)
    .forall(_.dataType == LongType),
    "interval endpoints must be LongType (epoch micros or plain longs)")

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "maxActive" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext,
        "per-task max concurrent right intervals (summed across tasks)"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    ((leftKeys :+ leftLo) ++ leftTie).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightLo) ++ rightTie).map(SortOrder(_, Ascending)))
  override def outputPartitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val out = output
    val lKeys = leftKeys; val rKeys = rightKeys
    val lLoE = leftLo; val lHiE = leftHi
    val rLoE = rightLo; val rHiE = rightHi
    val numOutputRows = longMetric("numOutputRows")
    val maxActive = longMetric("maxActive")
    val outer = leftOuter
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lBoundsProj = UnsafeProjection.create(Seq(lLoE, lHiE), leftOut)
      val rBoundsProj = UnsafeProjection.create(Seq(rLoE, rHiE), rightOut)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val resultProj = UnsafeProjection.create(out,
        leftOut ++ (if (outer) rightOut.map(_.withNullability(true))
                    else rightOut))
      val nullRight = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(rightOut.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: UnsafeRow = _
        private var rHeadKey: UnsafeRow = _
        private def advanceRight(): Unit =
          if (ri.hasNext) {
            rHead = ri.next().asInstanceOf[UnsafeRow].copy()
            rHeadKey = rKeyProj(rHead).copy()
          } else { rHead = null; rHeadKey = null }
        advanceRight()

        // active right intervals of the CURRENT left key: (lo, hi, row),
        // admitted in (lo, tie) order — the sweep's entire state. Left
        // his are NOT monotone in lo order, so a row admitted for an
        // earlier (longer) left interval may not match the current one:
        // the match set is the buffer PREFIX with lo ≤ current lHi
        // (buffer stays lo-sorted; eviction preserves order).
        private val active =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, UnsafeRow)]
        private var activeKey: UnsafeRow = _

        // matches pending for the current left row; pendingIdx == -1
        // flags a single null-right emission (left outer)
        private var pendingLeft: UnsafeRow = _
        private var pendingIdx: Int = 0
        private var pendingEnd: Int = 0

        private def fillPending(): Unit = {
          pendingIdx = 0; pendingEnd = 0
          while (pendingIdx >= pendingEnd && li.hasNext) {
            val l = li.next().asInstanceOf[UnsafeRow]
            val lKey = lKeyProj(l)
            val lBounds = lBoundsProj(l)
            if (lBounds.isNullAt(0) || lBounds.isNullAt(1)) {
              if (outer) { pendingLeft = l.copy(); pendingIdx = -1; pendingEnd = 0 }
            } else {
              val lLo = lBounds.getLong(0); val lHi = lBounds.getLong(1)
              if (activeKey == null || keyOrd.compare(activeKey, lKey) != 0) {
                active.clear()
                activeKey = lKey.copy()
              }
              // discard right rows of earlier keys; admit same-key rows
              // starting at or before this left interval's end
              var advancing = true
              while (advancing && rHead != null) {
                val c = keyOrd.compare(rHeadKey, lKey)
                if (c < 0) advanceRight()
                else if (c == 0) {
                  val rb = rBoundsProj(rHead)
                  if (rb.isNullAt(0) || rb.isNullAt(1)) advanceRight()
                  else if (rb.getLong(0) <= lHi) {
                    active += ((rb.getLong(0), rb.getLong(1), rHead))
                    advanceRight()
                  } else advancing = false
                } else advancing = false
              }
              // evict rows that ended before this left interval starts —
              // they can never match a later (larger-lo) left either
              var i = 0
              while (i < active.length) {
                if (active(i)._2 < lLo) { active.remove(i): Unit }
                else i += 1
              }
              if (active.length > maxActive.value)
                maxActive.set(active.length)
              // matches = the lo-sorted prefix that starts by this
              // left interval's end
              var e = 0
              while (e < active.length && active(e)._1 <= lHi) e += 1
              if (e > 0) {
                pendingLeft = l.copy()
                pendingEnd = e
              } else if (outer) {
                pendingLeft = l.copy(); pendingIdx = -1; pendingEnd = 0
              }
            }
          }
        }
        fillPending()

        override def hasNext: Boolean = pendingIdx < pendingEnd
        override def next(): InternalRow = {
          val outRow =
            if (pendingIdx == -1) { // left-outer null-right emission
              pendingIdx = 0
              resultProj(joined(pendingLeft, nullRight))
            } else {
              val r = active(pendingIdx)._3
              pendingIdx += 1
              resultProj(joined(pendingLeft, r))
            }
          numOutputRows += 1
          if (pendingIdx >= pendingEnd) fillPending()
          outRow
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: IntervalJoinPlan =>
      IntervalJoinExec(planLater(j.left), planLater(j.right),
        j.leftKeys, j.rightKeys, j.leftLo, j.leftHi, j.rightLo, j.rightHi,
        j.leftTie, j.rightTie, j.leftOuter) :: Nil
    case _ => Nil
  }
}

/** User-facing API: INNER key + interval-overlap join. Endpoint columns
  * must be longs; pass `leftTie`/`rightTie` for deterministic sweep
  * order when (key, lo) is not unique. */
object Interval {
  def join(left: DataFrame, right: DataFrame,
      leftKey: Seq[String], rightKey: Seq[String],
      leftLo: String, leftHi: String,
      rightLo: String, rightHi: String,
      leftTie: Seq[String] = Nil, rightTie: Seq[String] = Nil,
      leftOuter: Boolean = false): DataFrame = {
    val cs = Strategies.ensure(left.sparkSession, IntervalJoinStrategy)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"no column $n in ${p.output.map(_.name)}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(cs, IntervalJoinPlan(
      lp, rp,
      leftKey.map(attr(lp, _)), rightKey.map(attr(rp, _)),
      attr(lp, leftLo), attr(lp, leftHi),
      attr(rp, rightLo), attr(rp, rightHi),
      leftTie.map(attr(lp, _)), rightTie.map(attr(rp, _)), leftOuter))
  }
}
