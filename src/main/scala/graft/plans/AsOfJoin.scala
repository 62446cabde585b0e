package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Native as-of join — the whole-operator rung of the extension ladder
  * (SURVEY §2.10 c: custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`).
  *
  * Spark has no as-of join operator; the composed alternative (union the
  * two tables, carry the last version forward with a window — q36/q187)
  * works but costs a union-wide sort-window over BOTH tables' rows and
  * loses the join's streaming shape. This operator plans it the way a
  * database would:
  *
  *  - requiredChildDistribution clusters both sides on the key (one
  *    hash exchange each, same as an equi-join),
  *  - requiredChildOrdering sorts each partition by (key, time) — so
  *    the exchanges/sorts are planned by Spark's own EnsureRequirements
  *    machinery and reuse/AQE apply as usual,
  *  - doExecute is a zipPartitions single-pass merge: for every left
  *    row, the LAST right row of the same key with rightTime ≤ leftTime
  *    (backward as-of, LEFT OUTER). O(|L|+|R|) per partition and O(1)
  *    state — exactly one buffered right row and one remembered match —
  *    vs the window form's full-partition sort buffer.
  *
  * Semantics notes: equal times match (≤); ties among right rows at the
  * matched time resolve to the last row in `rightTie` order (pass a
  * unique tiebreak for determinism). Null keys group like values (the
  * merge compares with null-safe ordering — document at call sites;
  * SQL equi-join semantics would drop them). Null left times match
  * nothing; null right times sort first and are never eligible (the
  * time comparison requires a non-null right time).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTie: Seq[Expression], forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTie: Seq[Expression], forward: Boolean = false) extends BinaryExecNode {

  require(Seq(leftTime.dataType, rightTime.dataType).forall(
    dt => dt == LongType || dt == TimestampType),
    "as-of time columns must be LongType or TimestampType (physical long)")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  // One hash exchange per side, like any equi-join. EnsureRequirements
  // co-partitions the two children (same key arity → compatible
  // HashPartitioning) and inserts the per-partition sorts below.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTie)).map(SortOrder(_, Ascending)))
  override def outputPartitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val out = output
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTime = leftTime; val rTime = rightTime
    val fwd = forward
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(lKeys, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rightOut)
      val keyOrd =
        RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val resultProj = UnsafeProjection.create(
        out, leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // Single-row lookahead on the right; rows must be copied because
        // the child iterator reuses its UnsafeRow buffer.
        private var rHead: UnsafeRow = _
        private var rHeadKey: UnsafeRow = _
        private def advanceRight(): Unit =
          if (ri.hasNext) {
            rHead = ri.next().asInstanceOf[UnsafeRow].copy()
            rHeadKey = rKeyProj(rHead).copy()
          } else { rHead = null; rHeadKey = null }
        advanceRight()

        // The remembered match: last eligible right row for the current
        // left key — O(1) state, the operator's whole memory footprint.
        private var lastMatch: UnsafeRow = _
        private var lastMatchKey: UnsafeRow = _

        override def hasNext: Boolean = li.hasNext
        override def next(): InternalRow = {
          val l = li.next()
          val lKey = lKeyProj(l)
          val lTimeRow = lTimeProj(l)
          if (lTimeRow.isNullAt(0)) {
            joined(l, nullRight)
          } else if (!fwd) {
            val lT = lTimeRow.getLong(0)
            // Backward ≤: consume right rows that are behind or eligible
            // for this left position; remember the latest eligible one.
            var advancing = true
            while (advancing && rHead != null) {
              val c = keyOrd.compare(rHeadKey, lKey)
              if (c < 0) advanceRight()
              else if (c == 0) {
                val rTimeRow = rTimeProj(rHead)
                if (!rTimeRow.isNullAt(0) && rTimeRow.getLong(0) <= lT) {
                  lastMatch = rHead; lastMatchKey = rHeadKey
                  advanceRight()
                } else if (rTimeRow.isNullAt(0)) advanceRight()
                else advancing = false
              } else advancing = false
            }
            if (lastMatch != null && keyOrd.compare(lastMatchKey, lKey) == 0) {
              numMatched += 1; joined(l, lastMatch)
            } else joined(l, nullRight)
          } else {
            val lT = lTimeRow.getLong(0)
            // Forward ≥: discard right rows strictly before this left
            // position (left times ascend within a key, so they can
            // never match a later left either); the head is then the
            // first eligible row — no remembered state at all.
            var advancing = true
            while (advancing && rHead != null) {
              val c = keyOrd.compare(rHeadKey, lKey)
              if (c < 0) advanceRight()
              else if (c == 0) {
                val rTimeRow = rTimeProj(rHead)
                if (rTimeRow.isNullAt(0) || rTimeRow.getLong(0) < lT)
                  advanceRight()
                else advancing = false
              } else advancing = false
            }
            if (rHead != null && keyOrd.compare(rHeadKey, lKey) == 0) {
              numMatched += 1; joined(l, rHead)
            } else joined(l, nullRight)
          }
          numOutputRows += 1
          resultProj(joined)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]; injected per session via
  * `experimental.extraStrategies` (works on ANY session at runtime — no
  * session-construction-time extensions needed, which matters because
  * the driver hands us an already-built session). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftKeys, j.rightKeys, j.leftTime, j.rightTime, j.rightTie,
        j.forward) :: Nil
    case _ => Nil
  }
}

/** User-facing API: LEFT OUTER as-of joins. `joinBackward` matches the
  * LAST right row at-or-before each left time (≤); `joinForward` the
  * FIRST right row at-or-after it (≥). */
object AsOf {
  def joinBackward(left: DataFrame, right: DataFrame,
      leftKey: Seq[String], rightKey: Seq[String],
      leftTime: String, rightTime: String,
      rightTie: Seq[String] = Nil): DataFrame =
    build(left, right, leftKey, rightKey, leftTime, rightTime, rightTie,
      forward = false)

  def joinForward(left: DataFrame, right: DataFrame,
      leftKey: Seq[String], rightKey: Seq[String],
      leftTime: String, rightTime: String,
      rightTie: Seq[String] = Nil): DataFrame =
    build(left, right, leftKey, rightKey, leftTime, rightTime, rightTie,
      forward = true)

  private def build(left: DataFrame, right: DataFrame,
      leftKey: Seq[String], rightKey: Seq[String],
      leftTime: String, rightTime: String,
      rightTie: Seq[String], forward: Boolean): DataFrame = {
    val cs = Strategies.ensure(left.sparkSession, AsOfJoinStrategy)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(cs, AsOfJoinPlan(
      lp, rp,
      leftKey.map(attr(lp, _)), rightKey.map(attr(rp, _)),
      attr(lp, leftTime), attr(rp, rightTime),
      rightTie.map(attr(rp, _)), forward))
  }
}
