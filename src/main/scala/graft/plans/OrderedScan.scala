package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Attribute, AttributeSet, BoundReference, Cast, Expression, Greatest, If, IsNull, JoinedRow, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.DataType

/** The ordered scan as one plan operator: `out` = `agg` (sum or max) of
  * `value` over every row before this one in the total order of `keys`,
  * this row included when `upTo` is 0 and excluded when it is -1. NULL
  * values are skipped, and `out` is NULL while no non-NULL value has
  * been seen. `keys` must be unique (they define the total order); `agg`
  * runs in `out`'s type, so a decimal sum stays exact.
  *
  * Without it the scan is `Window.orderBy(keys)` with no partition key,
  * which moves every row to one reducer. Here the work is parallel:
  *  - the operator requires its child range-partitioned and sorted on
  *    `keys`, so `EnsureRequirements` plans one range exchange (or none,
  *    when the child already is) and per-partition sorts;
  *  - one job folds each partition to its total, O(partitions) rows, and
  *    the driver turns the totals into exclusive running offsets;
  *  - one pass then emits each row with its partition's running value,
  *    started at the partition's offset.
  * Both passes read the one `RDD` of the child, so both read the same
  * shuffle: a row's partition is a function of its key and of the range
  * bounds fixed in that one `ShuffleDependency`, and a recomputed
  * partition cannot move rows between the totals and the offsets.
  */
case class OrderedScan(keys: Seq[Attribute], value: Expression, agg: String,
    upTo: Int, out: Attribute, child: LogicalPlan) extends UnaryNode {
  require(agg == "sum" || agg == "max", s"ordered scan agg: $agg")
  require(upTo == 0 || upTo == -1, s"ordered scan frame end: $upTo")
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override protected def withNewChildInternal(c: LogicalPlan): OrderedScan =
    copy(child = c)
}

case class OrderedScanExec(keys: Seq[Attribute], value: Expression,
    agg: String, upTo: Int, out: Attribute, child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)

  private def order = keys.map(SortOrder(_, Ascending))
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    val (v, in, f, dt) = (value, child.output, agg, out.dataType)
    val step = () => new ScanStep(v, in, f, dt)
    val totals = rows.mapPartitions { it =>
      val fold = step(); Iterator.single(it.foldLeft(fold.none)(fold(_, _)))
    }.collect()
    val onDriver = step()
    val offsets = totals.scanLeft(onDriver.none)(onDriver.merge)
    val exclusive = upTo == -1
    val types = (in :+ out).map(_.dataType).toArray
    rows.mapPartitionsWithIndex { (i, it) =>
      val fold = step()
      val emit = UnsafeProjection.create(types)
      val joined = new JoinedRow
      var s = offsets(i)
      it.map { row =>
        val next = fold(s, row)
        val shown = if (exclusive) s else next
        s = next
        emit(joined(row, shown))
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): OrderedScanExec =
    copy(child = c)
}

/** A running `agg` in type `dt`, each value a one-field row: `none` is
  * NULL, `merge(s, t)` combines two running values and `apply(s, row)`
  * adds `row`'s value. Each result is a copy (the projections reuse their
  * buffers, and a result feeds the next call). One per task: projections
  * are not thread-safe. */
private final class ScanStep(value: Expression, in: Seq[Attribute],
    agg: String, dt: DataType) {
  private val a = BoundReference(0, dt, nullable = true)
  private val b = BoundReference(1, dt, nullable = true)
  // NULL-skipping; Greatest skips NULLs itself
  private val combined = UnsafeProjection.create(Seq(
    if (agg == "sum") If(IsNull(a), b, If(IsNull(b), a, Cast(Add(a, b), dt)))
    else Greatest(Seq(a, b))))
  private val valueOf = UnsafeProjection.create(Seq(Cast(value, dt)), in)
  private val joined = new JoinedRow
  val none: UnsafeRow =
    UnsafeProjection.create(Seq(Literal(null, dt))).apply(null).copy()
  def merge(s: UnsafeRow, t: UnsafeRow): UnsafeRow =
    combined(joined(s, t)).copy()
  def apply(s: UnsafeRow, row: InternalRow): UnsafeRow = merge(s, valueOf(row))
}

/** Plans [[OrderedScan]] to [[OrderedScanExec]]: registered by
  * [[GraftExtensions]], and added to a session built without them the
  * first time a scan is built on it. */
object OrderedScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: OrderedScan =>
      OrderedScanExec(s.keys, s.value, s.agg, s.upTo, s.out,
        planLater(s.child)) :: Nil
    case _ => Nil
  }
}
