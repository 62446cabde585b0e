package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed exclusive running maximum — max of `valueCol` over all
  * rows STRICTLY before this row in the total order of `keyCols` —
  * without the single-task global window (same motivation as
  * [[PrefixSum]]: `Window.orderBy` with no partition key is the operator
  * that never finishes at 100 TB).
  *
  * It is PrefixSum's ordered scan ([[graft.plans.OrderedScan]]) with max
  * as the aggregate and the frame ending before this row: NULL values are
  * skipped, so "no predecessor" stays NULL.
  *
  * The canonical consumer is the 2-D skyline / Pareto frontier: sort by
  * x, a point survives iff its y beats every smaller-x point's y — i.e.
  * y > exclusive-running-max(y).
  */
object RunningMax {

  /** Adds column `out` = max of `valueCol` over all rows with key tuple
    * strictly less than this row's (lexicographic). NULL when no such
    * row exists. The tuple `keyCols` must be unique (it defines the
    * total order); `valueCol` must be orderable. */
  def cummaxExclusive(df: DataFrame, keyCols: Seq[String], valueCol: String,
      out: String): DataFrame =
    PrefixSum.scan(df, keyCols, valueCol, out, "max", -1,
      df.select(col(valueCol)).schema.head.dataType)
}
