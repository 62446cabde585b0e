package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed exclusive running maximum — max of `valueCol` over all
  * rows STRICTLY before this row in the total order of `keyCols` —
  * without the single-task global window (same motivation as
  * [[PrefixSum]]: `Window.orderBy` with no partition key is the operator
  * that never finishes at 100 TB).
  *
  * It is PrefixSum's ordered scan with max as the monoid: an exclusive
  * per-range window max, combined with the exclusive running max of the
  * earlier ranges' maxima by `greatest` (which skips NULLs, so "no
  * predecessor" stays NULL).
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
    PrefixSum.scan(df, keyCols, valueCol, out, max, -1L)(greatest(_, _))
}
