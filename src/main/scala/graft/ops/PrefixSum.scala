package graft.ops

import graft.plans.{OrderedScan, OrderedScanStrategy, Strategies}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.functions._

/** Distributed prefix sum — cumulative sum in the total order of a unique
  * key, without the single-task global window (`Window.orderBy(key)` with
  * no partition key moves ALL rows to one reducer; at 100 TB that is the
  * operator that never finishes).
  *
  * One plan operator, [[graft.plans.OrderedScan]]: one range exchange on
  * the key (none when the input already is range-partitioned on it), one
  * job for the per-partition totals, and one pass that adds each
  * partition's running offset to its rows. Building the frame runs no
  * Spark job, and the result is a pure function of (key order, values)
  * however often the input is recomputed.
  */
object PrefixSum {

  /** Adds column `out` = sum of `valueCol` over all rows with key ≤ this
    * row's key. `keyCol` must be unique (it defines the total order);
    * `valueCol` may be any numeric type; decimals stay exact. NULL values
    * are skipped; `out` is NULL until the first non-NULL value.
    */
  def cumsum(df: DataFrame, keyCol: String, valueCol: String,
      out: String): DataFrame =
    cumsum(df, Seq(keyCol), valueCol, out)

  /** Multi-column total order: the TUPLE `keyCols` must be unique. This
    * is the scale-safe form when no single column is both unique and
    * orderable — e.g. (hash, id) tiebreaks — packing such a tuple into
    * one numeric key (hash*K + id) silently caps id < K and breaks
    * injectivity beyond it (ADVICE r04 on q114). The range exchange and
    * the scan order lexicographically on the tuple, so no packing is
    * needed at any id range.
    */
  def cumsum(df: DataFrame, keyCols: Seq[String], valueCol: String,
      out: String): DataFrame = {
    // out's type is that of a running sum plus a sum of partition totals:
    // a decimal(p, s) value widens once per level, and results keep the
    // precision their oracle checks were made at
    val t = df.select(sum(col(valueCol)).as("t"))
    val typed = t.select(col("t") + coalesce(sum(col("t")).over(), lit(0)))
    scan(df, keyCols, valueCol, out, "sum", 0, typed.schema.head.dataType)
  }

  /** The shared ordered scan: `out` = `agg` ("sum" or "max") of
    * `valueCol` over every row up to frame end `upTo` (0: this row
    * included, -1: excluded) in `keyCols` order, in type `outType`.
    */
  private[ops] def scan(df: DataFrame, keyCols: Seq[String], valueCol: String,
      out: String, agg: String, upTo: Int,
      outType: org.apache.spark.sql.types.DataType): DataFrame = {
    val cs = Strategies.ensure(df.sparkSession, OrderedScanStrategy)
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      plan.resolveQuoted(n, cs.sessionState.analyzer.resolver) match {
        case Some(a: Attribute) => a
        case _ => throw new IllegalArgumentException(
          s"no column $n in ${plan.output.map(_.name)}")
      }
    // the node's column under its own name, then `out` in its place, as
    // withColumn puts it: `out` may name an input column
    val tmp = s"__scan_$out"
    GraftSqlBridge.ofRows(cs, OrderedScan(keyCols.map(attr), attr(valueCol),
        agg, upTo, AttributeReference(tmp, outType)(), plan))
      .withColumn(out, col(tmp)).drop(tmp)
  }
}
