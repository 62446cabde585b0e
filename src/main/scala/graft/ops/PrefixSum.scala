package graft.ops

import graft.core.Cleanup.PersistTrackedOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sum — cumulative sum in the total order of a unique
  * key, without the single-task global window (`Window.orderBy(key)` with
  * no partition key moves ALL rows to one reducer; at 100 TB that is the
  * operator that never finishes).
  *
  * One lazy ordered scan instead, every step a plan operator:
  *  1. range boundaries: the `20 × ranges` rows with the smallest
  *     `xxhash64(key)` (ties broken by the key), sorted, every k-th. A
  *     bottom-k hash sample depends only on the set of keys, never on row
  *     order or partition layout, so every evaluation picks the same
  *     boundaries. They are a scalar subquery;
  *  2. range id = the number of boundaries ≤ the key, by a binary search
  *     unrolled into log2(ranges) projections — a pure function of the key;
  *  3. per-range window scan (parallel across ranges);
  *  4. per-range totals → exclusive running offsets — an O(ranges)-row
  *     problem, safe to window on one reducer — as a second scalar
  *     subquery (a range id → offset map), combined into every row.
  *
  * `ranges` is 8 × `spark.sql.shuffle.partitions`. Building the frame runs
  * no Spark job, and the result is a pure function of (key order, values)
  * however often the input is recomputed.
  */
object PrefixSum {

  /** Adds column `out` = sum of `valueCol` over all rows with key ≤ this
    * row's key. `keyCol` must be unique (it defines the total order);
    * `valueCol` may be any numeric type; decimals stay exact.
    */
  def cumsum(df: DataFrame, keyCol: String, valueCol: String,
      out: String): DataFrame =
    cumsum(df, Seq(keyCol), valueCol, out)

  /** Multi-column total order: the TUPLE `keyCols` must be unique. This
    * is the scale-safe form when no single column is both unique and
    * orderable — e.g. (hash, id) tiebreaks — packing such a tuple into
    * one numeric key (hash*K + id) silently caps id < K and breaks
    * injectivity beyond it (ADVICE r04 on q114). Boundaries, range ids
    * and the per-range window all order lexicographically on the tuple,
    * so no packing is needed at any id range.
    */
  def cumsum(df: DataFrame, keyCols: Seq[String], valueCol: String,
      out: String): DataFrame =
    scan(df, keyCols, valueCol, out, sum, 0L)(
      (local, off) => local + coalesce(off, lit(0)))

  /** The shared ordered scan: `out` = `combine(local, offset)`, where
    * `local` is `agg` of `valueCol` over this row's range up to frame end
    * `upTo` (0: this row included, -1: excluded), and `offset` is `agg`
    * over every earlier range (NULL before the first). `agg` must be
    * associative (sum, max).
    */
  private[ops] def scan(df: DataFrame, keyCols: Seq[String], valueCol: String,
      out: String, agg: Column => Column, upTo: Long)(
      combine: (Column, Column) => Column): DataFrame = {
    val ranges =
      8 * df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val key = struct(keyCols.map(col): _*)
    // Internal names carry the (caller-unique) `out` suffix so CHAINED
    // scans on one frame can't collide (q312's triple rank).
    val bC = s"__bounds_$out"; val rC = s"__range_$out"
    // For speed only: the two subqueries and the scan each read the
    // input, and this computes it once. No value depends on the cache.
    val base = df.persistTracked()
    // k spreads a sample smaller than 20 × ranges (a small input) over
    // all the ranges too.
    val sample = base
      .select(key.as("k"), xxhash64(keyCols.map(col): _*).as("h"))
      .orderBy("h", "k").limit(20 * ranges)
      .agg(sort_array(collect_list("k")).as("s"))
    val k = ceil(size(col("s")) / ranges)
    val bounds = sample.select(
      filter(col("s"), (_, i) => (i + 1) % k === 0 && i + 1 < k * ranges))
    // range id = count of boundaries ≤ key: a binary search unrolled into
    // one projection per halving step, each moving `step` slots ahead when
    // that slot's boundary is ≤ key (an absent slot reads NULL: "not ≤").
    // The subquery is bound to a column once, not inlined per comparison.
    val steps = Iterator.iterate(Integer.highestOneBit(ranges - 1))(_ / 2)
      .takeWhile(_ > 0)
    val ranged = steps.foldLeft(
        base.withColumn(bC, bounds.scalar()).withColumn(rC, lit(0))) {
      (d, step) => d.withColumn(rC, col(rC) + when(
        try_element_at(col(bC), col(rC) + step) <= key, step).otherwise(0))
    }
    val earlier = Window.orderBy(rC)
      .rowsBetween(Window.unboundedPreceding, -1)
    // ≤ ranges rows: one task takes the final totals and their running
    // aggregate, so the window needs no exchange of its own
    val offsets = ranged.groupBy(rC).agg(agg(col(valueCol)).as("t"))
      .coalesce(1)
      .select(struct(col(rC), agg(col("t")).over(earlier)).as("e"))
      .agg(map_from_entries(collect_list("e")))
    val upToRow = Window.partitionBy(rC).orderBy(keyCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, upTo)
    ranged.withColumn(out, combine(agg(col(valueCol)).over(upToRow),
        element_at(offsets.scalar(), col(rC))))
      .drop(bC, rC)
  }
}
