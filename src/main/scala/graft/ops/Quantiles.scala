package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed EXACT interpolated quantiles (`quantile_cont` semantics) —
  * the scale-safe replacement for Spark's exact `percentile` aggregate.
  *
  * `Percentile` buffers every (distinct value → count) of a group inside
  * ONE aggregation buffer; on a continuous column grouped by a
  * low-cardinality key (or no key) that is a per-task OOM at 100 TB — the
  * single-reducer shape the engine eliminates everywhere else. This helper
  * computes the same values with only group-by-scale machinery:
  *
  *  1. reduce to VALUE GRAIN: `groupBy(group, value).count()` — one keyed
  *     shuffle, the only pass over the corpus;
  *  2. rank the value grain with the distributed [[PrefixSum]] over the
  *     (group, value) total order — one range exchange and one ordered
  *     scan (per-group rank = global cumsum − group offset, the q219
  *     trick — a group holding half the corpus still ranks in parallel);
  *  3. each value-grain row covers the rank interval
  *     [cum−cnt+1, cum]; the rows covering the floor/ceil ranks of each
  *     requested percentile are selected by the crossing rule and
  *     interpolated.
  *
  * Parity: the interpolation reproduces Spark's `Percentile.getPercentile`
  * arithmetic exactly — `position = p * (n−1)`,
  * `(ceil(pos) − pos) * lowerValue + (pos − floor(pos)) * higherValue`,
  * lower value verbatim when the position is integral — which in turn
  * hash-matches DuckDB's `quantile_cont` under the callers' rounding
  * (the q43/q86 parity, green since round 2). Swapping the physical plan
  * cannot move a bit of the result.
  */
object Quantiles {

  /** One row per group: `groupCols ++ outs.map(_._1)` (+ `countCol` when
    * requested, the per-group non-NULL value count as BIGINT). Percentile
    * columns are DOUBLE, un-rounded — callers apply their own boundary
    * rounding. NULL values are excluded (the `percentile` contract).
    * `groupCols` empty → one global row.
    */
  def quantileCont(df: DataFrame, groupCols: Seq[String], valueCol: String,
      outs: Seq[(String, Double)],
      countCol: Option[String] = None): DataFrame = {
    require(outs.nonEmpty, "at least one percentile requested")
    val keyCols = groupCols :+ valueCol
    // 1. value grain — the only corpus-scale aggregation; the scan's
    // range exchange then moves one row per distinct (group, value)
    val vg = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__qcnt"))
    // 2. ranks via the distributed prefix sum
    val cum = PrefixSum.cumsum(vg, keyCols, "__qcnt", "__qcum")
    // grouped form: the group-grain frame broadcasts back on the keys.
    // GLOBAL form: one group whose ranks start at the first row (offset
    // 0), its size a scalar subquery over the value grain — so the plan
    // carries NO join (a constant-key equi join constant-folds back into
    // a nested loop, tripping the engine-wide no-nested-loop plan pins).
    // On empty input `__qn` is NULL: no row is a candidate and every
    // percentile reads NULL, as `percentile` does; the count reads 0.
    val ranked = (if (groupCols.nonEmpty) {
      val grp = cum.groupBy(groupCols.map(col): _*)
        .agg(min(col("__qcum") - col("__qcnt")).as("__qoff"),
          sum(col("__qcnt")).as("__qn"))
      cum.join(broadcast(grp), groupCols)
    } else cum.withColumn("__qoff", lit(0L))
      .withColumn("__qn", vg.agg(sum(col("__qcnt"))).scalar()))
      // this value covers per-group ranks [__qlo, __qhi] (1-based)
      .withColumn("__qhi", col("__qcum") - col("__qoff"))
      .withColumn("__qlo", col("__qhi") - col("__qcnt") + 1L)
    // 3. crossing rule: keep the rows covering any requested rank
    def pos(p: Double): Column = lit(p) * (col("__qn") - 1L).cast("double")
    def loRank(p: Double): Column = floor(pos(p)) + 1L
    def hiRank(p: Double): Column = ceil(pos(p)) + 1L
    def covers(k: Column): Column = col("__qlo") <= k && k <= col("__qhi")
    val keep = outs
      .map { case (_, p) => covers(loRank(p)) || covers(hiRank(p)) }
      .reduce(_ || _)
    val valAggs = outs.flatMap { case (nm, p) =>
      Seq(max(when(covers(loRank(p)), col(valueCol))).as(s"__qv0_$nm"),
        max(when(covers(hiRank(p)), col(valueCol))).as(s"__qv1_$nm"))
    } :+ max(col("__qn")).as("__qn")
    val cand = ranked.filter(keep)
    val sel =
      if (groupCols.nonEmpty)
        cand.groupBy(groupCols.map(col): _*).agg(valAggs.head, valAggs.tail: _*)
      else cand.agg(valAggs.head, valAggs.tail: _*)
    // interpolation — Spark Percentile.getPercentile verbatim
    val outCols = outs.map { case (nm, p) =>
      val h = pos(p)
      when(floor(h) === ceil(h), col(s"__qv0_$nm").cast("double"))
        .otherwise((ceil(h).cast("double") - h) * col(s"__qv0_$nm")
          + (h - floor(h).cast("double")) * col(s"__qv1_$nm"))
        .as(nm)
    }
    val n = if (groupCols.nonEmpty) col("__qn") else coalesce(col("__qn"), lit(0L))
    val cnt = countCol.map(c => n.as(c)).toSeq
    sel.select(groupCols.map(col) ++ outCols ++ cnt: _*)
  }
}
