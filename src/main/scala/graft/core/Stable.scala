package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent, engine-portable float aggregation.
  *
  * Double sums depend on reduction order, which differs between Spark's
  * partial/final (and AQE-rewritten) aggregation and a single-threaded
  * oracle engine; hash-compared results need exact arithmetic. Casting each
  * addend to a fixed-scale decimal makes the sum associative — any
  * partitioning/merge order yields the same value — and the final cast back
  * to double is a single well-defined conversion. This also holds on a
  * 1000-executor cluster, where partial-aggregate merge order is
  * nondeterministic by design.
  *
  * Oracle template: `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`.
  */
object Stable {
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Partial form: keeps the sum DECIMAL so it can be re-aggregated
    * (rollup/cube over pre-aggregated groups) before one final cast. */
  def dsumDec(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale)))
}
