package graft

import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Output-boundary invariants swept over EVERY declared query against the
  * sf0.001 corpus (one shared build; construction is analysis-only for
  * batch queries — streaming / storage queries materialize, and that cost
  * IS the check, their output schema is only knowable post-run).
  *
  * Rule 1 (round 9, VERDICT r8): NO query may expose a DecimalType column.
  * The driver's hasher canonicalizes Spark parquet DECIMALs and DuckDB
  * oracle values differently whenever a value's fixed-scale string differs
  * from its float repr ('87.50' vs '87.5') — 21 value-exact queries failed
  * the r8 hash gate exactly that way. Decimal-stable INTERNAL arithmetic
  * stays (it is the order-free summation discipline); the final projection
  * casts to DOUBLE/BIGINT.
  *
  * Rule 2 (round 10, VERDICT r9): NO query may plan Spark's exact
  * `Percentile`/`PercentileCont`/`PercentileDisc` aggregate. Its
  * aggregation buffer holds every (distinct value → count) of a group in
  * ONE task — a per-task OOM on a continuous column at 100 TB, the
  * single-reducer shape the engine eliminates everywhere else. Exact
  * quantiles route through `graft.ops.Quantiles` (value-grain PrefixSum
  * rank selection); approximate ones through the q66 histogram sketch.
  * `ApproximatePercentile` (bounded sketch buffer) would be fine but is
  * unused (engine-specific internals break oracle parity).
  */
class OutputSchemaSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Paths of every DecimalType inside `dt`, nested types included. */
  private def decimalPaths(dt: DataType, path: String): Seq[String] =
    dt match {
      case _: DecimalType => Seq(path)
      case s: StructType =>
        s.fields.toSeq.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => decimalPaths(a.elementType, s"$path[]")
      case m: MapType =>
        decimalPaths(m.keyType, s"$path.key") ++
          decimalPaths(m.valueType, s"$path.value")
      case _ => Seq.empty
    }

  // one build per query, shared by both sweeps
  private lazy val built: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val spark = TestSpark.spark
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sfDir)
    }
  }

  test("no query output schema contains a DecimalType column") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val offenders = built.flatMap { case (name, df) =>
      df.schema.fields.toSeq.flatMap(f =>
        decimalPaths(f.dataType, f.name).map(p => s"$name:$p"))
    }
    assert(offenders.isEmpty,
      s"DecimalType reached the output boundary (cast to double at the " +
        s"final projection, keep decimal math internal): $offenders")
  }

  test("no query plans the exact Percentile value-buffering aggregate") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val offenders = built.flatMap { case (name, df) =>
      val hits = df.queryExecution.analyzed.collect {
        case p => p.expressions.flatMap(_.collect {
          case e if e.getClass.getSimpleName.contains("Percentile") &&
            !e.getClass.getSimpleName.contains("Approximate") =>
            e.getClass.getSimpleName
        })
      }.flatten
      hits.map(h => s"$name:$h")
    }
    assert(offenders.isEmpty,
      s"exact Percentile aggregate planned (its per-group value buffer " +
        s"is a per-task OOM at scale — use graft.ops.Quantiles rank " +
        s"selection instead): $offenders")
  }
}
