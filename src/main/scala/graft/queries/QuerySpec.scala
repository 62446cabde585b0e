package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine capability: a named Spark query over the driver
  * corpus plus (when SQL-expressible) the exactly-equivalent DuckDB oracle
  * SQL. Column names/types and row order must match between the two — the
  * driver hash-compares (SURVEY §5.1). */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)
