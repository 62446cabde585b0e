package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for unit specs (small in-memory frames): the
  * engine's one session shape at two cores. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Sessions.local(2)
}
