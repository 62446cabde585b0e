package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticsQueries, EventQueries, ExtQueries, QuerySpec, RefQueries, TextQueries, VectorQueries}
import graft.streaming.StreamQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each entry in `queries` is one operator family from SURVEY §2 (or the
  * driver-mandated LLM-pipeline extension surface); each `oracleSql` entry
  * is the exactly-equivalent DuckDB SQL for the hash-compare gate.
  */
object SparkEntry {

  private lazy val specs: Seq[QuerySpec] =
    RefQueries.specs ++ TextQueries.specs ++ VectorQueries.specs ++
      EventQueries.specs ++ StreamQueries.specs ++ AnalyticsQueries.specs ++
      ExtQueries.specs

  /** Session invariants the engine depends on. [[graft.core.Sessions]]
    * applies them when it builds a session; each query applies them again
    * in case the caller's session was built without them:
    * - ANSI off: pandas `errors='coerce'` fidelity (junk cast → NULL, not
    *   an exception) — SURVEY §7.4 risk 3.
    * - UTC: oracle timestamp parity.
    * - nanosAsLong: deterministic ns→µs truncation for events.ts (the
    *   loader converts; DuckDB truncates identically). */
  private[graft] def configure(s: SparkSession): Unit = {
    def trySet(k: String, v: String): Unit =
      try s.conf.set(k, v) catch { case NonFatal(_) => () }
    trySet("spark.sql.ansi.enabled", "false")
    trySet("spark.sql.session.timeZone", "UTC")
    trySet("spark.sql.legacy.parquet.nanosAsLong", "true")
    trySet("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    graft.functions.GraftFunctions.register(s)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    configure(spark)
    specs.head.fn(spark, "/root/testdata/sf0.001")
  }

  /** One per implemented operator from SURVEY.md §2.
    *
    * Each query runs under [[graft.core.Cleanup]]: persists made at
    * branch points during construction are released by the first
    * terminal action the caller runs, so cached blocks are query-scoped
    * — no harness-side clearCache needed for hygiene. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> { (s: SparkSession, dir: String) =>
      configure(s)
      val (df, tracked) = graft.core.Cleanup.track(q.fn(s, dir))
      // Arm on the RESULT's session, not `s`: phase-tuned queries
      // (q76/q89) return frames homed on a session clone, and the
      // terminal action notifies that clone's listener manager.
      graft.core.Cleanup.unpersistAfterNextAction(df.sparkSession, tracked)
      df
    }).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
