package graft.core

import org.apache.spark.sql.SparkSession

/** The one session shape every main and spec runs queries in:
  * `local[cores]` with `cores` shuffle partitions, the UI off, the engine
  * extensions ([[graft.plans.GraftExtensions]]) and AQE on (the default:
  * a full-set A/B at sf0.1 measured 328.7 s with it vs 379.8 s without;
  * the iterative-round queries that lose under it turn it off on their
  * own [[Tuned]] session clones).
  * The SQL invariants (ANSI off, UTC, nanosAsLong, TIMESTAMP_MICROS
  * output, the graft_* functions) come from [[graft.SparkEntry.configure]],
  * applied here so the session's config is fixed when it is built rather
  * than on its first query. */
object Sessions {

  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.SparkEntry.configure(s)
    s
  }
}
