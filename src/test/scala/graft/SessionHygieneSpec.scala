package graft

import org.scalatest.funsuite.AnyFunSuite

/** The multi-query-consumer story (what round-5's Cleanup + Tuned work
  * buys): a session that runs MANY queries back to back — a notebook, a
  * long-lived service — must not accumulate cached blocks or conf drift.
  * Exercises one query from each cache-heavy family (tracked persists,
  * salted joins, iterative checkpoints, PrefixSum, ANN, streaming) and
  * asserts the session afterwards looks like the session before, modulo
  * the CC queries' final-label localCheckpoints (owned by the
  * ContextCleaner — documented in CleanupSpec).
  */
class SessionHygieneSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("a mixed 12-query session leaves no cache beyond CC checkpoints, no conf drift") {
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val conf0 = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled").map(k => k -> spark.conf.get(k))

    val qs = Seq(
      "q03_dedup_composite",   // tracked chain persist
      "q07_star_join_revenue", // broadcast star join
      "q29_minhash_pairs",       // LSH candidate pipeline
      "q50_simhash_pairs",     // salted join + 2 tracked persists
      "q76_dedup_clusters",    // iterative CC on a session clone
      "q92_pq_encode",         // two tracked persists
      "q110_ann_recall",       // tracked search results
      "q113_token_ids",        // PrefixSum ordered scan
      "q115_stream_update",    // streaming clone + foreachBatch
      "q121_semdedup",         // salted within-cluster join
      "q122_triplet_mining",   // tracked ring persist
      "q123_temperature_mix")  // broadcast quota stats
    for (q <- qs)
      SparkEntry.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save()

    // listener bus is async — give the one-shot cleanups a moment
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def extra = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    while (extra.size > 1 && System.nanoTime() < deadline) Thread.sleep(50)

    // q76's final labels are an eager localCheckpoint: exactly the one
    // RDD a second action on the returned frame would still need.
    assert(extra.size <= 1,
      s"session accumulated ${extra.size} persisted RDDs: ${extra.mkString(",")}")
    val conf1 = conf0.map { case (k, _) => k -> spark.conf.get(k) }
    assert(conf1 == conf0, s"session conf drifted: was $conf0, now $conf1")
  }
}
