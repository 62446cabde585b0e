package graft

import org.scalatest.funsuite.AnyFunSuite

/** Persisted branch points must be query-scoped (VERDICT r04 #2): after a
  * query's terminal action, its persist()s are released by the one-shot
  * listener graft.core.Cleanup arms — harness-side clearCache is
  * belt-and-suspenders, not load-bearing. The listener bus is async, so
  * assertions poll briefly.
  *
  * Scope: queries whose persists go through Cleanup.persisted. q76/q89
  * additionally localCheckpoint (lineage truncation) — those blocks are
  * owned by the ContextCleaner, not this mechanism.
  */
class CleanupSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  // Baseline-relative: other suites may legitimately leave persisted
  // RDDs on the shared context (localCheckpoints from the CC queries are
  // owned by the ContextCleaner, and clearCache does not touch raw
  // RDDs), so asserting an empty context would make this spec depend on
  // suite order. What this spec owns is: no NEW persisted RDDs survive.
  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def awaitClean(baseline: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var extra = persistedIds -- baseline
    while (extra.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      extra = persistedIds -- baseline
    }
    extra
  }

  // q03: single chain-position persist; q50: persist + banded self-join;
  // q92: pqSubvectors + pqCodebook persists (two tracked frames);
  // q113: token-id query over the PrefixSum vocab ids (the scan itself
  // persists nothing).
  for (q <- Seq("q03_dedup_composite", "q50_simhash_pairs",
      "q92_pq_encode", "q113_token_ids")) {
    test(s"$q: no persisted RDDs survive the query's action") {
      spark.catalog.clearCache()
      val baseline = persistedIds
      val df = SparkEntry.queries(q)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      val leaked = awaitClean(baseline)
      assert(leaked.isEmpty,
        s"$q left persisted RDDs ${leaked.mkString(",")} after its action")
    }
  }
}
