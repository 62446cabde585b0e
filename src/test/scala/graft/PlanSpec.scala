package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan property guards: these are the scale behaviors the engine
  * is designed around (SURVEY §4) — if a refactor silently loses predicate
  * pushdown, column pruning, a broadcast, or partial aggregation, the
  * queries still return correct rows but stop being 100 TB-shaped. Each
  * assertion reads the executed plan string, which is stable across
  * re-plans at this scale. */
class PlanSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("q06: filters are pushed into the parquet scan") {
    val p = plan("q06_filter_nulls")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"no pushed filters in:\n$p")
  }

  test("q04: scan reads only the 2 projected columns of 16-column lineitem") {
    val p = plan("q04_distinct_pair")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && !read.contains("l_extendedprice"),
      s"scan not pruned: $read")
  }

  test("q07: dimension joins are broadcast, fact join is not") {
    val p = plan("q07_star_join_revenue")
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
  }

  test("q07: aggregation runs partial then final") {
    val p = plan("q07_star_join_revenue")
    assert(p.contains("partial_sum") || p.contains("partial sum") ||
      "HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("q13: top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q13_topk_customers")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
  }

  test("q31: query set is broadcast against the candidate scan") {
    val p = plan("q31_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query vectors not broadcast:\n$p")
  }

  test("q49: rank<=k filter compiles to partial+final WindowGroupLimit") {
    val df = SparkEntry.queries("q49_region_top_customers")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"top-3-per-region not group-limited before the final window:\n$p")
  }

  test("q71/q50: salted join really shuffles — no corpus-sized broadcast, " +
      "no single-task probe") {
    // Skew.saltedJoin only spreads hot keys if the join exchanges on
    // (keys, salt); a planner-chosen broadcast would (a) broadcast a
    // corpus-proportional table at scale and (b) inherit the probe side's
    // 1-file = 1-partition layout at bench scale, serializing every pair
    // evaluation into one task.
    for (q <- Seq("q71_edit_distance", "q50_simhash_pairs")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q: salted join not shuffled:\n$p")
    }
  }

  test("q41: LSH pair generation is a salted shuffle join, not a " +
      "bucket-sized collect_list") {
    // An 8-bit band holds O(n/256) ids at corpus scale; a
    // groupBy(bucket)+collect_list would materialize an O((n/256)²)
    // pair array in one task. The salted SHUFFLE_HASH self-join spreads
    // each hot bucket over `salts` reducers instead.
    val p = plan("q41_embed_neardup")
    assert(p.contains("ShuffledHashJoin"), s"q41: band join not shuffled:\n$p")
    assert(!p.contains("collect_list"),
      s"q41: bucket-sized collect_list back in the plan:\n$p")
  }

  test("q121: within-cluster pair join is salted+shuffled; corpus never broadcast") {
    // 4 clusters = 4 hot keys: only a shuffled hash join on
    // (cent_id, salt) spreads a hot cluster's pair space across
    // reducers. A broadcast would ship the corpus-proportional assigned
    // table; collect_list would rebuild the q41 single-task pair array.
    val p = plan("q121_semdedup")
    assert(p.contains("ShuffledHashJoin"), s"q121: pair join not shuffled:\n$p")
    assert(!p.contains("collect_list"), s"q121: bucket pair array in plan:\n$p")
  }

  test("q122: triplet rings window on (label, shard) — no global-order window") {
    // An empty-partition window (Window.orderBy with no partitionBy)
    // moves the corpus to ONE reducer; the rings must stay keyed.
    val p = plan("q122_triplet_mining")
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty)
    assert(!p.contains("SinglePartition"),
      s"q122: a single-partition exchange in the plan:\n$p")
  }

  test("q10: whole-stage codegen covers the aggregation (final AQE plan)") {
    // AQE prints codegen spans only in the finalized plan, so execute first
    val df = SparkEntry.queries("q10_pricing_summary")(spark, sf)
    df.collect()
    // codegen spans print as "*(n) Operator" in the tree form
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("HashAggregate"),
      s"no codegen spans:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a dim-filtered join") {
    // The 100 TB mechanism: a selective dimension filter becomes a bloom
    // `might_contain` evaluated at the fact scan, so most fact rows die
    // before the join shuffle. Size thresholds are tuned for cluster
    // scale (application side >= 10 GB), so at fixture scale the spec
    // drops the floor to prove the plan shape; a real deployment keeps
    // the defaults and gets this automatically past the thresholds.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q86: binned range join planned as a hash join, never a nested loop") {
    val p = plan("q86_price_bands")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$p")
    assert(p.contains("HashJoin"), s"no hash join on the bin key:\n$p")
  }

  test("q90: the benchmark probe set is broadcast, never shuffled") {
    // the probe side is bounded by the eval corpus; the training side
    // must stream through a broadcast hash join, not a shuffle exchange
    val p = plan("q90_decontamination")
    assert(p.contains("BroadcastHashJoin"), s"probe set not broadcast:\n$p")
  }

  test("q91: chunking is scan-local — no join anywhere in the plan") {
    val p = plan("q91_cdc_chunks")
    assert(!p.contains("Join"), s"CDC chunking grew a join:\n$p")
  }

  test("q93: ADC probes the codes through a broadcast of the distance tables") {
    val p = plan("q93_pq_adc_search")
    assert(p.contains("BroadcastHashJoin"), s"distance tables not broadcast:\n$p")
  }

  test("q100: group stats join back via broadcast — no second corpus shuffle") {
    val p = plan("q100_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n$p")
  }

  test("q105: weighted sample compiles to TakeOrderedAndProject") {
    val p = plan("q105_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted top-k fell back to a global sort:\n$p")
  }

  test("q106: monthly rollup reads daily partials — two aggregate levels, no join") {
    val p = plan("q106_merge_partials")
    assert(!p.contains("Join"), s"partial merge grew a join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, // partial+final × 2 levels
      s"expected two partial+final aggregate levels:\n$p")
  }

  test("q109: corpus stats broadcast into scoring; top-10 never globally sorts") {
    val p = plan("q109_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row BM25 stats not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 not limit-pushed:\n$p")
    // one corpus pass per aggregate consumer, never a corpus-keyed join:
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"BM25 grew a corpus-keyed shuffle join:\n$p")
  }

  test("q32: centroid assignment is a partial struct-max aggregate, not a window") {
    val p = plan("q32_ivf_assign")
    assert(!p.contains("Window"), s"assignment regressed to a window rank:\n$p")
    assert(p.contains("partial_max(struct"),
      s"no map-side partial aggregation before the vec_id exchange:\n$p")
  }

  test("q111: histogram bounds broadcast; bin aggregation is partial+final") {
    val p = plan("q111_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"min/max bounds not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"bin counts not partially aggregated:\n$p")
  }

  test("q161: EXISTS plans as a LEFT SEMI join, not inner join + distinct") {
    val p = plan("q161_tpch_q4")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
  }

  test("q163: NOT IN plans as a broadcast LEFT ANTI join") {
    val p = plan("q163_tpch_q16")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"excluded-supplier set not broadcast:\n$p")
  }

  test("q166: Hamming shortlist rank compiles to partial WindowGroupLimit; " +
      "popcount stays in codegen") {
    val p = plan("q166_binary_quant")
    // Partial+Final WindowGroupLimit = per-partition top-20 prefilter
    // before the rank exchange — the shortlist never globally sorts the
    // scored corpus.
    assert(p.contains("WindowGroupLimit"),
      s"shortlist rank lost its group-limit pushdown:\n$p")
    assert(p.contains("bit_count"), s"popcount not in the plan:\n$p")
  }

  test("q187: PIT lookup is the as-of union — no join operator at all, " +
      "only entity-keyed window exchanges") {
    val p = plan("q187_pit_lookup")
    // The whole lookup is scans → union → windows: any Join node means
    // it regressed to a correlated/interval join (per-probe history
    // re-scan or interval explosion).
    assert(!p.contains("Join"), s"PIT lookup regressed to a join:\n$p")
    // Exactly two hash exchanges, both on the entity key: the SCD2
    // change-detection windows (orders branch, below the union) and
    // the as-of window above it. The union's probe side arrives
    // unpartitioned, so the second exchange is inherent to the trick.
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"expected exactly 2 entity-keyed exchanges, found $hashExchanges:\n$p")
  }

  test("q197: no doc-grain broadcast — set sizes ride the prefix-rank " +
      "window shuffle, not a broadcast join") {
    val df = SparkEntry.queries("q197_prefix_filter_join")(spark, sf)
    // The logical plan must carry NO broadcast hint at all: the only
    // broadcastable inputs here (per-doc sizes) are corpus-proportional,
    // so any hinted broadcast in this query caps it at driver memory.
    val lp = df.queryExecution.logical.toString
    assert(!lp.toLowerCase.contains("hint"),
      s"q197 re-grew a broadcast hint:\n$lp")
    // sz must come from a second Window node sharing the doc_id
    // exchange with row_number — not from a separate aggregate joined
    // back in.
    val p = df.queryExecution.executedPlan.toString
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2,
      s"doc-size window collapsed out of the plan:\n$p")
  }

  test("q224: bucketed join shuffles NEITHER side — no hash exchange " +
      "on the join keys") {
    val p = plan("q224_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      s"bucketed join did not plan as SMJ:\n$p")
    // The whole point of bucketBy(8, key) on both sides: bucket i of
    // each table co-locates in one task, so the ONLY exchanges left are
    // the post-join aggregate and the final sort. A hashpartitioning
    // exchange on either join key means the bucketed layout was ignored
    // — at 100 TB that is a full fact-table shuffle per run.
    assert(!p.contains("hashpartitioning(o_custkey") &&
      !p.contains("hashpartitioning(c_custkey"),
      s"join key re-shuffled despite bucketing:\n$p")
  }

  test("q319: native as-of over bucketed tables shuffles NOTHING but " +
      "the final sort") {
    val p = plan("q319_asof_bucketed")
    assert(p.contains("AsOfJoin"), s"native as-of not planned:\n$p")
    // Both scans are bucketed on the join key (8 buckets), so the as-of
    // needs no exchange on either side; the exec passes the left
    // partitioning through, so the per-user aggregate is exchange-free
    // too. The ONLY exchange left is the orderBy's rangepartitioning —
    // at 100 TB this plan touches the event store without one
    // fact-table shuffle.
    assert(!p.contains("hashpartitioning("),
      s"as-of or aggregate re-shuffled despite bucketed layout:\n$p")
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the final-sort exchange:\n$p")
  }

  test("q225: partition-column filter prunes directories at the scan") {
    val p = plan("q225_partition_prune")
    val scan = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("PartitionFilters") && scan.contains("1-URGENT"),
      s"partition filter not applied at file listing: $scan\nin:\n$p")
    // The partition value must NOT appear as a pushed row-group filter:
    // pruning happens at directory listing, before any file opens.
    // (PartitionFilters and PushedFilters share the scan line — compare
    // only the PushedFilters bracket.)
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(scan).getOrElse("")
    assert(!pushed.contains("o_orderpriority"),
      s"partition column leaked into row filters: $pushed")
  }

  test("q236: norms ride the posting window — no doc-grain join or " +
      "broadcast (the q197 rule for the sparse-cosine family)") {
    val df = SparkEntry.queries("q236_sparse_cosine")(spark, sf)
    val lp = df.queryExecution.logical.toString
    assert(!lp.toLowerCase.contains("hint"),
      s"q236 grew a broadcast hint on corpus-grain data:\n$lp")
    val p = df.queryExecution.executedPlan.toString
    // norms come from a Window over the SAME doc-partitioned postings,
    // not a separate doc-grain aggregate joined back in
    assert(p.contains("Window"), s"doc-norm window disappeared:\n$p")
  }

  test("q170: every Q6 predicate reaches the parquet scan; " +
      "scan projects only the needed columns") {
    val p = plan("q170_tpch_q6")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), s"filters not pushed: $pushed")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_tax"),
      s"scan not pruned: $read")
  }

  test("q262: AQE detects the hot key and splits the skewed partition — " +
      "SortMergeJoin(skew=true) in the final adaptive plan") {
    val df = SparkEntry.queries("q262_aqe_skew_join")(spark, sf)
    df.collect() // the skew split happens at RUNTIME — materialize first
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"AQE did not mark the join skewed:\n$p")
    assert(p.contains("AQEShuffleRead") && p.contains("skewed"),
      s"no skewed AQEShuffleRead in the final plan:\n$p")
  }

  test("q273: InjectRuntimeFilter plants a bloom semi-join reduction — " +
      "might_contain on the lineitem scan, bloom_filter_agg on orders") {
    val p = plan("q273_runtime_bloom_join")
    val probe = p.linesIterator.find(_.contains("might_contain")).getOrElse("")
    assert(probe.contains("l_orderkey"),
      s"no might_contain probe on the fact-table key:\n$p")
    assert(p.contains("bloom_filter_agg"),
      s"no bloom build on the creation side:\n$p")
    val buildCtx = p.linesIterator.dropWhile(!_.contains("bloom_filter_agg"))
      .take(6).mkString("\n")
    assert(buildCtx.contains("o_orderkey") || p.contains("o_orderkey"),
      s"bloom must be built from the filtered orders keys:\n$buildCtx")
  }

  test("q258: the SERVE lineage reads only index artifacts — exactly one " +
      "embeddings scan (the query vectors), no inline index recompute") {
    // the fn builds + persists the index eagerly, then returns the serve
    // DataFrame — its plan IS the serve path
    val p = plan("q258_ann_index_serve")
    val scans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") || l.contains("BatchScan")).toSeq
    val embScans = scans.count(_.contains("embeddings"))
    assert(embScans == 1,
      s"serve path must scan embeddings ONCE (query vectors), saw $embScans:\n" +
        scans.mkString("\n"))
    assert(scans.count(_.contains("graft_memo_annidx")) >= 3,
      s"serve path must read the 3 persisted artifacts:\n${scans.mkString("\n")}")
  }

  test("F1 star schema: each populated table plans one shuffle exchange; " +
      "PitStop's scan reads its range exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val aqe = new AdaptiveSparkPlanHelper {}
    def exchanges(p: SparkPlan) = aqe.collect(p) { case e: ShuffleExchangeExec => e }
    val tables = graft.etl.F1Pipeline.buildAll(graft.core.Tables.csv(spark,
      F1Fixture.csvPath, graft.etl.F1Schema.wide), refYear = 2026) - "CircuitLocation"
    assert(tables.size == 15)
    for ((t, df) <- tables) {
      val p = df.queryExecution.executedPlan
      assert(exchanges(p).size == 1, s"$t: not one shuffle exchange:\n$p")
    }
    val p = tables("PitStop").queryExecution.executedPlan
    val scans = aqe.collect(p) { case s: graft.plans.OrderedScanExec => s }
    assert(scans.size == 1, s"PitStop: no ordered scan:\n$p")
    val read = exchanges(scans.head).map(_.outputPartitioning match {
      case r: RangePartitioning =>
        r.ordering.flatMap(_.child.references.map(_.name))
      case other => Seq(other.toString)
    })
    assert(read == Seq(Seq("raceId", "driverId", "stop")),
      s"PitStop's scan does not read the range exchange on its key:\n$p")
  }
}
