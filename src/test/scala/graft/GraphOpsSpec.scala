package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the round-7 ops: [[graft.ops.Bfs]] (multi-source hop
  * distance) and [[graft.ops.RunningMax]] (distributed exclusive running
  * max — the skyline primitive). Both are checked against brute-force
  * single-node computations of the same definition. */
class GraphOpsSpec extends AnyFunSuite {

  import TestSpark.spark
  import spark.implicits._

  test("Bfs.hops: exact min-hop levels on a known graph") {
    // Two components: a path 1-2-3-4-5 (seed 1) and a triangle 10-11-12
    // (seed 10); 20 is an isolated seed; 30-31 is unreachable from any
    // seed and must be absent.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (30L, 31L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 10L, 20L).toDF("node")
    val got = graft.ops.Bfs.hops(edges, seeds, maxDepth = 6)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4,
      10L -> 0, 11L -> 1, 12L -> 1, 20L -> 0))
  }

  test("Bfs.hops: depth cap truncates the wave and terminates on cycles") {
    // A 6-cycle seeded at one node: without the cap the frontier loop
    // would keep re-visiting; with maxDepth=2 only hops ≤ 2 appear.
    val edges = (0 until 6).map(i => (i.toLong, ((i + 1) % 6).toLong))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = graft.ops.Bfs.hops(edges, seeds, maxDepth = 2)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 5L -> 1, 2L -> 2, 4L -> 2))
  }

  test("KCore.core: peels tails and chains, keeps the dense core, " +
      "and matches a sequential reference peel on a random graph") {
    // triangle {1,2,3} + tail 3-4-5 + isolated edge 8-9: the 2-core is
    // exactly the triangle (tail and pendant edge peel away over
    // MULTIPLE rounds — 5 first, then 4, then the 8-9 pair)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (8L, 9L)).toDF("src", "dst")
    val core = graft.ops.KCore.core(edges, k = 2)
      .as[(Long, Long)].collect().toSet
    assert(core == Set((1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (3L, 2L), (1L, 3L)))
    // no 4-core exists in a graph with max degree 3
    assert(graft.ops.KCore.core(edges, k = 4).count() == 0)
    // seeded-random graph vs sequential reference peel
    val rnd = new scala.util.Random(97)
    val redges = (0 until 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    def refCore(es: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
      var cur = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      var changed = true
      while (changed) {
        val deg = cur.groupBy(_._1).map { case (n, g) => n -> g.size }
        val keep = deg.filter(_._2 >= k).keySet
        val next = cur.filter { case (a, b) => keep(a) && keep(b) }
        changed = next.size != cur.size
        cur = next
      }
      cur
    }
    val want = refCore(redges.toSet, 4)
    val got = graft.ops.KCore.core(redges.toDF("src", "dst"), k = 4)
      .as[(Long, Long)].collect().toSet
    assert(got == want, s"random-graph 4-core mismatch: " +
      s"extra=${got -- want} missing=${want -- got}")
  }

  test("RunningMax.cummaxExclusive matches the sequential definition") {
    // Random-ish values over a unique key, over the 16 ranges the 2-core
    // test session derives, so the cross-range offset path is really
    // exercised; compare against the sequential form of the definition.
    val rows = (1 to 200).map(i => (i.toLong, ((i * 37) % 89).toLong))
    val df = rows.toDF("k", "v")
    val got = graft.ops.RunningMax
      .cummaxExclusive(df, Seq("k"), "v", "cm")
      .select("k", "cm").as[(Long, Option[Long])].collect().toMap
    var best = Option.empty[Long]
    rows.foreach { case (k, v) =>
      assert(got(k) == best, s"k=$k")
      best = Some(best.fold(v)(math.max(_, v)))
    }
  }

  test("cheapestWithin vs hops: same reach, cost >= hops, seeds free") {
    // q204 and q255 run the same graph with the same 6-round cap, so the
    // reachable set must be identical; every weight is >= 1, so the
    // cheapest ≤6-edge path can never cost less than the hop count; and
    // a seed's cheapest path is the empty one.
    val sf = "/root/testdata/sf0.001"
    val hops = SparkEntry.queries("q204_bfs_hops")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("hops")).toMap
    val cost = SparkEntry.queries("q255_weighted_radius")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cost")).toMap
    assert(hops.keySet == cost.keySet,
      s"reach diverged: only-hops=${(hops.keySet -- cost.keySet).take(3)} " +
        s"only-cost=${(cost.keySet -- hops.keySet).take(3)}")
    for ((n, h) <- hops) {
      assert(cost(n) >= h, s"node $n: cost ${cost(n)} < hops $h")
      if (h == 0) assert(cost(n) == 0L, s"seed $n has nonzero cost")
    }
  }

  test("GridNeighbors.epsPairs: salted dense cells are value-identical " +
      "to brute force, and the dense path IS a salted shuffle-hash join") {
    import org.apache.spark.sql.functions._
    // one pathologically dense cell (120 points jittered inside a
    // single eps-cell — the hot key the salting exists for) plus a
    // sparse scatter and cross-cell near-pairs at cell borders
    val eps = 0.1
    val pts = ((0 until 120).map { i =>
      (i.toLong, 0.55 + (i % 11) * 0.004, 0.55 + (i / 11) * 0.004)
    } ++ Seq((200L, 0.101, 0.05), (201L, 0.099, 0.05), // border pair
      (202L, 0.9, 0.9), (203L, 0.3, 0.7))) // isolated
      .toDF("id", "x", "y")
    val got = graft.ops.GridNeighbors
      .epsPairs(pts, eps, denseThreshold = 64, salts = 4)
    val brute = pts.select(col("id").as("ai"), col("x").as("ax"),
        col("y").as("ay"))
      .crossJoin(pts.select(col("id").as("bi"), col("x").as("bx"),
        col("y").as("by")))
      .filter(col("ai") =!= col("bi") &&
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) < eps * eps)
      .select("ai", "bi")
    assert(got.count() == brute.count())
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "salted grid pairs must equal brute-force pairs exactly")
    // the plan pin (VERDICT r11 #6): the dense route must execute as a
    // ShuffledHashJoin on (cell, salt) — a broadcast or sort-merge there
    // means the hint was lost and the hot cell pins one reducer again
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"dense-cell path must be a salted SHUFFLE_HASH join:\n$plan")
  }
}
