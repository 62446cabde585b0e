package graft

/** Scratch audit: flag unintended cartesian/nested-loop joins in query
  * plans. Bounded scalar broadcasts (1-row aggregates crossJoined back)
  * legitimately plan as BroadcastNestedLoopJoin — the audit prints them
  * for eyeballing rather than asserting, since intent lives in the
  * query. Usage: runMain graft.PlanAudit [namePrefix ...]
  *
  * Round-7 sweep adjudicated: zero CartesianProduct anywhere; every
  * BNLJ is a bounded broadcast — 1-row aggregate scalars (q222/q223/
  * q234/q238/q240, q239's ntot/vocab counts, q251's totals), 5-row fold
  * bounds (q229), the V×V=25 type grid (q228), or the k=4 centroid
  * cross of the IVF family (q252; q233's count of 12 is the PLAN TEXT
  * nesting the persisted `assigned` lineage at each reference — runtime
  * reads the cached blocks once). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val dir = "/root/testdata/sf0.001"
    val prefixes = if (args.nonEmpty) args.toSeq else Seq("q2")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.exists(n.startsWith))
    for (name <- names) {
      try {
        val p = SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        val cart = "CartesianProduct".r.findAllIn(p).size
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
        if (cart > 0 || bnlj > 0)
          println(s"[audit] $name cartesian=$cart bnlj=$bnlj")
        spark.catalog.clearCache()
      } catch {
        case e: Throwable => println(s"[audit] $name PLAN-ERR ${e.getMessage.take(80)}")
      }
    }
    println("[audit] done")
  }
}
