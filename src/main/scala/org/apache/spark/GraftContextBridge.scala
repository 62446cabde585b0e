package org.apache.spark

import java.util.Properties

/** Package bridge: `SparkContext.getLocalProperties` and
  * `setLocalProperties` are `private[spark]`, and they are the only way
  * to hand a thread's whole set of local properties (job tags, job group,
  * scheduler pool, description) to another thread. So is
  * `cancelJobsWithTagWithFuture`, the only tag cancellation one can wait
  * for. Forwarding lines, no
  * behavior — the same pattern as `GraftSqlBridge`. */
object GraftContextBridge {
  /** The calling thread's local properties (the live object). */
  def localProperties(sc: SparkContext): Properties = sc.getLocalProperties

  /** Replace the calling thread's local properties with `p`. */
  def setLocalProperties(sc: SparkContext, p: Properties): Unit =
    sc.setLocalProperties(p)

  /** Cancel the jobs carrying `tag` and wait until the scheduler has
    * handled the request. It handles it after every job submission and
    * cancellation posted before it, and posts each cancelled job's end
    * first, so no job with `tag` submitted before this call is still
    * active when it returns. */
  def cancelJobsWithTagAndWait(sc: SparkContext, tag: String,
      reason: String): Unit =
    util.ThreadUtils.awaitResult(sc.cancelJobsWithTagWithFuture(tag, reason),
      scala.concurrent.duration.Duration.Inf)
}
