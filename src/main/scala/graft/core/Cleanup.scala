package graft.core

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Self-cleaning persists (VERDICT r04 "What's wrong" #2): queries
  * persist() at genuine branch points, but a lazy DataFrame can't
  * unpersist them itself — the terminal action happens in the CALLER
  * (Verify's parquet write, Bench's noop write, a user's collect). Before
  * this helper the harnesses' `spark.catalog.clearCache()` between
  * queries was load-bearing; any other consumer (notebook, multi-query
  * session) accumulated corpus-sized cached blocks for the process
  * lifetime.
  *
  * Mechanism: query construction runs inside [[track]], which records
  * every DataFrame the query persists via [[persisted]] (a thread-local —
  * construction is single-threaded). The wrapper then arms a one-shot
  * [[QueryExecutionListener]]: the FIRST Dataset action that completes on
  * the session (success or failure) unpersists the tracked frames and
  * unregisters the listener. Construction-time actions (k-means rounds)
  * happen before arming, so they can't trigger early cleanup.
  *
  * Sharp edge, documented: if several tracked queries run CONCURRENTLY on
  * one session, an action from one can release another's cache early —
  * that costs recomputation, never correctness (unpersisted blocks are
  * recomputed from lineage). The serial driver/harness path never hits
  * this.
  */
object Cleanup {

  private val tracking = new ThreadLocal[ArrayBuffer[DataFrame]]

  /** Persist `df` and register it for release after the enclosing
    * tracked query's first terminal action. Outside [[track]] this is
    * just persist (caller owns the lifetime). Only a persist this call
    * creates is registered: the cache matches frames by plan, so when
    * another caller already cached an equal frame, releasing it here
    * would drop that caller's cache entry. */
  def persisted(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val fresh = df.storageLevel == StorageLevel.NONE
    df.persist(level)
    val buf = tracking.get()
    if (buf != null && fresh) buf += df
    df
  }

  /** Chain-position syntax: `df.filter(...).persistTracked()`. */
  implicit final class PersistTrackedOps(private val df: DataFrame)
      extends AnyVal {
    def persistTracked(
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      persisted(df, level)
  }

  /** Run `body` (a query constructor) recording its tracked persists. */
  def track[T](body: => T): (T, Seq[DataFrame]) = {
    val outer = tracking.get()
    val buf = new ArrayBuffer[DataFrame]
    tracking.set(buf)
    try { val df = body; (df, buf.toSeq) }
    finally {
      if (outer == null) tracking.remove() else tracking.set(outer)
    }
  }

  /** Arm a one-shot listener: the next Dataset action to finish on `s`
    * releases `dfs` and removes the listener. */
  def unpersistAfterNextAction(s: SparkSession, dfs: Seq[DataFrame]): Unit = {
    if (dfs.isEmpty) return
    val lm = s.listenerManager
    val listener = new QueryExecutionListener {
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def fire(): Unit = if (done.compareAndSet(false, true)) {
        dfs.foreach(d => try d.unpersist() catch { case NonFatal(_) => () })
        try lm.unregister(this) catch { case NonFatal(_) => () }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = fire()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = fire()
    }
    lm.register(listener)
  }
}
