package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.PrefixSum
import graft.plans.OrderedScanExec

/** What one ordered scan (`PrefixSum`, `RunningMax`, `Quantiles`) costs
  * in Spark jobs and exchanges, and its NULL semantics. */
class OrderedScanSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val aqe = new AdaptiveSparkPlanHelper {}

  private lazy val kv =
    (1 to 200).map(i => (i.toLong, (i * 37 % 89).toLong)).toDF("k", "v")

  private def sequential(rows: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rows.sortBy(_._1).scanLeft((0L, 0L)) { case ((_, acc), (k, v)) =>
      (k, acc + v) }.tail

  private def read(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("k", "c").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sortBy(_._1)

  /** Jobs and stages started while `body` ran. */
  private def counted[T](body: => T): (Int, Int, T) = {
    val sc = spark.sparkContext
    val jobs, stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { val out = body; TestBus.drain(sc); (jobs.get, stages.get, out) }
    finally sc.removeSparkListener(listener)
  }

  test("a cumsum collect over an unpartitioned input runs the sample, map, " +
      "totals and result jobs, one stage each") {
    val df = PrefixSum.cumsum(kv, "k", "v", "c")
    val (jobs, stages, rows) = counted(read(df))
    assert(rows == sequential(kv.as[(Long, Long)].collect().toSeq))
    assert(jobs == 4, s"jobs: $jobs")
    assert(stages == 4, s"stages: $stages")
  }

  test("a scan over input already range-partitioned on its keys adds no exchange") {
    val in = kv.repartitionByRange(col("k"))
    val df = PrefixSum.cumsum(in, "k", "v", "c")
    val plan = df.queryExecution.executedPlan
    val exchanges = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"exchanges beyond the input's:\n$plan")
    assert(aqe.collect(plan) { case s: OrderedScanExec => s }.size == 1, plan)
    assert(read(df) == sequential(kv.as[(Long, Long)].collect().toSeq))
  }

  test("NULL values are skipped: the running sum is NULL only before the " +
      "first non-NULL value") {
    val df = Seq[(Long, Option[Long])]((1, None), (2, Some(5)), (3, None),
      (4, Some(7))).toDF("k", "v").repartition(3)
    val got = PrefixSum.cumsum(df, "k", "v", "c").orderBy("k")
      .select("c").collect().map(r => Option(r.get(0))).toSeq
    assert(got == Seq(None, Some(5L), Some(5L), Some(12L)))
  }
}
