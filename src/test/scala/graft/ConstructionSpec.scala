package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.etl.{F1Pipeline, F1Schema}
import graft.ops.{PrefixSum, Quantiles, RunningMax}

/** Building a query runs no Spark job: the ordered-scan operators
  * (`PrefixSum`, `RunningMax`, `Quantiles`) and the F1 star-schema build
  * return plans whose range bounds, partition totals and global counts
  * are computed only by the caller's action. Each case
  * counts the jobs started, under its own job tag, while the frame is
  * built, and then runs the frame once so a plan that builds but cannot
  * execute fails here too. */
class ConstructionSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Jobs started on this thread while `build` ran, and the built value. */
  private def jobsDuring[T](build: => T): (Int, T) = {
    val sc = spark.sparkContext
    val tag = s"construction-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.tags", "")
            .split(",").contains(tag))) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = build
      TestBus.drain(sc)
      (jobs.get, out)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  private def assertLazy(build: => DataFrame): Unit = {
    val (jobs, df) = jobsDuring(build)
    assert(jobs === 0, "Spark jobs ran while the frame was built")
    assert(df.collect().nonEmpty)
  }

  private lazy val kv =
    (1 to 200).map(i => (i.toLong, (i * 37 % 89).toLong)).toDF("k", "v")

  test("PrefixSum.cumsum over a single key runs no job while built") {
    assertLazy(PrefixSum.cumsum(kv, "k", "v", "c"))
  }

  test("PrefixSum.cumsum over a tuple key runs no job while built") {
    val df = (1 to 200).map(i => ((i % 3).toLong, i.toLong, 1L))
      .toDF("h", "id", "v")
    assertLazy(PrefixSum.cumsum(df, Seq("h", "id"), "v", "cs"))
  }

  test("PrefixSum.cumsum of a decimal value runs no job while built") {
    val df = kv.withColumn("d", (col("v") / 100).cast("decimal(18,2)"))
    assertLazy(PrefixSum.cumsum(df, "k", "d", "c"))
  }

  test("RunningMax.cummaxExclusive runs no job while built") {
    assertLazy(RunningMax.cummaxExclusive(kv, Seq("k"), "v", "cm"))
  }

  test("Quantiles.quantileCont, grouped and global, run no job while built") {
    val df = kv.withColumn("g", col("k") % 4)
    assertLazy(Quantiles.quantileCont(df, Seq("g"), "v", Seq("p50" -> 0.5)))
    assertLazy(Quantiles.quantileCont(df, Nil, "v",
      Seq("p50" -> 0.5, "p90" -> 0.9), countCol = Some("n")))
  }

  test("F1Pipeline.buildAll runs no job while built") {
    val (jobs, (tables, persisted)) = jobsDuring(graft.core.Cleanup.track(
      F1Pipeline.buildAll(Tables.csv(spark, F1Fixture.csvPath, F1Schema.wide),
        refYear = 2026)))
    assert(jobs === 0, "Spark jobs ran while the star schema was built")
    assert(persisted.isEmpty, "the star schema build persisted frames")
    assert(tables("PitStop").collect().nonEmpty)
  }
}
