package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.F1Pipeline

/** How `F1Pipeline.run` and `runIncremental` write the 16 star tables:
  * side by side on a pool bounded by the context's cores, every job under
  * the caller's job tags, with no more jobs than one table after another
  * runs, and every table equal to the fixture's. A failed write names its
  * table, the other writes still land, and nothing the build cached or
  * started outlives the call. */
class F1WriteSpec extends AnyFunSuite {
  import TestSpark.spark

  private def sc = spark.sparkContext

  /** Jobs seen by a listener while `body` ran, in the order the scheduler
    * posted their start and end events. A write is one root SQL
    * execution: its adaptive query stages and subqueries may run as
    * several jobs at once, so jobs at once alone do not show writes at
    * once. */
  private final class JobWatch(tag: String) extends SparkListener {
    private val running = mutable.Map.empty[Int, String]
    var total, maxJobs, maxWrites, untagged = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      total += 1
      running(e.jobId) = p.getProperty("spark.sql.execution.root.id",
        p.getProperty("spark.sql.execution.id", ""))
      maxJobs = math.max(maxJobs, running.size)
      maxWrites = math.max(maxWrites, running.values.toSet.size)
      if (!p.getProperty("spark.job.tags", "").split(",").contains(tag))
        untagged += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running -= e.jobId
    }
  }

  private def watched(body: => Unit): JobWatch = {
    val tag = s"f1write-${java.util.UUID.randomUUID()}"
    val watch = new JobWatch(tag)
    TestBus.drain(sc)
    sc.addSparkListener(watch)
    sc.addJobTag(tag)
    try { body; TestBus.drain(sc); watch }
    finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(watch)
    }
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private lazy val expected: Map[String, Seq[Row]] =
    F1Fixture.tables.map { case (t, df) => t -> sorted(df) }

  // read with the table's schema: the empty CircuitLocation stub writes
  // no data file to infer one from
  private def assertTablesEqualFixture(out: String): Unit =
    expected.foreach { case (t, rows) =>
      val back = spark.read.schema(F1Fixture.tables(t).schema)
        .parquet(s"$out/$t")
      assert(sorted(back.drop("load_date")) == rows, s"$t read back")
    }

  private def poolThreads: Int = Thread.getAllStackTraces.keySet.toArray
    .count(_.asInstanceOf[Thread].getName.startsWith("F1Pipeline-write-"))

  // The fixture rows at a path of their own: a frame another spec cached
  // for `F1Fixture.csvPath` would answer some scans and change the job
  // count.
  private def freshCsv: String = F1Fixture.writeCsv(F1Fixture.fixtureRows)

  // Jobs one call runs on the fixture, the same as one table after
  // another (concurrency adds no job). Each populated table builds on one
  // shuffle: a range exchange's sample and map jobs (Laps: one hash map
  // job) and the write, plus PitStop's totals job.
  private val runJobs = 46
  private val firstDropJobs = 46
  private val guardedDropJobs = 61

  test("run and runIncremental write concurrently, under the caller's tag, with the same jobs") {
    val csv = freshCsv
    expected // collected before any job is watched
    val out = Files.createTempDirectory("f1write").toString
    val inc = Files.createTempDirectory("f1write_inc").toString
    val calls = Seq(
      ("run", runJobs, () => F1Pipeline.run(spark, csv, out)),
      ("first drop", firstDropJobs,
        () => F1Pipeline.runIncremental(spark, csv, inc, "2026-08-01")),
      ("guarded drop", guardedDropJobs,
        () => F1Pipeline.runIncremental(spark, csv, inc, "2026-08-02")))
    for ((name, jobs, call) <- calls) {
      val w = watched(call())
      assert(w.maxJobs >= 2, s"$name: jobs active at once")
      assert(w.maxWrites >= 2, s"$name: writes active at once")
      assert(w.total == jobs, s"$name: jobs run")
      assert(w.untagged == 0, s"$name: jobs without the caller's tag")
      assert(poolThreads == 0, s"$name: write threads outlived the call")
    }
    assertTablesEqualFixture(out)
    assertTablesEqualFixture(inc)
  }

  test("run releases only the persists it made: a caller's cached frame of the same CSV stays cached") {
    val csv = freshCsv
    // run itself persists nothing: the caller's cache is the only one
    val cached = graft.core.Tables.csv(spark, csv, graft.etl.F1Schema.wide)
      .persist()
    try {
      F1Pipeline.buildAll(cached, refYear = 2026).values.foreach(_.collect())
      val jobs = (1 to 2).map { _ =>
        val out = Files.createTempDirectory("f1write_cached").toString
        watched(F1Pipeline.run(spark, csv, out)).total
      }
      assert(jobs(0) == jobs(1), s"jobs per run over a cached CSV: $jobs")
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the caller's cache")
    } finally cached.unpersist()
  }

  test("a failed write names its table; the others land and nothing is left running or cached") {
    val csv = freshCsv
    val out = Files.createTempDirectory("f1write_fail").toString
    Files.writeString(Paths.get(out, "Results"), "not a parquet file\n")
    val before = sc.getPersistentRDDs.keySet.toSet
    val err = intercept[Exception](
      F1Pipeline.runIncremental(spark, csv, out, "2026-08-01"))
    assert(err.getMessage.contains("Results"), err.getMessage)
    TestBus.drain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "jobs still running")
    assert(poolThreads == 0, "write threads outlived the call")
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "the build's persists outlived the call")
    for (t <- expected.keySet - "Results") {
      assert(Files.exists(Paths.get(out, t, "_SUCCESS")), s"$t not committed")
      if (expected(t).nonEmpty)
        assert(Files.isDirectory(Paths.get(out, t, "load_date=2026-08-01")),
          s"$t partition not written")
    }
  }

  test("run re-delivered at the same path writes the new file's rows") {
    val out = Files.createTempDirectory("f1write_same").toString
    val csv = F1Fixture.writeCsv(F1Fixture.fixtureRows.take(3))
    F1Pipeline.run(spark, csv, out)
    Files.copy(Paths.get(F1Fixture.writeCsv(F1Fixture.fixtureRows.drop(2))),
      Paths.get(csv), StandardCopyOption.REPLACE_EXISTING)
    F1Pipeline.run(spark, csv, out)
    val pits = spark.read.parquet(s"$out/PitStop")
      .select("race_id", "driver_id", "stop_number").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    assert(pits == Seq((101, 2, 1), (102, 3, 1)))
    val results = spark.read.parquet(s"$out/Results").select("resultId")
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(results == Seq(1001, 1002))
  }
}
