package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.F1Pipeline

/** Golden test of the `@daily` incremental cadence (VERDICT r04 next-#5):
  * two consecutive runs over OVERLAPPING CSV drops append each key once
  * (q54 upsert-guard), a same-day re-run appends nothing, and the
  * load_date layout prunes in a scan. */
class IncrementalSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val out = {
    val dir = Files.createTempDirectory("f1inc").toString
    // Day 1: rows r1 (valid), r2 (duplicate keys of r1), r3 (second keys).
    val day1 = F1Fixture.writeCsv(F1Fixture.fixtureRows.take(3))
    // Day 2 OVERLAPS day 1 (r3 again) and adds r4.
    val day2 = F1Fixture.writeCsv(F1Fixture.fixtureRows.drop(2))
    F1Pipeline.runIncremental(spark, day1, dir, "2026-08-01")
    F1Pipeline.runIncremental(spark, day2, dir, "2026-08-02")
    F1Pipeline.runIncremental(spark, day2, dir, "2026-08-02") // re-run
    dir
  }

  private def results = spark.read.parquet(s"$out/Results")

  test("overlapping drops: each natural key lands exactly once") {
    val byKey = results.groupBy("resultId").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
    assert(byKey.count() == 0, "duplicate resultIds across loads")
    assert(results.count() == 3) // 1000 (d1), 1001 (d1), 1002 (d2)
  }

  test("same-day re-run is idempotent (zero rows appended)") {
    // r3's resultId=1001 arrived on day 1; day 2 must only add 1002, and
    // the day-2 re-run nothing — so exactly one row carries day 2's
    // load_date even though its CSV held two result rows and ran twice.
    val d2 = results.filter("load_date = date'2026-08-02'")
    assert(d2.count() == 1 && d2.head.getAs[Int]("resultId") == 1002)
  }

  test("load_date filter prunes partitions in the scan") {
    val df = results.filter("load_date = date'2026-08-02'")
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("load_date"),
      s"no partition filter on load_date in scan: $scan")
  }

  test("dimensions take the guard too: Driver keys unique across loads") {
    val d = spark.read.parquet(s"$out/Driver")
    // driverId 1 (day 1), 2 dropped (null dob), 3 (day 2).
    assert(d.select("driverId").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 3))
  }

  test("a drop delivered at the previous drop's path is read afresh") {
    // Day 2's rows overwrite day 1's CSV: nothing day 1's run cached
    // (PitStop's pinned prefix-sum input) may answer day 2's run.
    val dir = Files.createTempDirectory("f1inc_same").toString
    val csv = F1Fixture.writeCsv(F1Fixture.fixtureRows.take(3))
    F1Pipeline.runIncremental(spark, csv, dir, "2026-08-01")
    Files.copy(Paths.get(F1Fixture.writeCsv(F1Fixture.fixtureRows.drop(2))),
      Paths.get(csv), StandardCopyOption.REPLACE_EXISTING)
    F1Pipeline.runIncremental(spark, csv, dir, "2026-08-02")
    // day 1 held race 100 (r1, r2) and race 101 (r3); day 2 adds race 102
    val appended = spark.read.parquet(s"$dir/PitStop")
      .filter("load_date = date'2026-08-02'")
      .select("race_id", "driver_id", "stop_number").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(appended == Seq((102, 3, 1)))
  }
}
