package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TxLog

/** Every txlog read and DML operation resolves ONE snapshot — one log
  * replay — and builds its frames from it through `TxLog.scan`. The
  * count comes from `TxLog.replays`, read around each call. Every
  * fixture stays below version 10, so no call pays the auto-checkpoint
  * (a fold of its own, taken after a 10th commit). */
class TxLogReplaySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Versions 0–4: create, two appends, a copy-on-write delete, an
    * append; with `dvs`, version 5 adds deletion vectors. */
  private def fixture(dvs: Boolean = false): String = {
    val t = java.nio.file.Files.createTempDirectory("txreplay_").toString
    TxLog.drop(t)
    def rows(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, i % 4, i * 10)).toDF("id", "grp", "amt")
    TxLog.create(rows(0L, 20L), t)
    TxLog.append(rows(20L, 30L), t)
    TxLog.append(rows(30L, 40L), t)
    TxLog.deleteWhere(spark, t, col("id") < 3)
    TxLog.append(rows(40L, 50L), t)
    if (dvs) TxLog.deleteWhereDV(spark, t, col("id") === 45)
    t
  }

  private def replaysOf(t: String)(call: String => Any): Int = {
    val before = TxLog.replays.get()
    call(t)
    TxLog.replays.get() - before
  }

  test("one log replay per uncontended read and DML call") {
    val calls: Seq[(String, String => Any)] = Seq(
      "read" -> (t => TxLog.read(spark, t).collect()),
      "readAt" -> (t =>
        TxLog.readAt(spark, t, System.currentTimeMillis()).collect()),
      "readWhere" -> (t => TxLog.readWhere(spark, t, Map("grp" -> "1")).collect()),
      "changeFeed over 5 versions" -> (t =>
        TxLog.changeFeed(spark, t, 0, 4).collect()),
      "path relation + collect" -> (t =>
        spark.read.format("txlog").load(t).collect()),
      "deleteWhere" -> (t => TxLog.deleteWhere(spark, t, col("id") < 25)),
      "updateWhere" -> (t => TxLog.updateWhere(spark, t, col("grp") === 2,
        Seq("amt" -> lit(0L)))),
      "upsert" -> (t => TxLog.upsert(spark, t,
        Seq((21L, 1L, 7L), (99L, 3L, 7L)).toDF("id", "grp", "amt"), "id")),
      "deleteWhereDV" -> (t => TxLog.deleteWhereDV(spark, t, col("id") === 22)),
      "optimize" -> (t => TxLog.optimize(spark, t)))
    val got = calls.map { case (name, call) =>
      val t = fixture()
      try name -> replaysOf(t)(call) finally TxLog.drop(t)
    }
    assert(got == calls.map(_._1 -> 1), got)
    // a DV-bearing path relation is the merge-on-read row relation: one
    // replay at creation, one per buildScan
    val t = fixture(dvs = true)
    try {
      val n = replaysOf(t)(t => spark.read.format("txlog").load(t).collect())
      assert(n <= 2, s"DV-bearing path relation + collect: $n replays")
    } finally TxLog.drop(t)
  }
}
