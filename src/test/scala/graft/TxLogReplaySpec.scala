package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TxLog

/** Every txlog operation resolves ONE snapshot — one log replay — and
  * reads all of its table metadata from it. The count comes from
  * `TxLog.replays`, read around each call. Every fixture stays below
  * version 10, so no call pays the auto-checkpoint (a fold of its own,
  * taken after a 10th commit). Fixtures live under one catalog base, so
  * the same table is reachable by path and as `replay.<name>`. */
class TxLogReplaySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val base = java.nio.file.Files
    .createTempDirectory("txreplay_").toString
  spark.conf.set("spark.sql.catalog.replay",
    classOf[graft.sources.TxLogCatalog].getName)
  spark.conf.set("spark.sql.catalog.replay.base", base)
  private val names = Iterator.from(0).map(i => s"t$i")

  private def rows(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, i % 4, i * 10)).toDF("id", "grp", "amt")

  /** Versions 0–4: create, two appends, a copy-on-write delete, an
    * append; with `dvs`, version 5 adds deletion vectors. */
  private def fixture(dvs: Boolean = false): String = {
    val t = s"$base/${names.next()}"
    TxLog.create(rows(0L, 20L), t)
    TxLog.append(rows(20L, 30L), t)
    TxLog.append(rows(30L, 40L), t)
    TxLog.deleteWhere(spark, t, col("id") < 3)
    TxLog.append(rows(40L, 50L), t)
    if (dvs) TxLog.deleteWhereDV(spark, t, col("id") === 45)
    t
  }

  private def nameOf(t: String) = s"replay.${new java.io.File(t).getName}"

  private def replaysOf(call: => Any): Int = {
    val before = TxLog.replays.get()
    call
    TxLog.replays.get() - before
  }

  /** Replays of each call on a fresh fixture: `prepare(t)` runs
    * unmeasured and returns the measured call. */
  private def counts(calls: Seq[(String, String => () => Any)])
      : Seq[(String, Int)] =
    calls.map { case (name, prepare) =>
      val t = fixture()
      try { val call = prepare(t); name -> replaysOf(call()) }
      finally TxLog.drop(t)
    }

  test("one log replay per uncontended read and DML call") {
    val calls: Seq[(String, String => () => Any)] = Seq(
      "read" -> (t => () => TxLog.read(spark, t).collect()),
      "readAt" -> (t => () =>
        TxLog.readAt(spark, t, System.currentTimeMillis()).collect()),
      "readWhere" -> (t => () =>
        TxLog.readWhere(spark, t, Map("grp" -> "1")).collect()),
      "changeFeed over 5 versions" -> (t => () =>
        TxLog.changeFeed(spark, t, 0, 4).collect()),
      "path relation + collect" -> (t => () =>
        spark.read.format("txlog").load(t).collect()),
      "deleteWhere" -> (t => () => TxLog.deleteWhere(spark, t, col("id") < 25)),
      "updateWhere" -> (t => () => TxLog.updateWhere(spark, t,
        col("grp") === 2, Seq("amt" -> lit(0L)))),
      "upsert" -> (t => () => TxLog.upsert(spark, t,
        Seq((21L, 1L, 7L), (99L, 3L, 7L)).toDF("id", "grp", "amt"), "id")),
      "deleteWhereDV" -> (t => () =>
        TxLog.deleteWhereDV(spark, t, col("id") === 22)),
      "optimize" -> (t => () => TxLog.optimize(spark, t)))
    val got = counts(calls)
    assert(got == calls.map(_._1 -> 1), got)
    // a DV-bearing path relation is the merge-on-read row relation: one
    // replay at creation, one per buildScan
    val t = fixture(dvs = true)
    try {
      val n = replaysOf(spark.read.format("txlog").load(t).collect())
      assert(n <= 2, s"DV-bearing path relation + collect: $n replays")
    } finally TxLog.drop(t)
  }

  test("one log replay per uncontended writer and metadata verb; " +
      "restore reads the target and the current snapshot") {
    val src = s"$base/copy_src"
    rows(100L, 110L).write.parquet(src)
    val calls: Seq[(String, String => () => Any)] = Seq(
      "append" -> (t => () => TxLog.append(rows(50L, 60L), t)),
      "appendWithStats" -> (t => () =>
        TxLog.appendWithStats(spark, rows(50L, 60L), t, Seq("id"))),
      "appendPartitioned" -> (t => () =>
        TxLog.appendPartitioned(spark, rows(50L, 60L), t, Seq("grp"))),
      "appendIdempotent" -> (t => () =>
        TxLog.appendIdempotent(rows(50L, 60L), t, "app", 1L)),
      "commitStagedIdempotent" -> { t =>
        val staged = TxLog.stage(rows(50L, 60L), t)
        () => TxLog.commitStagedIdempotent(spark, t,
          staged.map(_ -> Map.empty[String, String]),
          rows(0L, 1L).schema, "app", 1L)
      },
      "replace" -> (t => () => TxLog.replace(rows(50L, 60L), t)),
      "copyInto" -> (t => () => TxLog.copyInto(spark, t, src)),
      "addConstraint" -> (t => () =>
        TxLog.addConstraint(spark, t, "pos", "id >= 0")),
      "dropConstraint" -> { t =>
        TxLog.addConstraint(spark, t, "pos", "id >= 0")
        () => TxLog.dropConstraint(t, "pos")
      },
      "alterProperties" -> (t => () =>
        TxLog.alterProperties(t, Map("k" -> "v"))),
      "renameColumn" -> (t => () => TxLog.renameColumn(t, "amt", "cents")),
      "dropColumn" -> (t => () => TxLog.dropColumn(t, "amt")),
      "truncate" -> (t => () => TxLog.truncate(t)),
      "checkpoint" -> (t => () => TxLog.checkpoint(t)),
      "shallowClone" -> (t => () =>
        try TxLog.shallowClone(t, s"${t}_clone")
        finally TxLog.drop(s"${t}_clone")),
      "vacuum(0)" -> (t => () => TxLog.vacuum(t, 0, minAgeMs = 0)),
      "DESCRIBE DETAIL on a path" -> (t => () =>
        spark.sql(s"DESCRIBE DETAIL txlog.`$t`").collect()),
      "DESCRIBE DETAIL by name" -> (t => () =>
        spark.sql(s"DESCRIBE DETAIL ${nameOf(t)}").collect()))
    val got = try counts(calls) finally TxLog.drop(src)
    val restore = counts(Seq("restore" -> (t => () => TxLog.restore(t, 2))))
    assert(got ++ restore == calls.map(_._1 -> 1) :+ ("restore" -> 2),
      got ++ restore)
  }

  test("a catalog table replays the log once per loaded table; a SELECT " +
      "reads by that snapshot; INSERT INTO and ALTER TABLE add the " +
      "write's or the statement's own replay") {
    val got = counts(Seq[(String, String => () => Any)](
      "DESCRIBE TABLE" -> (t => () =>
        spark.sql(s"DESCRIBE TABLE ${nameOf(t)}").collect()),
      "SHOW TBLPROPERTIES" -> (t => () =>
        spark.sql(s"SHOW TBLPROPERTIES ${nameOf(t)}").collect()),
      "INSERT INTO" -> (t => () =>
        spark.sql(s"INSERT INTO ${nameOf(t)} VALUES (100, 1, 7)")),
      "SELECT" -> (t => () =>
        spark.sql(s"SELECT count(*) FROM ${nameOf(t)} WHERE id > 10")
          .collect()),
      "ALTER TABLE ADD COLUMN" -> (t => () =>
        spark.sql(s"ALTER TABLE ${nameOf(t)} ADD COLUMNS (tag STRING)"))))
    assert(got == Seq("DESCRIBE TABLE" -> 1, "SHOW TBLPROPERTIES" -> 1,
      "INSERT INTO" -> 2, "SELECT" -> 1, "ALTER TABLE ADD COLUMN" -> 2), got)
  }

  test("a lost append claim costs exactly one more replay") {
    val t = fixture()
    var competitor = -1
    // deterministic lost race: between the appender's snapshot and its
    // claim, a competing append takes the slot
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => () // fire once
      competitor = replaysOf(TxLog.append(rows(60L, 70L), t))
    }
    val n =
      try replaysOf(TxLog.append(rows(50L, 60L), t))
      finally TxLog.appendRaceHook = () => ()
    try {
      assert(TxLog.currentVersion(t) == 6, "both appends must commit")
      assert(competitor == 1 && n - competitor == 2,
        s"competitor $competitor, contended append ${n - competitor}")
    } finally TxLog.drop(t)
  }
}
