package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TxLog

/** Every txlog front that prunes files from log metadata — the path
  * `SELECT`, the by-name catalog read, `TxLog.deleteWhere` and SQL
  * `DELETE` — must act on exactly the rows `TxLog.read(...).filter(pred)`
  * selects. DATE and TIMESTAMP literals carry internal values (days,
  * microseconds) that are not what the writers record (`cast(d AS
  * string)` partition markers, `cast(ts AS long)` second zone maps), and
  * an integer literal compared with a DOUBLE column does not render as
  * its marker does, so these must keep every file instead of pruning. */
class FilePruneSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val base = java.nio.file.Files
    .createTempDirectory("fileprune_").toString
  spark.conf.set("spark.sql.catalog.prunelake",
    classOf[graft.sources.TxLogCatalog].getName)
  spark.conf.set("spark.sql.catalog.prunelake.base", base)

  private def count(sql: String): Long = spark.sql(sql).head().getLong(0)

  /** Builds a fresh table `name` under the catalog base; returns its dir. */
  private def table(name: String)(build: String => Unit): String = {
    val t = s"$base/$name"
    TxLog.drop(t)
    build(t)
    t
  }

  /** Checks the four fronts against the unpruned filtered read: the
    * rows each reads, or leaves behind after its delete. */
  private def fronts(name: String, build: String => Unit,
      sqlPred: String, pred: Column): Unit = {
    val t = table(name)(build)
    val total = TxLog.read(spark, t).count()
    val matching = TxLog.read(spark, t).filter(pred).count()
    assert(matching > 0 && matching < total, "the predicate splits the table")
    val api = table(s"${name}_api")(build)
    TxLog.deleteWhere(spark, api, pred)
    val sql = table(s"${name}_sql")(build)
    spark.sql(s"DELETE FROM txlog.`$sql` WHERE $sqlPred")
    val got = Map(
      "path SELECT" -> count(s"SELECT count(*) FROM txlog.`$t` WHERE $sqlPred"),
      "by-name SELECT" ->
        count(s"SELECT count(*) FROM prunelake.$name WHERE $sqlPred"),
      "TxLog.deleteWhere leaves" -> TxLog.read(spark, api).count(),
      "SQL DELETE leaves" -> TxLog.read(spark, sql).count())
    assert(got == Map("path SELECT" -> matching, "by-name SELECT" -> matching,
      "TxLog.deleteWhere leaves" -> (total - matching),
      "SQL DELETE leaves" -> (total - matching)))
  }

  test("a DATE-partitioned table: every front keeps the matching partition") {
    val rows = Seq((1L, Date.valueOf("2024-01-01")),
      (2L, Date.valueOf("2024-01-02"))).toDF("id", "d")
    fronts("date_part",
      t => TxLog.appendPartitioned(spark, rows, t, Seq("d")): Unit,
      "d = DATE'2024-01-01'", col("d") === lit(Date.valueOf("2024-01-01")))
  }

  test("a TIMESTAMP stats column: every front keeps the matching file") {
    def at(s: String) = Timestamp.valueOf(s)
    fronts("ts_stats", t => {
        TxLog.appendWithStats(spark,
          Seq((1L, at("2024-01-01 00:00:00"))).toDF("id", "ts"), t, "ts")
        TxLog.appendWithStats(spark,
          Seq((2L, at("2024-01-02 12:00:00"))).toDF("id", "ts"), t, "ts")
      }: Unit,
      "ts >= TIMESTAMP'2024-01-02 00:00:00'",
      col("ts") >= lit(at("2024-01-02 00:00:00")))
  }

  test("a DOUBLE-partitioned table: an integer literal from the Column API " +
      "keeps the file whose marker renders the value as 1.0") {
    val rows = Seq((1L, 1.0), (2L, 2.5)).toDF("id", "x")
    fronts("double_part",
      t => TxLog.appendPartitioned(spark, rows, t, Seq("x")): Unit,
      "x = 1", col("x") === 1)
  }

  test("TIMESTAMP, DOUBLE and DATE stats columns record no bounds, and " +
      "every front still agrees") {
    def at(s: String) = Timestamp.valueOf(s)
    val batches = Seq(
      Seq((1L, at("2024-01-01 00:00:00"), 1.0, Date.valueOf("2024-01-01"))),
      Seq((2L, at("2024-01-02 12:00:00"), 2.5, Date.valueOf("2024-01-02"))))
    val build: String => Unit = t => batches.foreach(b =>
      TxLog.appendWithStats(spark, b.toDF("id", "ts", "x", "d"), t,
        Seq("ts", "x", "d")): Unit)
    fronts("nonintegral_stats", build,
      "ts >= TIMESTAMP'2024-01-02 00:00:00' AND x > 2.0 AND " +
        "d = DATE'2024-01-02'",
      col("ts") >= lit(at("2024-01-02 00:00:00")) && col("x") > 2.0 &&
        col("d") === lit(Date.valueOf("2024-01-02")))
    val t = s"$base/nonintegral_stats"
    val bounds = TxLog.resolve(t).metas.flatMap { case (_, m) =>
      m.zm.keys ++ m.sm.keys }
    assert(TxLog.snapshot(t).size == 2 && bounds.isEmpty,
      s"bounds recorded for $bounds")
  }

  private val columns = Seq("i", "s", "d", "ts")
  private val dates = (1 to 4).map(k => Date.valueOf(s"2024-01-0$k"))
  private val stamps = (1 to 4).map(k => Timestamp.valueOf(s"2024-01-0$k 06:00:00"))
  private val strings = Seq("a", "b", "c", "d")

  private type Row4 = (Option[Int], Option[String], Option[Date], Option[Timestamp])

  private def opt[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))

  private val rowGen: Gen[Row4] = for {
    i <- opt(Gen.choose(1, 4)); s <- opt(Gen.oneOf(strings))
    d <- opt(Gen.oneOf(dates)); ts <- opt(Gen.oneOf(stamps))
  } yield (i, s, d, ts)

  private def literal(c: String, k: Int): String = c match {
    case "i" => k.toString
    case "s" => s"'${strings(k - 1)}'"
    case "d" => s"DATE'${dates(k - 1)}'"
    case _ => s"TIMESTAMP'${stamps(k - 1)}'"
  }

  /** A predicate on one column, and the table's layout: partitioned by
    * that column, or stats on every column. */
  private val caseGen: Gen[(String, Option[String])] = for {
    c <- Gen.oneOf(columns)
    layout <- Gen.oneOf(None, Some(c))
    k <- Gen.choose(1, 4)
    k2 <- Gen.choose(1, 4)
    p <- Gen.oneOf(s"$c = ${literal(c, k)}", s"$c < ${literal(c, k)}",
      s"$c >= ${literal(c, k)}",
      s"$c IN (${literal(c, k)}, ${literal(c, k2)})", s"$c IS NULL")
  } yield (p, layout)

  private var trial = 0

  test("property: path and catalog reads equal the unpruned filtered count " +
      "for any layout and predicate") {
    val prop = Prop.forAllNoShrink(Gen.listOfN(3, Gen.listOfN(3, rowGen)),
        caseGen) { case (batches, (pred, layout)) =>
      trial += 1
      val name = s"prop$trial"
      val t = table(name) { t =>
        batches.foreach { b =>
          val df: DataFrame = b.toDF(columns: _*)
          layout match {
            case Some(p) => TxLog.appendPartitioned(spark, df, t, Seq(p))
            case None => TxLog.appendWithStats(spark, df, t, columns)
          }
        }
      }
      val expected = TxLog.read(spark, t).filter(expr(pred)).count()
      val path = count(s"SELECT count(*) FROM txlog.`$t` WHERE $pred")
      val byName = count(s"SELECT count(*) FROM prunelake.$name WHERE $pred")
      TxLog.drop(t)
      Prop(path == expected && byName == expected) :|
        s"$pred over layout $layout: path $path, catalog $byName, " +
          s"unpruned $expected"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withWorkers(1), prop)
    assert(res.passed, res.status match {
      case Test.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
  }
}
