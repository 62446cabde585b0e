package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.TxLog

/** The writer contract: every txlog writer stages through one path, so on
  * a table that declares partition columns and stats columns and holds
  * an active CHECK constraint, every add line it commits carries the
  * `p:` partition markers and the zone-map bounds, and a batch that
  * violates the constraint commits nothing and leaves no staged file
  * behind. OPTIMIZE rewrites rows it does not change, so it skips the
  * check by design and has no violating case here. */
class TxLogWriterSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val base = java.nio.file.Files
    .createTempDirectory("txwriter_").toString
  spark.conf.set("spark.sql.catalog.wlake",
    classOf[graft.sources.TxLogCatalog].getName)
  spark.conf.set("spark.sql.catalog.wlake.base", base)
  private val t = s"$base/w"

  private def rows(r: (Long, String, Long)*): DataFrame =
    r.toDF("id", "grp", "amt")

  /** A parquet dir holding `df`, for COPY INTO. */
  private def source(name: String, df: DataFrame): String = {
    val d = s"$base/src_$name"
    df.coalesce(1).write.mode("overwrite").parquet(d)
    d
  }

  /** Data files in the table dir, committed or staged. */
  private def dataFiles(): Set[String] =
    Option(new File(t).listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith("_")).map(_.getName).toSet

  /** Stages `df` the way an executor task of the streaming write does:
    * the file goes straight into the table dir, reported with (or
    * without) its partition values. */
  private def epochFiles(df: DataFrame, withValues: Boolean)
      : Seq[(String, Map[String, String])] = {
    val tmp = s"$base/epoch_${System.nanoTime()}"
    df.coalesce(1).write.parquet(tmp)
    new File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val name = s"part-epoch-${System.nanoTime()}.parquet"
        java.nio.file.Files.move(f.toPath, new File(t, name).toPath)
        val vals = if (withValues)
          df.select("grp").distinct().as[String].collect()
            .map(g => Map("grp" -> g)).head
        else Map.empty[String, String]
        name -> vals
      }
  }

  private var epoch = 0L
  private def commitEpoch(df: DataFrame, withValues: Boolean): Unit = {
    epoch += 1
    TxLog.commitStagedIdempotent(spark, t, epochFiles(df, withValues),
      df.schema, "writer-spec", epoch): Unit
  }

  private case class Writer(name: String, valid: () => Unit,
      violating: Option[() => Unit], marked: Boolean = true)

  private val positive = col("amt") >= 0

  private val writers: Seq[Writer] = Seq(
    Writer("append",
      () => TxLog.append(rows((100L, "g0", 1L), (101L, "g1", 2L),
        (103L, "g1", 3L)), t): Unit,
      Some(() => TxLog.append(rows((102L, "g0", -1L)), t): Unit)),
    Writer("appendChecked",
      () => TxLog.appendChecked(rows((110L, "g1", 1L)), t, positive): Unit,
      Some(() => TxLog.appendChecked(rows((111L, "g1", -1L)), t,
        lit(true)): Unit)),
    Writer("replaceWhere",
      () => TxLog.replaceWhere(spark, t,
        rows((120L, "g2", 5L), (121L, "g2", 6L)), col("grp") === "g2"): Unit,
      Some(() => TxLog.replaceWhere(spark, t, rows((122L, "g2", -5L)),
        col("grp") === "g2"): Unit)),
    Writer("replaceDynamicPartitions",
      () => TxLog.replaceDynamicPartitions(spark,
        rows((130L, "g2", 7L)), t): Unit,
      Some(() => TxLog.replaceDynamicPartitions(spark,
        rows((131L, "g2", -7L)), t): Unit)),
    Writer("appendAll",
      () => TxLog.appendAll(s"$base/_txn",
        Seq(rows((140L, "g0", 3L)) -> t)): Unit,
      Some(() => TxLog.appendAll(s"$base/_txn",
        Seq(rows((141L, "g0", -3L)) -> t)): Unit)),
    Writer("copyInto",
      () => TxLog.copyInto(spark, t,
        source("ok", rows((150L, "g1", 4L), (151L, "g2", 4L)))): Unit,
      Some(() => TxLog.copyInto(spark, t,
        source("bad", rows((152L, "g1", -4L)))): Unit)),
    Writer("upsert",
      () => TxLog.upsert(spark, t, rows((100L, "g0", 9L)), "id"): Unit,
      Some(() => TxLog.upsert(spark, t, rows((101L, "g1", -9L)), "id"): Unit)),
    Writer("deleteWhere",
      () => TxLog.deleteWhere(spark, t, col("id") === 103L): Unit, None),
    Writer("SQL MERGE",
      () => spark.sql("""MERGE INTO wlake.w t USING writer_src s
                         ON t.id = s.id
                         WHEN MATCHED THEN UPDATE SET amt = s.amt
                         WHEN NOT MATCHED THEN INSERT *"""): Unit,
      // the matched update is valid; the insert violates — the staged
      // rewrite must go with the refused insert batch
      Some(() => spark.sql("""MERGE INTO wlake.w t USING writer_bad s
                              ON t.id = s.id
                              WHEN MATCHED THEN UPDATE SET amt = 1
                              WHEN NOT MATCHED THEN INSERT *"""): Unit)),
    Writer("SQL UPDATE",
      () => spark.sql("UPDATE wlake.w SET amt = amt + 1 WHERE id < 20"): Unit,
      Some(() => spark.sql("UPDATE wlake.w SET amt = -1 WHERE id = 1"): Unit)),
    Writer("correlated SQL UPDATE",
      () => spark.sql("""UPDATE wlake.w t SET amt = amt + 2
                         WHERE EXISTS (SELECT 1 FROM writer_src s
                                       WHERE s.id = t.id)"""): Unit,
      Some(() => spark.sql("""UPDATE wlake.w t SET amt = -2
                              WHERE EXISTS (SELECT 1 FROM writer_src s
                                            WHERE s.id = t.id)"""): Unit)),
    Writer("replaceAll",
      () => TxLog.replaceAll(s"$base/_txn", Seq(rows((1L, "g0", 1L),
        (2L, "g1", 2L), (3L, "g2", 3L), (4L, "g0", 4L))
        -> t)): Unit,
      Some(() => TxLog.replaceAll(s"$base/_txn",
        Seq(rows((5L, "g0", -1L)) -> t)): Unit)),
    Writer("commitStagedIdempotent with partition values",
      () => commitEpoch(rows((160L, "g1", 1L)), withValues = true),
      Some(() => commitEpoch(rows((161L, "g1", -1L)), withValues = true))),
    // a file reported without values must not get a made-up `p:`
    // marker: it stays unmarked, the conservative always-kept shape
    Writer("commitStagedIdempotent without partition values",
      () => commitEpoch(rows((170L, "g0", 1L), (171L, "g2", 1L)),
        withValues = false),
      Some(() => commitEpoch(rows((172L, "g0", -1L)), withValues = false)),
      marked = false),
    Writer("OPTIMIZE",
      () => TxLog.optimize(spark, t): Unit, None),
    Writer("OPTIMIZE ZORDER",
      () => TxLog.optimize(spark, t, 2, Seq("id", "amt")): Unit, None),
    Writer("OPTIMIZE into 3 files",
      () => TxLog.optimize(spark, t, 3): Unit, None))

  test("every writer commits p: and zone-map markers under the declared " +
      "layout, and a violating batch commits nothing and stages nothing") {
    TxLog.drop(t)
    TxLog.createEmpty(t, org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, grp STRING, amt BIGINT"), Map(
      TxLog.PartitionColsProp -> "grp", TxLog.StatsColsProp -> "id"))
    TxLog.append(rows((1L, "g0", 1L), (2L, "g1", 2L), (3L, "g2", 3L)), t)
    TxLog.addConstraint(spark, t, "amt_nonneg", "amt >= 0")
    rows((1L, "g0", 5L), (180L, "g1", 6L))
      .createOrReplaceTempView("writer_src")
    rows((2L, "g1", 5L), (181L, "g1", -6L))
      .createOrReplaceTempView("writer_bad")
    val failures = writers.flatMap { w =>
      val before = TxLog.currentVersion(t)
      w.valid()
      val after = TxLog.currentVersion(t)
      // resolved version content: a multi-table commit's lines live
      // in its shared tx file
      val adds = (before + 1 to after).flatMap(v => TxLog.changes(t, v)._1)
      val metas = TxLog.resolve(t).metas.toMap
      val unmarked = adds.filter(f => !metas(f).zm.contains("id") ||
        metas(f).pv.contains("grp") != w.marked)
      val problems = Seq(
        Option.when(after == before)("committed nothing"),
        Option.when(adds.isEmpty)("committed no add line"),
        Option.when(unmarked.nonEmpty)(s"markers wrong on $unmarked")
      ).flatten
      val refusal = w.violating.toSeq.flatMap { bad =>
        val (v, files) = (TxLog.currentVersion(t), dataFiles())
        val refused = try { bad(); None } catch {
          case e: Exception => Some(Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage)
              .contains("CHECK constraint violated")))
        }
        Seq(
          Option.when(!refused.contains(true))(s"violating batch: $refused"),
          Option.when(TxLog.currentVersion(t) != v)("violating batch committed"),
          Option.when(dataFiles() != files)(
            s"violating batch left files ${dataFiles() -- files}")
        ).flatten
      }
      (problems ++ refusal).map(p => s"${w.name}: $p")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(TxLog.read(spark, t).filter(col("amt") < 0).count() == 0L)
    TxLog.drop(base)
  }
}
