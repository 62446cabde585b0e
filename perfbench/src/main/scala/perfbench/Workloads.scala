package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Sinks, Tables, TxLog}
import graft.etl.{F1Pipeline, F1Schema}

/** f1_etl: the paper's daily job. Full builds of the 16 star tables
  * from the wide CSV, and daily drops appended with `runIncremental`.
  * A cycle is a full build, then a new daily drop. The first cycle's
  * build is the set-up's (the first build of the session, timed as
  * set-up and checked like the others); the loop runs whole cycles while
  * time is left, and from the second cycle on, it first delivers the
  * previous day again (which must append nothing). Each delivery is
  * read from its own file: the full CSV from one path, each day's drop
  * from a path of its own. The session's cache is never cleared. (A
  * drop delivered at a path the session already read appends stale
  * `PitStop` rows; see the README.) */
object Etl {
  val StarTables: Seq[String] = Seq("CircuitLocation", "DateDimension",
    "LocationDimension", "StatusDimension", "Driver", "Team", "Race",
    "TimeDimension", "Sprint", "FreePractice", "Qualification", "Laps",
    "PitStop", "Results", "DriverStandings", "TeamStandings")

  def run(c: Ctx): Unit = {
    val dir = s"${c.work}/f1"
    val exp = Json.read(s"$dir/expected.json")
    val full = s"$dir/full.csv"
    val csvBytes = new java.io.File(full).length
    val drops = exp.get("drops")
    val inc = s"${c.work}/inc"
    val out = s"${c.work}/build"
    var day, builds = 0
    var csvRead, delivered, appended = 0L
    var setupBuildS = 0.0
    c.setup { _ =>
      val (t0, read0) = (System.nanoTime(), Fs.localBytesRead())
      build(c, full, out)
      setupBuildS = (System.nanoTime() - t0) / 1e9
      csvRead = Fs.localBytesRead() - read0
      builds = 1
    }
    c.record ++= Seq("etl.setup_build_s" -> setupBuildS,
      "etl.setup_build" -> (try buildObs(c, out)
        catch { case e: Throwable => Map("error" -> Ctx.describe(e)) }))
    var firstRows = Map.empty[String, Long]
    def drop(): Unit = {
      val d = drops.get(day)
      val date = d.get("load_date").asText
      val csv = s"$dir/${d.get("file").asText}"
      c.op("drop", s"day$day")(incremental(c, csv, inc, date)) { _ =>
        firstRows = partitionRows(inc, date)
        delivered += d.get("rows").asLong
        appended += firstRows.values.sum
        Map("day" -> day, "date" -> date, "appended" -> firstRows)
      }
      day += 1
    }
    def rerun(): Unit = {
      val d = drops.get(day - 1)
      val (csv, date) = (s"$dir/${d.get("file").asText}", d.get("load_date").asText)
      c.op("rerun", s"day${day - 1}")(incremental(c, csv, inc, date)) { _ =>
        Map("day" -> (day - 1), "appended" -> partitionRows(inc, date).map {
          case (t, n) => t -> (n - firstRows.getOrElse(t, 0L)) })
      }
    }
    def fullBuild(): Unit = {
      c.op("build", s"build$builds") {
        val before = Fs.localBytesRead()
        build(c, full, out)
        Fs.localBytesRead() - before
      } { read =>
        csvRead += read
        builds += 1
        buildObs(c, out)
      }
    }
    c.loop {
      while (c.timeLeft && day < drops.size) {
        if (day > 0) { rerun(); fullBuild() }
        drop()
      }
    }
    val cached = c.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val scans = csvRead.toDouble / math.max(1L, builds * csvBytes)
    c.record ++= Seq("etl.cached_bytes_after" -> cached, "etl.scan_amplification" -> scans)
    if (c.tracer.enabled) {
      val st = c.tracer.stats()
      val sinks = c.tagSum(st, "core.Sinks.parquet")
      val perBuild = math.max(1, builds).toDouble
      c.layer ++= Seq(
        "etl.scan_amplification" -> scans,
        "core.Tables.csv_bytes_read" -> csvRead / perBuild) ++
        StarTables.map(t => s"core.Sinks.parquet_s.$t" ->
          c.spanMedian(s"core.Sinks.parquet:$t")) ++ Seq(
        "core.Sinks.jobs" -> sinks.jobs / perBuild,
        "core.Sinks.shuffle_write_bytes" -> sinks.shuffleWrite / perBuild,
        "core.Sinks.output_bytes" -> sinks.outputBytes / perBuild,
        "etl.F1Pipeline.buildAll_s" -> c.spanMedian("etl.F1Pipeline.buildAll"),
        "etl.F1Pipeline.buildAll_jobs" ->
          c.tagSum(st, "etl.F1Pipeline.buildAll").jobs / perBuild,
        "etl.F1Pipeline.runIncremental_s" ->
          c.spanMedian("etl.F1Pipeline.runIncremental"),
        "etl.drop_rows_appended_ratio" ->
          appended.toDouble / math.max(1L, delivered),
        "etl.cached_bytes_after" -> cached)
    }
  }

  /** `F1Pipeline.run`; traced, its body call by call so each layer gets
    * a span. */
  private def build(c: Ctx, csv: String, out: String): Unit =
    if (!c.tracer.enabled) F1Pipeline.run(c.spark, csv, out)
    else c.tracer.span("etl.F1Pipeline.run") {
      val wide = c.tracer.span("core.Tables.csv")(Tables.csv(c.spark, csv, F1Schema.wide))
      val tables = c.tracer.span("etl.F1Pipeline.buildAll")(F1Pipeline.buildAll(wide))
      tables.foreach { case (t, df) =>
        c.tracer.span(s"core.Sinks.parquet:$t")(Sinks.parquet(df, s"$out/$t"))
      }
    }

  private def incremental(c: Ctx, csv: String, out: String, date: String): Unit =
    c.tracer.span("etl.F1Pipeline.runIncremental")(
      F1Pipeline.runIncremental(c.spark, csv, out, date))

  private def partitionRows(out: String, date: String): Map[String, Long] =
    StarTables.map(t => t -> Fs.parquetRows(s"$out/$t/load_date=$date")).toMap

  private def buildObs(c: Ctx, out: String): Map[String, Any] = {
    val p = c.spark.read.parquet(s"$out/PitStop")
      .agg(min("pitsId"), max("pitsId"), count(lit(1)), countDistinct("pitsId"))
      .head()
    Map("tables" -> StarTables.map(t => t -> Fs.parquetRows(s"$out/$t")).toMap,
      "pits" -> Map("min" -> p.getLong(0), "max" -> p.getLong(1),
        "count" -> p.getLong(2), "distinct" -> p.getLong(3)))
  }
}

/** corpus_queries: read-only analytics. A fixed stratified sample of the
  * query specs, run in a fixed order, pass after pass (whole passes only,
  * so every run times the same queries); the seed draws the corpus. Each
  * result is collected and digested; the first result of each query is
  * written out for the DuckDB oracle check. */
object Corpus {
  /** One query from each spec module, drawn once at random from the
    * specs that have an oracle and whose construction reads no
    * `ArtifactMemo` artifact: the first consumer of an artifact builds
    * it, and `graft.Bench` builds them all before timing (~25 s warm,
    * ~50 s cold on 4 cores), longer than a whole benchmark run. The same
    * queries in every run: drawn anew from each seed, the draw alone
    * moved the median query time by 20-30% between seeds. And in the same
    * order: in a fresh JVM a query is slower when it runs before the
    * others that share its operators, and with the order drawn from the
    * seed the median of one pass flipped between two queries, ~2.2 s and
    * ~3.2 s on 4 cores. */
  val Sample: Seq[(String, String)] = Seq(
    "RefQueries" -> "q09_active_customers",
    "TextQueries" -> "q206_perplexity_filter",
    "VectorQueries" -> "q122_triplet_mining",
    "EventQueries" -> "q60_approx_distinct",
    "StreamQueries" -> "q243_stream_asof",
    "AnalyticsQueries" -> "q324_ks_two_sample",
    "ExtQueries" -> "q426_txlog_path_dml")
  val Modules: Seq[String] = Sample.map(_._1).distinct

  def run(c: Ctx): Unit = {
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    Json.write(s"${c.work}/oracle.json", Sample.collect {
      case (_, q) if oracle.contains(q) => q -> oracle(q) }.toMap)
    val corpus = s"${c.work}/corpus"
    // the prebuild: every table's footers, as graft.Bench reads them
    c.setup(_ => Tables.all.foreach(t =>
      c.spark.read.parquet(s"$corpus/$t.parquet").count()))
    val results = s"${c.work}/results"
    val seen = mutable.Set.empty[String]
    var pass = 0
    c.loop {
      while (c.timeLeft) {
        Sample.foreach { case (m, q) =>
          c.op("query", q) {
            val df = c.tracer.span(s"queries.$m.construct:$q")(fns(q)(c.spark, corpus))
            if (c.tracer.enabled)
              c.tracer.span(s"queries.$m.plan:$q")(df.queryExecution.executedPlan)
            (df, c.tracer.span(s"queries.$m.execute:$q")(df.collect()))
          } { case (df, rows) =>
            if (seen.add(q)) writeResult(c, df, rows, s"$results/$q")
            Map("module" -> m, "pass" -> pass, "rows" -> rows.length,
              "digest" -> digest(rows))
          }
        }
        pass += 1
      }
    }
    c.record("queries.sampled") = Sample.size
    if (c.tracer.enabled) {
      val st = c.tracer.stats()
      val n = math.max(1, c.samples.size).toDouble
      Modules.foreach { m =>
        val k = math.max(1, c.samples.count(_.obs.get("module").contains(m))).toDouble
        def secs(phase: String) = c.tracer.all
          .filter(_.name.startsWith(s"queries.$m.$phase")).map(_.seconds).sum / k
        c.layer ++= Seq(
          s"queries.$m.construct_s" -> secs("construct"),
          s"queries.$m.construct_jobs" -> c.tagSum(st, s"queries.$m.construct").jobs / k,
          s"queries.$m.execute_s" -> secs("execute"),
          s"queries.$m.execute_jobs" -> c.tagSum(st, s"queries.$m.execute").jobs / k)
      }
      val all = c.tagSum(st, "queries.")
      c.layer ++= Seq(
        "queries.plan_s" -> c.tracer.all.filter(s => s.name.startsWith("queries.") &&
          s.name.contains(".plan:")).map(_.seconds).sum / n,
        "queries.stages" -> all.stages / n,
        "queries.tasks" -> all.tasks / n,
        "queries.shuffle_write_bytes" -> all.shuffleWrite / n,
        "queries.shuffle_read_bytes" -> all.shuffleRead / n,
        "queries.spill_bytes" -> all.spill / n,
        "queries.input_bytes" -> all.inputBytes / n,
        "queries.gc_s" -> all.gcMs / 1000.0 / n)
    }
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def writeResult(c: Ctx, df: DataFrame, rows: Array[Row], path: String): Unit =
    c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
}

/** lakehouse_ops: a seeded mix of commits and reads on one `txlog` table
  * of F1 results. Reads report (row count, checksum) of what they saw;
  * the expected value for every table version comes from the generator's
  * model. */
object Lakehouse {
  val Checksum: org.apache.spark.sql.Column =
    col("resultId").cast("long") * 4096L + col("points2").cast("long") * 64L +
      col("grid").cast("long") + col("raceId").cast("long") * 7L +
      col("driverId").cast("long") * 3L + col("statusId").cast("long")

  private def agg(df: DataFrame): Map[String, Any] = {
    val r = df.agg(count(lit(1)), coalesce(sum(Checksum), lit(0L))).head()
    Map("n" -> r.getLong(0), "sum" -> r.getLong(1))
  }

  def run(c: Ctx): Unit = {
    val dir = s"${c.work}/lh"
    val sched = Json.read(s"$dir/schedule.json")
    val ops = sched.get("ops")
    var table = ""
    c.setup { rep =>
      table = s"${c.work}/table_$rep"
      TxLog.create(c.spark.read.parquet(s"$dir/base.parquet"), table)
      // warm the read path: without it, the timed snapshot reads sped up
      // from first to last of a block as the JIT compiled them, and their
      // median moved with how soon it did
      (1 to 4).foreach(_ => agg(TxLog.read(c.spark, table)))
    }
    val versionAfter = mutable.ArrayBuffer(TxLog.currentVersion(table))
    val tsAfter = mutable.ArrayBuffer(System.currentTimeMillis())
    val bytes0 = Fs.bytes(table)
    val files0 = Fs.dataFiles(table)
    var submitted = 0L
    var k = 0
    def target(op: com.fasterxml.jackson.databind.JsonNode): Int =
      math.min(k, (op.get("back").asDouble * (k + 1)).toInt)
    def source(op: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
      val f = s"$dir/${op.get("source").asText}"
      submitted += new java.io.File(f).length
      c.spark.read.parquet(f)
    }
    // a commit is checked by the reads after it and by the final read
    def committed(v: Any): Map[String, Any] = Map.empty
    c.loop {
      // whole blocks of the schedule, so that every run sees the same mix
      val block = sched.get("block").asInt
      while (c.timeLeft && k + block <= ops.size) (0 until block).foreach { _ =>
        val op = ops.get(k)
        val kind = op.get("kind").asText
        val name = s"op$k"
        val tx = s"core.TxLog.$kind"
        kind match {
          case "append" =>
            val src = source(op)
            c.op(kind, name)(c.tracer.span(tx)(TxLog.append(src, table)))(committed)
          case "upsert" =>
            val src = source(op)
            c.op(kind, name)(c.tracer.span(tx)(
              TxLog.upsert(c.spark, table, src, "resultId")))(committed)
          case "merge" =>
            source(op).createOrReplaceTempView("pb_src")
            c.op(kind, name)(c.tracer.span("plans.TxLogDml.merge")(c.spark.sql(
              s"""MERGE INTO txlog.`$table` t USING pb_src s
                 |ON t.resultId = s.resultId
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()))(committed)
          case "delete" =>
            val pred = expr(op.get("predicate").asText)
            c.op(kind, name)(c.tracer.span(tx)(
              TxLog.deleteWhere(c.spark, table, pred)))(committed)
          case "sql_delete" =>
            val pred = op.get("predicate").asText
            c.op(kind, name)(c.tracer.span("plans.TxLogDml.delete")(
              c.spark.sql(s"DELETE FROM txlog.`$table` WHERE $pred").collect()))(committed)
          case "read" =>
            c.op(kind, name)(c.tracer.span(tx)(agg(TxLog.read(c.spark, table))))(
              _ ++ Map("expect" -> k))
          case "read_at" =>
            val j = target(op)
            c.op(kind, name)(c.tracer.span(tx)(
              agg(TxLog.readAt(c.spark, table, tsAfter(j)))))(_ ++ Map("expect" -> j))
          case "change_feed" =>
            // from the version after op j to now; with no commit since
            // then, from the first version (its inserts are the base rows)
            val j0 = target(op)
            val (j, from) =
              if (versionAfter(j0) < versionAfter(k)) (j0, versionAfter(j0) + 1)
              else (-1, 0)
            c.op(kind, name)(c.tracer.span(tx) {
              TxLog.changeFeed(c.spark, table, from, versionAfter(k))
                .groupBy("_change_type").agg(count(lit(1)), coalesce(sum(Checksum), lit(0L)))
                .collect()
            }) { rows =>
              Map("from" -> j, "expect" -> k, "types" -> rows.map(r =>
                r.getString(0) -> Map("n" -> r.getLong(1), "sum" -> r.getLong(2))).toMap)
            }
        }
        if (op.path("optimize").asBoolean(false))
          c.op("optimize", name)(c.tracer.span("core.TxLog.optimize")(
            TxLog.optimize(c.spark, table)))(committed)
        if (op.path("checkpoint").asBoolean(false))
          c.op("checkpoint", name)(c.tracer.span("core.TxLog.checkpoint")(
            TxLog.checkpoint(table)))(committed)
        k += 1
        versionAfter += TxLog.currentVersion(table)
        tsAfter += System.currentTimeMillis()
        if (c.tracer.enabled) c.tracer.span("core.TxLog.snapshot")(TxLog.snapshot(table))
      }
    }
    val end = agg(TxLog.read(c.spark, table))
    val written = Fs.bytes(table) - bytes0
    c.record ++= Seq("lakehouse.ops_run" -> k,
      "lakehouse.final" -> (end ++ Map("expect" -> k)),
      "lakehouse.submitted_bytes" -> submitted,
      "lakehouse.table_bytes_written" -> written)
    if (c.tracer.enabled) {
      val st = c.tracer.stats()
      def perOp(name: String): Double =
        st.get(name).map(_.jobs).getOrElse(0L).toDouble /
          math.max(1, c.tracer.all.count(_.name == name))
      val kinds = Seq("append", "upsert", "delete", "read", "read_at",
        "change_feed", "optimize", "checkpoint")
      kinds.foreach { kd =>
        c.layer(s"core.TxLog.${kd}_s") = c.spanMedian(s"core.TxLog.$kd")
        c.layer(s"core.TxLog.${kd}_jobs") = perOp(s"core.TxLog.$kd")
      }
      Seq("merge", "delete").foreach { kd =>
        c.layer(s"plans.TxLogDml.${kd}_s") = c.spanMedian(s"plans.TxLogDml.$kd")
        c.layer(s"plans.TxLogDml.${kd}_jobs") = perOp(s"plans.TxLogDml.$kd")
      }
      c.layer ++= Seq(
        "core.TxLog.snapshot_s" -> c.spanMedian("core.TxLog.snapshot"),
        "core.TxLog.log_versions" -> (TxLog.currentVersion(table) + 1),
        "core.TxLog.live_files" -> TxLog.snapshot(table).size,
        "core.TxLog.files_written" -> (Fs.dataFiles(table) - files0),
        "core.TxLog.bytes_written" -> written)
    }
  }
}
