package graft.plans

import graft.core.TxLog
import graft.sources.TxLogTable
import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}

/** Maintenance-statement SQL for the lakehouse (the Delta
  * `injectParser` delegate pattern): three statements Spark's grammar
  * does not know —
  *
  *   - `OPTIMIZE <cat.table> [ZORDER BY (x, y)]`
  *   - `VACUUM <cat.table> [RETAIN <n> VERSIONS]`
  *   - `DESCRIBE HISTORY <cat.table>`
  *
  * — are recognized up front and compiled to runnable commands over
  * [[TxLog]]; EVERYTHING else delegates verbatim to Spark's parser, so
  * the extension is invisible outside these prefixes. Table names must
  * be catalog-qualified ([[graft.sources.TxLogCatalog]] names); the
  * commands resolve them at run time so parsing stays side-effect
  * free. VACUUM's age guard comes from
  * `spark.graft.txlog.vacuum.minAgeMs` (default: the 7-day tombstone
  * retention) — the same escape hatch Delta gates behind a conf. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val OptimizeIndex =
    """(?is)\s*OPTIMIZE\s+INDEX\s+'([^']+)'\s+USING\s+'([^']+)'\s*(?:IMBALANCE\s+([0-9.]+)\s*)?(?:INTO\s+'([^']+)'\s*)?;?\s*""".r
  private val Optimize =
    """(?is)\s*OPTIMIZE\s+((?:`[^`]+`|[\w.])+)\s*(?:ZORDER\s+BY\s*\(([^)]*)\)\s*)?;?\s*""".r
  private val Vacuum =
    """(?is)\s*VACUUM\s+((?:`[^`]+`|[\w.])+)\s*(?:RETAIN\s+(\d+)\s+VERSIONS\s*)?(DRY\s+RUN\s*)?;?\s*""".r
  private val History =
    """(?is)\s*DESCRIBE\s+HISTORY\s+((?:`[^`]+`|[\w.])+)\s*;?\s*""".r
  private val Detail =
    """(?is)\s*DESCRIBE\s+DETAIL\s+((?:`[^`]+`|[\w.])+)\s*;?\s*""".r
  private val Restore =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?((?:`[^`]+`|[\w.])+)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTs =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?((?:`[^`]+`|[\w.])+)\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val Clone =
    """(?is)\s*CREATE\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+(SHALLOW|DEEP)\s+CLONE\s+((?:`[^`]+`|[\w.])+)\s*;?\s*""".r
  private val Convert =
    """(?is)\s*CONVERT\s+TO\s+TXLOG\s+parquet\s*\.\s*`([^`]+)`\s*(?:STATS\s*\(([^)]*)\)\s*)?;?\s*""".r
  private val CopyInto =
    """(?is)\s*COPY\s+INTO\s+((?:`[^`]+`|[\w.])+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*PARQUET\s*;?\s*""".r
  private val AddConstraint =
    """(?is)\s*ALTER\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.*)\)\s*;?\s*""".r
  private val DropConstraint =
    """(?is)\s*ALTER\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    // INDEX form first: the table-OPTIMIZE pattern would otherwise
    // swallow the INDEX keyword as a table name and fail downstream
    case OptimizeIndex(idx, emb, imb, out) =>
      OptimizeIndexCommand(idx, emb,
        Option(imb).map(_.toDouble).getOrElse(1.5), Option(out))
    case Optimize(name, zorder) =>
      val cols = Option(zorder).toSeq
        .flatMap(_.split(',')).map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty)
      OptimizeTableCommand(delegate.parseMultipartIdentifier(name), cols)
    case Vacuum(name, retain, dry) =>
      VacuumTableCommand(delegate.parseMultipartIdentifier(name),
        Option(retain).map(_.toInt), dryRun = dry != null)
    case History(name) =>
      DescribeHistoryCommand(delegate.parseMultipartIdentifier(name))
    case Detail(name) =>
      DescribeDetailCommand(delegate.parseMultipartIdentifier(name))
    case Restore(name, v) =>
      RestoreTableCommand(delegate.parseMultipartIdentifier(name), v.toInt)
    case RestoreTs(name, ts) =>
      RestoreTimestampCommand(delegate.parseMultipartIdentifier(name), ts)
    case Clone(dst, kind, src) =>
      CloneTableCommand(delegate.parseMultipartIdentifier(dst),
        delegate.parseMultipartIdentifier(src),
        deep = kind.equalsIgnoreCase("DEEP"))
    case Convert(path, stats) =>
      ConvertToTxLogCommand(path, Option(stats).toSeq
        .flatMap(_.split(',')).map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty))
    case CopyInto(name, path) =>
      CopyIntoCommand(delegate.parseMultipartIdentifier(name), path)
    case AddConstraint(name, cname, expr) =>
      AddConstraintCommand(delegate.parseMultipartIdentifier(name),
        cname, expr.trim)
    case DropConstraint(name, cname) =>
      DropConstraintCommand(delegate.parseMultipartIdentifier(name), cname)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** CDF AS SQL (VERDICT r11 #5 — Delta's `table_changes` TVF): an
  * injected table-valued function over [[TxLog.changeFeed]], so the
  * change feed is queryable from pure SQL —
  *
  *   {{{ SELECT * FROM table_changes('lake.t', 1, 3) }}}
  *
  * The first argument is a catalog table name or a bare directory path
  * (anything containing '/'); versions are inclusive, the end version
  * defaulting to the current one. Registered through
  * `injectTableFunction` ([[GraftExtensions]]) — the builder runs at
  * resolution time and returns the change-feed frame's logical plan,
  * columns `<table schema> + (_change_type, _commit_version)`. */
object TableChanges {
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

  val fn: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("table_changes"),
    new ExpressionInfo("graft.core.TxLog", "table_changes"),
    (args: Seq[Expression]) => build(args))

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"table_changes: $what must be an integer literal, got $other")
  }

  private[plans] def build(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      "usage: table_changes(<table name or path>, startVersion" +
        "[, endVersion])")
    val spark = SparkSession.active
    val name = args.head match {
      case Literal(s, org.apache.spark.sql.types.StringType)
          if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"table_changes: the table must be a string literal, got $other")
    }
    val dir =
      if (name.contains("/")) name
      else GraftSqlBridge.lookupV2Table(spark,
          spark.sessionState.sqlParser.parseMultipartIdentifier(name)) match {
        case t: TxLogTable =>
          require(t.asOf.isEmpty,
            s"table_changes addresses versions itself — name the table, " +
              s"not the snapshot ${t.name()}")
          t.dir
        case other => throw new UnsupportedOperationException(
          s"$name is not a txlog table: ${other.name()}")
      }
    val from = intArg(args(1), "startVersion")
    val to =
      if (args.length == 3) intArg(args(2), "endVersion")
      else TxLog.currentVersion(dir)
    TxLog.changeFeed(spark, dir, from, to).queryExecution.logical
  }
}

private object MaintenanceTarget {
  /** Resolve a maintenance statement's table name to its txlog dir —
    * catalog names (`lake.t`) and bare `txlog.`/path`` relations both
    * qualify (the same alphabet the DML rule accepts). */
  def dirOf(spark: SparkSession, nameParts: Seq[String]): String =
    nameParts match {
      case Seq(src, path) if src.equalsIgnoreCase("txlog")
          && path.contains("/")
          // NonFatal only (ADVICE r12): a fatal error must propagate,
          // not demote the path to "unresolved"
          && (try TxLog.currentVersion(path) >= 0
              catch { case scala.util.control.NonFatal(_) => false }) => path
      case _ => GraftSqlBridge.lookupV2Table(spark, nameParts) match {
        case t: TxLogTable =>
          require(t.asOf.isEmpty,
            s"cannot run maintenance on the time-travel snapshot ${t.name()}")
          t.dir
        case other => throw new UnsupportedOperationException(
          s"${nameParts.mkString(".")} is not a txlog table: ${other.name()}")
      }
    }

  /** A CLONE's DESTINATION does not exist yet — resolve it to the dir
    * it WILL occupy: a `txlog.`/path`` tail verbatim, or a catalog
    * identifier through the catalog's directory layout. */
  def newDirOf(spark: SparkSession, nameParts: Seq[String]): String =
    nameParts match {
      case Seq(src, path) if src.equalsIgnoreCase("txlog")
          && path.contains("/") => path
      case _ =>
        require(nameParts.size >= 2,
          "SHALLOW CLONE destination must be catalog-qualified " +
            s"(lake.t) or a txlog.`/path`, got ${nameParts.mkString(".")}")
        GraftSqlBridge.catalogPlugin(spark, nameParts.head) match {
          case c: graft.sources.TxLogCatalog =>
            c.tableDir(org.apache.spark.sql.connector.catalog.Identifier
              .of(nameParts.tail.init.toArray, nameParts.last))
          case other => throw new UnsupportedOperationException(
            s"SHALLOW CLONE destination catalog must be a TxLogCatalog, " +
              s"got ${other.name()}")
        }
    }
}

/** `OPTIMIZE INDEX '<idx>' USING '<emb>' [IMBALANCE x] [INTO '<out>']`
  * → [[graft.ops.AnnIndex.optimize]]: the ANN maintenance OPERATOR as
  * an operable SQL statement (VERDICT r11 #7's "background OPTIMIZE
  * INDEX-style entry point"). `<idx>` is the persisted index's
  * directory (roots + id-grain membership parquet); `<emb>` supplies
  * the raw vectors — a parquet path (contains '/') or a table name;
  * generation-2 artifacts land under `<out>` (default: the index dir
  * itself). Returns the bounded-rebuild counters. */
case class OptimizeIndexCommand(idxDir: String, embSrc: String,
    imbalance: Double, outDir: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("cells_rebuilt", LongType, nullable = false)(),
    AttributeReference("vecs_reassigned", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val emb =
      if (embSrc.contains("/")) spark.read.parquet(embSrc)
      else spark.table(embSrc)
    val membership = spark.read.parquet(s"$idxDir/membership")
    val (rebuilt, reassigned) = graft.ops.AnnIndex.optimize(
      emb, membership, outDir.getOrElse(idxDir), imbalance)
    Seq(Row(rebuilt, reassigned))
  }
}

/** `CONVERT TO TXLOG parquet.`/path` [STATS (c, ...)]` →
  * [[TxLog.convert]] (Delta's `CONVERT TO DELTA`): in-place adoption
  * of a flat parquet directory — version 0 references the existing
  * files verbatim, zero bytes moved; the optional STATS clause
  * declares data-skipping columns (one distributed bounds pass, then
  * persisted as `graft.stats.columns` so every later writer inherits
  * them). After conversion the directory answers `txlog.`/path``
  * reads, DML, time travel, and maintenance like any native table. */
case class ConvertToTxLogCommand(path: String, statsCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_converted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = TxLog.convert(spark, path, statsCols)
    TxLogDml.refresh(spark, path)
    Seq(Row(v.toLong, TxLog.snapshot(path).size.toLong))
  }
}

/** `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET` →
  * [[TxLog.copyInto]] (Delta's idempotent-load verb): ingest exactly
  * the parquet files under the source directory this table has not
  * loaded yet — the commit carries a `copysrc` ledger line per
  * ingested file, so the statement is safe to re-run after a crash or
  * on a schedule: each file loads exactly once, new files keep
  * flowing. The load is a normal constraint-checked append
  * (partition-pure on a declared layout, declared-stats markers). */
case class CopyIntoCommand(nameParts: Seq[String], src: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    val (v, nf, nr) = TxLog.copyInto(spark, dir, src)
    if (nf > 0) TxLogDml.refresh(spark, dir)
    Seq(Row(v.toLong, nf.toLong, nr))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` →
  * [[TxLog.addConstraint]] (Delta's verb): validates EXISTING rows in
  * one aggregate pass, then every future write — batch, SQL INSERT,
  * DML rewrites, streaming epochs — is gated on the staged batch
  * (stage-first, reject-whole-batch semantics). The constraint text
  * lives in the log, carried through checkpoints and clones. */
case class AddConstraintCommand(nameParts: Seq[String], cname: String,
    checkSql: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    Seq(Row(TxLog.addConstraint(spark, dir, cname, checkSql).toLong))
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` → [[TxLog.dropConstraint]]. */
case class DropConstraintCommand(nameParts: Seq[String], cname: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    Seq(Row(TxLog.dropConstraint(dir, cname).toLong))
  }
}

/** `RESTORE [TABLE] t [TO] VERSION AS OF n` → [[TxLog.restore]]: the
  * bad-deploy undo as SQL (Delta's verb) — live set, deletion vectors,
  * and schema snap back as one new auditable commit; the undone
  * versions stay time-travelable. */
case class RestoreTableCommand(nameParts: Seq[String], toVersion: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    val v = TxLog.restore(dir, toVersion)
    TxLogDml.refresh(spark, dir)
    Seq(Row(toVersion.toLong, v.toLong))
  }
}

/** `CREATE TABLE dst SHALLOW|DEEP CLONE src` → [[TxLog.shallowClone]]
  * / [[TxLog.deepClone]]: SHALLOW branches the source's CURRENT
  * snapshot zero-copy (translated add lines + deletion vectors, no
  * data IO); DEEP copies the live files and sidecars so the clone's
  * retention lifecycle is fully independent — vacuuming the source
  * can never break it. Either way mutations on one side stay
  * invisible to the other from that point on, and marker fields
  * (partition values, zone maps) carry verbatim. */
case class CloneTableCommand(dstParts: Seq[String], srcParts: Seq[String],
    deep: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("cloned_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcDir = MaintenanceTarget.dirOf(spark, srcParts)
    val dstDir = MaintenanceTarget.newDirOf(spark, dstParts)
    val v = if (deep) TxLog.deepClone(srcDir, dstDir)
            else TxLog.shallowClone(srcDir, dstDir)
    TxLogDml.refresh(spark, dstDir)
    Seq(Row(v.toLong))
  }
}

/** `OPTIMIZE t [ZORDER BY (x, y)]` → [[TxLog.optimize]]: compact the
  * live set (sized to ~128 MB output files), optionally laying rows
  * along the 2-D Morton curve with zone maps on both columns. */
case class OptimizeTableCommand(nameParts: Seq[String],
    zorderBy: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_before", LongType, nullable = false)(),
    AttributeReference("files_after", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    val before = TxLog.snapshot(dir)
    // a freshly-created or fully-deleted table has nothing to compact —
    // a maintenance script's OPTIMIZE must no-op, not crash (review)
    if (before.isEmpty) return Seq(Row(0L, 0L))
    val bytes = before.map(f => new java.io.File(dir, f).length()).sum
    val nFiles = math.max(1, math.ceil(bytes / (128.0 * (1 << 20))).toInt)
    TxLog.optimize(spark, dir, nFiles, zorderBy)
    TxLogDml.refresh(spark, dir) // session-catalog relations cache snapshots
    Seq(Row(before.size.toLong, TxLog.snapshot(dir).size.toLong))
  }
}

/** `VACUUM t [RETAIN n VERSIONS]` → [[TxLog.vacuum]] keeping the last
  * n versions time-travelable (default 10); the file-age guard comes
  * from `spark.graft.txlog.vacuum.minAgeMs`. */
case class VacuumTableCommand(nameParts: Seq[String],
    retainVersions: Option[Int], dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(
      AttributeReference("path", org.apache.spark.sql.types.StringType,
        nullable = false)())
    else Seq(
      AttributeReference("files_deleted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    // RETAIN 0 would unprotect the CURRENT snapshot itself: the
    // protection range (cur+1 .. cur) is empty and the live data files
    // become victims — with the age conf at 0 that wipes the table
    // (review; Delta's RETAIN 0 HOURS always keeps the current state)
    retainVersions.foreach(n => require(n >= 1,
      s"RETAIN must keep at least the current version, got $n"))
    val minAge = spark.conf
      .getOption("spark.graft.txlog.vacuum.minAgeMs").map(_.toLong)
      .getOrElse(TxLog.DefaultVacuumMinAgeMs)
    val retainAfter =
      TxLog.currentVersion(dir) - retainVersions.getOrElse(10) + 1
    val victims = TxLog.vacuum(dir, retainAfter, minAge, dryRun = dryRun)
    if (dryRun) victims.sorted.map(Row(_))
    else {
      TxLogDml.refresh(spark, dir)
      Seq(Row(victims.size.toLong))
    }
  }
}

/** `RESTORE [TABLE] t [TO] TIMESTAMP AS OF '<instant>'` — the
  * timestamp twin of [[RestoreTableCommand]]: the target version is
  * the newest commit at or before the instant ([[TxLog.versionAt]],
  * same resolution as `timestampAsOf` reads), then the same
  * snap-back-as-new-commit protocol. */
case class RestoreTimestampCommand(nameParts: Seq[String], ts: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    val v = TxLog.versionAt(dir,
      graft.sources.TxLogDataSource.parseInstant(ts))
    val nv = TxLog.restore(dir, v)
    TxLogDml.refresh(spark, dir)
    Seq(Row(v.toLong, nv.toLong))
  }
}

/** `DESCRIBE DETAIL t` (Delta's verb — VERDICT r12 #8): the operator's
  * at-a-glance health row — format, location, current version, live
  * file count and bytes, declared partition columns, outstanding
  * deletion vectors, constraint and property counts. Pure log
  * metadata: the whole row comes from one snapshot, no data IO. */
case class DescribeDetailCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{BooleanType, StringType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("has_deletion_vectors", BooleanType,
      nullable = false)(),
    AttributeReference("num_constraints", LongType, nullable = false)(),
    AttributeReference("num_properties", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    val snap = TxLog.resolve(dir)
    val bytes = snap.files.map(f => new java.io.File(dir, f).length()).sum
    // the reserved partition-layout key is surfaced in its own column,
    // not counted with the user's TBLPROPERTIES
    Seq(Row("txlog", dir, snap.version.toLong,
      snap.files.size.toLong, bytes,
      snap.layout.partCols.mkString(","),
      snap.dv.nonEmpty,
      snap.layout.constraints.size.toLong,
      (snap.properties - TxLog.PartitionColsProp - TxLog.ColumnMappingProp
        - TxLog.RetiredColsProp).size.toLong))
  }
}

/** `DESCRIBE HISTORY t` → [[TxLog.history]] as rows, newest first. */
case class DescribeHistoryCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("instant_ms", LongType, nullable = false)(),
    AttributeReference("n_adds", LongType, nullable = false)(),
    AttributeReference("n_removes", LongType, nullable = false)(),
    AttributeReference("n_dv", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = MaintenanceTarget.dirOf(spark, nameParts)
    TxLog.history(dir).map { case (v, ts, a, r, dv) =>
      Row(v.toLong, ts, a.toLong, r.toLong, dv.toLong)
    }
  }
}
