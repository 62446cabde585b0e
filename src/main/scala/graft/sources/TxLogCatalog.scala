package graft.sources

import java.io.File
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import graft.core.TxLog
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DSv2 [[TableCatalog]] over transaction-log tables — the surface
  * that makes the lakehouse addressable by NAME from SQL
  * (`SELECT ... FROM lake.t`, `INSERT INTO lake.t`, and — through
  * [[graft.plans.TxLogDmlRule]] — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO`), the same maturity step Delta/Iceberg take with their
  * catalog plugins. Registration is pure session conf, settable at
  * runtime:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.lake", classOf[TxLogCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.lake.base", "/data/lake")
  * }}}
  *
  * Tables are directories under `base`: identifier `ns1.ns2.t` maps to
  * `base/ns1/ns2/t`. The catalog holds NO state of its own — the
  * transaction log under each directory is the single source of truth,
  * so external writers through the path-based API and catalog readers
  * compose freely (table existence = a committed version 0). */
class TxLogCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var base: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("base")).getOrElse(throw
      new IllegalArgumentException(
        s"TxLogCatalog '$name' needs spark.sql.catalog.$name.base=<dir>"))
  }

  override def name(): String = catalogName

  def tableDir(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(new File(base))(new File(_, _)).toString

  private def exists(dir: String): Boolean =
    try TxLog.currentVersion(dir) >= 0
    catch { case scala.util.control.NonFatal(_) => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = namespace.foldLeft(new File(base))(new File(_, _))
    Option(nsDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && exists(d.toString))
      .map(d => Identifier.of(namespace, d.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    new TxLogTable(dir, ident.toString)
  }

  /** SQL time travel (`SELECT ... FROM lake.t VERSION AS OF 3`): the
    * engine routes the clause here; the returned table is a frozen
    * read-only snapshot. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    new TxLogTable(dir, s"${ident.toString}@v$version",
      asOf = Some(version.trim.toInt))
  }

  /** `TIMESTAMP AS OF` — the engine passes MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    val v = TxLog.versionAt(dir, timestampMicros / 1000L)
    new TxLogTable(dir, s"${ident.toString}@v$v", asOf = Some(v))
  }

  /** CREATE TABLE: version 0 carries only the schema line — an empty
    * but fully-typed table (the recorded schema, [[TxLog.Snapshot]]'s
    * `schema`, serves reads until data lands). `PARTITIONED BY (c1, c2)`
    * (identity transforms only) persists as the reserved
    * [[TxLog.PartitionColsProp]] property
    * (VERDICT r12 #1): from then on EVERY writer — SQL INSERT, the
    * Scala API, `writeStream.toTable` — stages partition-pure files
    * with `p:` markers, and every catalog scan prunes on partition
    * values before zone maps. Non-identity transforms (bucket/days/...)
    * are refused: identity partitioning is what the log's value markers
    * model, the Delta choice. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val partCols = TxLogCatalog.identityCols(partitions)
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the table schema"))
    val dir = tableDir(ident)
    if (exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName) ++ ident.namespace() :+ ident.name())
    // TBLPROPERTIES persist as log metadata; the engine-injected
    // bookkeeping keys (provider/owner/location) stay out of the log —
    // they are session facts, not table facts
    val userProps = Option(properties).map(_.asScala.toMap)
      .getOrElse(Map.empty)
      .view.filterKeys(k => !TxLogCatalog.ReservedProps(k)).toMap
    userProps.keys.foreach(k => require(
      k != TxLog.ColumnMappingProp && k != TxLog.RetiredColsProp,
      s"$k is engine-managed (RENAME/DROP COLUMN maintain it) and " +
        "cannot be declared in TBLPROPERTIES"))
    val partProp =
      if (partCols.isEmpty) Map.empty[String, String]
      else Map(TxLog.PartitionColsProp ->
        TxLog.encodePartitionCols(partCols))
    TxLog.createEmpty(dir, schema, properties = userProps ++ partProp)
    new TxLogTable(dir, ident.toString)
  }

  /** `ALTER TABLE lake.t ADD COLUMN c t` — a metadata-only commit
    * bridging to the in-log schema line ([[TxLog.evolveSchema]]);
    * reads null-backfill the new column immediately. Other ALTER verbs
    * stay on the log protocol (constraints) or are data operations in
    * disguise (drop/retype under live files → `replace`). The statement
    * resolves one snapshot, validates against it and commits right
    * above it. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    // RENAME/DROP COLUMN are their own single-change commits — the
    // mapping transition and the schema change must land atomically
    // ([[TxLog.renameColumn]]/[[TxLog.dropColumn]], metadata-only:
    // zero data bytes move at any table size)
    changes.toSeq match {
      case Seq(r: TableChange.RenameColumn) =>
        require(r.fieldNames().length == 1,
          "txlog RENAME COLUMN supports top-level columns only")
        TxLog.renameColumn(dir, r.fieldNames()(0), r.newName()): Unit
        graft.plans.TxLogDml.refresh(SparkSession.active, dir)
        return new TxLogTable(dir, ident.toString)
      case Seq(d: TableChange.DeleteColumn) =>
        require(d.fieldNames().length == 1,
          "txlog DROP COLUMN supports top-level columns only")
        TxLog.dropColumn(dir, d.fieldNames()(0)): Unit
        graft.plans.TxLogDml.refresh(SparkSession.active, dir)
        return new TxLogTable(dir, ident.toString)
      case cs if cs.exists(c => c.isInstanceOf[TableChange.RenameColumn]
          || c.isInstanceOf[TableChange.DeleteColumn]) =>
        throw new UnsupportedOperationException(
          "RENAME/DROP COLUMN must be the statement's only change")
      case _ => ()
    }
    val snap = TxLog.resolve(dir)
    val prior = snap.schema.getOrElse(
      TxLog.scan(SparkSession.active, snap, snap.files).schema)
    // property changes batch into ONE metadata commit; column adds
    // evolve the schema in another (each verb = one auditable version)
    val setProps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val unsetProps = scala.collection.mutable.ListBuffer.empty[String]
    val next = changes.foldLeft(prior) {
      case (st, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "txlog ADD COLUMN supports top-level columns only, got " +
            add.fieldNames().mkString("."))
        val n = add.fieldNames()(0)
        require(!st.fieldNames.contains(n),
          s"column '$n' already exists in ${ident.toString}")
        require(add.isNullable,
          "an added column must be nullable: existing rows null-backfill")
        // FIRST/AFTER would silently land the column at the END (the
        // in-log schema appends) — refuse rather than diverge (ADVICE
        // r12)
        if (add.position() != null)
          throw new UnsupportedOperationException(
            "txlog ADD COLUMN appends at the end of the schema; " +
              "FIRST/AFTER positions are not supported")
        st.add(n, add.dataType(), nullable = true)
      case (st, p: TableChange.SetProperty) =>
        setProps(p.property()) = p.value(); st
      case (st, p: TableChange.RemoveProperty) =>
        unsetProps += p.property(); st
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported ALTER on a txlog table: $other (ADD COLUMN / " +
          "SET/UNSET TBLPROPERTIES; constraints go through " +
          "TxLog.addConstraint)")
    }
    // ONE metadata commit for the whole statement — a failure between
    // two commits would leave a half-applied ALTER (review r12 #5)
    TxLog.alterMetadataAt(snap, setProps.toMap, unsetProps.toSeq,
      if (next != prior) Some(next) else None): Unit
    new TxLogTable(dir, ident.toString)
  }

  // ---- ATOMIC CREATE/REPLACE (StagingTableCatalog — VERDICT r12 #3):
  // CTAS / RTAS / CREATE OR REPLACE stage their writes as invisible
  // files and commit the WHOLE new definition (schema + properties +
  // partition layout + data) as ONE log version in
  // commitStagedChanges — on REPLACE the old versions stay
  // time-travelable, unlike a drop+recreate. ----

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String],
      expectedVersion: Int): TxLogStagedTable = {
    val partCols = TxLogCatalog.identityCols(partitions)
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the table schema"))
    val userProps = Option(properties).map(_.asScala.toMap)
      .getOrElse(Map.empty)
      .view.filterKeys(k => !TxLogCatalog.ReservedProps(k)).toMap
    userProps.keys.foreach(k => require(
      k != TxLog.ColumnMappingProp && k != TxLog.RetiredColsProp,
      s"$k is engine-managed (RENAME/DROP COLUMN maintain it) and " +
        "cannot be declared in TBLPROPERTIES"))
    val partProp =
      if (partCols.isEmpty) Map.empty[String, String]
      else Map(TxLog.PartitionColsProp ->
        TxLog.encodePartitionCols(partCols))
    new TxLogStagedTable(tableDir(ident), ident.toString, schema,
      partCols, userProps ++ partProp, expectedVersion)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (exists(tableDir(ident)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName) ++ ident.namespace() :+ ident.name())
    staged(ident, schema, partitions, properties, -1)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val dir = tableDir(ident)
    if (!exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() :+ ident.name())
    staged(ident, schema, partitions, properties,
      TxLog.currentVersion(dir))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val dir = tableDir(ident)
    staged(ident, schema, partitions, properties,
      if (exists(dir)) TxLog.currentVersion(dir) else -1)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!exists(dir)) false
    else { TxLog.drop(dir); true }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "renameTable is not supported (shallowClone + drop covers it)")
}

object TxLogCatalog {
  /** Engine-injected bookkeeping keys excluded from the persisted
    * TBLPROPERTIES (the session supplies them per statement). */
  private val ReservedProps: Set[String] =
    Set("provider", "owner", "location", "external", "comment")

  /** Top-level column names of identity partition transforms; refuses
    * anything else (bucket/days/... have no log-marker representation). */
  private[sources] def identityCols(
      partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        val fn = t.references.head.fieldNames
        require(fn.length == 1,
          "txlog partitioning supports top-level columns only, got " +
            fn.mkString("."))
        fn.head
      case other => throw new UnsupportedOperationException(
        s"txlog tables support identity PARTITIONED BY columns only, " +
          s"got transform $other")
    }
}

/** The DSv2 [[Table]] over one transaction-log directory. Batch read
  * goes through a [[V1Scan]] wrapping the DV-correct [[TxLog.scan]]
  * ([[TxLogRelation]]) with column pruning pushed ([[TxLogV1ScanBuilder]]) and
  * LOG-RESIDENT statistics reported ([[SupportsReportStatistics]]:
  * `sizeInBytes` from the live files' lengths — file-grain log
  * metadata, no footer IO — so Catalyst can cost catalog-routed joins
  * and pick broadcasts the way it does for the blob source). Batch
  * write goes through a [[V1Write]] onto the transactional API
  * (append / truncate+append = versioned REPLACE). Row-level SQL DML
  * (DELETE/UPDATE/MERGE) is rewritten by [[graft.plans.TxLogDmlRule]]
  * onto [[graft.plans.TxLogDml]] — the Delta approach (analysis-rule
  * commands), chosen over Spark's group-based RowLevelOperation API
  * because the log protocol already IS the group-replacement commit. */
class TxLogTable(val dir: String, ident: String,
    val asOf: Option[Int] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  override def name(): String = ident

  /** The log replayed once for this loaded table, on first use: the
    * schema, properties, partitioning, partition listing and streaming
    * guards all read it. Scan statistics and execution do not — they
    * resolve when Spark asks for them and when [[TxLogRelation]]
    * scans, so a DataFrame reused after later commits is costed and
    * read at the newest version. */
  private lazy val snap = TxLog.resolve(dir, asOf)

  /** `TRUNCATE TABLE lake.t` (Spark's V2 TruncateTableExec): one
    * atomic pure-remove commit — zero data IO, pre-truncate state
    * stays time-travelable, definition survives. */
  override def truncateTable(): Boolean = {
    require(asOf.isEmpty,
      s"cannot truncate the time-travel snapshot $ident — it is frozen")
    TxLog.truncate(dir)
    graft.plans.TxLogDml.refresh(SparkSession.active, dir)
    true
  }

  override lazy val schema: StructType = {
    // the recorded in-log schema serves planning without building the
    // full read plan (a mergeSchema footer walk over every live file
    // per loadTable — review r11 #8); pre-schema-line logs fall back
    snap.schema.getOrElse(
      TxLog.scan(SparkSession.active, snap, snap.files).schema)
  }

  /** Persisted TBLPROPERTIES (`SHOW TBLPROPERTIES lake.t` reads these)
    * plus the provider marker. */
  override def properties(): java.util.Map[String, String] =
    (snap.properties + ("provider" -> "txlog")).asJava

  /** Declared partition columns as identity transforms (`DESCRIBE`
    * shows them; Spark validates INSERT column counts against them). */
  override def partitioning(): Array[Transform] =
    snap.layout.partCols.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  // ---- SupportsPartitionManagement: the READ side only ----
  // `SHOW PARTITIONS lake.t [PARTITION (c = v)]` lists the DISTINCT
  // recorded partition tuples from log metadata alone — zero data IO
  // at any table size. Mutating verbs refuse with the engine's actual
  // verb: partitions materialize through writes and die through
  // (metadata-only) partition-aligned DELETE, never through ALTER.

  override def partitionSchema(): StructType =
    StructType(snap.layout.partCols.map(c => schema(c)))

  override def createPartition(id: org.apache.spark.sql.catalyst.InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "txlog partitions materialize through writes — INSERT the rows")

  override def dropPartition(
      id: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      "use DELETE FROM ... WHERE <partition predicate>: a " +
        "partition-aligned delete commits metadata-only")

  override def replacePartitionMetadata(
      id: org.apache.spark.sql.catalyst.InternalRow,
      props: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "txlog partitions carry no mutable metadata")

  override def loadPartitionMetadata(
      id: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  override def listPartitionIdentifiers(names: Array[String],
      id: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val partCols = snap.layout.partCols
    require(names.forall(partCols.contains),
      s"unknown partition columns: ${names.filterNot(partCols.contains)
        .mkString(", ")}")
    val ps = partitionSchema()
    def castMarker(s: String, dt: org.apache.spark.sql.types.DataType): Any =
      // the dynamic-partition sentinel is ambiguous (null or "") —
      // rendered as null, matching Spark's own SHOW PARTITIONS default
      if (s == "__HIVE_DEFAULT_PARTITION__") null
      else org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          org.apache.spark.sql.types.StringType), dt, Some("UTC"))
        .eval(null)
    // distinct FULLY-marked tuples; files written before the layout
    // was declared carry no markers and belong to no listable
    // partition (OPTIMIZE re-layouts them)
    val tuples = snap.metas.map { case (_, m) => partCols.map(m.pv.get) }
      .filter(_.forall(_.isDefined)).toSet
    val rows = tuples.toSeq.map { t =>
      InternalRow.fromSeq(t.zip(ps.fields).map {
        case (v, f) => castMarker(v.get, f.dataType) })
    }
    rows.filter { r =>
      names.zipWithIndex.forall { case (n, i) =>
        val idx = partCols.indexOf(n)
        val dt = ps.fields(idx).dataType
        r.get(idx, dt) == id.get(i, dt)
      }
    }.toArray
  }

  override def capabilities(): java.util.Set[TableCapability] =
    // V1_BATCH_WRITE (not BATCH_WRITE): the write IS a V1Write, and the
    // planner only takes the AppendDataExecV1 fallback for tables that
    // declare it (the JDBC-v2 pattern). MICRO_BATCH_READ makes
    // `spark.readStream.table("lake.t")` first-class (VERDICT r11 #2):
    // the scan's [[TxLogMicroBatchStream]] mixes in the same
    // offset/admission trait as the DSv1 source, [[TxLogOffsets]].
    // STREAMING_WRITE completes the by-name streaming symmetry
    // (writeStream.toTable): executor tasks write parquet straight
    // into the table dir, the driver commits them as one idempotent
    // epoch — see [[TxLogStreamingWrite]].
    // AUTOMATIC_SCHEMA_EVOLUTION: MERGE WITH SCHEMA EVOLUTION is legal
    // on this table — Spark's ResolveMergeIntoSchemaEvolution computes
    // the widen-only TableChanges and routes them through alterTable
    // (one metadata commit), the same machinery as ADD COLUMN (q427)
    // OVERWRITE_BY_FILTER / OVERWRITE_DYNAMIC: INSERT OVERWRITE with a
    // static PARTITION spec (or DataFrameWriterV2.overwrite(cond))
    // routes to TxLog.replaceWhere's scoped atomic replace, and
    // partitionOverwriteMode=dynamic to replaceDynamicPartitions
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new TxLogV1ScanBuilder(snap, schema, asOf, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty,
      s"cannot write to the time-travel snapshot $ident — it is frozen")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var overwrite = false
      private var overwriteBy
          : Option[Array[org.apache.spark.sql.sources.Filter]] = None
      private var dynamic = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      /** `INSERT OVERWRITE t [PARTITION (c = v)]` / DataFrameWriterV2
        * `overwrite(cond)` — Spark hands the scope as source filters;
        * an AlwaysTrue-only scope IS a truncate. */
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        if (filters.forall(
            _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          overwrite = true
        else overwriteBy = Some(filters)
        this
      }
      /** `partitionOverwriteMode=dynamic`: replace exactly the
        * partitions present in the incoming batch. */
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true; this
      }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit =
              if (dynamic)
                TxLog.replaceDynamicPartitions(data.sparkSession, data,
                  dir): Unit
              else overwriteBy match {
                case Some(filters) =>
                  val pred = filters.map(TxLogFilterColumns.toColumn)
                    .reduceLeft(_ && _)
                  TxLog.replaceWhere(data.sparkSession, dir, data,
                    pred): Unit
                case None =>
                  if (overwrite) TxLog.replace(data, dir): Unit
                  else TxLog.append(data, dir): Unit
              }
          }
        /** `writeStream.toTable("lake.t")` — the engine routes here
          * when the table declares STREAMING_WRITE. The stream's
          * identity for the exactly-once txn markers is the QUERY id
          * (persisted in the checkpoint — stable across restarts, the
          * same role the DSv1 sink's txnAppId plays). */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(!overwrite && overwriteBy.isEmpty && !dynamic,
            "txlog streaming writes are Append-only (Complete output " +
              "mode would need a replace-per-epoch protocol)")
          // executor tasks write the frame's column names VERBATIM —
          // on a mapped table that would store logical names the reads
          // no longer bind; refuse until the writer maps them
          require(!snap.mapping.active,
            s"streaming writes to $dir are unavailable after a RENAME " +
              "or DROP COLUMN (column mapping active) — use batch appends")
          new TxLogStreamingWrite(dir, info.schema(), info.queryId())
        }
      }
    }
  }
}

/** [[org.apache.spark.sql.sources.Filter]] → [[Column]] for the
  * overwrite-scope handoff: Spark planned `INSERT OVERWRITE`'s static
  * partition spec (or DataFrameWriterV2's condition) into source
  * filters; the engine re-expresses them as the one predicate its
  * replaceWhere machinery prunes, probes, and validates with.
  * Unsupported shapes REFUSE loudly — a silently-widened overwrite
  * scope would delete rows the statement never named. [[TxLogRelation]]
  * converts its pushed filters the same way for file pruning, where a
  * filter that does not convert keeps every file. */
private[sources] object TxLogFilterColumns {
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): org.apache.spark.sql.Column = f match {
    case AlwaysTrue() => lit(true)
    case AlwaysFalse() => lit(false)
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(x) => not(toColumn(x))
    case other => throw new UnsupportedOperationException(
      s"overwrite scope $other is not expressible as a txlog " +
        "replaceWhere predicate")
  }
}

/** One in-flight `CREATE [OR REPLACE] TABLE [AS SELECT]`: the V1 write
  * stages files into the table directory (invisible until referenced —
  * an abort leaves only the orphans vacuum ignores), and
  * `commitStagedChanges` installs data + schema + properties +
  * partition layout as ONE log version through
  * [[TxLog.commitDefinition]] — on REPLACE the prior state stays
  * time-travelable and a commit racing the stage window CONFLICTS
  * (the pinned expected version) instead of silently interleaving. */
class TxLogStagedTable(dir: String, ident: String,
    stagedSchema: StructType, partCols: Seq[String],
    props: Map[String, String], expectedVersion: Int)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  private val names = scala.collection.mutable.Buffer.empty[String]
  private val addLines = scala.collection.mutable.Buffer.empty[String]

  override def name(): String = ident
  override def schema(): StructType = stagedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the RTAS plan arrives as truncate+append on the staged table —
      // the staged files ARE the whole new content either way
      override def truncate(): WriteBuilder = this
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              // stats columns come from the NEW definition's props —
              // the CTAS/RTAS batch skips like any later write's
              val (n, lines) = TxLog.stageForDefinition(data, dir,
                partCols, props.get(TxLog.StatsColsProp).toSeq
                  .flatMap(TxLog.decodeCols))
              names ++= n
              addLines ++= lines
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    TxLog.commitDefinition(dir, addLines.toSeq, stagedSchema, props,
      expectedVersion): Unit

  override def abortStagedChanges(): Unit =
    names.foreach(n => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, n)))
}

/** The DSv2 streaming write behind `writeStream.toTable("lake.t")`:
  * each task writes its partition's rows as ONE parquet file DIRECTLY
  * into the table directory (uniquely named, invisible until a commit
  * references it — the standard staging contract, so a task/epoch crash
  * leaves only the orphans vacuum already ignores), rows encoded by
  * Spark's own [[ParquetWriteSupport]] so the bytes are
  * indistinguishable from a batch write's. The driver's per-epoch
  * commit is [[TxLog.commitStagedIdempotent]]: CHECK constraints
  * validate against exactly the staged bytes, the commit carries the
  * `txn (queryId, epochId)` marker, and a replayed epoch deletes its
  * re-staged files — exactly-once by protocol, matching the DSv1 sink
  * (q296's proof) on the by-name path. */
class TxLogStreamingWrite(dir: String, writeSchema: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val spark = SparkSession.active
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // the write-side parquet conf Spark's ParquetFileFormat would build:
    // schema under ParquetWriteSupport's key plus the session's write
    // options — so the staged bytes match batch-written ones
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(writeSchema, conf)
    conf.set(org.apache.spark.sql.internal.SQLConf
      .PARQUET_WRITE_LEGACY_FORMAT.key,
      sql.writeLegacyParquetFormat.toString)
    conf.set(org.apache.spark.sql.internal.SQLConf
      .PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sql.parquetOutputTimestampType.toString)
    conf.set(org.apache.spark.sql.internal.SQLConf
      .PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sql.parquetFieldIdWriteEnabled.toString)
    conf.set(org.apache.spark.sql.internal.SQLConf
      .PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(org.apache.spark.sql.internal.SQLConf
        .PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    // datetime rebase markers: ParquetWriteSupport records them as file
    // metadata; ParquetFileFormat sets both explicitly on its write conf
    conf.set(org.apache.spark.sql.internal.SQLConf
      .PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(org.apache.spark.sql.internal.SQLConf
        .PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(org.apache.spark.sql.internal.SQLConf
      .PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(org.apache.spark.sql.internal.SQLConf
        .PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    // declared partition columns: executor tasks split their rows into
    // partition-pure files and report each file's values — the commit
    // records them as `p:` markers, so streamed files prune exactly
    // like batch-written ones (VERDICT r12 #1: every writer inherits
    // the table's layout)
    val partCols = TxLog.resolve(dir).layout.partCols
    partCols.foreach(c => require(writeSchema.fieldNames.contains(c),
      s"streaming write is missing declared partition column '$c'"))
    new TxLogStreamWriterFactory(dir,
      new org.apache.spark.util.SerializableConfiguration(conf),
      writeSchema, partCols, sql.sessionLocalTimeZone)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case TxLogWriteMessage(fs) => fs
    }.flatten.toSeq
    TxLog.commitStagedIdempotent(SparkSession.active, dir, files,
      writeSchema, queryId, epochId): Unit
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case TxLogWriteMessage(fs) => fs.foreach { case (name, _) =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(dir, name)): Unit
      }
      case _ => ()
    }

  override def toString: String = s"TxLogStreamingWrite[$dir]"
}

/** The staged files of one task — (name, partition values) each; empty
  * partitions report no files. */
case class TxLogWriteMessage(files: Seq[(String, Map[String, String])])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class TxLogStreamWriterFactory(dir: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType, partCols: Seq[String], timeZoneId: String)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new TxLogDataWriter(dir,
      s"part-${java.util.UUID.randomUUID().toString.take(8)}" +
        s"-e$epochId-p$partitionId", conf, schema, partCols, timeZoneId)
}

/** Executor-side writer: lazily opens one parquet file per PARTITION
  * VALUE TUPLE on its first row (empty partitions produce NO file;
  * unpartitioned tables use the single empty-tuple slot), rows encoded
  * by Spark's own [[ParquetWriteSupport]] with the driver-prepared
  * conf. Partition values render through catalyst `Cast(_, string)` —
  * the same strings [[TxLog.appendPartitioned]]'s shadow-column
  * staging records, so batch and streamed markers prune identically. */
class TxLogDataWriter(dir: String, stem: String,
    conf: org.apache.spark.util.SerializableConfiguration,
    schema: StructType, partCols: Seq[String], timeZoneId: String)
    extends org.apache.spark.sql.connector.write.DataWriter[
      org.apache.spark.sql.catalyst.InternalRow] {
  import org.apache.spark.sql.catalyst.InternalRow

  /** partition value tuple → (file name, open writer) */
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[Seq[String], (String, org.apache.parquet.hadoop.ParquetWriter[InternalRow])]

  private lazy val partEvals = partCols.map { c =>
    val i = schema.fieldIndex(c)
    org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, schema(i).dataType, nullable = true),
      org.apache.spark.sql.types.StringType, Option(timeZoneId))
  }

  private class RowBuilder(path: org.apache.hadoop.fs.Path)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport
  }

  private def open(name: String)
      : org.apache.parquet.hadoop.ParquetWriter[InternalRow] =
    new RowBuilder(new org.apache.hadoop.fs.Path(
        new File(dir, name).toURI))
      .withConf(conf.value)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()

  override def write(row: InternalRow): Unit = {
    val key: Seq[String] = partEvals.map { e =>
      // NULL partition values take Spark's directory sentinel — the
      // string appendPartitioned's shadow-column staging records
      Option(e.eval(row)).map(_.toString)
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
    }
    val (_, w) = writers.getOrElseUpdate(key, {
      val name = s"$stem-${writers.size}.parquet"
      (name, open(name))
    })
    w.write(row)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    writers.values.foreach(_._2.close())
    TxLogWriteMessage(writers.toSeq.map { case (vals, (name, _)) =>
      name -> partCols.zip(vals).toMap
    })
  }

  override def abort(): Unit = {
    writers.values.foreach { case (name, w) =>
      w.close()
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, name)): Unit
    }
  }

  override def close(): Unit = ()
}

/** Column- and filter-pushing scan builder → [[V1Scan]] with
  * log-resident stats. The scan is a [[TxLogRelation]] over the
  * merge-on-read plan (a catalog read of a DV-bearing table must stay on
  * it anyway), pruning files on the pushed filters; Spark still
  * re-evaluates every row. The streaming guard reads the loaded
  * table's snapshot `snap`; the statistics and the relation resolve
  * their own. */
class TxLogV1ScanBuilder(snap: TxLog.Snapshot, fullSchema: StructType,
    asOf: Option[Int] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private val dir = snap.dir
  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // empty projection (e.g. count(*)) keeps one narrow column — a
    // zero-column parquet read degenerates to full-width rows
    required =
      if (requiredSchema.fields.isEmpty)
        StructType(fullSchema.fields.take(1))
      else requiredSchema
  }

  /** Filters are accepted for PLAN-TIME FILE PRUNING on the
    * log-resident zone maps / partition values (the same
    * [[graft.core.FilePrune]] walk the path connector's FileIndex runs)
    * — and ALL of them are returned as residual, so Spark re-evaluates
    * every row exactly as before: pruning can only skip files that
    * provably hold no match. */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan = new V1Scan with SupportsReportStatistics {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new TxLogRelation(context, dir, asOf, required,
        pushed = pushed).asInstanceOf[T]

    /** `readStream.table("lake.t")` — the engine routes here when the
      * table declares MICRO_BATCH_READ. */
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
      require(asOf.isEmpty,
        s"cannot stream from a time-travel snapshot of $dir — it is frozen")
      // normally unreachable: TxLogStreamCdfRule (GraftExtensions)
      // rewrites CDF streaming reads onto the DSv1 source BEFORE the
      // scan is built; a session without the extensions gets a clear
      // refusal instead of a stream missing its meta columns
      require(!Option(options.get("readChangeFeed")).exists(_.trim.toBoolean),
        "streaming CDF by name needs the GraftExtensions session " +
          "extension (spark.sql.extensions=graft.plans.GraftExtensions); " +
          "without it use the path API: spark.readStream" +
          ".format(\"txlog\").option(\"readChangeFeed\", \"true\").load(dir)")
      // same block as the DSv1 source: a RENAME/DROP COLUMN shifts
      // column identity mid-stream (Delta blocks this too)
      require(!snap.mapping.active,
        s"streaming reads of $dir are unavailable after a RENAME or " +
          "DROP COLUMN (column mapping active) — read snapshots in batch")
      new TxLogMicroBatchStream(dir, required,
        Option(options.get("startingVersion")).map(_.trim.toInt).getOrElse(0),
        Option(options.get("ignoreChanges")).exists(_.trim.toBoolean),
        Option(options.get("maxVersionsPerTrigger")).map(_.trim.toInt))
    }

    /** Log-resident size: the files live when Spark asks — not the
      * loaded snapshot's, which a reused DataFrame keeps across later
      * commits — at their on-disk lengths. Spark reads it only where it
      * costs the relation before scan pushdown: the pushed-down plan
      * wraps this V1 scan in a `V1ScanWrapper`, which reports none. */
    override def estimateStatistics(): Statistics = new Statistics {
      override val sizeInBytes: OptionalLong = OptionalLong.of(
        TxLog.snapshot(dir, asOf).map(f => new File(dir, f).length()).sum)
      override val numRows: OptionalLong = OptionalLong.empty()
    }
  }
}

/** The DSv2 [[MicroBatchStream]] behind `readStream.table("lake.t")`
  * (VERDICT r11 #2): offsets are log versions (exactly the DSv1
  * source's contract — both mix in [[TxLogOffsets]], the one
  * implementation of admission control, AvailableNow draining, and the
  * undecided-transaction stall), and each batch's row reading delegates
  * to Spark's own vectorized [[ParquetScan]] over the versions' added
  * files — column pruning honored (`readSchema` arrives pruned from the
  * ScanBuilder), schema evolution null-backfilled by the parquet
  * reader, whole-stage-codegen-compatible columnar batches. The engine
  * owns offset checkpointing (it passes the recovered start into
  * `latestOffset`), so no hand-rolled checkpoint parsing is needed on
  * this path. */
class TxLogMicroBatchStream(protected val dir: String,
    readSchema: StructType, protected val startingVersion: Int,
    ignoreChanges: Boolean, protected val maxVersionsPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with TxLogOffsets {
  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  /** Unused on the admission-control path (the engine calls the
    * two-argument overload), but part of the base interface. */
  override def latestOffset(): OffsetV2 =
    latestOffset(null, ReadLimit.allAvailable())

  /** The reader factory matching the last-planned range. The engine
    * plans and reads one micro-batch at a time on the driver, so a
    * single slot is sufficient — and `createReaderFactory` has no range
    * arguments, making this the standard connector shape. */
  @volatile private var lastBatch
      : org.apache.spark.sql.connector.read.Batch = _

  override def planInputPartitions(start: OffsetV2, end: OffsetV2)
      : Array[InputPartition] = {
    val files = TxLogOffsets.addedFiles(dir, versionOf(start),
      versionOf(end), ignoreChanges)
    lastBatch = TxLogMicroBatchStream.parquetBatch(dir, files, readSchema)
    lastBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    lastBatch.createReaderFactory()

  override def commit(end: OffsetV2): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxLogMicroBatchStream[$dir]"
}

object TxLogMicroBatchStream {
  import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
  import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan

  /** One micro-batch's files as a vectorized parquet [[Batch]]: an
    * in-memory file index over exactly the added files, Spark's stock
    * ParquetScan on top — reader factories, codegen-ready columnar
    * output, and missing-column null-backfill all inherited. */
  private[sources] def parquetBatch(dir: String, files: Seq[String],
      readSchema: StructType)
      : org.apache.spark.sql.connector.read.Batch = {
    val spark = SparkSession.active
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val paths = files.map(f =>
      new org.apache.hadoop.fs.Path(new File(dir, f).toURI))
    val index = new InMemoryFileIndex(spark, paths,
      Map.empty[String, String], Some(readSchema))
    ParquetScan(spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      index,
      dataSchema = readSchema,
      readDataSchema = readSchema,
      readPartitionSchema = new StructType(),
      pushedFilters = Array.empty,
      options = new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("mergeSchema", "true")),
      pushedAggregate = None,
      partitionFilters = Seq.empty,
      dataFilters = Seq.empty).toBatch
  }
}
