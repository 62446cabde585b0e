package graft.sources

import java.io.File

import graft.core.{FilePrune, TxLog}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftSqlBridge, Row, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, TableScan}
import org.apache.spark.sql.types.StructType

/** `spark.read.format("txlog")` — the transaction-log table format
  * ([[graft.core.TxLog]]) as a first-class Spark data source, the same
  * maturity step the blob connector took ([[BlobShardDataSource]]): the
  * lakehouse is usable from the reader API and SQL
  * (`CREATE TABLE t USING txlog OPTIONS (path '...')`), not only the
  * Scala API.
  *
  * Read options:
  *   - `versionAsOf`   → [[TxLog.read]] at that version;
  *   - `timestampAsOf` → [[TxLog.versionAt]] resolution (epoch millis
  *     or `yyyy-MM-dd HH:mm:ss[.fff]`), Delta's option names.
  *
  * Architecture (Delta's batch-read shape): one log replay resolves the
  * snapshot ([[TxLog.resolve]]), whose live-file list becomes a custom
  * [[FileIndex]] under a [[HadoopFsRelation]]
  * with the stock parquet [[ParquetFileFormat]] — so the scan IS a
  * native vectorized parquet scan with column pruning, predicate
  * pushdown, and whole-stage codegen, and the connector's work is pure
  * PLAN-TIME file pruning: the scan's data filters go through
  * [[graft.core.FilePrune]], the one walk every txlog scan and DML
  * statement shares, which tests them against log-resident ZONE MAPS
  * (`add`-line min/max) and PARTITION VALUES (`p:` markers) before any
  * footer IO. A literal prunes only when its type is one the writer
  * rendered exactly (integral or string against zone maps; integral,
  * string or boolean against partition markers); DATE, TIMESTAMP,
  * decimal and floating-point literals keep every file.
  *
  * A snapshot carrying outstanding DELETION VECTORS (or an emptied or
  * column-mapped table) falls back to [[TxLogRelation]], which wraps the
  * merge-on-read [[TxLog.scan]] and prunes through the same walk —
  * correct on every snapshot, while the common DV-free path keeps the
  * native scan.
  *
  * WRITE path (`CreatableRelationProvider`):
  * `df.write.format("txlog").mode(m).save(dir)` maps onto the
  * transactional API — Append → [[TxLog.append]] (create when new),
  * Overwrite → [[TxLog.replace]] (one atomic commit swaps the live
  * set; the old state stays time-travelable), ErrorIfExists/Ignore per
  * their contracts. Writer options: `partitionBy=c1,c2` routes through
  * [[TxLog.appendPartitioned]] (log-line partition markers),
  * `statsBy=c1,c2` through [[TxLog.appendWithStats]] (zone-map
  * triples) — explicit options because DSv1 does not deliver the
  * DataFrameWriter's partitioning to the provider. Row-level DML
  * (delete/upsert/DV) stays on the Scala API, the same split Delta
  * had before SQL DML. */
class TxLogDataSource extends RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  /** STREAMING write (`df.writeStream.format("txlog").start(dir)`):
    * every micro-batch commits through [[TxLog.appendIdempotent]] with
    * the Spark batch id as the transaction id — a replayed batch
    * (checkpoint recovery re-delivers the last uncommitted-at-crash
    * batch) is recognized from the log's `txn` marker and SKIPPED, so
    * the sink is exactly-once BY PROTOCOL, not by best effort (the
    * Delta sink's `txnVersion` mechanism). The transaction app id is
    * the query's `checkpointLocation` option — the stable identity of
    * a logical stream across restarts — or an explicit
    * `option("txnAppId", ...)` when two checkpoints feed one table;
    * one of the two is REQUIRED (see createSink).
    * Append output mode only: Complete would need a replace-per-batch
    * marker protocol, and Update's upsert keys don't exist in DSv1. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"txlog sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "txlog sink writes unpartitioned appends; use the batch writer's " +
        "option(\"partitionBy\", ...) for partition-marked commits")
    val dir = TxLogDataSource.localPath(parameters("path"))
    // NO per-table fallback id: two distinct streams (checkpoint set
    // via session conf or Spark's temp default, so absent from the
    // options map) would share it, and since both batch sequences
    // start at 0 the second stream's batches would be recognized as
    // replays and silently DROPPED (ADVICE r10) — refuse instead
    val appId = parameters.getOrElse("txnAppId",
      parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "txlog sink needs a stable stream identity for its " +
            "exactly-once txn markers: set option(\"txnAppId\", ...) " +
            "or option(\"checkpointLocation\", ...) on the writer " +
            "(a checkpoint configured only via session conf is not " +
            "visible here, and a shared per-table default would " +
            "silently drop a second stream's batches as replays)")))
    new TxLogSink(dir, appId)
  }

  /** STREAMING read (`spark.readStream.format("txlog")`): tail the
    * table's commit log — each micro-batch is the files ADDED by the
    * versions in (lastOffset, currentVersion], i.e. the change data
    * feed consumed incrementally (the Delta streaming-source shape:
    * offsets are log versions, not file lists). Append-only contract
    * by default — a version carrying removes or deletion vectors fails
    * the stream (data a consumer already processed would silently
    * diverge); `option("ignoreChanges", "true")` opts into processing
    * such versions' adds anyway (rewritten rows re-emit — Delta's
    * documented semantics). `option("startingVersion", n)` skips
    * history below n (exclusive offset base n-1). */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val dir = TxLogDataSource.localPath(parameters("path"))
    ("txlog", streamSchema(sqlContext.sparkSession,
      TxLog.resolve(dir), schema, parameters))
  }

  /** The stream's declared schema: `schema`, else the snapshot's; a
    * change-feed stream (option("readChangeFeed", "true")) batches
    * row-level changes, so it carries the two meta columns too. */
  private def streamSchema(spark: SparkSession, snap: TxLog.Snapshot,
      schema: Option[StructType], parameters: Map[String, String])
      : StructType = {
    val base = schema.getOrElse(TxLog.scan(spark, snap, snap.files).schema)
    if (!parameters.get("readChangeFeed").exists(_.trim.toBoolean)) base
    else base.add("_change_type", org.apache.spark.sql.types.StringType,
        nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType,
        nullable = false)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = TxLogDataSource.localPath(parameters("path"))
    val snap = TxLog.resolve(dir)
    // a RENAME/DROP COLUMN shifts column identity mid-stream — batches
    // before and after would disagree on what a name means. Delta
    // blocks streaming reads across column-mapping changes too.
    require(!snap.mapping.active,
      s"streaming reads of $dir are unavailable after a RENAME or " +
        "DROP COLUMN (column mapping active) — read snapshots in batch")
    val st = streamSchema(sqlContext.sparkSession, snap, schema, parameters)
    new TxLogStreamSource(sqlContext, dir, st,
      parameters.get("startingVersion").map(_.trim.toInt).getOrElse(0),
      parameters.get("ignoreChanges").exists(_.trim.toBoolean),
      parameters.get("readChangeFeed").exists(_.trim.toBoolean),
      parameters.get("maxVersionsPerTrigger").map(_.trim.toInt))
  }
  override def shortName(): String = "txlog"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    // the catalog URI-qualifies OPTIONS paths (`file:/tmp/...`);
    // TxLog's log protocol is java.io-local — unwrap the file scheme,
    // refuse remote ones explicitly rather than failing on a mangled
    // java.io.File of the URI string
    val dir = TxLogDataSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txlog source requires a path: spark.read.format(\"txlog\").load(dir)")))
    // DESCRIBE HISTORY surface: option("history", "true") returns the
    // commit log itself (version, commit instant, add/remove/DV line
    // counts; retired checkpoint-only versions carry -1 counts) —
    // metadata-grain, newest first via TxLog.history
    if (parameters.get("history").exists(_.trim.toBoolean))
      return new TxLogHistoryRelation(sqlContext, dir)
    // CHANGE DATA FEED surface: option("readChangeFeed", "true") with
    // startingVersion/endingVersion (Delta's option names) returns the
    // row-level change relation from [[TxLog.changeFeed]]
    if (parameters.get("readChangeFeed").exists(_.trim.toBoolean)) {
      val from = parameters.get("startingVersion").map(_.trim.toInt)
        .getOrElse(0)
      val to = parameters.get("endingVersion").map(_.trim.toInt)
        .getOrElse(TxLog.currentVersion(dir))
      return new TxLogCdfRelation(sqlContext, dir, from, to)
    }
    require(!(parameters.contains("versionAsOf") &&
      parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    val asOf: Option[Int] = parameters.get("versionAsOf").map(_.trim.toInt)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        TxLog.versionAt(dir, TxLogDataSource.parseInstant(ts))))
    val spark = sqlContext.sparkSession
    val snap = TxLog.resolve(dir, asOf)
    // `pinned` records whether the USER time-traveled (versionAsOf /
    // timestampAsOf) — the DML rule must refuse mutations through a
    // pinned relation, and `version == currentVersion` cannot tell
    // "pinned to what happens to be latest" from "default latest"
    // (review r11 #2.4)
    if (snap.files.isEmpty || snap.dv.nonEmpty ||
        // column mapping: files store PHYSICAL names — the row relation
        // wraps the scan's logical projection; a HadoopFsRelation over
        // the raw files would surface storage names
        snap.mapping.active)
      new TxLogRelation(sqlContext, dir, Some(snap.version),
        TxLog.scan(spark, snap, snap.files).schema, pinned = asOf.isDefined)
    else {
      // union schema over the live files (commits may evolve the schema
      // — q380): the log RECORDS it (schema lines), so serve it without
      // the footer-merge Spark job; legacy tables without a schema line
      // keep the mergeSchema inference
      val dataSchema = snap.schema.getOrElse(
        TxLog.scan(spark, snap, snap.files).schema)
      HadoopFsRelation(
        location = new TxLogFileIndex(dir, snap.metas,
          pinned = asOf.isDefined),
        partitionSchema = new StructType(),
        dataSchema = dataSchema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map("mergeSchema" -> "true"))(spark)
    }
  }

  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode._
    val dir = TxLogDataSource.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txlog writer requires a path: df.write.format(\"txlog\").save(dir)")))
    val exists = TxLog.currentVersion(dir) >= 0
    val partCols = parameters.get("partitionBy").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val statsCols = parameters.get("statsBy").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    require(partCols.isEmpty || statsCols.isEmpty,
      "partitionBy and statsBy are mutually exclusive per write")
    def appendLike(): Unit =
      if (partCols.nonEmpty)
        TxLog.appendPartitioned(data.sparkSession, data, dir, partCols): Unit
      else if (statsCols.nonEmpty)
        TxLog.appendWithStats(data.sparkSession, data, dir, statsCols): Unit
      else if (exists) TxLog.append(data, dir): Unit
      else TxLog.create(data, dir): Unit
    mode match {
      case Append => appendLike()
      case Overwrite =>
        require(partCols.isEmpty && statsCols.isEmpty,
          "partitionBy/statsBy writes are append-shaped; Overwrite " +
            "replaces the whole live set")
        TxLog.replace(data, dir): Unit
      case ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"txlog table already exists at $dir (SaveMode.ErrorIfExists)")
        appendLike()
      case Ignore => if (!exists) appendLike()
    }
    createRelation(sqlContext, parameters - "partitionBy" - "statsBy")
  }
}

/** The offset/admission logic of both txlog stream sources, mixed into
  * the DSv1 [[TxLogStreamSource]] (the path API) and the DSv2
  * [[TxLogMicroBatchStream]] (the catalog / `readStream.table` API):
  * one implementation, two connector generations (VERDICT r11 #2).
  * Offsets are log versions.
  *
  * ADMISSION CONTROL follows the KafkaSource pattern: a DSv1 Source may
  * implement the connector-level SupportsAdmissionControl /
  * SupportsTriggerAvailableNow interfaces — MicroBatchExecution
  * dispatches on the INTERFACE, not the source generation, so the
  * engine passes the checkpointed start offset and the read limit into
  * [[latestOffset]] and drives Trigger.AvailableNow through
  * [[prepareForTriggerAvailableNow]]. AvailableNow +
  * maxVersionsPerTrigger therefore DRAINS the whole backlog in capped
  * batches, and the engine-provided start offset makes a capped offer
  * below the checkpoint structurally impossible. */
private[graft] trait TxLogOffsets extends org.apache.spark.sql.connector
    .read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  protected def dir: String
  protected def startingVersion: Int
  protected def maxVersionsPerTrigger: Option[Int]

  /** Drain target snapshotted by [[prepareForTriggerAvailableNow]]:
    * Trigger.AvailableNow stops at the table state observed at query
    * start, even while new commits land. MaxValue = no snapshot
    * (processing-time / one-shot triggers). */
  @volatile private var availableNowTarget: Int = Int.MaxValue

  protected def versionOf(o: Offset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => other.json().trim.toInt
  }

  override def initialOffset(): Offset =
    LongOffset((startingVersion - 1).toLong)

  override def deserializeOffset(json: String): Offset =
    LongOffset(json.trim.toLong)

  /** The declared per-trigger limit: versions map onto
    * [[ReadLimit.maxFiles]] (a txlog version IS a file batch — the
    * same grain Delta's maxFilesPerTrigger caps). */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(math.max(n, 1)))
      .getOrElse(ReadLimit.allAvailable())

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = TxLog.currentVersion(dir)
  }

  /** True latest (uncapped) for engine metrics/backlog reporting. */
  override def reportLatestOffset(): Offset = {
    val v = TxLog.currentVersion(dir)
    if (v < math.max(startingVersion, 0)) null else LongOffset(v.toLong)
  }

  /** The next batch's end offset: at most `limit` versions past the
    * engine-provided `start` (which IS the checkpointed offset on a
    * restart — no below-checkpoint offer is possible), clamped to the
    * AvailableNow drain target when one is snapshotted. Returning
    * `start` unchanged means "no new data". */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // a FRESH stream has no checkpointed offset — the engine passes
    // null, not initialOffset() (the KafkaSource contract)
    val base = if (start == null) startingVersion - 1 else versionOf(start)
    TxLogOffsets.nextOffset(dir, base, limit, availableNowTarget) match {
      case Some(v) => LongOffset(v.toLong)
      case None => start
    }
  }
}

private[graft] object TxLogOffsets {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  /** Highest version in (base, hi] BEFORE the first UNDECIDED
    * multi-table transaction: offering an undecided version would make
    * the consumer read it as empty and move past it — when the
    * transaction later publishes, those rows would be permanently
    * skipped (review r11 #2). The stream waits below it instead; an
    * operator decides a dead transaction with [[TxLog.abortTx]]. */
  private def decidedThrough(dir: String, base: Int, hi: Int): Int = {
    var v = base + 1
    while (v <= hi && !TxLog.versionUndecided(dir, v)) v += 1
    v - 1
  }

  /** The next end offset past `base` under `limit`, clamped to the
    * AvailableNow drain target; None = no new data. The undecided scan
    * is clamped to the read-limit cap FIRST: versions beyond it cannot
    * be offered this trigger anyway, and scanning the whole backlog
    * per trigger is O(backlog²/cap) file IO over a capped drain
    * (review r11 #2.7). */
  def nextOffset(dir: String, base: Int, limit: ReadLimit,
      availableNowTarget: Int): Option[Int] = {
    val avail = math.min(TxLog.currentVersion(dir), availableNowTarget)
    val scanHi = limit match {
      case f: ReadMaxFiles =>
        math.min(avail, base + math.max(f.maxFiles(), 1))
      case _ => avail
    }
    val cur = decidedThrough(dir, base, scanHi)
    if (cur <= base) None else Some(cur)
  }

  /** The files ADDED by versions (from, to], each version's entry read
    * once, with the append-only guard: a version that deletes rows
    * fails the stream unless `ignoreChanges` opted into re-emission
    * (Delta's semantics). */
  def addedFiles(dir: String, from: Int, to: Int,
      ignoreChanges: Boolean): Seq[String] =
    (from + 1 to to).flatMap { v =>
      val (adds, deletes) = try TxLog.streamedChange(dir, v) catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"streaming read needs raw log entries, but version $v of " +
              s"$dir was truncated below a checkpoint — start the stream " +
              "at a retained version (startingVersion)")
      }
      if (!ignoreChanges && deletes)
        throw new IllegalStateException(
          s"version $v of $dir deletes rows (OPTIMIZE/DELETE/UPDATE/DV); " +
            "streaming reads are append-only — set ignoreChanges=true " +
            "to re-emit rewritten rows")
      adds
    }
}

object TxLogDataSource {
  /** Unwrap a possibly URI-qualified local path (see createRelation). */
  private[sources] def localPath(raw: String): String = {
    val uri = new org.apache.hadoop.fs.Path(raw).toUri
    Option(uri.getScheme) match {
      case None | Some("file") => uri.getPath
      case Some(s) => throw new IllegalArgumentException(
        s"txlog source reads local tables only, got scheme '$s'")
    }
  }

  /** `timestampAsOf` accepts epoch millis or a local timestamp string. */
  private[graft] def parseInstant(ts: String): Long =
    ts.trim.toLongOption.getOrElse(
      java.sql.Timestamp.valueOf(ts.trim).getTime)
}

/** The table's commit log as a streaming [[Source]]: offset = highest
  * committed version ([[TxLogOffsets]]); `getBatch((a, b])` reads
  * exactly the files the versions a+1..b ADDED (one parquet scan over
  * that file list under the declared schema). Versions are immutable
  * once committed, so replays after a checkpoint recovery return
  * identical batches — the exactly-once
  * property falls out of the log protocol. Raw entries must be
  * retained for the streamed range: history truncated below a
  * checkpoint refuses with the version number rather than silently
  * skipping it. */
class TxLogStreamSource(sqlContext: SQLContext, protected val dir: String,
    declaredSchema: StructType, protected val startingVersion: Int,
    ignoreChanges: Boolean, readChangeFeed: Boolean = false,
    protected val maxVersionsPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with TxLogOffsets {
  import org.apache.spark.sql.execution.streaming.Offset

  override def schema: StructType = declaredSchema

  /** The bare v1 offer path: never called, because the engine tests for
    * `SupportsAdmissionControl` before `Source` and calls [[latestOffset]]
    * (KafkaSource refuses it the same way). */
  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "TxLogStreamSource supports admission control; use latestOffset")

  override def getBatch(start: Option[Offset], end: Offset)
      : org.apache.spark.sql.DataFrame = {
    val from = start.map(versionOf).getOrElse(startingVersion - 1)
    val to = versionOf(end)
    // a RENAME/DROP COLUMN landing mid-stream (after createSource's
    // guard passed) would silently null-backfill renamed columns in
    // later batches — fail the stream instead, like Delta
    require(!TxLog.resolve(dir, Some(to)).mapping.active,
      s"stream of $dir hit a RENAME/DROP COLUMN at or before version " +
        s"$to — restart consumers against the new schema in batch mode")
    val spark = sqlContext.sparkSession
    // CDF mode: the batch IS the change feed of the version interval —
    // deletes are first-class rows, so the append-only guard and
    // ignoreChanges do not apply here
    if (readChangeFeed) {
      val batch =
        if (from + 1 > to)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            declaredSchema)
        else TxLog.changeFeed(spark, dir, math.max(from + 1, 0), to)
          .select(declaredSchema.fieldNames
            .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      return org.apache.spark.sql.GraftSqlBridge.streamingFrame(spark, batch)
    }
    val added = TxLogOffsets.addedFiles(dir, from, to, ignoreChanges)
    // the declared schema IS the union schema (evolution is
    // add-nullable-only): an explicit-schema read null-fills absent
    // columns per file without mergeSchema's per-batch footer-merge
    // Spark job. The files in range predate any RENAME/DROP COLUMN (the
    // guard above), so they store the declared names.
    val batch =
      if (added.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declaredSchema)
      else spark.read.schema(declaredSchema)
        .parquet(added.map(f => s"$dir/$f"): _*)
    // the engine asserts getBatch frames carry isStreaming=true
    org.apache.spark.sql.GraftSqlBridge.streamingFrame(spark, batch)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Exactly-once streaming sink over the transaction log: one
  * [[TxLog.appendIdempotent]] commit per micro-batch, keyed
  * `(appId, batchId)`. The incoming frame is streaming-tagged and
  * already planned — [[org.apache.spark.sql.GraftSqlBridge.sinkBatchFrame]]
  * re-wraps its physical rows as a batch frame so the staging write
  * runs WITHOUT re-executing the source (re-analysis of a streaming
  * plan inside addBatch is the classic DSv1 sink bug). A batch whose
  * txn marker is already in the log returns -1 from the append and is
  * dropped here — that replay is the normal checkpoint-recovery path,
  * not an error. */
class TxLogSink(dir: String, appId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
      data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.GraftSqlBridge.sinkBatchFrame(spark, data)
    TxLog.appendIdempotent(batch, dir, appId, batchId): Unit
  }
  override def toString: String = s"TxLogSink[$dir]"
}

/** Plan-time pruning accounting (the [[BlobShardIO]] pattern): in
  * local-mode tests the spec reads back how many files the last txlog
  * scan kept vs held — the ground truth behind the "zone maps prune
  * THROUGH the connector" pin. */
object TxLogSourceIO {
  val lastKept = new java.util.concurrent.atomic.AtomicInteger(0)
  val lastTotal = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** The snapshot's live files as a [[FileIndex]], with `listFiles`
  * keeping the files [[FilePrune]] cannot rule out against the scan's
  * data filters — Delta's `TahoeFileIndex` shape. The snapshot is
  * FROZEN at construction (file list and recorded metadata), so a
  * concurrent commit cannot tear this scan. */
class TxLogFileIndex private[graft] (val dir: String,
    files: Seq[(String, FilePrune.FileMeta)], val pinned: Boolean = false)
    extends FileIndex {

  private val statuses: Seq[(String, FileStatus)] = files.map { case (f, _) =>
    val file = new File(dir, f)
    f -> new FileStatus(file.length(), false, 1, 64 << 20,
      file.lastModified(), new Path(file.toURI))
  }

  override def rootPaths: Seq[Path] = Seq(new Path(new File(dir).toURI))
  override def partitionSchema: StructType = new StructType()
  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = FilePrune.surviving(files, dataFilters).toSet
    val kept = statuses.filter { case (name, _) => keep(name) }
    TxLogSourceIO.lastKept.set(kept.size)
    TxLogSourceIO.lastTotal.set(statuses.size)
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._2).toArray))
  }
}

/** `option("history", "true")`: the table's commit history as a
  * relation — the reader-API form of `DESCRIBE HISTORY`. Log-grain
  * metadata (one row per resolvable version), so a plain TableScan is
  * the honest plan at any table size. */
class TxLogHistoryRelation(override val sqlContext: SQLContext,
    dir: String) extends BaseRelation
    with org.apache.spark.sql.sources.TableScan {
  override def schema: StructType = new StructType()
    .add("version", org.apache.spark.sql.types.LongType, nullable = false)
    .add("instant_ms", org.apache.spark.sql.types.LongType, nullable = false)
    .add("n_adds", org.apache.spark.sql.types.LongType, nullable = false)
    .add("n_removes", org.apache.spark.sql.types.LongType, nullable = false)
    .add("n_dv", org.apache.spark.sql.types.LongType, nullable = false)
  override def buildScan(): RDD[Row] =
    sqlContext.sparkContext.parallelize(
      TxLog.history(dir).map { case (v, ts, a, r, dv) =>
        Row(v.toLong, ts, a.toLong, r.toLong, dv.toLong)
      }, 1)
}

/** The change data feed as a relation (`option("readChangeFeed",
  * "true")`): wraps [[TxLog.changeFeed]] behind a pruned row scan, the
  * same execution shape as [[TxLogRelation]] — filters re-evaluated
  * by Spark, column pruning honored (a consumer reading only keys +
  * `_change_type` never materializes the wide columns). */
class TxLogCdfRelation(override val sqlContext: SQLContext, dir: String,
    from: Int, to: Int) extends BaseRelation with PrunedFilteredScan {

  private def spark: SparkSession = sqlContext.sparkSession
  // ONE feed build serves schema + scan: changeFeed replays log state
  // for the whole range, and building it twice doubled that driver IO
  // (ADVICE r10)
  private lazy val feed = TxLog.changeFeed(spark, dir, from, to)
  override lazy val schema: StructType = feed.schema
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val df = feed
    val pruned =
      if (requiredColumns.isEmpty) df
      else df.select(requiredColumns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    pruned.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

/** The merge-on-read relation: wraps [[TxLog.scan]] (parquet scan
  * anti-joined against the deletion-vector frame, physical names
  * projected back to logical). It serves two readers:
  *   - the path connector's fallback for DV-bearing, emptied or
  *     COLUMN-MAPPED snapshots, as a [[PrunedFilteredScan]];
  *   - the catalog's V1 scan ([[TxLogV1ScanBuilder]]), as a [[TableScan]]
  *     over the pushed columns (`schema`) and filters `pushed`.
  * Filters do double duty: they prune FILES through [[FilePrune]] and
  * re-apply on the wrapped frame so Catalyst pushes them into the parquet
  * scan. Spark still re-evaluates every row above (the DSv1 contract), so
  * a filter that does not convert keeps every file and costs only the
  * skipped pushdown, never correctness. [[TxLogSourceIO]] records
  * kept/total. */
class TxLogRelation private[graft] (override val sqlContext: SQLContext,
    val dir: String, val asOf: Option[Int], override val schema: StructType,
    val pinned: Boolean = false, pushed: Array[Filter] = Array.empty)
    extends BaseRelation with PrunedFilteredScan with TableScan {
  import org.apache.spark.sql.functions.{col, lit}

  private def spark: SparkSession = sqlContext.sparkSession

  // rows come straight out of the wrapped plan's execution — already
  // InternalRow, no Row re-conversion
  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] = buildScan(schema.fieldNames, pushed)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // ONE snapshot serves the prune decision and the read: a commit
    // landing between them would intersect a stale kept-list with a new
    // live set (review r12 #1: a concurrent OPTIMIZE made a matching
    // scan return 0 rows)
    val snap = TxLog.resolve(dir, asOf)
    val preds = filters.flatMap(f =>
      scala.util.Try(f -> TxLogFilterColumns.toColumn(f)).toOption)
    val kept = FilePrune.surviving(snap.metas,
      preds.toSeq.map(p => GraftSqlBridge.exprOf(p._2)),
      schema.fields.map(f => f.name -> f.dataType).toMap)
    TxLogSourceIO.lastKept.set(kept.size)
    TxLogSourceIO.lastTotal.set(snap.files.size)
    val base = TxLog.scan(spark, snap, kept)
    // the recorded union schema can name a column NO live file carries
    // anymore (the last file holding it was deleted whole, without a
    // rewrite) — such filters stay with Spark, and the column reads as
    // null instead of failing the scan (review r11 #2.6, Delta's behavior)
    val have = base.columns.toSet
    val filtered = preds.collect {
      case (f, c) if f.references.forall(have) => c
    }.foldLeft(base)(_ filter _)
    // an empty projection (count(*)) keeps one narrow column
    val cols = if (requiredColumns.isEmpty) schema.fieldNames.take(1)
      else requiredColumns
    filtered.select(cols.toIndexedSeq.map { c =>
      if (have(c)) col(c) else lit(null).cast(schema(c).dataType).as(c)
    }: _*).queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
