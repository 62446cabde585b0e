package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.TxLog

/** The transaction-log behaviors the oracle gate (q374/q375) cannot
  * see: optimistic-concurrency (exactly one winner per version), crash
  * atomicity (staged-but-uncommitted data is invisible), time-travel
  * bounds, and vacuum retention. */
class TxLogSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def freshTable(): String = {
    val t = java.nio.file.Files.createTempDirectory("txlog_").toString
    TxLog.drop(t)
    TxLog.create((0L until 100L).map(i => (i, i % 5)).toDF("id", "grp"), t)
    t
  }

  test("concurrent commits of the same version: exactly one wins") {
    val t = freshTable()
    val v = TxLog.currentVersion(t)
    val a1 = TxLog.stage(Seq((100L, 0L)).toDF("id", "grp"), t)
    val a2 = TxLog.stage(Seq((101L, 1L)).toDF("id", "grp"), t)
    TxLog.commit(t, v, a1, Seq.empty)
    intercept[java.util.ConcurrentModificationException] {
      TxLog.commit(t, v, a2, Seq.empty)
    }
    // the loser's data never became visible
    val ids = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids.contains(100L) && !ids.contains(101L))
  }

  test("a genuinely concurrent commit race (two threads, one barrier): " +
      "exactly one winner, the loser's rows never visible, log intact") {
    val t = freshTable()
    val v = TxLog.currentVersion(t)
    val a1 = TxLog.stage(Seq((200L, 0L)).toDF("id", "grp"), t)
    val a2 = TxLog.stage(Seq((201L, 1L)).toDF("id", "grp"), t)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    val threads = Seq(a1, a2).map { adds =>
      new Thread(() => {
        barrier.await()
        try results.add(Right(TxLog.commit(t, v, adds, Seq.empty)))
        catch { case e: Throwable => results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rs = results.toArray(Array.empty[Either[Throwable, Int]])
    assert(rs.count(_.isRight) == 1 && rs.count(_.isLeft) == 1,
      s"expected exactly one winner, got $rs")
    assert(rs.collectFirst { case Left(e) => e }.get
      .isInstanceOf[java.util.ConcurrentModificationException])
    val ids = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(Seq(200L, 201L).count(ids) == 1,
      "exactly one racer's rows must be visible")
    assert(TxLog.currentVersion(t) == v + 1)
  }

  test("appendChecked: a violating batch is rejected atomically — no " +
      "version advance, no visible rows; a clean batch commits") {
    val t = freshTable()
    val v = TxLog.currentVersion(t)
    intercept[IllegalArgumentException] {
      TxLog.appendChecked(Seq((300L, -1L)).toDF("id", "grp"), t,
        col("grp") >= 0)
    }
    assert(TxLog.currentVersion(t) == v, "rejected batch advanced the log")
    assert(TxLog.read(spark, t).filter(col("id") === 300L).count() == 0)
    TxLog.appendChecked(Seq((301L, 4L)).toDF("id", "grp"), t, col("grp") >= 0)
    assert(TxLog.read(spark, t).filter(col("id") === 301L).count() == 1)
  }

  test("crash atomicity: staged files without a commit are invisible " +
      "and a reader never lists the data directory") {
    val t = freshTable()
    val before = TxLog.read(spark, t).count()
    TxLog.stage(Seq((999L, 9L)).toDF("id", "grp"), t) // writer 'crashes' here
    assert(TxLog.read(spark, t).count() == before,
      "staged-but-uncommitted rows leaked into the snapshot")
    assert(TxLog.currentVersion(t) == 0)
  }

  test("time travel reads every version; out-of-range versions refuse") {
    val t = freshTable()
    TxLog.append(Seq((100L, 0L)).toDF("id", "grp"), t)
    TxLog.deleteWhere(spark, t, col("grp") === 0)
    assert(TxLog.read(spark, t, Some(0)).count() == 100)
    assert(TxLog.read(spark, t, Some(1)).count() == 101)
    assert(TxLog.read(spark, t, Some(2)).count() == 80) // 21 grp-0 rows gone
    intercept[IllegalArgumentException] { TxLog.snapshot(t, Some(3)) }
    intercept[IllegalArgumentException] { TxLog.snapshot(t, Some(-1)) }
  }

  test("deleteWhere is copy-on-write: untouched files stay referenced, " +
      "affected ones are replaced; a no-match delete commits nothing") {
    val t = freshTable()
    val v1 = TxLog.deleteWhere(spark, t, col("id") < 0) // matches nothing
    assert(v1 == 0, "no-op delete must not advance the version")
    TxLog.deleteWhere(spark, t, col("grp") === 2)
    val live = TxLog.read(spark, t)
    assert(live.count() == 80 &&
      live.filter(col("grp") === 2).count() == 0)
  }

  test("a copy-on-write rewrite commits no zero-row file: a deleteWhere " +
      "that removes every row of its affected files commits no add line, " +
      "and task 0's empty file beside real survivors is left out") {
    def table(): (String, String, String) = {
      val t = java.nio.file.Files.createTempDirectory("txlog_").toString
      TxLog.drop(t)
      // one file each; the bigger one is the rewrite scan's partition 0
      TxLog.create((0L until 200L).map(i => (i, i % 5)).toDF("id", "grp")
        .coalesce(1), t)
      TxLog.append((200L until 210L).map(i => (i, 9L)).toDF("id", "grp")
        .coalesce(1), t)
      val Seq(big, small) = TxLog.snapshot(t)
      (t, big, small)
    }
    val (t, big, _) = table()
    val v = TxLog.deleteWhere(spark, t, col("id") < 200)
    assert(TxLog.changes(t, v) == (Seq.empty, Seq(big)))
    assert(TxLog.read(spark, t).count() == 10)
    val (t2, _, _) = table()
    val v2 = TxLog.deleteWhere(spark, t2, col("id") < 200 || col("id") === 205)
    val (adds, removes) = TxLog.changes(t2, v2)
    assert(removes.size == 2)
    val rows = adds.map(f => spark.read.parquet(s"$t2/$f").count())
    assert(rows == Seq(9L), s"committed survivor files' row counts: $rows")
    assert(TxLog.read(spark, t2).count() == 9)
    TxLog.drop(t); TxLog.drop(t2)
  }

  test("deletion vectors: deletes commit positions not rewrites, union " +
      "across versions, and OPTIMIZE materializes (purges) them") {
    val t = freshTable()
    val files0 = TxLog.snapshot(t).toSet
    TxLog.deleteWhereDV(spark, t, col("grp") === 0) // v1: 20 rows
    TxLog.deleteWhereDV(spark, t, col("id") < 10)   // v2: 8 more (2 overlap)
    assert(TxLog.snapshot(t).toSet == files0, "DV delete rewrote files")
    assert(TxLog.read(spark, t, Some(0)).count() == 100)
    assert(TxLog.read(spark, t, Some(1)).count() == 80)
    assert(TxLog.read(spark, t, Some(2)).count() == 72)
    // a second identical delete is a no-op (already-deleted positions
    // are excluded when computing new vectors)
    assert(TxLog.deleteWhereDV(spark, t, col("grp") === 0) == 2)
    // OPTIMIZE rewrites live rows only and clears the vectors
    TxLog.optimize(spark, t)
    assert(TxLog.deletionVectors(spark, t).isEmpty,
      "optimize left vectors behind")
    assert(!TxLog.resolve(t).dv.nonEmpty)
    assert(TxLog.read(spark, t).count() == 72)
    // copy-on-write delete composed on top must not resurrect DV'd rows
    val t2 = freshTable()
    TxLog.deleteWhereDV(spark, t2, col("id") === 1)
    TxLog.deleteWhere(spark, t2, col("grp") === 2)
    val ids = TxLog.read(spark, t2).select("id").as[Long].collect().toSet
    assert(!ids.contains(1L) && ids.size == 79,
      "COW rewrite resurrected a DV-deleted row")
  }

  test("shallow clone: zero data files copied, source DVs carry over, " +
      "and clone writes never touch the source") {
    val t = freshTable()
    TxLog.deleteWhereDV(spark, t, col("grp") === 0) // 20 rows masked
    val c = java.nio.file.Files.createTempDirectory("txclone_").toString
    TxLog.drop(c)
    TxLog.shallowClone(t, c)
    // zero-copy: the clone dir holds a log and nothing else
    assert(!new java.io.File(c).listFiles().exists(
      _.getName.endsWith(".parquet")), "clone copied data files")
    // the source's deletion vectors apply in the clone
    assert(TxLog.read(spark, c).count() == 80)
    // divergence: a COW delete in the clone un-shares; source unchanged
    TxLog.deleteWhere(spark, c, col("grp") === 1)
    assert(TxLog.read(spark, c).count() == 60)
    assert(TxLog.read(spark, t).count() == 80, "clone write leaked to source")
    assert(TxLog.snapshot(t) == TxLog.snapshot(t, Some(TxLog.currentVersion(t))))
  }

  test("vacuum drops files only live OUTSIDE the retention window; " +
      "retained versions keep reading") {
    val t = freshTable()
    TxLog.deleteWhere(spark, t, col("grp") === 0) // v1 rewrites everything
    val oldFiles = TxLog.snapshot(t, Some(0)).toSet
    val victims = TxLog.vacuum(t, retainAfter = 1, minAgeMs = 0).toSet
    assert(victims == oldFiles -- TxLog.snapshot(t, Some(1)).toSet,
      "vacuum must drop exactly the files no retained version references")
    assert(TxLog.read(spark, t, Some(1)).count() == 80) // current still reads
    victims.foreach(f =>
      assert(!new java.io.File(t, f).exists(), s"victim $f still on disk"))
  }

  test("vacuum over retired versions: a version truncated below a " +
      "checkpoint protects nothing; a checkpoint between retired " +
      "stretches still protects its files") {
    val t = freshTable() // v0
    def replaceWith(lo: Long) =
      TxLog.replace((lo until lo + 10L).map(i => (i, i % 5)).toDF("id", "grp"), t)
    replaceWith(100L); TxLog.checkpoint(t, Some(1)) // v1, checkpointed
    replaceWith(200L)                               // v2
    replaceWith(300L); TxLog.checkpoint(t, Some(3)) // v3, checkpointed
    replaceWith(400L)                               // v4
    val files = (0 to 4).map(v => TxLog.snapshot(t, Some(v)).toSet)
    // retire v0 and v2: their raw entries go, v1 and v3 keep reading
    // from their checkpoints
    Seq(0, 2).foreach(v => java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")))
    val victims = TxLog.vacuum(t, retainAfter = 0, minAgeMs = 0).toSet
    assert(victims == files(0) ++ files(2),
      "exactly the retired versions' files go")
    Seq(1, 3, 4).foreach(v => assert(
      TxLog.read(spark, t, Some(v)).count() == 10L, s"v$v must still read"))
    TxLog.drop(t)
  }

  test("vacuum never deletes young unreferenced files — the mtime guard " +
      "that protects a concurrent writer's staged-but-uncommitted data") {
    val t = freshTable()
    TxLog.deleteWhere(spark, t, col("grp") === 0) // v0 files now unreferenced
    // default 7-day horizon: every file in this test is seconds old
    assert(TxLog.vacuum(t, retainAfter = 1).isEmpty,
      "mtime guard must protect just-written files")
    assert(TxLog.read(spark, t, Some(0)).count() == 100)
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics) — " +
      "consistent with deleteWhereDV's filter(pred) match set") {
    val t = java.nio.file.Files.createTempDirectory("txlog_null_").toString
    TxLog.drop(t)
    TxLog.create(Seq((1L, Some(1L)), (2L, None), (3L, Some(3L)))
      .toDF("id", "v"), t)
    TxLog.deleteWhere(spark, t, col("v") === 1L) // NULL = 1 is NULL, not TRUE
    val ids = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == Set(2L, 3L), s"NULL-predicate row must survive: $ids")
  }

  test("a table emptied by delete stays readable as an empty frame " +
      "with the schema recovered from the removed files") {
    val t = freshTable()
    TxLog.deleteWhere(spark, t, lit(true))
    val df = TxLog.read(spark, t)
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("id", "grp"))
  }

  test("checkpointed replay: auto-checkpoint at the interval, identical " +
      "state, reads survive truncating the raw log below the checkpoint") {
    val t = freshTable() // v0
    (1 to 9).foreach { i => // v1..v9
      TxLog.append(Seq(((1000 + i).toLong, (i % 5).toLong)).toDF("id", "grp"), t)
    }
    TxLog.deleteWhere(spark, t, col("id") === 1001L) // v10 → auto-checkpoint
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(t, "_log", f"${10}%08d.checkpoint")),
      "every CheckpointInterval-th commit must write a checkpoint")
    val cntBefore = TxLog.read(spark, t).count()
    val grp0 = TxLog.read(spark, t).filter(col("grp") === 0).count()
    TxLog.deleteWhereDV(spark, t, col("grp") === 0) // v11, replays from ckpt
    assert(TxLog.read(spark, t).count() == cntBefore - grp0)
    // truncate every raw entry below the checkpoint: current state must
    // come entirely from checkpoint + v11 (pre-checkpoint TIME TRAVEL is
    // what truncation retires — the Delta log-cleanup contract)
    (0 to 9).foreach(i => java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_log", f"$i%08d.txt")))
    assert(TxLog.currentVersion(t) == 11)
    assert(TxLog.read(spark, t).count() == cntBefore - grp0)
    assert(TxLog.read(spark, t, Some(10)).count() == cntBefore)
  }

  test("txn replay detection and stats add-lines survive checkpointing " +
      "and raw-log truncation") {
    val t = freshTable() // v0
    TxLog.appendIdempotent(
      Seq((500L, 0L)).toDF("id", "grp"), t, "app", 7L) // v1
    TxLog.appendWithStats(spark,
      (600L until 700L).toDF("id").withColumn("grp", lit(9L))
        .repartitionByRange(4, col("id")), t, "id") // v2: 4 ranged files
    def idStats = TxLog.resolve(t).metas.flatMap { case (f, m) =>
      m.zm.get("id").map(f -> _) }.toMap
    val statsBefore = idStats
    assert(statsBefore.size == 4
      && statsBefore.values.map(_._1).min == 600L
      && statsBefore.values.map(_._2).max == 699L)
    TxLog.checkpoint(t) // explicit checkpoint at v2
    (0 to 1).foreach(i => java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_log", f"$i%08d.txt")))
    assert(idStats == statsBefore,
      "stats add-lines must ride the checkpoint verbatim")
    assert(TxLog.appendIdempotent(
      Seq((501L, 0L)).toDF("id", "grp"), t, "app", 7L) == -1,
      "replay detection must survive log truncation")
    val (kept, total) = TxLog.pruneSnapshot(t, "id", 650L, 660L)
    assert(kept.size < total, "zone-map pruning must work from the checkpoint")
  }

  test("timestamp time travel: versionAt resolves the newest version " +
      "at or before the instant; boundaries and pre-history refuse") {
    val t = freshTable() // v0
    TxLog.append(Seq((500L, 0L)).toDF("id", "grp"), t) // v1
    TxLog.append(Seq((501L, 1L)).toDF("id", "grp"), t) // v2
    // pin deterministic commit instants (rewrites the entry ts lines)
    Seq(0 -> 1000L, 1 -> 2000L, 2 -> 3000L).foreach { case (v, ts) =>
      TxLog.setCommitInstant(t, v, ts)
    }
    assert(TxLog.versionAt(t, 1000L) == 0) // exact boundary is inclusive
    assert(TxLog.versionAt(t, 2500L) == 1)
    assert(TxLog.versionAt(t, 9999L) == 2)
    assert(TxLog.readAt(spark, t, 2500L).count() == 101)
    intercept[IllegalArgumentException](TxLog.versionAt(t, 500L))
    // instants live in log CONTENT (ADVICE r9): resetting every file
    // mtime to "now" — what a metadata-losing copy/rsync does — must
    // not re-date history
    val now = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis())
    java.nio.file.Files.list(java.nio.file.Paths.get(t, "_log")).forEach(
      p => java.nio.file.Files.setLastModifiedTime(p, now): Unit)
    assert(TxLog.versionAt(t, 2500L) == 1,
      "timestamp travel must survive file-metadata loss")
  }

  test("history lists versions newest-first with add/remove/dv counts; " +
      "truncated versions show as retired") {
    val t = freshTable() // v0
    TxLog.append(Seq((500L, 0L)).toDF("id", "grp"), t) // v1
    TxLog.deleteWhereDV(spark, t, col("id") === 500L) // v2: dvf line
    val h = TxLog.history(t)
    assert(h.map(_._1) == Seq(2, 1, 0))
    val byV = h.map(x => x._1 -> x).toMap
    assert(byV(1)._3 == 1 && byV(1)._4 == 0) // one add, no removes
    assert(byV(2)._5 >= 1) // the DV commit carries dv/dvf lines
    // retire v0/v1 behind an explicit checkpoint: counts become -1
    TxLog.checkpoint(t)
    (0 to 1).foreach(i => java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_log", f"$i%08d.txt")))
    val h2 = TxLog.history(t)
    assert(h2.map(_._1) == Seq(2))
    assert(h2.head._3 >= 0, "v2 still has raw entries")
  }

  test("OPTIMIZE ZORDER: clusterBy rewrites along the Morton curve and " +
      "the add lines carry BOTH columns' bounds — pruneSnapshot skips " +
      "on either dimension") {
    val t = java.nio.file.Files.createTempDirectory("txlog_z_").toString
    TxLog.drop(t)
    // 64x64 grid committed in ROW-MAJOR slabs: before z-order, every
    // file spans the full y range, so a y predicate prunes nothing
    val grid = spark.range(4096L).select(
      (col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    TxLog.create(grid.repartitionByRange(8, col("x")), t)
    TxLog.optimize(spark, t, nFiles = 8, clusterBy = Seq("x", "y"))
    val metas = TxLog.resolve(t).metas.map(_._2)
    val statsX = metas.flatMap(_.zm.get("x"))
    val statsY = metas.flatMap(_.zm.get("y"))
    assert(statsX.size == 8 && statsY.size == 8,
      s"both cluster columns need bounds on all 8 files: " +
        s"${statsX.size}/${statsY.size}")
    // a quarter-range predicate ideally keeps 4 of 8 curve segments;
    // allow ONE file of slack — range-exchange boundaries are SAMPLED
    // with JVM-state-dependent seeds (same rule as q406: never pin
    // exact post-zorder file counts)
    val (keptX, totalX) = TxLog.pruneSnapshot(t, "x", 0L, 15L)
    val (keptY, totalY) = TxLog.pruneSnapshot(t, "y", 0L, 15L)
    assert(totalX == 8 && keptX.size <= 5,
      s"x-range prune should skip most files, kept ${keptX.size}/8")
    assert(totalY == 8 && keptY.size <= 5,
      s"y-range prune should skip most files post-ZORDER, " +
        s"kept ${keptY.size}/8")
    // rows are bit-identical across the rewrite
    assert(TxLog.read(spark, t).count() == 4096L)
    assert(TxLog.read(spark, t).agg(sum(col("x") * 100 + col("y")))
      .head().getLong(0) ==
      TxLog.read(spark, t, Some(0)).agg(sum(col("x") * 100 + col("y")))
        .head().getLong(0))
    TxLog.drop(t)
  }

  test("partitioned append: add lines carry partition values, " +
      "prunePartitions/readWhere serve from log metadata alone, and " +
      "statless files survive pruning conservatively") {
    val t = java.nio.file.Files.createTempDirectory("txlog_p_").toString
    TxLog.drop(t)
    val rows = spark.range(300L).select(col("id"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"))
    TxLog.create(rows.filter(col("id") < 10), t) // v0: NO partition values
    // coalesce(1): ONE upstream task → exactly one file per grp value
    // (dynamic partition writers emit a file per task × value)
    TxLog.appendPartitioned(spark,
      rows.filter(col("id") >= 10).coalesce(1), t, Seq("grp")) // v1
    val pv = TxLog.resolve(t).metas.map(_._2.pv)
    assert(pv.count(_.nonEmpty) == 3,
      s"expected 3 partition-valued files, got $pv")
    assert(pv.filter(_.nonEmpty).map(_("grp")).toSet ==
      Set("g0", "g1", "g2"))
    val (kept, total) = TxLog.prunePartitions(t, Map("grp" -> "g1"))
    // g1's file + the statless v0 file (conservative), never g0/g2
    assert(total == 4 && kept.size == 2, s"kept $kept of $total")
    val read = TxLog.readWhere(spark, t, Map("grp" -> "g1"))
    // 97 appended g1 rows (ids ≡1 mod 3 in [10,300)) + 3 matching rows
    // of the conservatively-kept statless v0 file (ids 1, 4, 7)
    assert(read.count() == 100L,
      "readWhere returns exactly the matching rows")
    // the partition columns are IN the data files (Iceberg's choice)
    assert(read.columns.contains("grp"))
    // partition-pruned read composes with deletion vectors (id 10 is g1)
    TxLog.deleteWhereDV(spark, t, col("id") >= 10 && col("id") < 13)
    assert(TxLog.readWhere(spark, t, Map("grp" -> "g1"))
      .filter(col("id") >= 10).count() == 96L)
    TxLog.drop(t)
  }

  test("partition values with path-hostile characters round-trip " +
      "through staging dirs and log lines") {
    val t = java.nio.file.Files.createTempDirectory("txlog_esc_").toString
    TxLog.drop(t)
    TxLog.create(spark.range(1L).select(col("id"),
      lit("plain").as("k")), t)
    TxLog.appendPartitioned(spark,
      spark.range(2L).select(col("id"),
        concat(lit("a=b%c "), col("id").cast("string")).as("k")),
      t, Seq("k"))
    val vals = TxLog.resolve(t).metas.map(_._2.pv).filter(_.nonEmpty)
      .map(_("k")).toSet
    assert(vals == Set("a=b%c 0", "a=b%c 1"), s"got $vals")
    assert(TxLog.readWhere(spark, t, Map("k" -> "a=b%c 1")).count() == 1L)
    TxLog.drop(t)
  }

  test("deleteWhereDV at bulk scale: 150k-row table, 30k matches — " +
      "positions land in a parquet sidecar built distributed, the log " +
      "line stays file-grain metadata, reads apply both generations") {
    val t = java.nio.file.Files.createTempDirectory("txlog_big_").toString
    TxLog.drop(t)
    TxLog.create(
      spark.range(150000L).select(col("id"), (col("id") % 5).as("grp")), t)
    val v = TxLog.deleteWhereDV(spark, t, col("grp") === 2) // 30k positions
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")), "UTF-8")
    assert(log.linesIterator.forall(l =>
      l.startsWith("dvf\t") || l.startsWith("ts\t")),
      s"expected only sidecar references (+ the commit instant): " +
        s"${log.take(200)}")
    assert(log.length < 4096,
      s"log entry must be file-grain metadata, got ${log.length} bytes")
    assert(TxLog.resolve(t).dv.nonEmpty)
    assert(TxLog.read(spark, t).count() == 120000L)
    // a second DV generation unions with the first at read time
    TxLog.deleteWhereDV(spark, t, col("grp") === 3)
    assert(TxLog.read(spark, t).count() == 90000L)
    TxLog.drop(t)
  }

  test("change feed: inserts from adds, deletes from DVs and removes, " +
      "COW rewrites show delete+insert pairs, OPTIMIZE emits nothing") {
    val t = java.nio.file.Files.createTempDirectory("txcdf_").toString
    TxLog.drop(t)
    val rows = (0L until 100L).map(i => (i, i % 5)).toDF("id", "grp")
    TxLog.create(rows.filter(col("id") < 50).coalesce(1), t)   // v0
    TxLog.append(rows.filter(col("id") >= 50).coalesce(1), t)  // v1
    TxLog.deleteWhereDV(spark, t, col("id") % 10 === 0)        // v2: 10 DV
    TxLog.optimize(spark, t, nFiles = 1)                       // v3: nodc
    TxLog.deleteWhere(spark, t, col("grp") === 2)              // v4: COW

    def feed(a: Int, b: Int) = TxLog.changeFeed(spark, t, a, b)
    val byVt = feed(0, 4).groupBy("_commit_version", "_change_type")
      .count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byVt((0L, "insert")) == 50L)
    assert(byVt((1L, "insert")) == 50L)
    assert(byVt((2L, "delete")) == 10L, "the DV'd positions themselves")
    assert(!byVt.keys.exists(_._1 == 3L), "OPTIMIZE is not a data change")
    // v4 rewrote the single compacted file: deletes = its 90 live rows
    // (the 10 DV-dead ones do not die twice), inserts = the survivors
    assert(byVt((4L, "delete")) == 90L)
    assert(byVt((4L, "insert")) == 90L - rows
      .filter(col("grp") === 2 && col("id") % 10 =!= 0).count())
    // the v2 deletes are exactly the multiples of 10
    val v2ids = feed(2, 2).select("id").collect().map(_.getLong(0)).sorted
    assert(v2ids.toSeq == (0L until 100L by 10L).toSeq)
    // range narrowing: a feed of only v1 sees only its insert
    assert(feed(1, 1).agg(count(lit(1))).head().getLong(0) == 50L)

    // NET-EFFECT replay: applying the feed (deletes before inserts,
    // per version) from an empty state reproduces the table exactly
    val net = feed(0, 4).collect().groupBy(_.getLong(3)).toSeq
      .sortBy(_._1).foldLeft(Set.empty[Long]) { case (acc, (_, rs)) =>
        val dels = rs.filter(_.getString(2) == "delete").map(_.getLong(0)).toSet
        val ins = rs.filter(_.getString(2) == "insert").map(_.getLong(0)).toSet
        (acc -- dels) ++ ins
      }
    val live = TxLog.read(spark, t).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(net == live, "feed replay must reproduce the live table")

    // truncated history refuses instead of silently skipping
    TxLog.checkpoint(t)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_log", f"${0}%08d.txt"))
    val ex = intercept[IllegalStateException] { feed(0, 4).count() }
    assert(ex.getMessage.contains("truncated"), ex.getMessage)
    TxLog.drop(t)
  }

  test("restore: live set, deletion vectors, and schema snap back as a " +
      "new commit; history stays; the change feed nets correctly; " +
      "vacuumed targets refuse") {
    val t = java.nio.file.Files.createTempDirectory("txrestore_").toString
    TxLog.drop(t)
    val rows = (0L until 60L).map(i => (i, i % 6)).toDF("id", "grp")
    TxLog.create(rows.filter(col("id") < 30).coalesce(1), t)  // v0
    TxLog.append(rows.filter(col("id") >= 30).coalesce(1), t) // v1
    TxLog.deleteWhereDV(spark, t, col("grp") === 2)           // v2: 10 dead
    TxLog.replace(rows.filter(col("id") < 5).coalesce(1), t)  // v3: 5 rows
    assert(TxLog.read(spark, t).count() == 5L)
    // restore to the DV-bearing version: vectors come back too
    val rv = TxLog.restore(t, 2)
    assert(rv == 4)
    assert(TxLog.read(spark, t).count() == 50L)
    assert(TxLog.read(spark, t).filter(col("grp") === 2).count() == 0L,
      "the target's deletion vectors must snap back with the files")
    // the bad version is still time-travelable (history preserved)
    assert(TxLog.read(spark, t, Some(3)).count() == 5L)
    // restore is a data change: CDF at the restore version nets to the
    // restored state from the pre-restore state
    val feed = TxLog.changeFeed(spark, t, 4, 4)
    assert(feed.filter(col("_change_type") === "delete").count() == 5L)
    assert(feed.filter(col("_change_type") === "insert").count() == 50L,
      "inserts are the restored files MINUS their same-commit vectors")
    // restore to v0 then back to latest-1 round-trips
    TxLog.restore(t, 0)
    assert(TxLog.read(spark, t).count() == 30L)
    // vacuum everything older than current; restore to v3 now refuses
    TxLog.vacuum(t, retainAfter = TxLog.currentVersion(t), minAgeMs = 0)
    val ex = intercept[IllegalArgumentException] { TxLog.restore(t, 3) }
    assert(ex.getMessage.contains("vacuumed"), ex.getMessage)
    TxLog.drop(t)
  }

  test("in-log schema: recorded on create, unioned on evolving appends, " +
      "snapped exact on replace, and serves an emptied+vacuumed table " +
      "the footer walk cannot") {
    val t = java.nio.file.Files.createTempDirectory("txschema_").toString
    TxLog.drop(t)
    TxLog.create(Seq((1L, "a")).toDF("id", "name"), t)
    assert(TxLog.resolve(t).schema.get.fieldNames.toSeq == Seq("id", "name"))
    TxLog.append(Seq((2L, "b", 3.5)).toDF("id", "name", "score"), t)
    assert(TxLog.resolve(t).schema.get.fieldNames.toSeq ==
      Seq("id", "name", "score"), "append unions new columns")
    // time travel sees the v0 schema
    assert(TxLog.resolve(t, Some(0)).schema.get.fieldNames.toSeq ==
      Seq("id", "name"))
    // empty the table, vacuum EVERYTHING — the removed-file walk is dead
    TxLog.deleteWhere(spark, t, lit(true))
    TxLog.vacuum(t, retainAfter = TxLog.currentVersion(t), minAgeMs = 0)
    val empty = TxLog.read(spark, t)
    assert(empty.count() == 0L)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "name", "score"),
      "the recorded schema serves where footers cannot")
    // replace snaps the schema EXACTLY — replaced-away columns go
    TxLog.replace(Seq(9L).toDF("id"), t)
    assert(TxLog.resolve(t).schema.get.fieldNames.toSeq == Seq("id"))
    // and the schema line survives checkpoint truncation
    val ck = TxLog.checkpoint(t)
    (0 until ck).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")))
    assert(TxLog.resolve(t).schema.get.fieldNames.toSeq == Seq("id"))
    TxLog.drop(t)
  }

  test("string zone maps: appendWithStats writes escaped s: markers, " +
      "bounds round-trip through hostile characters and checkpoints") {
    val t = java.nio.file.Files.createTempDirectory("txstr_").toString
    TxLog.drop(t)
    // \r is the sneaky one: fileLines reads entries with linesIterator,
    // which splits on CR too — an unescaped CR truncated the marker
    // into a still-parseable prefix bound that wrongly pruned files
    // (ADVICE r10)
    val hostile = Seq("a\tb", "m=n", "z%z", "line\nbreak", "cr\rxx")
    TxLog.appendWithStats(spark,
      hostile.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "name").coalesce(1), t, Seq("name", "id"))
    val st = TxLog.resolve(t).metas
    assert(st.size == 1)
    val (lo, hi) = st.head._2.sm("name")
    assert(lo == hostile.min && hi == hostile.max,
      s"binary bounds must round-trip verbatim, got [$lo, $hi]")
    // the long stats coexist on the same add line
    assert(TxLog.resolve(t).metas.head._2.zm("id") == ((0L, 4L)))
    // EMPTY-STRING bounds must survive too: a trailing empty segment is
    // dropped by plain split, silently losing the marker (ADVICE r10)
    val t2 = java.nio.file.Files.createTempDirectory("txstr2_").toString
    TxLog.drop(t2)
    TxLog.appendWithStats(spark,
      Seq((1L, "")).toDF("id", "name").coalesce(1), t2, Seq("name"))
    assert(TxLog.resolve(t2).metas.head._2.sm("name") == (("", "")))
    TxLog.drop(t2)
    // survives checkpoint serialize/apply (add lines carried verbatim)
    TxLog.append(Seq((9L, "mm")).toDF("id", "name"), t)
    TxLog.checkpoint(t)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(t, "_log", f"${0}%08d.txt"))
    assert(TxLog.resolve(t).metas.exists(_._2.sm.get("name")
      .contains((hostile.min, hostile.max))))
    TxLog.drop(t)
  }

  test("log-resident CHECK constraints: validated on add, enforced by " +
      "every writer, droppable, NULL-rejecting, checkpoint-carried") {
    val t = java.nio.file.Files.createTempDirectory("txcons_").toString
    TxLog.drop(t)
    TxLog.create((1L to 50L).map(i => (i, i % 5)).toDF("id", "grp"), t)
    // add-time validation: existing rows violate
    intercept[IllegalArgumentException] {
      TxLog.addConstraint(spark, t, "impossible", "id > 100")
    }
    TxLog.addConstraint(spark, t, "pos_id", "id > 0")
    assert(TxLog.resolve(t).layout.constraints.toMap == Map("pos_id" -> "id > 0"))
    val vBefore = TxLog.currentVersion(t)
    // every writer path rejects a violating batch atomically
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((-1L, 0L)).toDF("id", "grp"), t)
    }
    intercept[IllegalArgumentException] {
      TxLog.appendPartitioned(spark, Seq((-2L, 1L)).toDF("id", "grp"), t,
        Seq("grp"))
    }
    intercept[IllegalArgumentException] {
      TxLog.upsert(spark, t, Seq((-3L, 2L)).toDF("id", "grp"), "id")
    }
    intercept[IllegalArgumentException] { // NULL evaluates UNKNOWN → reject
      TxLog.append(Seq((Option.empty[Long], Option(0L)))
        .toDF("id", "grp"), t)
    }
    assert(TxLog.currentVersion(t) == vBefore,
      "rejected batches must commit nothing")
    assert(TxLog.read(spark, t).count() == 50L)
    // valid batches pass every writer
    TxLog.append(Seq((51L, 1L)).toDF("id", "grp"), t)
    TxLog.upsert(spark, t, Seq((52L, 2L)).toDF("id", "grp"), "id")
    assert(TxLog.read(spark, t).count() == 52L)
    // the constraint survives checkpointing + raw-log truncation
    val ck = TxLog.checkpoint(t)
    (0 until ck).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")))
    assert(TxLog.resolve(t).layout.constraints.toMap == Map("pos_id" -> "id > 0"))
    intercept[IllegalArgumentException] {
      TxLog.append(Seq((-4L, 0L)).toDF("id", "grp"), t)
    }
    // drop re-allows; a metadata-only commit
    TxLog.dropConstraint(t, "pos_id")
    assert(TxLog.resolve(t).layout.constraints.toMap.isEmpty)
    TxLog.append(Seq((-5L, 0L)).toDF("id", "grp"), t)
    assert(TxLog.read(spark, t).count() == 53L)
    TxLog.drop(t)
  }

  test("writers execute the incoming frame exactly ONCE under active " +
      "constraints — the check runs on the staged parquet, not the plan") {
    // ADVICE r10: validate-then-stage executed the frame twice, so a
    // nondeterministic source could pass validation yet stage
    // different (violating) rows, and stateful streaming plans ran
    // twice per batch. The accumulator counts plan executions.
    val t = java.nio.file.Files.createTempDirectory("txonce_").toString
    TxLog.drop(t)
    TxLog.create(Seq((100L, 0L)).toDF("id", "grp"), t)
    TxLog.addConstraint(spark, t, "pos_id", "id > 0")
    val acc = spark.sparkContext.longAccumulator("graft_exec_count")
    val tick = udf { (x: Long) => acc.add(1); x }
    val df = spark.range(1, 11)
      .select(tick(col("id")).as("id"), (col("id") % 5).as("grp"))
    TxLog.append(df, t)
    assert(acc.value == 10L,
      s"frame must execute exactly once (10 rows), ran ${acc.value / 10}x")
    assert(TxLog.read(spark, t).count() == 11L)
    // upsert's key probe reads the staged parquet too — still one run
    acc.reset()
    val up = spark.range(1, 6)
      .select(tick(col("id")).as("id"), (col("id") % 2).as("grp"))
    TxLog.upsert(spark, t, up, "id")
    assert(acc.value == 5L,
      s"upsert source must execute exactly once, ran ${acc.value / 5}x")
    assert(TxLog.read(spark, t).count() == 11L)
    TxLog.drop(t)
  }

  test("multi-table transaction: one publish flips ALL tables at once; " +
      "inside the crash window NO reader sees any change; checkpoints " +
      "refuse over the pending window") {
    val root = java.nio.file.Files.createTempDirectory("txmulti_").toString
    val (fact, dim) = (s"$root/fact", s"$root/dim")
    TxLog.create((1L to 100L).map(i => (i, i % 7)).toDF("id", "dk"), fact)
    TxLog.create((0L to 6L).map(i => (i, s"d$i")).toDF("dk", "name"), dim)
    // stage both tables' new data, then CLAIM without publishing — the
    // exact window a writer crash leaves behind
    val stagedF = TxLog.stage(
      (101L to 150L).map(i => (i, i % 7 + 10)).toDF("id", "dk"), fact)
    val stagedD = TxLog.stage(
      (10L to 16L).map(i => (i, s"d$i")).toDF("dk", "name"), dim)
    val parts = Seq(fact -> stagedF.map(f => s"add\t$f"),
      dim -> stagedD.map(f => s"add\t$f"))
    val (txName, _) = TxLog.claimOnly(s"$root/_txn", parts)
    // window: both tables still read the OLD state — the new files are
    // staged and the version entries exist, but resolve to nothing
    assert(TxLog.read(spark, fact).count() == 100L)
    assert(TxLog.read(spark, dim).count() == 7L)
    // a checkpoint over the pending window is refused (it would bake
    // the pre-publish view in permanently)
    intercept[IllegalArgumentException] { TxLog.checkpoint(fact) }
    // PUBLISH — the single atomic commit point for both tables
    TxLog.publishTx(s"$root/_txn", txName, parts)
    assert(TxLog.read(spark, fact).count() == 150L)
    assert(TxLog.read(spark, dim).count() == 14L)
    assert(TxLog.changes(fact, TxLog.currentVersion(fact))._1 == stagedF,
      "changes() resolves through the xref indirection")
    // checkpoints work again and carry the resolved state
    val ck = TxLog.checkpoint(fact)
    (0 to ck - 1).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(fact, "_log", f"$v%08d.txt")))
    assert(TxLog.read(spark, fact).count() == 150L)

    // a CRASHED transaction (claimed, never decided) keeps reads put
    // and blocks checkpoints until an operator DECIDES it — abortTx
    // writes the empty tx file, one atomic create deciding ALL tables
    val (ghostTx, _) = TxLog.claimOnly(s"$root/_txn",
      Seq(fact -> Seq("add\tghost.parquet"), dim -> Seq("add\tghost2.parquet")))
    assert(TxLog.read(spark, fact).count() == 150L)
    assert(TxLog.read(spark, dim).count() == 14L)
    intercept[IllegalArgumentException] { TxLog.checkpoint(fact) }
    assert(TxLog.abortTx(s"$root/_txn", ghostTx))
    assert(!TxLog.abortTx(s"$root/_txn", ghostTx), "already decided")
    // publish after abort REFUSES — the decision is final
    intercept[java.util.ConcurrentModificationException] {
      TxLog.publishTx(s"$root/_txn", ghostTx,
        Seq(fact -> Seq("add\tghost.parquet")))
    }
    TxLog.checkpoint(fact) // unblocked; the aborted version is a no-op
    assert(TxLog.read(spark, fact).count() == 150L)
    TxLog.append(Seq((999L, 0L)).toDF("id", "dk"), fact)
    assert(TxLog.read(spark, fact).count() == 151L)
    TxLog.drop(root)
  }

  test("multi-table transaction: a failed claim rolls back every " +
      "already-claimed table — nothing publishes, slots free again") {
    val root = java.nio.file.Files.createTempDirectory("txmfail_").toString
    val (a, broken) = (s"$root/a", s"$root/broken")
    TxLog.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), a)
    // make the second table's claim fail deterministically: its _log
    // path is a FILE, so the version claim cannot be created
    new java.io.File(broken).mkdirs()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(broken, "_log"))
    val vBefore = TxLog.currentVersion(a)
    intercept[Throwable] {
      TxLog.commitAllLines(s"$root/_txn",
        Seq(a -> Seq("add\tx.parquet"), broken -> Seq("add\ty.parquet")))
    }
    // the rollback ABORTS the transaction (empty tx file): the claimed
    // entry stays as a harmless no-op version — deleting it would
    // leave a mid-range numbering hole if another writer had already
    // claimed a later slot, and replay crashes on holes
    assert(TxLog.currentVersion(a) == vBefore + 1,
      "the claimed slot becomes an aborted no-op version")
    assert(TxLog.read(spark, a).count() == 10L, "no rows landed")
    TxLog.checkpoint(a) // aborted ≠ undecided: checkpoints are fine
    // normal commits proceed on the next slot
    TxLog.append(Seq((11L, 11L)).toDF("id", "v"), a)
    assert(TxLog.currentVersion(a) == vBefore + 2)
    assert(TxLog.read(spark, a).count() == 11L)
    TxLog.drop(root)
  }

  test("concurrent blind appends COMMUTE: a lost claim race retries at " +
      "the next slot instead of failing; both writers' rows land") {
    val t = freshTable()
    val v0 = TxLog.currentVersion(t)
    // deterministic lost race: between the appender's version read and
    // its claim, a competing commit takes the slot
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => () // fire once
      TxLog.append(Seq((500L, 0L)).toDF("id", "grp"), t): Unit
    }
    try TxLog.append(Seq((600L, 1L)).toDF("id", "grp"), t)
    finally TxLog.appendRaceHook = () => ()
    assert(TxLog.currentVersion(t) == v0 + 2,
      "both appends must commit, sequential versions")
    val ids = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids.contains(500L) && ids.contains(600L),
      "no append lost in the race")
    // genuinely concurrent: two threads, one barrier — both succeed
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(700L, 701L).map { id =>
      new Thread(() => {
        barrier.await()
        try TxLog.append(Seq((id, 0L)).toDF("id", "grp"), t): Unit
        catch { case e: Throwable => errs.add(e): Unit }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"blind appends must never conflict: $errs")
    val after = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(after.contains(700L) && after.contains(701L))
    TxLog.drop(t)
  }

  test("a RETRYING appender still honors a constraint the race winner " +
      "added: its staged rows were unreferenced when the winner " +
      "validated existing data") {
    val t = freshTable() // ids 0..99
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => ()
      // the competing commit is a METADATA change: a constraint the
      // retrying appender's staged rows violate
      TxLog.addConstraint(spark, t, "small_ids", "id < 1000"): Unit
    }
    val ex =
      try intercept[IllegalArgumentException] {
        TxLog.append(Seq((5000L, 0L)).toDF("id", "grp"), t)
      } finally TxLog.appendRaceHook = () => ()
    assert(ex.getMessage.contains("CHECK constraint"), ex.getMessage)
    assert(!TxLog.read(spark, t).select("id").as[Long].collect()
      .contains(5000L), "the violating retry must not have committed")
    TxLog.drop(t)
  }

  test("a duplicate txn-marked epoch that loses the race to its own " +
      "replica is detected and dropped — never committed twice") {
    val t = freshTable()
    val before = TxLog.read(spark, t).count()
    // deterministic replica race: between this driver's version read
    // and its claim, the REPLICA commits the same (app, epoch)
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => ()
      TxLog.appendIdempotent(Seq((900L, 0L)).toDF("id", "grp"),
        t, "appA", 7L): Unit
    }
    val r =
      try TxLog.appendIdempotent(Seq((900L, 0L)).toDF("id", "grp"),
        t, "appA", 7L)
      finally TxLog.appendRaceHook = () => ()
    assert(r == -1, "the loser must report the replay code")
    assert(TxLog.read(spark, t).count() == before + 1,
      "the epoch's rows must land exactly once")
    TxLog.drop(t)
  }

  test("shallowClone refuses over an UNDECIDED multi-table " +
      "transaction — a clone would permanently omit its rows") {
    val root = java.nio.file.Files.createTempDirectory("txclone_").toString
    val t = s"$root/t"
    TxLog.create((1L to 5L).map(i => (i, i)).toDF("id", "v"), t)
    val staged = TxLog.stage(
      (6L to 9L).map(i => (i, i)).toDF("id", "v"), t)
    val parts = Seq(t -> staged.map(f => s"add\t$f"))
    val (txName, _) = TxLog.claimOnly(s"$root/_txn", parts)
    val ex = intercept[IllegalArgumentException] {
      TxLog.shallowClone(t, s"$root/c")
    }
    assert(ex.getMessage.contains("decided"), ex.getMessage)
    TxLog.publishTx(s"$root/_txn", txName, parts)
    TxLog.shallowClone(t, s"$root/c")
    assert(TxLog.read(spark, s"$root/c").count() == 9L,
      "a post-decision clone carries the full published state")
    TxLog.drop(root)
  }

  test("a publish failure AFTER all claims auto-aborts the transaction: " +
      "nothing stays undecided, checkpoints/streams/vacuum unblocked") {
    val root = java.nio.file.Files.createTempDirectory("txpubfail_").toString
    val (a, b) = (s"$root/a", s"$root/b")
    TxLog.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), a)
    TxLog.create((1L to 4L).map(i => (i, i)).toDF("id", "v"), b)
    TxLog.failNextPublish.set(true)
    intercept[java.io.IOException] {
      TxLog.appendAll(s"$root/_txn", Seq(
        (11L to 20L).map(i => (i, i)).toDF("id", "v") -> a,
        (5L to 8L).map(i => (i, i)).toDF("id", "v") -> b))
    }
    // pre-fix this window left BOTH tables UNDECIDED (ADVICE r11 #1):
    // checkpoints refused and every streaming consumer stalled until a
    // manual abortTx. Now the failed publish aborts atomically — the
    // claimed slots are decided no-op versions.
    Seq(a, b).foreach { t =>
      assert(TxLog.currentVersion(t) == 1,
        "the claimed slot survives as an aborted no-op version")
      TxLog.checkpoint(t) // undecided would refuse
    }
    assert(TxLog.read(spark, a).count() == 10L)
    assert(TxLog.read(spark, b).count() == 4L)
    // the NEXT transaction proceeds normally on fresh slots
    TxLog.appendAll(s"$root/_txn", Seq(
      (11L to 20L).map(i => (i, i)).toDF("id", "v") -> a,
      (5L to 8L).map(i => (i, i)).toDF("id", "v") -> b))
    assert(TxLog.read(spark, a).count() == 20L)
    assert(TxLog.read(spark, b).count() == 8L)
    TxLog.drop(root)
  }

  test("a table CREATED by a transaction that aborts (or dies before " +
      "publish) still resolves its schema: reads return a typed empty " +
      "frame, not 'schema unrecoverable'") {
    val root = java.nio.file.Files.createTempDirectory("txcreateab_").toString
    val t = s"$root/newt"
    TxLog.failNextPublish.set(true)
    intercept[java.io.IOException] {
      TxLog.appendAll(s"$root/_txn", Seq(
        (1L to 5L).map(i => (i, s"n$i")).toDF("id", "name") -> t))
    }
    // the schema line rides in the RAW claim entry (ADVICE r11 #3), so
    // the aborted creation leaves exactly createEmpty's shape: version
    // 0 exists, reads are empty but fully typed
    assert(TxLog.currentVersion(t) == 0)
    val df = TxLog.read(spark, t)
    assert(df.count() == 0L)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
    // and data lands normally afterwards
    TxLog.append((1L to 5L).map(i => (i, s"n$i")).toDF("id", "name"), t)
    assert(TxLog.read(spark, t).count() == 5L)
    TxLog.drop(root)
  }

  test("vacuum refuses while a multi-table transaction is UNDECIDED: " +
      "its staged files are not yet protected by any resolved state, " +
      "and a zero-age vacuum would delete data the publish references") {
    val root = java.nio.file.Files.createTempDirectory("txvacund_").toString
    val t = s"$root/t"
    TxLog.create((1L to 10L).map(i => (i, i)).toDF("id", "v"), t)
    val staged = TxLog.stage(
      (11L to 20L).map(i => (i, i)).toDF("id", "v"), t)
    val parts = Seq(t -> staged.map(f => s"add\t$f"))
    val (txName, _) = TxLog.claimOnly(s"$root/_txn", parts)
    val ex = intercept[IllegalArgumentException] {
      TxLog.vacuum(t, retainAfter = TxLog.currentVersion(t), minAgeMs = 0)
    }
    assert(ex.getMessage.contains("decided"), ex.getMessage)
    // deciding the transaction (publish here) unblocks vacuum, and the
    // published files are protected like any live file
    TxLog.publishTx(s"$root/_txn", txName, parts)
    TxLog.vacuum(t, retainAfter = TxLog.currentVersion(t), minAgeMs = 0)
    assert(TxLog.read(spark, t).count() == 20L,
      "post-decision vacuum must not touch the transaction's files")
    TxLog.drop(root)
  }

  test("a streaming consumer never reads past an UNDECIDED multi-table " +
      "transaction: the offer stalls below it, publish releases the " +
      "full version content") {
    val root = java.nio.file.Files.createTempDirectory("txstream_").toString
    val (t, other) = (s"$root/t", s"$root/other")
    TxLog.create(spark.range(5L).selectExpr("id"), t)
    TxLog.create(spark.range(3L).selectExpr("id"), other)
    val stagedT = TxLog.stage(
      spark.range(100L, 110L).selectExpr("id"), t)
    val stagedO = TxLog.stage(
      spark.range(200L, 202L).selectExpr("id"), other)
    val parts = Seq(t -> stagedT.map(f => s"add\t$f"),
      other -> stagedO.map(f => s"add\t$f"))
    val (txName, _) = TxLog.claimOnly(s"$root/_txn", parts)
    // drain inside the claim window: the stream must stop BEFORE the
    // undecided version, not consume it as empty
    val ckpt = java.nio.file.Files.createTempDirectory("txstr_ck_").toString
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    def drain(): Unit = {
      val q = spark.readStream.format("txlog").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          rows.addAndGet(b.count()): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(rows.get() == 5L, s"only v0 flows pre-publish, got ${rows.get()}")
    TxLog.publishTx(s"$root/_txn", txName, parts)
    drain()
    assert(rows.get() == 15L,
      s"the published transaction's rows arrive in full, got ${rows.get()}")
    TxLog.drop(root)
  }

  test("vacuumTxn discovers participants from the tx-file header: a " +
      "caller cannot reclaim a file another table still references") {
    val root = java.nio.file.Files.createTempDirectory("txvhdr_").toString
    val (a, b) = (s"$root/a", s"$root/b")
    val txRoot = s"$root/_txn"
    TxLog.appendAll(txRoot, Seq(
      (1L to 5L).map(i => (i, i)).toDF("id", "v") -> a,
      (1L to 3L).map(i => (i, i)).toDF("id", "v") -> b))
    // truncate ONLY a's raw entries (checkpoint first); b still
    // references the tx file — header discovery protects it even
    // though the caller names no tables at all
    TxLog.append(Seq((9L, 9L)).toDF("id", "v"), a)
    val ck = TxLog.checkpoint(a)
    (0 until ck).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(a, "_log", f"$v%08d.txt")))
    assert(TxLog.vacuumTxn(txRoot, minAgeMs = 0).isEmpty,
      "b's surviving raw entry must protect the tx file")
    assert(TxLog.read(spark, b).count() == 3L)
    // truncate b's too → the header-discovered scan finds no
    // referencers → reclaimed
    TxLog.append(Seq((9L, 9L)).toDF("id", "v"), b)
    val ckb = TxLog.checkpoint(b)
    (0 until ckb).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(b, "_log", f"$v%08d.txt")))
    assert(TxLog.vacuumTxn(txRoot, minAgeMs = 0).size == 1)
    assert(TxLog.read(spark, a).count() == 6L)
    assert(TxLog.read(spark, b).count() == 4L)
    TxLog.drop(root)
  }

  test("appendAll keeps a schema widening that lands while its batch " +
      "stages: the blind claim builds on the newest schema") {
    val root = java.nio.file.Files.createTempDirectory("txall_race_").toString
    val t = s"$root/t"
    TxLog.create(Seq((1L, 1L)).toDF("id", "grp"), t)
    // between the version read and the claim, another writer's append
    // adds a column; the batch adds one of its own, so it records a
    // schema line
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => ()
      TxLog.append(Seq((2L, 2L, "x")).toDF("id", "grp", "tag"), t): Unit
    }
    try TxLog.appendAll(s"$root/_txn",
      Seq(Seq((3L, 3L, 0.5)).toDF("id", "grp", "score") -> t))
    finally TxLog.appendRaceHook = () => ()
    assert(TxLog.resolve(t).schema.get.fieldNames.toSeq ==
      Seq("id", "grp", "tag", "score"),
      "the racing append's column must survive")
    assert(TxLog.read(spark, t).count() == 3L)
    TxLog.drop(root)
  }

  test("appendAll / replaceAll: the fact+dims load and the FK-safe " +
      "reset both land as one cross-table instant") {
    val root = java.nio.file.Files.createTempDirectory("txall_").toString
    val (f, d) = (s"$root/f", s"$root/d")
    // appendAll CREATES both tables atomically (schema recorded)
    TxLog.appendAll(s"$root/_txn", Seq(
      (1L to 50L).map(i => (i, i % 5)).toDF("id", "dk") -> f,
      (0L to 4L).map(i => (i, s"d$i")).toDF("dk", "name") -> d))
    assert(TxLog.read(spark, f).count() == 50L)
    assert(TxLog.read(spark, d).count() == 5L)
    assert(TxLog.resolve(f).schema.get.fieldNames.toSeq == Seq("id", "dk"))
    // replaceAll swaps both live sets in one instant; the old states
    // stay time-travelable per table
    TxLog.replaceAll(s"$root/_txn", Seq(
      (1L to 20L).map(i => (i, i % 3)).toDF("id", "dk") -> f,
      (0L to 2L).map(i => (i, s"e$i")).toDF("dk", "name") -> d))
    assert(TxLog.read(spark, f).count() == 20L)
    assert(TxLog.read(spark, d).count() == 3L)
    assert(TxLog.read(spark, f, Some(0)).count() == 50L)
    assert(TxLog.read(spark, d, Some(0)).count() == 5L)
    TxLog.drop(root)
  }

  test("vacuumTxn reclaims transaction files only after every " +
      "referencing raw entry is truncated; young and referenced files " +
      "survive") {
    val root = java.nio.file.Files.createTempDirectory("txvactx_").toString
    val (a, b) = (s"$root/a", s"$root/b")
    val txRoot = s"$root/_txn"
    TxLog.appendAll(txRoot, Seq(
      (1L to 10L).map(i => (i, i)).toDF("id", "v") -> a,
      (1L to 5L).map(i => (i, i)).toDF("id", "v") -> b))
    val txFiles = Option(new java.io.File(txRoot).listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("tx-"))
    assert(txFiles.length == 1)
    // still referenced by both tables' raw entries → survives even old
    assert(TxLog.vacuumTxn(txRoot, Seq(a, b), minAgeMs = 0).isEmpty)
    assert(TxLog.read(spark, a).count() == 10L)
    // checkpoint both tables and truncate the raw entries below —
    // the resolved state lives in the checkpoints now
    Seq(a, b).foreach { t =>
      TxLog.append(Seq((99L, 99L)).toDF("id", "v"), t)
      val ck = TxLog.checkpoint(t)
      (0 until ck).foreach(v => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")))
    }
    // mtime guard first: young files survive with the default age
    assert(TxLog.vacuumTxn(txRoot, Seq(a, b)).isEmpty)
    // unreferenced + old → reclaimed; reads keep working off checkpoints
    assert(TxLog.vacuumTxn(txRoot, Seq(a, b), minAgeMs = 0)
      == txFiles.toSeq)
    assert(TxLog.read(spark, a).count() == 11L)
    assert(TxLog.read(spark, b).count() == 6L)
    TxLog.drop(root)
  }

  test("vacuumTxn: claim-race abort files carry the participants " +
      "header and reclaim like published ones; bare operator aborts " +
      "are headerless and kept forever") {
    val root = java.nio.file.Files.createTempDirectory("txvabort_").toString
    val (a, broken) = (s"$root/a", s"$root/broken")
    val txRoot = s"$root/_txn"
    TxLog.create((1L to 5L).map(i => (i, i)).toDF("id", "v"), a)
    new java.io.File(broken).mkdirs()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(broken, "_log"))
    // claim-race abort (second table's claim fails) → header-carrying
    // abort file referenced by a's no-op version
    intercept[Throwable] {
      TxLog.commitAllLines(txRoot,
        Seq(a -> Seq("add\tx.parquet"), broken -> Seq("add\ty.parquet")))
    }
    assert(TxLog.vacuumTxn(txRoot, minAgeMs = 0).isEmpty,
      "a's raw xref entry still references the abort file")
    // truncate a's raw entries below a checkpoint → reclaimable via
    // the header alone (broken has no log to scan)
    TxLog.append(Seq((9L, 9L)).toDF("id", "v"), a)
    val ck = TxLog.checkpoint(a)
    (0 until ck).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(a, "_log", f"$v%08d.txt")))
    assert(TxLog.vacuumTxn(txRoot, minAgeMs = 0).size == 1,
      "header-carrying abort files reclaim once unreferenced")
    // a bare operator abort (participants unknown) stays forever —
    // reclaiming on a guess could flip an unscanned table's version
    // back to UNDECIDED
    val (tx2, _) = TxLog.claimOnly(txRoot, Seq(a -> Seq("add\tz.parquet")))
    TxLog.abortTx(txRoot, tx2)
    TxLog.append(Seq((10L, 10L)).toDF("id", "v"), a)
    val ck2 = TxLog.checkpoint(a)
    (0 until ck2).foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(a, "_log", f"$v%08d.txt")))
    assert(TxLog.vacuumTxn(txRoot, Seq(a), minAgeMs = 0).isEmpty,
      "headerless abort files are never reclaimed")
    assert(TxLog.read(spark, a).count() == 7L)
    TxLog.drop(root)
  }

  test("an EMPTY-STRING table property survives replay, checkpoints, " +
      "and clones (ADVICE r12: trailing-split loss)") {
    val t = freshTable()
    TxLog.alterProperties(t, Map("empty.prop" -> "", "k" -> "v"))
    assert(TxLog.resolve(t).properties ==
      Map("empty.prop" -> "", "k" -> "v"))
    TxLog.checkpoint(t)
    assert(TxLog.resolve(t).properties("empty.prop") == "",
      "checkpoint round-trip must keep the empty value")
    val c = java.nio.file.Files.createTempDirectory("txprop_clone_").toString
    TxLog.drop(c)
    TxLog.shallowClone(t, c)
    assert(TxLog.resolve(c).properties("empty.prop") == "")
    Seq(t, c).foreach(TxLog.drop)
  }

  test("evolveSchema refuses a NON-NULLABLE added column (ADVICE r12: " +
      "pre-evolution files would null-backfill a column the schema " +
      "declares non-null)") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    val prior = TxLog.resolve(t).schema.get
    val bad = StructType(prior.fields :+
      StructField("strict", LongType, nullable = false))
    val e = intercept[IllegalArgumentException] {
      TxLog.evolveSchema(t, bad)
    }
    assert(e.getMessage.contains("nullable"))
    // the nullable form still works
    TxLog.evolveSchema(t, StructType(prior.fields :+
      StructField("loose", LongType, nullable = true)))
    assert(TxLog.resolve(t).schema.get.fieldNames.contains("loose"))
    TxLog.drop(t)
  }

  test("an all-empty-partition streaming epoch claims NO version " +
      "(ADVICE r12: empty commits skew version counters)") {
    val t = freshTable()
    val v = TxLog.currentVersion(t)
    val r = TxLog.commitStagedIdempotent(spark, t, Seq.empty,
      TxLog.read(spark, t).schema, "appX", 7L)
    assert(r == -1 && TxLog.currentVersion(t) == v,
      "empty epoch must not burn a log version")
    // and a later NON-empty epoch with the same id still commits (the
    // skipped epoch recorded no marker)
    val staged = TxLog.stage(Seq((500L, 0L)).toDF("id", "grp"), t)
    val r2 = TxLog.commitStagedIdempotent(spark, t,
      staged.map(_ -> Map.empty[String, String]),
      TxLog.read(spark, t).schema, "appX", 7L)
    assert(r2 == v + 1)
    TxLog.drop(t)
  }

  test("change feed: a shallow clone's v0 inserts only the rows " +
      "surviving its carried-over deletion vectors") {
    val src = java.nio.file.Files.createTempDirectory("txcdf_src_").toString
    val dst = java.nio.file.Files.createTempDirectory("txcdf_dst_").toString
    Seq(src, dst).foreach(TxLog.drop)
    TxLog.create((0L until 40L).map(i => (i, i % 4)).toDF("id", "grp")
      .coalesce(1), src)
    TxLog.deleteWhereDV(spark, src, col("grp") === 1) // 10 dead
    TxLog.shallowClone(src, dst)
    val feed = TxLog.changeFeed(spark, dst, 0, 0)
    assert(feed.filter(col("_change_type") === "delete").count() == 0L,
      "carried vectors reduce the insert set; they are not new deletes")
    assert(feed.count() == 30L)
    assert(feed.filter(col("grp") === 1).count() == 0L)
    Seq(src, dst).foreach(TxLog.drop)
  }

  /** A declared-partitioned table: id/amt over grp ∈ g0,g1,g2. */
  private def freshPartitioned(n: Long = 90L): String = {
    val t = java.nio.file.Files.createTempDirectory("txlog_dml_p_").toString
    TxLog.drop(t)
    TxLog.createEmpty(t,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, grp STRING, amt BIGINT"),
      Map(TxLog.PartitionColsProp -> "grp"))
    TxLog.append(spark.range(n).select(col("id"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
      (col("id") * 10).as("amt")), t)
    t
  }

  private def logLines(t: String, v: Int): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt")), "UTF-8")
      .linesIterator.toSeq

  test("every rewriting writer keeps a declared-partitioned table's " +
      "files marked: DELETE/UPDATE survivors, upsert, OPTIMIZE") {
    val t = freshPartitioned()
    def allMarked(): Unit = {
      val bare = TxLog.resolve(t).metas.collect {
        case (f, m) if !m.pv.contains("grp") => f }
      assert(bare.isEmpty, s"unmarked live files after a rewrite: $bare")
    }
    allMarked()
    TxLog.deleteWhere(spark, t, col("id") % 7 === 0)   // non-partition pred
    allMarked()
    TxLog.updateWhere(spark, t, col("id") < 30,
      Seq("amt" -> lit(0L)))
    allMarked()
    TxLog.upsert(spark, t,
      Seq((1L, "g1", 999L), (900L, "g0", 1L)).toDF("id", "grp", "amt"),
      "id")
    allMarked()
    TxLog.optimize(spark, t, nFiles = 4)
    allMarked()
    // content stayed correct through all four rewrites
    val rows = TxLog.read(spark, t)
    assert(rows.filter(col("id") % 7 === 0 && col("id") =!= 900L &&
      col("id") =!= 1L).count() == 0L)
    assert(rows.filter(col("id") === 1L).select("amt")
      .as[Long].head() == 999L)
    // and pruning still fires exactly: g1 files only + nothing bare
    val (kept, total) = TxLog.prunePartitions(t, Map("grp" -> "g1"))
    assert(kept.size < total, s"pruning lost: kept ${kept.size}/$total")
    assert(TxLog.readWhere(spark, t, Map("grp" -> "g1")).count() ==
      rows.filter(col("grp") === "g1").count())
    TxLog.drop(t)
  }

  test("partition-aligned DELETE is metadata-only: the commit carries " +
      "remove lines, no rewrite, no scan-born adds — both CoW and DV") {
    val t = freshPartitioned()
    val before = TxLog.read(spark, t).count()
    val g1 = TxLog.read(spark, t).filter(col("grp") === "g1").count()
    val v = TxLog.deleteWhere(spark, t, col("grp") === "g1")
    val lines = logLines(t, v).filterNot(_.startsWith("ts\t"))
    assert(lines.nonEmpty && lines.forall(_.startsWith("remove\t")),
      s"expected a pure-remove commit, got $lines")
    assert(TxLog.read(spark, t).count() == before - g1)
    // the DV path takes the same shortcut (a full-file vector is just
    // a slower remove)
    val g2 = TxLog.read(spark, t).filter(col("grp") === "g2").count()
    val v2 = TxLog.deleteWhereDV(spark, t, col("grp") === "g2")
    val lines2 = logLines(t, v2).filterNot(_.startsWith("ts\t"))
    assert(lines2.nonEmpty && lines2.forall(_.startsWith("remove\t")),
      s"expected a pure-remove DV commit, got $lines2")
    assert(TxLog.read(spark, t).count() == before - g1 - g2)
    assert(TxLog.read(spark, t).filter(col("grp") =!= "g0").count() == 0L)
    // time travel still reads the pre-delete state
    assert(TxLog.read(spark, t, Some(v - 1)).count() == before)
    TxLog.drop(t)
  }

  test("a partition-predicate UPDATE touches only that partition's " +
      "files, and rewriting a partition column re-homes the rows") {
    val t = freshPartitioned()
    val pvBefore = TxLog.resolve(t).metas.toMap
    val v = TxLog.updateWhere(spark, t, col("grp") === "g1",
      Seq("amt" -> lit(-1L)))
    val removed = logLines(t, v).filter(_.startsWith("remove\t"))
      .map(_.split('\t')(1))
    assert(removed.nonEmpty &&
      removed.forall(f => pvBefore(f).pv.get("grp").contains("g1")),
      s"UPDATE rewrote files outside its partition: $removed")
    assert(TxLog.read(spark, t)
      .filter(col("grp") === "g1" && col("amt") =!= -1L).count() == 0L)
    // partition-column UPDATE: rows land in their new partition's files
    TxLog.updateWhere(spark, t, col("grp") === "g1",
      Seq("grp" -> lit("g9")))
    assert(TxLog.readWhere(spark, t, Map("grp" -> "g9"))
      .count() == 30L)
    val (kept, _) = TxLog.prunePartitions(t, Map("grp" -> "g1"))
    assert(kept.isEmpty, s"stale g1 markers survived the re-home: $kept")
    TxLog.drop(t)
  }

  test("OPTIMIZE on a declared-partitioned table compacts WITHIN " +
      "partitions; ZORDER keeps markers AND per-file cluster bounds") {
    val t = freshPartitioned(300L)
    TxLog.append(spark.range(300L, 600L).select(col("id"),
      concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
      (col("id") * 10).as("amt")), t)
    val before = TxLog.read(spark, t).count()
    TxLog.optimize(spark, t, nFiles = 3)
    assert(TxLog.resolve(t).metas.forall(_._2.pv.contains("grp")),
      "compaction demoted files to unprunable")
    assert(TxLog.read(spark, t).count() == before)
    // zorder on a partitioned table: one job, add lines carry BOTH
    // marker kinds — partition value + cluster-column zone bounds
    TxLog.optimize(spark, t, nFiles = 6, clusterBy = Seq("id", "amt"))
    val live = TxLog.resolve(t).metas.map(_._2)
    assert(live.forall(_.pv.contains("grp")),
      "zorder dropped partition markers")
    assert(live.forall(_.zm.contains("id")),
      "zorder dropped cluster bounds")
    assert(TxLog.read(spark, t).count() == before)
    // change feed skips both layout-only versions (nodc)
    assert(TxLog.changeFeed(spark, t,
      TxLog.currentVersion(t) - 1, TxLog.currentVersion(t)).count() == 0L)
    TxLog.drop(t)
  }

  test("the null/empty-string partition sentinel never prunes and " +
      "never proves: WHERE c = '' still finds real empty strings") {
    val t = java.nio.file.Files.createTempDirectory("txlog_sent_").toString
    TxLog.drop(t)
    TxLog.createEmpty(t,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, k STRING"),
      Map(TxLog.PartitionColsProp -> "k"))
    // one ambiguous partition: nulls AND empty strings share the
    // __HIVE_DEFAULT_PARTITION__ rendering in the dynamic writer
    TxLog.append(Seq((1L, ""), (2L, null), (3L, "x")).toDF("id", "k"), t)
    assert(TxLog.readWhere(spark, t, Map("k" -> ""))
      .filter(col("k") === "").count() == 1L,
      "empty-string rows were pruned away with the null sentinel")
    // a DELETE on k='' must NOT wholesale-drop the sentinel file (it
    // would take the null row with it) — the rewrite keeps id=2
    TxLog.deleteWhere(spark, t, col("k") === "")
    val left = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(left == Set(2L, 3L), s"sentinel file mishandled: $left")
    TxLog.drop(t)
  }

  test("declared stats columns (graft.stats.columns): every writer " +
      "records zone-map bounds — append, DML survivors, upsert, " +
      "OPTIMIZE — and scans prune on them") {
    val t = java.nio.file.Files.createTempDirectory("txlog_stats_").toString
    TxLog.drop(t)
    TxLog.createEmpty(t,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, grp STRING, amt BIGINT"),
      Map(TxLog.StatsColsProp -> "id"))
    def allMarked(tag: String): Unit = {
      val bare = TxLog.resolve(t).metas.collect {
        case (f, m) if !m.zm.contains("id") => f }
      assert(bare.isEmpty, s"$tag left statless live files: $bare")
    }
    TxLog.append(spark.range(100L).select(col("id"),
      lit("a").as("grp"), (col("id") * 2).as("amt")), t)
    allMarked("append")
    TxLog.deleteWhere(spark, t, col("id") % 3 === 0)
    allMarked("deleteWhere survivors")
    TxLog.updateWhere(spark, t, col("id") === 1L, Seq("amt" -> lit(-1L)))
    allMarked("updateWhere rewrite")
    TxLog.upsert(spark, t,
      Seq((1L, "b", 5L), (500L, "c", 6L)).toDF("id", "grp", "amt"), "id")
    allMarked("upsert")
    TxLog.optimize(spark, t, nFiles = 2)
    allMarked("optimize")
    // the bounds are REAL: a disjoint-range append prunes
    TxLog.append(spark.range(1000L, 1100L).select(col("id"),
      lit("z").as("grp"), col("id").as("amt")), t)
    val (kept, total) = TxLog.pruneSnapshot(t, "id", 1000L, 1100L)
    assert(kept.size < total, s"stats did not prune: ${kept.size}/$total")
    TxLog.drop(t)
  }

  test("declared stats columns degrade conservatively: a batch whose " +
      "schema lacks the column stays writable, its files statless") {
    val t = java.nio.file.Files.createTempDirectory("txlog_stats2_").toString
    TxLog.drop(t)
    TxLog.createEmpty(t,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      Map(TxLog.StatsColsProp -> "ghost"))
    TxLog.append(Seq((1L, 2L)).toDF("id", "v"), t)
    assert(TxLog.read(spark, t).count() == 1L)
    assert(TxLog.resolve(t).metas.forall(!_._2.zm.contains("ghost")))
    TxLog.drop(t)
  }

  test("the streaming epoch commit inherits declared stats: " +
      "commitStagedIdempotent marks the epoch's files") {
    val t = java.nio.file.Files.createTempDirectory("txlog_stats3_").toString
    TxLog.drop(t)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v BIGINT")
    TxLog.createEmpty(t, schema, Map(TxLog.StatsColsProp -> "id"))
    // stage one file the way an executor task would (bytes in the
    // table dir, invisible until the commit references it)
    val staged = TxLog.stage(
      spark.range(7L).select(col("id"), (col("id") * 3).as("v")), t)
    val v = TxLog.commitStagedIdempotent(spark, t,
      staged.map(_ -> Map.empty[String, String]), schema,
      "stats-spec", 1L)
    assert(v >= 0)
    val zm = TxLog.resolve(t).metas.toMap
    assert(staged.forall(f => zm.get(f).exists(_.zm.contains("id"))),
      s"epoch files statless: $zm")
    TxLog.drop(t)
  }

  test("stat-bearing and idempotent appends inherit the declared " +
      "layout: p: markers and zone triples share one add line") {
    val t = freshPartitioned()
    val v = TxLog.appendWithStats(spark,
      spark.range(900L, 960L).select(col("id"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
        (col("id") * 10).as("amt")), t, Seq("id"))
    val adds = logLines(t, v).filter(_.startsWith("add\t"))
      .map(_.split('\t')(1))
    val metas = TxLog.resolve(t).metas.toMap
    assert(adds.nonEmpty && adds.forall(f =>
      metas.get(f).exists(m => m.pv.contains("grp") && m.zm.contains("id"))),
      "appendWithStats lost markers or bounds on a partitioned table")
    val v2 = TxLog.appendIdempotent(
      spark.range(960L, 990L).select(col("id"),
        concat(lit("g"), (col("id") % 3).cast("string")).as("grp"),
        (col("id") * 10).as("amt")), t, "spec-app", 42L)
    val adds2 = logLines(t, v2).filter(_.startsWith("add\t"))
      .map(_.split('\t')(1))
    val metas2 = TxLog.resolve(t).metas.toMap
    assert(adds2.nonEmpty && adds2.forall(f =>
      metas2.get(f).exists(_.pv.contains("grp"))),
      "appendIdempotent lost markers on a partitioned table")
    assert(TxLog.appendIdempotent(
      spark.range(5L).select(col("id"), lit("g0").as("grp"),
        lit(0L).as("amt")), t, "spec-app", 42L) == -1,
      "replay guard must still hold on the partitioned path")
    TxLog.drop(t)
  }

  test("COPY INTO ledger: exactly-once per source file, survives " +
      "checkpointing, clones carry it, REPLACE TABLE clears it") {
    val t = freshTable()
    val src = java.nio.file.Files.createTempDirectory("copysrc_").toString
    TxLog.drop(src)
    spark.range(0L, 50L).select(col("id"), (col("id") % 5).as("grp"))
      .repartition(2).write.mode("overwrite").parquet(src)
    val (_, nf1, nr1) = TxLog.copyInto(spark, t, src)
    assert(nf1 == 2 && nr1 == 50L, s"first load: ($nf1, $nr1)")
    val (_, nf2, nr2) = TxLog.copyInto(spark, t, src)
    assert(nf2 == 0 && nr2 == 0L, "re-run must be a no-op")
    spark.range(50L, 60L).select(col("id"), (col("id") % 5).as("grp"))
      .coalesce(1).write.mode("append").parquet(src)
    val (_, nf3, nr3) = TxLog.copyInto(spark, t, src)
    assert(nf3 == 1 && nr3 == 10L, "only the new file loads")
    assert(TxLog.read(spark, t).count() == 160L) // 100 base + 60 copied
    // ledger survives a checkpoint (serialize/apply round-trip)
    (0 until TxLog.CheckpointInterval + 1).foreach(_ =>
      TxLog.append(Seq((999L, 0L)).toDF("id", "grp"), t))
    val (_, nf4, _) = TxLog.copyInto(spark, t, src)
    assert(nf4 == 0, "ledger lost across a checkpoint")
    // a clone carries the ledger: COPY INTO the clone is a no-op too
    val c = java.nio.file.Files.createTempDirectory("copyclone_").toString
    TxLog.drop(c)
    TxLog.shallowClone(t, c)
    val (_, nfc, _) = TxLog.copyInto(spark, c, src)
    assert(nfc == 0, "clone must not re-ingest the source's files")
    // REPLACE TABLE (commitDefinition) clears it: files load again
    val d = java.nio.file.Files.createTempDirectory("copyrepl_").toString
    TxLog.drop(d)
    TxLog.createEmpty(d,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("grp",
          org.apache.spark.sql.types.LongType))))
    assert(TxLog.copyInto(spark, d, src)._2 == 3)
    val sch = TxLog.resolve(d).schema.get
    TxLog.commitDefinition(d, Seq.empty, sch, Map.empty,
      TxLog.currentVersion(d))
    assert(TxLog.resolve(d).copied.isEmpty,
      "REPLACE must clear the COPY INTO ledger")
    assert(TxLog.copyInto(spark, d, src)._2 == 3,
      "a replaced table re-ingests: its new content owes nothing " +
        "to the old definition's loads")
    Seq(t, src, c, d).foreach(TxLog.drop)
  }

  test("WriteSerializable: DML commits retry across PURE blind appends " +
      "(CoW and DV paths), but a concurrent OPTIMIZE still conflicts") {
    val t = freshTable() // ids 0..99
    // a blind append lands exactly inside the DELETE's commit window
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => ()
      TxLog.append(Seq((500L, 9L)).toDF("id", "grp"), t): Unit
    }
    try TxLog.deleteWhere(spark, t, col("id") < 10L)
    finally TxLog.appendRaceHook = () => ()
    val ids = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(!ids.exists(_ < 10L) && ids.contains(500L),
      "both the delete and the racing append must land")
    // DV path commutes too
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => ()
      TxLog.append(Seq((501L, 9L)).toDF("id", "grp"), t): Unit
    }
    try TxLog.deleteWhereDV(spark, t, col("id") === 10L)
    finally TxLog.appendRaceHook = () => ()
    val ids2 = TxLog.read(spark, t).select("id").as[Long].collect().toSet
    assert(!ids2.contains(10L) && ids2.contains(501L),
      "the DV delete and the racing append must both land")
    // anything beyond a blind append still conflicts: OPTIMIZE removes
    TxLog.appendRaceHook = () => {
      TxLog.appendRaceHook = () => ()
      TxLog.optimize(spark, t, 1): Unit
    }
    try intercept[java.util.ConcurrentModificationException] {
      TxLog.deleteWhere(spark, t, col("id") < 20L)
    } finally TxLog.appendRaceHook = () => ()
    TxLog.drop(t)
  }

  test("table-features protocol gate: RENAME declares column-mapping; " +
      "an UNKNOWN required feature refuses the whole table") {
    val t = freshTable()
    TxLog.renameColumn(t, "grp", "bucket")
    assert(TxLog.resolve(t).features == Set("column-mapping"))
    assert(TxLog.read(spark, t).columns.contains("bucket"))
    // declaration survives checkpointing (serialize/apply round-trip)
    TxLog.checkpoint(t)
    assert(TxLog.resolve(t).features == Set("column-mapping"))
    // a feature from the future: hand-write the next version's entry
    // exactly as a newer engine would (readers ignore unknown LINE
    // types, but must refuse unknown FEATURES — that is the gate)
    val v = TxLog.currentVersion(t) + 1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_log", f"$v%08d.txt"),
      "feature\tquantum-vacuum\n".getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException] {
      TxLog.read(spark, t).count()
    }
    assert(e.getMessage.contains("quantum-vacuum") &&
      e.getMessage.contains("upgrade"),
      s"refusal must name the missing feature: ${e.getMessage}")
    // vacuum refuses too, and deletes nothing: an unreferenced file the
    // unknown feature's lines may reference must survive. Both the fold
    // below the window (retainAfter = v) and the entries walked past it
    // (retainAfter = 0) pass the gate.
    val stray = new java.io.File(t, "stray.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1))
    for (retainAfter <- Seq(0, v)) {
      val ev = intercept[UnsupportedOperationException] {
        TxLog.vacuum(t, retainAfter, minAgeMs = 0)
      }
      assert(ev.getMessage.contains("quantum-vacuum"), ev.getMessage)
      assert(stray.exists(), s"vacuum($retainAfter) deleted a file")
    }
    TxLog.drop(t)
  }

  test("append type-drift guard ignores nested nullability but refuses " +
      "a real type change") {
    val t = java.nio.file.Files.createTempDirectory("txlog_drift_").toString
    TxLog.drop(t)
    // a struct built from a literal records a NOT NULL field ...
    TxLog.create(Seq(1L).toDF("id").select(col("id"),
      struct(lit(1L).as("a")).as("s")), t)
    // ... the same struct built from a column carries a nullable one
    val nullable = Seq((2L, Option(2L))).toDF("id", "a")
      .select(col("id"), struct(col("a")).as("s"))
    assert(nullable.schema("s").dataType != TxLog.resolve(t).schema.get("s").dataType)
    TxLog.append(nullable, t)
    assert(TxLog.read(spark, t).select("s.a").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      TxLog.append(Seq((3L, "x")).toDF("id", "a")
        .select(col("id"), struct(col("a")).as("s")), t)
    }
    assert(e.getMessage.contains("changes existing column type"), e.getMessage)
    TxLog.drop(t)
  }
}
