package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Memo, Scratch, Tables, Tuned}

/** The one memo and the one scratch lifecycle: a fixture regenerated
  * inside mtime resolution or read under a different inference conf
  * invalidates, builds are serialized per key only, superseded dirs
  * live until the exit sweep, and the sweep never follows a link. */
class MemoSpec extends AnyFunSuite {

  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(4, { r =>
      val t = new Thread(r); t.setDaemon(true); t }))

  private def corpus(): Path = Paths.get(Scratch.tmp("graft_memospec_"))

  /** Overwrite `p` with `bytes`, then put its old mtime back. */
  private def rewriteKeepingMtime(p: Path, bytes: Array[Byte]): Unit = {
    val mtime = Files.getLastModifiedTime(p)
    Files.write(p, bytes)
    Files.setLastModifiedTime(p, mtime)
  }

  test("fingerprint changes on same-size bytes under an unchanged mtime") {
    val f = corpus().resolve("t.parquet")
    Files.write(f, Array.fill[Byte](6000)(1))
    val before = Memo.fingerprint(f)
    val (size, mtime) = (Files.size(f), Files.getLastModifiedTime(f))
    rewriteKeepingMtime(f, Array.fill[Byte](6000)(2))
    assert(Files.size(f) == size && Files.getLastModifiedTime(f) == mtime)
    assert(Memo.fingerprint(f) != before)
  }

  test("an invalidated dir is rebuilt, and the superseded one is retired") {
    val c = corpus()
    Files.write(c.resolve("t.parquet"), Array[Byte](1, 2, 3))
    val builds = new AtomicInteger
    def dir() = Memo.dir(c.toString, "t", "retire") { t =>
      builds.incrementAndGet()
      Files.write(Paths.get(t, "artifact"), Array[Byte](0))
    }
    val d1 = dir()
    assert(dir() == d1 && builds.get == 1)
    rewriteKeepingMtime(c.resolve("t.parquet"), Array[Byte](3, 2, 1))
    val d2 = dir()
    assert(d2 != d1 && builds.get == 2)
    assert(Files.exists(Paths.get(d1, "artifact")), "retired dir deleted early")
    Scratch.sweep(Set(d1, d2))
    assert(!Files.exists(Paths.get(d1)) && !Files.exists(Paths.get(d2)))
  }

  test("concurrent lookups of one key build once and share one dir") {
    val c = corpus()
    Files.write(c.resolve("t.parquet"), Array[Byte](1))
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val dirs = (1 to 4).map(_ => Future {
      start.await()
      Memo.dir(c.toString, "t", "race") { _ =>
        builds.incrementAndGet(); Thread.sleep(200)
      }
    })
    start.countDown()
    val got = dirs.map(Await.result(_, 30.seconds)).toSet
    assert(builds.get == 1 && got.size == 1)
    Scratch.sweep(got)
  }

  test("a build blocked on one key does not block another key") {
    val c = corpus()
    Files.write(c.resolve("t.parquet"), Array[Byte](1))
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future(Memo.dir(c.toString, "t", "blockedA") { _ =>
      entered.countDown(); release.await()
    })
    try {
      assert(entered.await(30, TimeUnit.SECONDS))
      val b = Future(Memo.dir(c.toString, "t", "freeB")(_ => ()))
      Scratch.sweep(Set(Await.result(b, 10.seconds)))
    } finally release.countDown()
    Scratch.sweep(Set(Await.result(a, 30.seconds)))
  }

  test("release and sweep unlink symlinks and keep their targets") {
    val target = corpus()
    val file = Files.write(target.resolve("events.parquet"), Array[Byte](7))
    for (drop <- Seq[String => Unit](Scratch.release, d => Scratch.sweep(Set(d)))) {
      val d = Paths.get(Scratch.tmp("graft_memospec_link_"))
      Files.createSymbolicLink(d.resolve("file"), file)
      Files.createSymbolicLink(d.resolve("dir"), target)
      drop(d.toString)
      assert(!Files.exists(d, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.exists(file) && Files.readAllBytes(file).sameElements(Array[Byte](7)))
    }
  }

  test("schemaOf keys on the session's parquet inference confs") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val spark = TestSpark.spark
    val path = corpus().resolve("ntz.parquet").toString
    // written outside Spark: a Spark-written footer carries its own
    // schema, which inference returns whatever the confs say
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())).withType(msg).build()
    try w.write(new SimpleGroupFactory(msg).newGroup().append("t", 0L))
    finally w.close()
    val inferred = Tables.schemaOf(spark, path)
    assert(inferred("t").dataType == TimestampNTZType)
    val clone = Tuned.session(spark, "spark.sql.shuffle.partitions" -> "3")
    assert(Tables.schemaOf(clone, path) eq inferred, "clone missed the memo")
    val legacy = Tuned.session(spark,
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
    assert(Tables.schemaOf(legacy, path)("t").dataType == TimestampType)
  }
}
