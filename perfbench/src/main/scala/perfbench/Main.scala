package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: what it was, how long it took, whether it threw,
  * and what the benchmark observed about its result. The observations
  * are judged against the generator's expectations by `perfbench/run.py`. */
final case class Sample(kind: String, name: String, seconds: Double,
    error: Option[String], obs: Map[String, Any])

/** State of one benchmark run: the session, the tracer, the samples. */
final class Ctx(val workload: String, val work: String, seconds: Double,
    val seed: Long, val setupReps: Int, traced: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val tracer = new Tracer(traced, s"$workload-$seed-${if (traced) 1 else 0}")
  var spark: SparkSession = _
  val samples = mutable.ArrayBuffer.empty[Sample]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val record = mutable.LinkedHashMap.empty[String, Any]
  var loopStart, loopEnd = 0L
  private var deadline = 0L

  /** The session configuration of `graft.Bench`. */
  private def newSession(): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/spark-local")
    .getOrCreate()

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Set up `setupReps` times, each from a fresh session: start it, warm
    * it up, then run the workload's own prebuild. The last session stays
    * for the measured loop. */
  def setup(prebuild: Int => Unit): Unit = (0 until setupReps).foreach { rep =>
    stopSession()
    val t0 = System.nanoTime()
    spark = newSession()
    spark.sparkContext.setLogLevel("WARN")
    tracer.attach(spark.sparkContext)
    val t1 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val t2 = System.nanoTime()
    prebuild(rep)
    val t3 = System.nanoTime()
    setupSeconds += (t3 - t0) / 1e9
    setupParts += Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
  }
  /** Per set-up: session start, warm-up and prebuild seconds. */
  val setupParts = mutable.ArrayBuffer.empty[Seq[Double]]

  def timeLeft: Boolean = System.nanoTime() < deadline

  /** The closed measurement loop: `body` issues operations while
    * [[timeLeft]]. */
  def loop(body: => Unit): Unit = {
    loopStart = System.nanoTime()
    deadline = loopStart + (seconds * 1e9).toLong
    body
    loopEnd = System.nanoTime()
  }

  /** Time `timed` as one operation, then (untimed) observe its result. A
    * throw in either part makes the sample an error sample. */
  def op[T](kind: String, name: String)(timed: => T)(
      observe: T => Map[String, Any]): Unit = {
    val t0 = System.nanoTime()
    val r =
      try Right(tracer.span(s"op.$kind:$name")(timed))
      catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val s = r.flatMap { v =>
      try Right(tracer.span("bench.check")(observe(v)))
      catch { case e: Throwable => Left(e) }
    } match {
      case Right(obs) => Sample(kind, name, secs, None, obs)
      case Left(e) => Sample(kind, name, secs, Some(Ctx.describe(e)), Map.empty)
    }
    samples += s
  }

  /** Median seconds of the spans named `name`. */
  def spanMedian(name: String): Double =
    Stats.median(tracer.all.filter(_.name == name).map(_.seconds))

  /** Tag stats summed over the span names starting with `prefix`. */
  def tagSum(stats: Map[String, TagStats], prefix: String): TagStats = {
    val s = new TagStats
    stats.collect { case (k, v) if k.startsWith(prefix) => s += v }
    s
  }
}

object Ctx {
  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
      .replaceAll("\\s+", " ").take(300)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Fs {
  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }
  }

  private def isData(p: java.nio.file.Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Bytes read from the local filesystem through Hadoop, process-wide. */
  def localBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  /** Rows in the parquet files under `dir`, from their footers. */
  def parquetRows(dir: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    walk(dir).filter(isData).map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def dataFiles(dir: String): Int = walk(dir).count(isData)

  def bytes(dir: String): Long = walk(dir).map(Files.size).sum
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def read(path: String): JsonNode = mapper.readTree(new File(path))
  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))
}

/** Runs one workload and writes its samples, set-up times, per-layer
  * metrics and run record as JSON.
  *
  * Usage: Main --workload <name> --work <dir> --seconds <s> --seed <n>
  *   --trace <0|1> --setup-reps <n> --out <result.json> [--spans <spans.jsonl>] */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = a("trace") == "1"
    val ctx = new Ctx(a("workload"), a("work"), a("seconds").toDouble,
      a("seed").toLong, a("setup-reps").toInt, traced)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val mainStart = System.currentTimeMillis()
    ctx.record("jvm_start_s") = (mainStart -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      ctx.workload match {
        case "f1_etl" => Etl.run(ctx)
        case "corpus_queries" => Corpus.run(ctx)
        case "lakehouse_ops" => Lakehouse.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val conf = ctx.spark.conf
      ctx.record ++= Seq(
        "seed" -> ctx.seed,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> ctx.spark.sparkContext.master,
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "aqe" -> conf.get("spark.sql.adaptive.enabled"),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "load_start" -> loadStart,
        "load_end" -> os.getSystemLoadAverage,
        "peak_rss_mb" -> peakRssMb(),
        "main_s" -> (System.currentTimeMillis() - mainStart) / 1e3)
      if (traced) {
        val wall = ctx.loopEnd - ctx.loopStart
        ctx.layer("trace.uncovered_share") =
          ctx.tracer.uncoveredShare(ctx.loopStart, ctx.loopEnd)
        val self = ctx.tracer.selfSeconds(ctx.loopStart, ctx.loopEnd)
        Seq("op", "bench", "etl", "core.Tables", "core.Sinks", "queries",
          "core.TxLog", "plans.TxLogDml").foreach { g =>
          ctx.layer(s"trace.self_share.$g") =
            self.collect { case (l, s) if l.startsWith(g) => s }.sum / (wall / 1e9)
        }
        ctx.layer("trace.spans") = ctx.tracer.all.size
        a.get("spans").foreach(ctx.tracer.writeJsonl)
      }
      Json.write(a("out"), Map(
        "samples" -> ctx.samples.map(s => Map("kind" -> s.kind, "name" -> s.name,
          "seconds" -> s.seconds, "error" -> s.error.orNull, "obs" -> s.obs)),
        "setup_s" -> ctx.setupSeconds,
        "setup_parts_s" -> ctx.setupParts,
        "layer" -> ctx.layer,
        "record" -> ctx.record))
    } finally ctx.stopSession()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}
