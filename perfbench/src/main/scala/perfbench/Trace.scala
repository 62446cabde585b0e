package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at the top); every span of one run carries the run's id. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Work Spark did for one job tag. */
final class TagStats {
  var jobs, stages, tasks = 0L
  var inputBytes, outputBytes, shuffleRead, shuffleWrite, spill = 0L
  var gcMs = 0L
  def +=(o: TagStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; gcMs += o.gcMs
  }
}

/** Counts jobs, stages, tasks, bytes and GC time per Spark job tag. A job
  * is credited to every tag active on the submitting thread, so nested
  * spans each see the work done inside them. */
final class TagListener extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, TagStats]
  private val stageTags = mutable.HashMap.empty[Int, Seq[String]]

  private def tagsOf(p: java.util.Properties): Seq[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.startsWith(Tracer.Prefix)))
      .getOrElse(Nil)

  private def stat(t: String): TagStats = byTag.getOrElseUpdate(t, new TagStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = tagsOf(e.properties)
    tags.foreach { t =>
      val s = stat(t); s.jobs += 1; s.stages += e.stageIds.size
    }
    e.stageIds.foreach(id => stageTags(id) = tags)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTags.getOrElse(e.stageId, Nil).foreach { t =>
      val s = stat(t)
      s.tasks += 1
      if (m != null) {
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
  }

  def snapshot(): Map[String, TagStats] = synchronized {
    byTag.map { case (k, v) => val c = new TagStats; c += v; k -> c }.toMap
  }
}

/** Spans and job tags around layer calls. Disabled (the untraced run) it
  * only runs the body: no clock reads, no tags, no listener. */
final class Tracer(val enabled: Boolean, run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = _
  private var listener: TagListener = _
  private var statsBase = Map.empty[String, TagStats]

  /** Attach to a (new) session's context; counters restart with it. */
  def attach(ctx: SparkContext): Unit = if (enabled) {
    if (sc != null && listener != null) {
      statsBase = merged()
      sc.removeSparkListener(listener)
    }
    sc = ctx
    listener = new TagListener
    ctx.addSparkListener(listener)
  }

  /** Time `body` as span `name` and tag the Spark jobs it runs with the
    * same name. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val tag = Tracer.Prefix + name
      stack = id :: stack
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, run)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per-tag Spark work so far (tag names without the prefix). */
  def stats(): Map[String, TagStats] =
    if (!enabled) Map.empty
    else {
      org.apache.spark.PerfbenchBus.drain(sc)
      merged().map { case (k, v) => k.stripPrefix(Tracer.Prefix) -> v }
    }

  private def merged(): Map[String, TagStats] = {
    val now = listener.snapshot()
    (statsBase.keySet ++ now.keySet).map { k =>
      val s = new TagStats
      statsBase.get(k).foreach(s += _)
      now.get(k).foreach(s += _)
      k -> s
    }.toMap
  }

  /** Self time per layer over the spans inside [t0, t1]: each span's
    * duration minus the part its child spans cover, summed by layer (the
    * span name up to its first `:`). */
  def selfSeconds(t0: Long, t1: Long): Map[String, Double] = {
    val in = spans.filter(s => s.startNs >= t0 && s.endNs <= t1)
    val kids = in.groupBy(_.parent)
    in.groupBy(s => Tracer.layer(s.name)).map { case (l, ss) =>
      l -> ss.map(s => s.seconds -
        kids.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  /** Share of [t0, t1] that no top-level span covers. */
  def uncoveredShare(t0: Long, t1: Long): Double = {
    val covered = spans.filter(_.parent == -1)
      .map(s => math.max(0L, math.min(s.endNs, t1) - math.max(s.startNs, t0)))
      .sum
    if (t1 <= t0) 0.0 else 1.0 - covered.toDouble / (t1 - t0)
  }

  /** JSON lines, one per span. */
  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" +
        "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  val Prefix = "pb:"
  def layer(name: String): String = name.takeWhile(_ != ':')
}
