package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Source-shape guards, in the style of DocsSpec: the engine ships four
  * mains, builds every session in one factory, keeps every memo and
  * every exit-time cleanup in `core/Memo.scala`, prunes txlog files
  * from log metadata in one walk, `core/FilePrune.scala`, stages
  * txlog batches through one temp dir in `core/TxLog.scala`, binds
  * the txlog row identity in one scan there, replays the log only
  * through its snapshot and forward walk, and builds every txlog read
  * relation in one function. A one-off
  * probe main, a hand-built session whose config drifts from the one
  * every result was checked under, or a private memo with its own
  * staleness rule is a red test instead of a review finding. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    finally walk.close()
  }

  private def filesMatching(re: Regex): Seq[String] =
    sources.collect { case (f, text) if re.findFirstIn(text).isDefined => f }
      .sorted

  test("src/main has exactly four mains: Bench, Verify, DumpPlan, PlanAudit") {
    assert(filesMatching("""\bdef\s+main\s*\(|\bextends\s+App\b""".r) ==
      Seq("graft/Bench.scala", "graft/DumpPlan.scala",
        "graft/PlanAudit.scala", "graft/Verify.scala"))
  }

  test("SparkSession.builder appears only in core/Sessions.scala") {
    assert(filesMatching("""SparkSession\s*\.\s*builder\b""".r) ==
      Seq("graft/core/Sessions.scala"))
  }

  test("exit hooks appear only in core/Memo.scala") {
    assert(filesMatching("""\baddShutdownHook\b""".r) ==
      Seq("graft/core/Memo.scala"))
    assert(filesMatching("""\bdeleteOnExit\b""".r).toSet
      .subsetOf(Set("graft/core/Memo.scala")))
  }

  test("txlog file-pruning walks appear only in core/FilePrune.scala") {
    assert(filesMatching("""\bdef\s+(eqSurvives|boundSurvives|survives)\b""".r)
      == Seq("graft/core/FilePrune.scala"))
  }

  test("staging temp dirs: Files.createTempDirectory only in " +
      "core/Memo.scala and once in core/TxLog.scala") {
    val uses = sources.map { case (f, text) =>
      f -> """Files\s*\.\s*createTempDirectory\b""".r.findAllIn(text).size
    }.filter(_._2 > 0).toMap
    assert(uses.get("graft/core/TxLog.scala").contains(1) &&
      (uses.keySet - "graft/core/TxLog.scala")
        .subsetOf(Set("graft/core/Memo.scala")), uses)
  }

  test("the row identity binds in one txlog scan: \"_metadata.row_index\" " +
      "appears in src/main once, in core/TxLog.scala") {
    val uses = sources.map { case (f, text) =>
      f -> "\"_metadata\\.row_index\"".r.findAllIn(text).size
    }.filter(_._2 > 0).toMap
    assert(uses == Map("graft/core/TxLog.scala" -> 1), uses)
  }

  test("txlog metadata has one entry: the log fold runs only behind " +
      "TxLog.resolve and the forward walk; no per-dir state helper") {
    assert(filesMatching("""\bdef\s+state\s*\(|\bdef\s+layoutOf\s*\(\s*dir\b""".r)
      .isEmpty)
    assert(filesMatching("""\bfold\(dir\b""".r) == Seq("graft/core/TxLog.scala"))
    // each `fold(dir` sits in the TxLog member it belongs to: the
    // definition itself, resolve, and walk (a def nested inside a
    // member is part of that member)
    val text = sources.toMap.apply("graft/core/TxLog.scala")
    val defs = """(?m)^  (?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
      .findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
    val owners = """\bfold\(dir\b""".r.findAllMatchIn(text)
      .map(m => defs.filter(_._1 < m.start).last._2).toSeq
    assert(owners.distinct.sorted == Seq("fold", "resolve", "walk"), owners)
  }

  test("one txlog read connector: V1Scan and MicroBatchStream only in " +
      "the blob source; every txlog batch relation comes from " +
      "TxLogDataSource.relation") {
    // comment lines may name what the code must not use
    def code(text: String): String = text.linesIterator.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }.mkString("\n")
    val forks = sources.collect { case (f, text)
        if """\b(V1Scan|MicroBatchStream)\b""".r
          .findFirstIn(code(text)).isDefined => f }.sorted
    assert(forks == Seq("graft/sources/BlobShardSource.scala"), forks)
    assert(filesMatching("""TxLogDataSource\(\)\s*\.\s*createRelation\b""".r)
      .isEmpty)
    val builds = """\bnew\s+(?:graft\.sources\.)?(TxLogRelation|TxLogFileIndex)\s*\(""".r
    assert(filesMatching(builds) == Seq("graft/sources/TxLogSource.scala"))
    val text = sources.toMap.apply("graft/sources/TxLogSource.scala")
    val defs = """(?m)^  (?:private(?:\[\w+\])?\s+)?(?:override\s+)?def\s+(\w+)""".r
      .findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
    val owners = builds.findAllMatchIn(text)
      .map(m => defs.filter(_._1 < m.start).last._2).toSeq
    assert(owners == Seq("relation", "relation"), owners)
  }

  test("memo maps and retire queues appear only in core/Memo.scala") {
    assert(filesMatching("""\b(TrieMap|ConcurrentLinkedQueue)\b""".r).toSet
      .subsetOf(Set("graft/core/Memo.scala")))
  }
}
