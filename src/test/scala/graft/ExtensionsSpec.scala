package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Levenshtein
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.GraftExtensions

/** graft.plans.BandedLevenshteinRule via SparkSessionExtensions: the
  * rewrite must fire on user-written threshold predicates and must not
  * change results (the -1 contract of the banded form). */
class ExtensionsSpec extends AnyFunSuite {

  // A second session over the SAME SparkContext, with extensions — the
  // shared TestSpark session must stay untouched, so clear the
  // active/default registrations around the builder call and restore.
  private lazy val ext: SparkSession = {
    val base = TestSpark.spark // force init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  private def bandedCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case l: Levenshtein if l.threshold.isDefined => l
    }).size

  test("lev(a,b) <= k rewrites to the banded form and keeps results") {
    import ext.implicits._
    // parquet-backed: a LocalRelation would be constant-folded away
    // before the plan could be inspected
    val dir = java.nio.file.Files.createTempDirectory("graft_ext").toString
    Seq(("kitten", "sitting"), ("abc", "abd"), ("abc", "zzzzzzzzzz"))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = ext.read.parquet(dir)
    val q = df.filter(levenshtein(col("a"), col("b")) <= 2)
    assert(bandedCount(q) == 1, q.queryExecution.optimizedPlan.toString)
    assert(q.select("a", "b").collect().map(_.getString(0)).toSeq == Seq("abc"))
    // strict < and literal-on-left forms rewrite too
    assert(bandedCount(df.filter(levenshtein(col("a"), col("b")) < 4)) == 1)
    assert(bandedCount(df.filter(lit(3) >= levenshtein(col("a"), col("b")))) == 1)
    // projection of the raw distance is NOT a comparison — left alone
    assert(bandedCount(df.select(levenshtein(col("a"), col("b")).as("d"))) == 0)
  }

  test("one extensions class registers the whole engine: native " +
      "functions resolve by SQL name on the extended session") {
    import ext.implicits._
    val df = Seq(("martha", "marhta", Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)))
      .toDF("a", "b", "v1", "v2")
    df.createOrReplaceTempView("ext_fn_probe")
    val r = ext.sql(
      """SELECT round(graft_jaro_winkler(a, b), 6) AS jw,
        |  round(graft_cosine(v1, v2), 6) AS cos,
        |  graft_hash32(a) AS h
        |FROM ext_fn_probe""".stripMargin).head()
    assert(r.getDouble(0) == 0.961111, s"jw=${r.getDouble(0)}")
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(2) >= 0L)
    val tk = ext.sql(
      """SELECT graft_topk(CAST(v AS DOUBLE), 2) AS tk
        |FROM VALUES (1), (9), (5), (7) AS t(v)""".stripMargin)
      .head().getSeq[Double](0)
    assert(tk == Seq(9.0, 7.0), s"topk=$tk")
  }

  test("rewrite preserves exact distances and null semantics") {
    import ext.implicits._
    val df = Seq(("kitten", Some("sitting")), ("abc", Some("abd")),
      ("x", None)).toDF("a", "b")
    // threshold exactly at the distance boundary: lev(kitten,sitting)=3
    val kept = df.filter(levenshtein(col("a"), col("b")) <= 3)
      .select("a").collect().map(_.getString(0)).toSeq.sorted
    assert(kept == Seq("abc", "kitten")) // null comparison drops the None row
    // plain session (no extensions) agrees
    val plainKept = {
      val s = TestSpark.spark
      import s.implicits._
      Seq(("kitten", Some("sitting")), ("abc", Some("abd")), ("x", None))
        .toDF("a", "b")
        .filter(levenshtein(col("a"), col("b")) <= 3)
        .select("a").collect().map(_.getString(0)).toSeq.sorted
    }
    assert(kept == plainKept)
  }

  test("a session built without GraftExtensions plans the ordered scan " +
      "once a scan is built on it") {
    val shared = TestSpark.spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // every builder route applies the context's spark.sql.extensions,
    // so construct the session with an empty extension set directly
    val bare = classOf[org.apache.spark.sql.classic.SparkSession]
      .getConstructors.find(_.getParameterCount == 6).get
      .newInstance(shared.sparkContext, Some(shared.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def planned = bare.sessionState.planner.strategies
      .contains(graft.plans.OrderedScanStrategy)
    assert(!planned)
    import bare.implicits._
    val df = graft.ops.PrefixSum.cumsum(
      (1L to 50L).map(i => (i, i)).toDF("k", "v"), "k", "v", "c")
    assert(planned)
    assert(df.queryExecution.executedPlan.toString.contains("OrderedScan"))
    assert(df.orderBy("k").select("c").collect().map(_.getLong(0)).toSeq ==
      (1L to 50L).scanLeft(0L)(_ + _).tail)
  }
}
