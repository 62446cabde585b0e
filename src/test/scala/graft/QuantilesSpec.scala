package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential test: `ops.Quantiles.quantileCont` (distributed rank
  * selection) must reproduce Spark's exact `percentile` aggregate bit for
  * bit — the small-data ground truth whose value-buffering plan the
  * helper replaces at scale (VERDICT r9 #1).
  */
class QuantilesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // duplicates, negative values, a null, skewed group sizes
  private lazy val df = Seq(
    ("a", 3.5), ("a", 1.0), ("a", 1.0), ("a", -2.25), ("a", 7.125),
    ("a", 3.5), ("a", 0.5),
    ("b", 10.0), ("b", 11.5),
    ("c", 42.0)
  ).toDF("g", "v")
    .union(Seq(("a", Option.empty[Double])).toDF("g", "v"))

  private val ps = Seq("p10" -> 0.1, "p25" -> 0.25, "p50" -> 0.5,
    "p66" -> 0.66, "p90" -> 0.9, "p100" -> 1.0, "p0" -> 0.0)

  test("grouped quantileCont == Spark percentile, all percentages") {
    val got = graft.ops.Quantiles
      .quantileCont(df, Seq("g"), "v", ps, countCol = Some("n"))
      .orderBy("g").collect()
    val want = df.groupBy("g").agg(
        ps.map { case (nm, p) =>
          expr(s"percentile(v, ${p}d)").as(nm)
        }.head,
        ps.tail.map { case (nm, p) =>
          expr(s"percentile(v, ${p}d)").as(nm)
        } :+ count(col("v")).as("n"): _*)
      .orderBy("g").collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) === w.getString(0))
      ps.indices.foreach { i =>
        assert(g.getDouble(i + 1) === w.getDouble(i + 1),
          s"group ${g.getString(0)} ${ps(i)._1}")
      }
      assert(g.getLong(ps.length + 1) === w.getLong(ps.length + 1))
    }
  }

  test("global (ungrouped) quantileCont == Spark percentile") {
    val got = graft.ops.Quantiles
      .quantileCont(df, Nil, "v", Seq("med" -> 0.5, "p75" -> 0.75))
      .collect().head
    val want = df.agg(expr("percentile(v, 0.5d)"),
      expr("percentile(v, 0.75d)")).collect().head
    assert(got.getDouble(0) === want.getDouble(0))
    assert(got.getDouble(1) === want.getDouble(1))
  }

  test("single-row group: every percentile is the value itself") {
    val got = graft.ops.Quantiles
      .quantileCont(df.filter($"g" === "c"), Seq("g"), "v",
        Seq("p37" -> 0.37))
      .collect().head
    assert(got.getDouble(1) === 42.0)
  }

  test("integral column interpolates in double like percentile") {
    val ints = Seq(("x", 1L), ("x", 2L), ("x", 100L)).toDF("g", "v")
    val got = graft.ops.Quantiles
      .quantileCont(ints, Seq("g"), "v", Seq("p50" -> 0.5, "p75" -> 0.75))
      .collect().head
    val want = ints.groupBy("g")
      .agg(expr("percentile(v, 0.5d)"), expr("percentile(v, 0.75d)"))
      .collect().head
    assert(got.getDouble(1) === want.getDouble(1))
    assert(got.getDouble(2) === want.getDouble(2))
  }
}
