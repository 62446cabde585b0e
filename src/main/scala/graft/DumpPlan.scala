package graft

/** Scratch tool (not part of the driver contract): writes
  * `.explain("formatted")` of named queries to files for the
  * optimization-round plan evidence (`plans/r13/<query>_<tag>.txt`).
  * Usage: runMain graft.DumpPlan <outDir> <tag> <query> [query ...]
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- args.drop(2)) {
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), plan)
        System.err.println(s"[dumpplan] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[dumpplan] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
