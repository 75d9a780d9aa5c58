package graft

/** Plan-artifact dumper (dev only): writes `.explain("formatted")` for
  * named SparkEntry queries to `<outDir>/<name>_<tag>.txt` — the
  * committed before/after plan evidence for optimization rounds.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [name ...]
  * (no names = every declared query).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [name ...]")
    val outDir = args(0)
    val tag = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"), plan)
        println(s"[plandump] wrote $n")
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
