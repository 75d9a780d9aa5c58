package graft

import org.apache.spark.sql.functions._

/** Plan-artifact dumper for [[operators.SnapshotTable.changes]] (dev
  * only): the change feed has no SparkEntry key of its own (it runs
  * inside mv_incremental / the streaming sources), so this builds a
  * two-version snapshot table and writes the CDF plan to
  * `<outDir>/changes_cdf_<tag>.txt`.
  *
  * Usage: runMain graft.PlanDumpChanges <outDir> <tag>
  */
object PlanDumpChanges {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDumpChanges <outDir> <tag>")
    val (outDir, tag) = (args(0), args(1))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val root = java.nio.file.Files
      .createTempDirectory("graft-plandump-cdf").toString + "/t"
    val ord = sources.Tables.orders(spark, dir)
    operators.SnapshotTable.commit(ord, root)
    operators.SnapshotTable.commit(
      ord.filter(col("o_custkey") % 13 =!= 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), root)
    val df = operators.SnapshotTable.changes(spark, root, "o_orderkey", 0L, 1L)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, s"changes_cdf_$tag.txt"), plan)
    println(s"[plandump] wrote changes_cdf_$tag")
    spark.stop()
    // temp snapshot table cleaned up after the session releases it
    // (repeated dev runs must not leak disk)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }
}
