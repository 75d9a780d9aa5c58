package graft

import org.apache.spark.sql.SparkSession

/** The local session the dev mains ([[Bench]], [[Verify]],
  * [[PlanDump]], [[PlanDumpChanges]]) run on. */
private[graft] object GraftSession {

  /** A `local[cpus]` session with graft's extensions, one shuffle
    * partition per core, UTC, no UI. Each caller sets its own log
    * level. */
  def local(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // a parquet TIMESTAMP(NANOS) input reads as a long, not an error
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // micros (not deprecated INT96) so commit-time footer lifting
      // covers timestamp stats columns without a fallback scan
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
