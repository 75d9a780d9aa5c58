package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListedParquet
import org.apache.spark.sql.types.LongType

/** Typed readers for the driver-provided parquet tables.
  *
  * All timestamps are normalized to TIMESTAMP_NTZ (the session runs in
  * UTC) so results hash-match the DuckDB oracle, which reads the same
  * parquet as naive timestamps.
  *
  * `events.ts` is physically INT64 TIMESTAMP(NANOS, isAdjustedToUTC=false),
  * which Spark's parquet reader only exposes as a nanosecond LONG (via
  * `spark.sql.legacy.parquet.nanosAsLong=true` — set in Verify/Bench/tests).
  * We convert to microsecond TIMESTAMP_NTZ here; the testdata is
  * micro-aligned so no precision is lost.
  */
object Tables {

  /** One input (a file, or a directory as `graft.ScaleData` writes)
    * under the schema its footer declares, read on the driver
    * ([[ListedParquet.footerSchema]]), so building an input runs no
    * schema-inference job. */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(ListedParquet.footerSchema(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Raw event stream with `ts` normalized to TIMESTAMP_NTZ micros. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.schema(eventsRawSchema(spark, dir))
      .parquet(s"$dir/events.parquet")
    val tsCol =
      if (raw.schema("ts").dataType == LongType)
        // nanos long -> micros -> ntz (session tz is UTC, so the LTZ->NTZ
        // cast is the identity on the wall-clock value)
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
      else col("ts").cast("timestamp_ntz")
    raw.withColumn("ts", tsCol)
  }

  /** Schema of the raw (unnormalized) events parquet, for streaming reads. */
  def eventsRawSchema(spark: SparkSession, dir: String) = {
    // Defensive: a caller-provided session (e.g. the driver's smoke
    // check) may lack the nanos config; it is runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ListedParquet.footerSchema(spark, s"$dir/events.parquet")
  }
}
