package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileIndexOptions, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet frames planned on the driver without a Spark job: what
  * `spark.read.schema(...).parquet(...)` builds, with the file listing
  * and the schema handed in instead of discovered. Lives under
  * `org.apache.spark.sql` for the session's SQL conf and
  * `StructType.asNullable` (the shim-file pattern of
  * [[GraftDmlExec]]). */
object ListedParquet {

  /** A frame over `listed`: per base directory, data files below it
    * (a base may repeat). Each `col=value` level below a base is a
    * partition column; a base itself never is. Spark's one-base check
    * is off, so every base must share one layout, as the versions of
    * one partition-spec era do. Spark's own `InMemoryFileIndex` takes
    * the files from a pre-filled `FileStatusCache`, so it lists
    * nothing, and the relation's size is the sum of their lengths.
    * `schema` fixes the data and partition column types (nullable, as
    * the reader makes them); without one the footers are inferred,
    * which is one job. */
  def frame(spark: SparkSession, listed: Seq[(Path, Seq[FileStatus])],
            schema: Option[StructType]): DataFrame = {
    val index = new ListedIndex(spark, listed, schema)
    val (format, parts) = (new ParquetFileFormat, index.partitionSchema)
    val data = schema.map(s => StructType(s.filterNot(f =>
      parts.exists(p => sqlConf(spark).resolver(p.name, f.name)))))
      .orElse(format.inferSchema(spark, Map.empty, index.allFiles()))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, parts,
      data.asNullable, None, format, Map.empty)(spark))
  }

  /** The Spark schema of parquet input `path`, read from a footer on
    * the driver under the session's parquet settings (`nanosAsLong`
    * included): what `spark.read.parquet(path).schema` infers, without
    * its job. `path` is one file or a Spark output directory; Spark's
    * own index lists it on the driver (one path is under its
    * parallel-listing threshold), and its first data file's footer is
    * the one Spark's inference reads when `mergeSchema` is off. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val file = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().headOption
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val meta = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(sqlConf(spark))).asNullable
  }

  /** `st` with every field, array element and map value nullable —
    * the shape Spark's file sources give a data schema on read. */
  def nullable(st: StructType): StructType = st.asNullable

  private def sqlConf(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf

  /** The index over `listed`, whose cache answers every base from the
    * listing and keeps nothing else (a refresh re-reads the same
    * files). It equals another index only over the same files: its
    * root paths are the bases, which a subset read of the same bases
    * shares, so the inherited root-path equality would let a cached or
    * reused scan stand in for a different file set. */
  private final class ListedIndex(spark: SparkSession,
                                  listed: Seq[(Path, Seq[FileStatus])],
                                  schema: Option[StructType])
      extends InMemoryFileIndex(spark, listed.map(_._1).distinct,
        Map(FileIndexOptions.IGNORE_INVALID_PARTITION_PATHS -> "true"),
        schema, new FileStatusCache {
          private val byBase = listed.groupMapReduce(_._1)(_._2)(_ ++ _)
          override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
            byBase.get(path).map(_.toArray)
          override def putLeafFiles(path: Path, fs: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        }) {
    private val files = listed.flatMap(_._2.map(_.getPath)).toSet
    override def equals(o: Any): Boolean = o match {
      case i: ListedIndex => i.files == files
      case _ => false
    }
    override val hashCode: Int = files.hashCode
  }
}
