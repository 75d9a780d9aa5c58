package graft.operators

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types

/** Per-file row counts and column min/max lifted from PARQUET FOOTERS
  * — the metadata a write job's own tasks already produced, so a
  * commit can record `__rows` and skipping bounds WITHOUT re-reading a
  * byte of the data it just wrote (the Iceberg writer discipline; the
  * r10 read-back scan doubled `pipeline_governed`). Footers are
  * KB-sized regardless of file size: a thousand-file commit reads a
  * thousand footers, never the 100 TB under them.
  *
  * Conservative by construction — a column is reported in `unusable`
  * (caller falls back to a column-pruned scan) whenever the footer
  * can't be trusted to reproduce Spark's own min/max semantics:
  *   - INT96 timestamps (Spark's default physical type; parquet
  *     defines no sort order for them — set
  *     `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`, as
  *     graft's entry points do, and timestamps lift for free);
  *   - files without Spark's schema key-value metadata (non-Spark
  *     writers), nested columns, or any block whose statistics are
  *     absent.
  *
  * FLOAT/DOUBLE lift NaN-AWARELY: Spark's min/max rank NaN above
  * everything while the parquet spec's bounds exclude it, so a footer
  * bound is trusted only when the chunk provably holds no NaN —
  * which is exactly what a PRESENT parquet-mr statistic certifies:
  * its writer folds values with `Math.min`/`Math.max` (NaN poisons
  * both) and `ParquetMetadataConverter` refuses to serialize
  * NaN-valued float/double stats, so a chunk with any NaN simply has
  * no statistics and the column falls back to the scan
  * (FooterStatsSpec pins this writer behavior). A NaN-valued bound
  * from any other writer is rejected here as a second line of
  * defense. Binary (string) statistics are exact: parquet-mr's
  * chunk-level statistics truncation default is Integer.MAX_VALUE
  * (untruncated), and its unsigned byte-wise order equals
  * UTF8String's.
  *
  * Footer reads are driver-parallel up to
  * `spark.graft.footerStats.distributedThreshold` files (default
  * 4096) and lift as ONE executor job over the file list beyond it —
  * a 10⁵-file commit must not serialize 10⁵ small reads through the
  * driver. Both paths produce identical values (spec-pinned); results
  * sort by file path so the sidecar is deterministic either way. */
private[graft] object FooterStats {

  /** One data file's footer numbers. `file` is the root-relative path
    * in the URI-encoded form `input_file_name()` reports (what the
    * stats sidecar stores); `bounds` maps a usable column to its
    * (min, max) as Spark EXTERNAL values — (null, null) for an
    * all-null file; `schema` is the writer-recorded Spark schema
    * (empty when unknown). */
  final case class FileStat(file: String, rows: Long,
                            schema: types.StructType,
                            bounds: Map[String, (Any, Any)],
                            unusable: Set[String])

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** All data files under a version or entry directory, descending
    * into partition subdirectories. Hidden names are skipped at every
    * level by Spark's own rule: `.`-prefixed, and `_`-prefixed unless
    * the name holds a `=` — so a `_x=v` partition directory is data,
    * while sidecars (`_stats`, `_deletes`), markers and temp dirs are
    * not. */
  def dataFiles(dir: String): Seq[String] = {
    if (!MetaIO.isDir(dir)) return Seq.empty
    val p = new HPath(dir)
    val fs = p.getFileSystem(MetaIO.conf)
    val qualified = fs.makeQualified(p).toString
    dataStatuses(fs, p).map(s =>
      dir.stripSuffix("/") + s.getPath.toString.stripPrefix(qualified))
  }

  /** The one data-file walk, [[dataFiles]]' rule through the Hadoop
    * FileSystem a scan reads with, as statuses (a file index needs
    * each file's length); a data file `path` lists as itself. A
    * missing `path` throws. */
  def dataStatuses(fs: FileSystem, path: HPath): Seq[FileStatus] =
    fs.listStatus(path).toSeq.filterNot(s => hiddenName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) dataStatuses(fs, s.getPath)
        else Seq(s).filter(_.getPath.getName.endsWith(".parquet")))

  private def hiddenName(n: String): Boolean =
    n.startsWith(".") || (n.startsWith("_") && !n.contains("="))

  /** Footer-read every data file under `versionDir` and report rows +
    * bounds for `cols`; `tableRoot` anchors the stored root-relative
    * path. Small commits read driver-parallel (a footer is KBs — one
    * small GET per file); at or beyond
    * `spark.graft.footerStats.distributedThreshold` files the reads
    * run as one executor job over the file list, with the same
    * conservative fallbacks (`one` is shared), so a huge commit's
    * footer pass scales with the cluster instead of the driver. */
  def collect(spark: org.apache.spark.sql.SparkSession, tableRoot: String,
              versionDir: String, cols: Seq[String]): Seq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(versionDir).sorted
    val threshold = spark.conf
      .getOption("spark.graft.footerStats.distributedThreshold")
      .map(_.toInt).getOrElse(4096)
    if (files.size < threshold)
      files.toVector.par.map(f => one(tableRoot, f, cols, conf)).seq
    else {
      val sc = new SerializableConf(conf)
      val rootV = tableRoot
      val colsV = cols.toVector
      spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size / 64, 512)))
        .map(f => one(rootV, f, colsV, sc.value))
        .collect().toVector.sortBy(_.file)
    }
  }

  /** Driver-only lift with an explicit Hadoop conf (no session — used
    * by tests to pin driver-vs-distributed value identity). */
  private[graft] def collectLocal(tableRoot: String, versionDir: String,
                                  cols: Seq[String], conf: Configuration)
      : Seq[FileStat] =
    dataFiles(versionDir).sorted
      .toVector.par.map(f => one(tableRoot, f, cols, conf)).seq

  /** `Configuration` is not `Serializable`; ship it to the footer job
    * by its own writable form (the standard connector idiom). */
  private final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  private def one(tableRoot: String, file: String, cols: Seq[String],
                  conf: Configuration): FileStat = {
    val rel = file.stripPrefix(tableRoot.stripSuffix("/")).stripPrefix("/")
    // store the URI-encoded form input_file_name() reports (readers
    // decode once): java.net.URI's multi-arg constructor quotes the
    // same layer — '%' and raw spaces — Hadoop's Path.toUri adds
    val stored = new java.net.URI(null, null, rel, null).getRawPath
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val schema = Option(
        footer.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        .flatMap(j => scala.util.Try(
          types.DataType.fromJson(j).asInstanceOf[types.StructType]).toOption)
      schema match {
        case None =>
          FileStat(stored, rows, types.StructType(Nil), Map.empty, cols.toSet)
        case Some(sc) =>
          val wanted = cols.filter(c => sc.fieldNames.contains(c))
          val (bounds, bad) = wanted.foldLeft(
            (Map.empty[String, (Any, Any)], Set.empty[String])) {
            case ((bs, us), c) =>
              columnBounds(blocks, c, sc(c).dataType) match {
                case Some(b) => (bs + (c -> b), us)
                case None => (bs, us + c)
              }
          }
          FileStat(stored, rows, sc, bounds, bad)
      }
    } finally reader.close()
  }

  /** Merge one column's (min, max) across a file's row groups; None ⇔
    * unusable (fall back to a scan). */
  private def columnBounds(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
                           col: String, dt: types.DataType)
      : Option[(Any, Any)] = {
    var min: Any = null
    var max: Any = null
    val ord = ordering(dt).getOrElse(return None)
    for (b <- blocks) {
      val chunk = b.getColumns.asScala.find { c =>
        val p = c.getPath.toArray
        p.length == 1 && p(0) == col
      }.getOrElse(return None)
      val prim = chunk.getPrimitiveType
      if (prim.getPrimitiveTypeName == PrimitiveTypeName.INT96) return None
      val st: Statistics[_] = chunk.getStatistics
      if (st == null) return None
      else if (st.hasNonNullValue) {
        val lo = convert(st.genericGetMin, prim, dt).getOrElse(return None)
        val hi = convert(st.genericGetMax, prim, dt).getOrElse(return None)
        if (min == null || ord.compare(lo, min) < 0) min = lo
        if (max == null || ord.compare(hi, max) > 0) max = hi
      } else if (st.isNumNullsSet && st.getNumNulls == chunk.getValueCount) {
        () // all-null row group: contributes nothing
      } else return None
    }
    Some((min, max))
  }

  /** Spark-value-space ordering for merging row-group bounds; the
    * supported types' value order equals parquet's logical sort order
    * (strings compare by unsigned UTF-8 bytes on both sides). */
  private def ordering(dt: types.DataType): Option[Ordering[Any]] = {
    def of[T](o: Ordering[T]): Option[Ordering[Any]] =
      Some(o.asInstanceOf[Ordering[Any]])
    dt match {
      case types.IntegerType => of(Ordering.Int)
      case types.LongType => of(Ordering.Long)
      case types.ShortType => of(Ordering.Short)
      case types.ByteType => of(Ordering.Byte)
      case types.BooleanType => of(Ordering.Boolean)
      case types.StringType => of(new Ordering[String] {
        def compare(a: String, b: String): Int = utf8Compare(a, b)
      })
      case types.DateType => of(Ordering.by((d: java.sql.Date) => d.getTime))
      case types.TimestampType =>
        of(Ordering.by((t: java.sql.Timestamp) =>
          (t.getTime, t.getNanos)))
      case types.TimestampNTZType =>
        of(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _))
      case _: types.DecimalType =>
        of(Ordering.fromLessThan[JBigDecimal]((a, b) => a.compareTo(b) < 0))
      // values here are certified NaN-free (convert rejects NaN), so
      // IEEE total order via compare() matches Spark's
      case types.FloatType =>
        of(Ordering.fromLessThan[Float](java.lang.Float.compare(_, _) < 0))
      case types.DoubleType =>
        of(Ordering.fromLessThan[Double](java.lang.Double.compare(_, _) < 0))
      case _ => None // nested/binary/etc. unsupported — fallback scan
    }
  }

  /** Unsigned byte-wise UTF-8 comparison — UTF8String's order. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** One raw footer statistic value → the Spark EXTERNAL value of
    * `dt`; None ⇔ an unexpected physical/logical combination. */
  private def convert(v: Any, prim: org.apache.parquet.schema.PrimitiveType,
                      dt: types.DataType): Option[Any] = {
    import PrimitiveTypeName._
    (dt, prim.getPrimitiveTypeName) match {
      case (types.IntegerType, INT32) => Some(v.asInstanceOf[Int])
      case (types.ShortType, INT32) => Some(v.asInstanceOf[Int].toShort)
      case (types.ByteType, INT32) => Some(v.asInstanceOf[Int].toByte)
      case (types.LongType, INT64) => Some(v.asInstanceOf[Long])
      case (types.BooleanType, BOOLEAN) => Some(v.asInstanceOf[Boolean])
      case (types.StringType, BINARY) =>
        Some(new String(v.asInstanceOf[Binary].getBytes, UTF_8))
      case (types.DateType, INT32) =>
        Some(java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong)))
      case (types.TimestampType, INT64) =>
        timestampMicros(v.asInstanceOf[Long], prim).map { us =>
          val secs = Math.floorDiv(us, 1000000L)
          val nanos = Math.floorMod(us, 1000000L) * 1000L
          java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(secs, nanos))
        }
      case (types.TimestampNTZType, INT64) =>
        timestampMicros(v.asInstanceOf[Long], prim).map { us =>
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        }
      case (d: types.DecimalType, INT32) =>
        Some(new JBigDecimal(
          BigInteger.valueOf(v.asInstanceOf[Int].toLong), d.scale))
      case (d: types.DecimalType, INT64) =>
        Some(new JBigDecimal(
          BigInteger.valueOf(v.asInstanceOf[Long]), d.scale))
      case (d: types.DecimalType, BINARY | FIXED_LEN_BYTE_ARRAY) =>
        Some(new JBigDecimal(
          new BigInteger(v.asInstanceOf[Binary].getBytes), d.scale))
      // a PRESENT float/double statistic certifies a NaN-free chunk
      // (parquet-mr's Math.min/max fold lets NaN poison the bound and
      // the metadata converter then refuses to serialize it) — Spark's
      // NaN-ranks-highest min/max therefore equal the footer's. A
      // NaN-valued bound from some other writer refuses, one-sided.
      case (types.FloatType, FLOAT) =>
        Some(v.asInstanceOf[Float]).filterNot(_.isNaN)
      case (types.DoubleType, DOUBLE) =>
        Some(v.asInstanceOf[Double]).filterNot(_.isNaN)
      case _ => None
    }
  }

  /** The micros value of an INT64 timestamp statistic (MILLIS and
    * MICROS only — NANOS would truncate a bound). */
  private def timestampMicros(
      v: Long, prim: org.apache.parquet.schema.PrimitiveType): Option[Long] =
    prim.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(v)
          case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(v * 1000L)
          case _ => None
        }
      case _ => None
    }
}
