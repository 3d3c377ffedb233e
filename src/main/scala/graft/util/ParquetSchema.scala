package graft.util

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet bookkeeping from the footers alone, on the driver, with no
  * Spark job: a file set's schema and its row, file and byte totals.
  *
  * Schema: `spark.read.parquet(paths)` MINUS the schema-inference
  * Spark job (r22, guide §1.2 / §7.3 "driver does the planning"): every
  * schema-less parquet read launches a one-task job just to read a
  * footer and infer the schema — a fixed ~30-50 ms scheduling+probe
  * cost paid by EVERY table read, MoR read, commit validation and
  * stream schema probe, thousands of times per bench sweep and once
  * per read at 100 TB. The footer is a driver-side O(KB) read; this
  * helper reads it directly and replays Spark's own per-footer
  * inference (`ParquetFileFormat.readSchemaFromFooter`): prefer the
  * exact Spark schema JSON the writer embedded under the public
  * `org.apache.spark.sql.parquet.row.metadata` key (every
  * Spark/graft-written file carries it — exact type round-trip,
  * TimestampNTZ included), else convert the parquet MessageType with
  * Spark's own [[ParquetToSparkSchemaConverter]] under the session's
  * SQLConf (so legacy knobs like nanos-as-long behave identically).
  * `.asNullable` mirrors what DataSource forces on every inferred
  * file-source schema. Any surprise (unreadable footer, exotic
  * types) falls back to the plain inferring read — behavior, not
  * just results, identical.
  *
  * Like Spark's own non-merging inference, the schema comes from ONE
  * file; callers read file sets written under a single schema (graft
  * manifests declare one schema per table). A partitioned directory
  * (`partitionBy` output, e.g. bronze's `_ingestion_date=…`) takes its
  * data schema from the first file below it, and Spark's partition
  * discovery appends the partition columns exactly as it does for an
  * inferring read.
  *
  * Totals: the rows of a directory are the sum of its files' row-group
  * row counts — what `spark.read.parquet(dir).count()` returns — and
  * the files and bytes are the same listing's. Both halves list files
  * by Spark's own rule ([[dataFiles]]). */
object ParquetSchema {

  /** The public parquet key-value metadata key Spark writes its exact
    * schema JSON under (ParquetReadSupport.SPARK_METADATA_KEY). */
  val SparkMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Spark's hidden-name rule for file-source listings
    * (`HadoopFSUtils.shouldFilterOutPathName`, private to Spark): a name
    * starting with `.` (checksum siblings) is hidden, and so is one
    * starting with `_` (`_SUCCESS`, `_temporary`, summary files) unless
    * it holds an `=` — a partition directory such as
    * `_ingestion_date=2026-01-01` is data. In-flight `._COPYING_` copies
    * are hidden too. */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.endsWith("._COPYING_") ||
      (name.startsWith("_") && !name.contains("="))

  /** The data files a plain `spark.read.parquet(path)` reads: `path`
    * itself when it is a file, else every visible non-empty file below
    * the directory, partition subdirectories included (Spark's file
    * index drops zero-length files too). Depth first, each directory's
    * entries sorted by name; lazy, so a caller that wants one file lists
    * only the directories on the way to it. Empty when `path` does not
    * exist or holds no data file. */
  private def visibleFiles(
      hconf: Configuration, path: String): Iterator[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    def walk(st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator(st).filter(_.getLen > 0)
      else fs.listStatus(st.getPath)
        .filterNot(c => hidden(c.getPath.getName))
        .sortBy(_.getPath.getName).iterator.flatMap(walk)
    if (!fs.exists(root)) Iterator.empty else walk(fs.getFileStatus(root))
  }

  /** Every file of [[visibleFiles]]. */
  def dataFiles(hconf: Configuration, path: String): Seq[FileStatus] =
    visibleFiles(hconf, path).toList

  private def footer(hconf: Configuration, f: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hconf),
      ParquetMetadataConverter.NO_FILTER)

  /** The schema Spark's inference would produce for `path` (a parquet
    * file or a directory of them), read driver-side with no job; None
    * when the footer refuses. */
  def footerSchema(
      spark: SparkSession, path: String): Option[StructType] =
    try {
      val hconf = spark.sessionState.newHadoopConf()
      visibleFiles(hconf, path).nextOption().flatMap { f =>
        val fmd = footer(hconf, f).getFileMetaData
        Option(fmd.getKeyValueMetaData.get(SparkMetadataKey))
          .flatMap(j => Try(
            DataType.fromJson(j).asInstanceOf[StructType]).toOption)
          .orElse(Try(
            new ParquetToSparkSchemaConverter(spark.sessionState.conf)
              .convert(fmd.getSchema)).toOption)
          .map(st => asNullable(st).asInstanceOf[StructType])
      }
    } catch { case NonFatal(_) => None }

  /** DataSource forces every inferred file-source schema nullable
    * (`StructType.asNullable`, private[spark]) — replicated here so
    * the explicit schema matches the inferred one field-for-field. */
  private def asNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = asNullable(at.elementType), containsNull = true)
    case mt: org.apache.spark.sql.types.MapType => mt.copy(
      keyType = asNullable(mt.keyType),
      valueType = asNullable(mt.valueType), valueContainsNull = true)
    case other => other
  }

  /** Read `paths` as parquet without the inference job when the first
    * footer yields a schema; the plain inferring read otherwise. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.headOption.flatMap(footerSchema(spark, _)) match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** A parquet file set's size, from its footers. */
  final case class Totals(rows: Long, files: Int, bytes: Long)

  /** Rows, files and bytes of the data files under `dir` ([[dataFiles]]):
    * rows are the sum of every footer's row-group row counts, read on
    * the driver one file after another with no Spark job. An unreadable
    * footer throws, as the counting scan would. */
  def totals(spark: SparkSession, dir: String): Totals = {
    val hconf = spark.sessionState.newHadoopConf()
    val files = dataFiles(hconf, dir)
    val rows = files.iterator.map(f =>
      footer(hconf, f).getBlocks.asScala.map(_.getRowCount).sum).sum
    Totals(rows, files.size, files.map(_.getLen).sum)
  }
}
