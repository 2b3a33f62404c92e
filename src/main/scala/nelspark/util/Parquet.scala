package nelspark.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * Parquet tables opened with the schema in their footer, read on the
 * driver. `spark.read.parquet` without a schema infers one with a Spark
 * job (`ParquetFileFormat.mergeSchemasInParallel`) on every call; that job
 * reads one footer and converts it exactly as [[schema]] does here: the
 * Spark schema stored in the footer when there is one (Spark-written
 * files), otherwise the converted parquet type (pyarrow- or
 * parquet-mr-written files). So [[read]] picks the schema inference picks
 * without `mergeSchema`, which no session here sets, and launches no job.
 * Summary files (`_metadata`, `_common_metadata`), which inference would
 * prefer, are written by nothing here, and partition directories
 * (`k=v/`) are not discovered: a table is one file or one directory of
 * data files.
 */
object Parquet {

  /** Hidden to Spark's file index: in-flight (`.`) and marker (`_`) files. */
  private def visible(p: Path): Boolean =
    !p.getName.startsWith(".") && !p.getName.startsWith("_")

  /** The data files of `path` through its Hadoop file system: the file
    * itself, or a directory's visible files by name. Empty when `path`
    * does not exist. */
  private[nelspark] def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s => s.isFile && visible(s.getPath)).sortBy(_.getPath.getName)
  }

  /** The footer of one parquet file, read on the driver the way Spark's
    * scans read it; `filter` selects the row-group metadata kept. */
  private[nelspark] def footer(spark: SparkSession, file: FileStatus,
      filter: MetadataFilter = ParquetMetadataConverter.NO_FILTER): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration), filter)

  /** The schema of the table at `path`, from the footer of its first data
    * file by name, read without its row groups as inference reads it. */
  def schema(spark: SparkSession, path: String): StructType = {
    val file = dataFiles(spark, path).headOption
      .getOrElse(throw new java.io.FileNotFoundException(s"no parquet data file at $path"))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer(spark, file, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The table at `path`, opened with its [[schema]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)
}
