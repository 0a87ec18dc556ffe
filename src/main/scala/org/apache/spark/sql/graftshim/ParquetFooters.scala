package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet schema resolution: the schema `spark.read.parquet`
  * would infer, taken from one footer read with plain parquet-hadoop
  * instead of Spark's schema-inference job.
  *
  * Inference without `mergeSchema` already trusts a single file's footer;
  * this reads the same footer and converts it with the same
  * `ParquetFileFormat.readSchemaFromFooter` and a converter built from the
  * session conf, so the result is identical (including the Spark row
  * metadata a Spark-written file carries). Lives in the shim package
  * because `sessionState` and `QueryCompilationErrors` are `private[sql]`
  * and `HadoopFSUtils` is `private[spark]`.
  * Nothing is cached: every call lists the path and re-reads the footer.
  */
object ParquetFooters {

  final case class Resolved(schema: StructType, metadata: ParquetMetadata)

  /** The schema and raw footer of the first data file under `path` (a
    * file or a directory tree). A missing path and a path holding no data
    * file fail with the errors `spark.read.parquet` raises for them. */
  def read(spark: SparkSession, path: String): Resolved = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val qualified = fs.makeQualified(root)
    if (!fs.exists(qualified))
      throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
    val file = firstDataFile(fs, fs.getFileStatus(qualified))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val metadata = try reader.getFooter finally reader.close()
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    Resolved(
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, metadata), converter),
      metadata)
  }

  /** Depth-first, name-ordered search for a data file, skipping the names
    * Spark's file index hides (`_SUCCESS`, `.crc` side files, ...). */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else fs.listStatus(st.getPath)
      .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(c => firstDataFile(fs, c)).nextOption()
}
