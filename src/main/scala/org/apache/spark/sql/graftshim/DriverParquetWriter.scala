package org.apache.spark.sql.graftshim

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Driver-side parquet write of a small frame, in two halves: the rows
  * are collected ([[DriverRows.collect]] for one frame, or
  * [[DriverRows.collectEach]] for several frames in one job), then written
  * as ONE part file under `dir` by the writer Spark's own parquet sink
  * instantiates per task (`ParquetFileFormat.prepareWrite(...).newInstance`),
  * so the file's schema, Spark row metadata, codec and name shape are
  * those of a one-task `df.write.parquet`. The consume loop runs a
  * one-partition micro-batch in two jobs: one collects the batch, one
  * computes every table's delta; each delta is then written here, so no
  * table costs a job of its own.
  *
  * What it saves over `df.write`: the write job's task binary, which
  * carries two serialized copies of the session's Hadoop configuration
  * (one in the job description, one in its stats tracker), and the
  * FileOutputCommitter's task and job commit renames. There is no
  * committer: the file is written in place and the caller decides what
  * makes the directory visible. The rows are held whole, so only frames
  * that fit the driver belong here.
  *
  * Lives in the shim package because `sessionState` is `private[sql]`.
  */
object DriverParquetWriter {

  /** Write `rows` as one part file under `dir` (created if missing) and
    * return the file's path. No rows still write a file that carries the
    * schema, like a one-task `df.write` does. */
  def write(spark: SparkSession, rows: DriverRows.Rows, dir: String): Path = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, rows.schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(dir,
      s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, rows.schema, context)
    try rows.rows.foreach(writer.write) finally writer.close()
    file
  }
}
