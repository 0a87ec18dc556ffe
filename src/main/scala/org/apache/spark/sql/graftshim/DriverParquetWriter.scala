package org.apache.spark.sql.graftshim

import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Driver-side parquet write of a small frame: its rows come back in one
  * result job and are written as ONE part file under `dir` by the writer
  * Spark's own parquet sink instantiates per task
  * (`ParquetFileFormat.prepareWrite(...).newInstance`), so the file's
  * schema, Spark row metadata, codec and name shape are those of a
  * one-task `df.write.parquet`.
  *
  * What it saves over `df.write`: the write job's task binary, which
  * carries two serialized copies of the session's Hadoop configuration
  * (one in the job description, one in its stats tracker), and the
  * FileOutputCommitter's task and job commit renames. There is no
  * committer: the file is written in place and the caller decides what
  * makes the directory visible. The frame is collected whole, so only
  * frames that fit the driver belong here.
  *
  * Lives in the shim package because `sessionState` is `private[sql]`.
  */
object DriverParquetWriter {

  /** Write `df` as one part file under `dir` (created if missing) and
    * return the file's path. An empty frame still writes a file that
    * carries the schema, like a one-task `df.write` does. */
  def write(df: DataFrame, dir: String): Path = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    // the InternalRows of the frame's own plan, under an SQL execution id
    // like any Dataset action: no Row encoder on either side
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    val schema = DataTypeUtils.fromAttributes(qe.executedPlan.output)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = new Path(dir,
      s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(context)}")
    val writer = factory.newInstance(file.toString, schema, context)
    try rows.foreach(writer.write) finally writer.close()
    file
  }
}
