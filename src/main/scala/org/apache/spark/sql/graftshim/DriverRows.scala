package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Small frames held on the driver as Spark's own `InternalRow`s: no Row
  * encoder on either side, so rows collected from one plan can feed
  * another plan or a parquet writer unchanged.
  *
  * Lives in the shim package because `Dataset.ofRows`,
  * `QueryExecution.prepareExecutedPlan`, `SQLConf.withExistingConf` and
  * `SQLExecution.withSQLConfPropagated` are `private[sql]`.
  */
object DriverRows {

  /** A frame's schema and its rows. */
  final case class Rows(schema: StructType, rows: Array[InternalRow])

  private def schemaOf(plan: SparkPlan) = DataTypeUtils.fromAttributes(plan.output)

  /** The rows of `df`, collected in one job ([[plan]], [[collectEach]]). */
  def collect(df: DataFrame): Rows =
    collectEach(df.sparkSession, Seq(plan(df))).head.fold(e => throw e, identity)

  /** A frame prepared to run: its schema and the RDD of its rows. */
  final case class Planned(schema: StructType, rdd: RDD[InternalRow])

  /** Plan `df` and create its RDD without running it. Safe to call from
    * any thread. The plan is prepared without adaptive query execution
    * and without whole-stage code generation: AQE wraps any plan that
    * holds a keyed operator (a window) even when no exchange is needed,
    * and re-plans it as a query stage when it runs, and whole-stage
    * codegen generates each stage's Java source on the driver at every
    * execution (the compiled class is cached, the source is not). Each
    * costs up to tens of milliseconds of driver work per frame, which a
    * frame of a few hundred rows does not win back. */
  def plan(df: DataFrame): Planned = {
    val qe = df.queryExecution
    val conf = qe.sparkSession.sessionState.conf.clone()
    conf.setConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED, false)
    val plan = qe.sparkSession.withActive(SQLConf.withExistingConf(conf)(
      QueryExecution.prepareExecutedPlan(qe.sparkSession, qe.sparkPlan)))
    Planned(schemaOf(plan), plan.execute())
  }

  /** The rows of every planned frame in ONE job: the RDDs are unioned,
    * each task copies its rows as `executeCollect` does, and each frame's
    * rows are cut back out by partition index. The job is submitted from
    * the calling thread, so it carries that thread's local properties (a
    * streaming query's id inside `foreachBatch`), with `spark`'s SQL
    * configuration propagated to the tasks as a Dataset action does.
    *
    * One failing frame fails the shared job; the frames are then
    * collected one job each, so each failure stays with its own frame. */
  def collectEach(spark: SparkSession, planned: Seq[Planned]): Seq[Either[Exception, Rows]] = {
    def run(rdd: RDD[InternalRow]) =
      SQLExecution.withSQLConfPropagated(spark.asInstanceOf[ClassicSession])(
        rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray))
    if (planned.isEmpty) Nil
    else try {
      val parts = run(new UnionRDD(planned.head.rdd.sparkContext, planned.map(_.rdd)))
      val ends = planned.map(_.rdd.getNumPartitions).scanLeft(0)(_ + _)
      planned.indices.map(i =>
        Right(Rows(planned(i).schema, parts.slice(ends(i), ends(i + 1)).flatten)))
    } catch {
      case _: Exception if planned.size > 1 =>
        planned.map(p => try Right(Rows(p.schema, run(p.rdd).flatten))
          catch { case e: Exception => Left(e) })
      case e: Exception => Seq(Left(e))
    }
  }

  /** A one-partition frame over `rows`: a local relation under a
    * shuffle-free coalesce, so a keyed operator over it (a window) needs
    * no exchange, and a plan over it runs as one task. */
  def frame(spark: SparkSession, rows: Rows): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession],
      Repartition(1, shuffle = false,
        LocalRelation(DataTypeUtils.toAttributes(rows.schema), rows.rows.toSeq)))
}
