package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side parquet file writing, the one writer of every graft
  * store data file (the write-side twin of [[StreamBridge]]): Spark 4
  * keeps the file-sink machinery (`FileFormat.prepareWrite`,
  * `OutputWriter`) `private[sql]`, so this shim — living in the sql
  * namespace like [[ColumnBridge]] — prepares the parquet
  * [[OutputWriterFactory]] on the driver and opens per-task writers
  * on executors. Rows are written by Spark's OWN
  * `ParquetOutputWriter` (the exact row-to-parquet path every
  * `df.write.parquet` uses: same encoders, same compression, same
  * footer statistics), so each file is the one `df.write.parquet`
  * would write, under its final name with no commit rename. */
object WriteBridge {

  /** One open per-task parquet file writer (graft-visible handle —
    * the underlying `OutputWriter` type is private[sql]). */
  trait RowFileWriter {
    def write(row: InternalRow): Unit
    def close(): Unit
    /** Best-effort removal of the (partially written) file — task
      * abort; the manifest never saw the name, so a failed delete
      * only leaves vacuum debris. */
    def drop(): Unit
  }

  /** Serializable per-task writer opener: built once on the driver
    * (`prepareWrite` configures the Hadoop job — write support
    * class, schema string, compression), shipped to executors
    * inside the `DataWriterFactory`. */
  final class TaskWriters private[WriteBridge] (
      factory: OutputWriterFactory,
      conf: SerializableConfiguration,
      schema: StructType) extends Serializable {

    /** Open a parquet writer at `path` (absolute file path, created
      * exclusively — data files are immutable and names are unique
      * per task attempt). */
    def open(path: String, partitionId: Int,
        taskId: Long): RowFileWriter = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt)
      val ctx = new TaskAttemptContextImpl(conf.value, attempt)
      val w = factory.newInstance(path, schema, ctx)
      new RowFileWriter {
        override def write(row: InternalRow): Unit = w.write(row)
        override def close(): Unit = w.close()
        override def drop(): Unit = {
          val p = new Path(path)
          try p.getFileSystem(conf.value).delete(p, false)
          catch { case _: java.io.IOException => () }
        }
      }
    }
  }

  /** Driver: prepare the parquet write machinery for `schema` (the
    * PHYSICAL field names files store under). The returned object is
    * serializable and executor-safe. */
  def parquetTaskWriters(spark: SparkSession,
      schema: StructType): TaskWriters = {
    val job = Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    new TaskWriters(factory,
      new SerializableConfiguration(job.getConfiguration), schema)
  }

  /** Driver: run `job` over `df`'s rows — their schema and
    * `RDD[InternalRow]` — as one SQL execution, like any Dataset
    * action (the session's SQL conf reaches the tasks). */
  def withRows[T](df: DataFrame)(
      job: (StructType, RDD[InternalRow]) => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft stage"))(
      job(qe.executedPlan.schema, qe.toRdd))
  }
}
