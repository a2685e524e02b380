package org.apache.spark.sql
package graftshim

import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side parquet row writing for the V2 streaming sink, reusing
  * Spark's OWN write pipeline (`ParquetUtils.prepareWrite` →
  * `OutputWriterFactory` → `ParquetOutputWriter`) instead of re-deriving
  * its configuration: the support is prepared on the DRIVER with the
  * session's SQLConf — field-id writes, timestamp encoding, rebase
  * modes, compression all come out exactly as the batch writer's — then
  * shipped to executors (the factory is Serializable by design; it is
  * the same object FileFormatWriter ships). These classes are
  * `private[sql]` machinery normally driven by FileFormatWriter, which a
  * streaming table sink cannot use — hence the shim package, exposing
  * only opaque wrappers. */
object GraftParquetWrite {

  /** Driver-side: the configured write support, serializable whole (the
    * Hadoop conf rides it as a broadcast). */
  def prepare(spark: SparkSession, schema: StructType): WriteSupport = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val job = Job.getInstance(cs.sessionState.newHadoopConf())
    val opts = new ParquetOptions(Map.empty[String, String], cs.sessionState.conf)
    val f = ParquetUtils.prepareWrite(cs.sessionState.conf, job, schema, opts)
    new WriteSupport(f, _root_.graft.iceberg.ConfBroadcast(spark, job.getConfiguration), schema)
  }

  final class WriteSupport private[graftshim](
      factory: OutputWriterFactory,
      conf: Broadcast[SerializableConfiguration],
      schema: StructType) extends Serializable {
    /** Executor-side: open one parquet file for row-at-a-time writes. */
    def open(path: String, partitionId: Int, taskId: Long): RowFileWriter = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-stream", partitionId), TaskType.MAP,
          (taskId % Int.MaxValue).toInt), 0)
      new RowFileWriter(factory.newInstance(
        path, schema, new TaskAttemptContextImpl(conf.value.value, attempt)))
    }
    def hadoopConf: org.apache.hadoop.conf.Configuration = conf.value.value
  }

  final class RowFileWriter private[graftshim](
      inner: execution.datasources.OutputWriter) {
    def write(row: InternalRow): Unit = inner.write(row)
    def close(): Unit = inner.close()
  }
}
