package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import java.io.{ObjectInputStream, ObjectOutputStream}

/**
 * Hadoop `Configuration` is not `java.io.Serializable`; it IS a
 * `Writable`, and Object streams are Data streams, so delegate.
 * (The same trick as Spark's `private[spark] SerializableConfiguration`,
 * re-derived here because that class is not visible to extensions.)
 */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/**
 * A serializable recipe for opening Spark's OWN parquet row writers on
 * executors — the `private[sql]` machinery behind every Spark parquet
 * write (`ParquetFileFormat.prepareWrite` → `OutputWriterFactory`),
 * packaged for the table writer (`graft.table.TableWriter`). Built on
 * the driver (captures the session's parquet conf: compression,
 * timestamp mode, rebase handling, write support class);
 * `open` runs on executors with a per-task Hadoop attempt context.
 *
 * Lives in `org.apache.spark.sql` because `OutputWriterFactory` /
 * `OutputWriter` are `private[sql]` (same pattern as [[ColumnBridge]]).
 */
final class ParquetWriteBundle(
    @transient spark: SparkSession,
    dataSchema: StructType) extends Serializable {

  private val (factory, conf) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val f = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, dataSchema)
    (f, new SerializableHadoopConf(job.getConfiguration))
  }

  def hadoopConf: Configuration = conf.value

  /** Open a parquet sink at `path` (absolute). Executor-side. */
  def open(path: String, partitionId: Int, taskId: Long): RowSink = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-write", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val context = new TaskAttemptContextImpl(conf.value, attempt)
    new RowSink(factory.newInstance(path, dataSchema, context))
  }
}

/** Public-typed wrapper over the `private[sql]` [[OutputWriter]]. */
final class RowSink(w: OutputWriter) {
  def write(row: InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}
