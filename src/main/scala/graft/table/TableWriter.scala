package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.{ParquetWriteBundle, RowSink, SmallScan}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.util.control.NonFatal

/**
 * The one writer behind every file a commit references (data files,
 * change data, equality deletes) for the table API and the V2 connector
 * alike. Each task writes its files once, under their final names, reads
 * each footer right after closing it ([[FileStats.describe]]) and hands
 * back finished [[DataFile]] records. Nothing is staged, listed or
 * renamed: a file is invisible until a committed snapshot references it,
 * so the log's CAS is the only atomic step of a write.
 *
 * One file per partition directory per task, at
 * `<dir>/<field>=<value>/…/<prefix><token>-<task attempt>-<n>.parquet`.
 * The token is registered in-flight ([[TxLog.newWriteToken]]) when the
 * writer is built on the driver, before any file exists, so a
 * same-process vacuum never reaps a file of a running write.
 *
 * A partition field that is a column of the rows renders through the
 * identity transform (Spark's own cast, which named the directories of
 * Spark's V1 writer); a derived field absent from the rows is evaluated
 * from its source column. Partition columns never reach the files.
 */
final class TableWriter(
    @transient spark: SparkSession,
    dir: Path,
    private val writeSchema: StructType,
    private val partSpec: Seq[PartField],
    private val zoneId: String,
    private val prefix: String = "") extends Serializable {

  private val token = TxLog.newWriteToken()
  /** Columns of the rows this writer takes (after any `offset`). */
  val width: Int = writeSchema.length
  private val dirName = dir.toString
  private val partNames = partSpec.map(_.name).toSet
  private val bundle = new ParquetWriteBundle(spark, StructType(writeSchema
    .filterNot(f => partNames.contains(f.name)).map(_.copy(nullable = true))))

  /** Executor side: the writer of one task. `offset` = leading columns
    * of the incoming rows that precede `writeSchema`'s. */
  def task(partitionId: Int, taskId: Long, offset: Int = 0): TableWriter.Task =
    new TableWriter.Task(this, partitionId, taskId, offset)

  /** Driver side: delete files this writer wrote (best effort per file). */
  private def delete(files: Iterator[DataFile]): Unit = {
    val fs = new Path(dirName).getFileSystem(bundle.hadoopConf)
    files.foreach(f =>
      try fs.delete(new Path(dirName, f.path), false)
      catch { case NonFatal(_) => () })
  }

  /** One zero-row file of an unpartitioned write, written by the caller:
    * a change-feed commit records a file even when it changed no row. */
  def emptyFile(): DataFile = {
    require(partSpec.isEmpty, "an empty file has no partition")
    val t = task(0, 0L)
    t.sinkFor(t.noPartition)
    t.commit().head
  }
}

object TableWriter {

  /** Write `df` as ONE Spark job inside a SQL execution (AQE and the
    * listeners see it as any action); returns every task's files in
    * partition order. Each task's files are collected as the task
    * finishes: if the job fails, the driver deletes the files of the
    * tasks that did finish (a failing task deletes its own) and
    * rethrows, so a failed write leaves nothing for `vacuum` to reap;
    * a failed delete is attached to the job's failure. `df` is planned
    * with [[SmallScan]] off, so the write keeps its tasks. */
  def run(df: DataFrame, writer: TableWriter): Seq[DataFile] = SmallScan.disabled {
    val qe = df.queryExecution
    var done: Array[Seq[DataFile]] = Array.empty
    try SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      val rdd = qe.toRdd
      done = new Array[Seq[DataFile]](rdd.getNumPartitions)
      df.sparkSession.sparkContext.runJob(rdd, writeTask(writer) _,
        done.indices, (i: Int, files: Seq[DataFile]) =>
          done.synchronized(done(i) = files))
    } catch {
      case e: Throwable =>
        try done.synchronized(writer.delete(done.iterator.filter(_ != null).flatten))
        catch { case NonFatal(x) => e.addSuppressed(x) }
        throw e
    }
    done.toSeq.flatten
  }

  private def writeTask(w: TableWriter)(ctx: TaskContext,
      rows: Iterator[InternalRow]): Seq[DataFile] = {
    val t = w.task(ctx.partitionId, ctx.taskAttemptId)
    try { rows.foreach(t.write); t.commit() }
    catch { case e: Throwable => t.abort(); throw e }
  }

  final class Task private[TableWriter] (w: TableWriter, partitionId: Int,
      taskId: Long, offset: Int) {
    import w._

    private val dataProj = UnsafeProjection.create(
      writeSchema.fields.zipWithIndex
        .filterNot { case (f, _) => partNames.contains(f.name) }
        .map { case (f, i) => BoundReference(i + offset, f.dataType, nullable = true) })
    // one rendered string per partition field, codegen'd once per task
    private val keyProj = UnsafeProjection.create(partSpec.map { f =>
      val field =
        if (writeSchema.fieldNames.contains(f.name))
          PartField(f.name, PartitionTransform.Identity, f.name)
        else f
      val i = writeSchema.fieldIndex(field.source)
      val dt = writeSchema(i).dataType
      PartitionTransform.exprFor(field,
        BoundReference(i + offset, dt, nullable = true), dt, zoneId)
    })
    private[TableWriter] lazy val noPartition: UnsafeRow =
      keyProj(InternalRow.empty).copy()

    final class Open private[TableWriter] (val sink: RowSink, val rel: String,
        val values: Map[String, String])
    private val open = mutable.LinkedHashMap.empty[UnsafeRow, Open]

    private[TableWriter] def sinkFor(key: UnsafeRow): Open =
      open.getOrElse(key, {
        val values = partSpec.zipWithIndex.map { case (f, i) =>
          f.name -> PartitionRender.stored(
            if (key.isNullAt(i)) null else key.getUTF8String(i))
        }.toMap
        val dirRel = partSpec.map(f =>
          s"${f.name}=${ExternalCatalogUtils.escapePathName(values(f.name))}/")
          .mkString
        val rel = s"$dirRel$prefix$token-$taskId-${open.size}.parquet"
        val o = new Open(
          bundle.open(new Path(dirName, rel).toString, partitionId, taskId),
          rel, values)
        open.put(key.copy(), o)
        o
      })

    def write(row: InternalRow): Unit =
      sinkFor(if (partSpec.isEmpty) noPartition else keyProj(row))
        .sink.write(dataProj(row))

    /** Close every file and describe it from its footer. */
    def commit(): Seq[DataFile] = {
      open.values.foreach(_.sink.close())
      val conf = bundle.hadoopConf
      open.values.map { o =>
        val file = new Path(dirName, o.rel)
        FileStats.describe(o.rel, o.values,
          file.getFileSystem(conf).getFileStatus(file), conf)
      }.toSeq
    }

    /** Drop every file this task created. */
    def abort(): Unit = {
      val fs = new Path(dirName).getFileSystem(bundle.hadoopConf)
      open.values.foreach { o =>
        try o.sink.close() catch { case _: Throwable => () }
        try fs.delete(new Path(dirName, o.rel), false)
        catch { case _: Throwable => () }
      }
    }
  }
}
