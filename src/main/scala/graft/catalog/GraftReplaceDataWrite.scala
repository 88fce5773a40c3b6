package graft.catalog

import graft.table.{DataFile, TableWriter, TxTable}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.types._

/**
 * The group-based `ReplaceData` write behind native `UPDATE` / `MERGE
 * INTO` / non-filter `DELETE` on graft tables — the copy-on-write
 * commit Iceberg calls a "rewrite files" operation:
 *
 *  - the operation's SCAN records exactly which snapshot files it
 *    listed (SnapshotFileIndex capture, post partition-pruning) — those
 *    are the replaced groups;
 *  - executors write replacement rows through the table's own writer
 *    ([[TableWriter]]), routing rows to `<col>=<value>` directories
 *    exactly as every table write does (updated partition values move
 *    rows for free), and describe each file from its footer;
 *  - the driver commit CAS commits `kept ∪ new` against the snapshot
 *    the statement planned on — a concurrent writer fails the
 *    statement, never corrupts it.
 *
 * The write declares a CLUSTERED distribution on the partition columns,
 * so Spark shuffles replacement rows partition-wise first — without it
 * every task would open a file per touched partition (tasks×partitions
 * small files, the classic rewrite debris at scale).
 */
class GraftReplaceDataWrite(
    tx: TxTable,
    snapVersion: Long,
    writeSchema: StructType,
    partSpec: Seq[graft.table.PartField],
    zoneId: String,
    operation: String,
    capturedFiles: () => Set[String])
  extends Write with RequiresDistributionAndOrdering {

  override def description(): String = s"graft-replace-data($operation)"

  override def requiredDistribution(): Distribution =
    if (partSpec.isEmpty) Distributions.unspecified()
    else Distributions.clustered(
      // cluster on the SOURCE columns (the only ones in the write
      // schema) — same-partition rows still co-locate, because the
      // partition value is a function of the source value
      partSpec.map(_.source).distinct.map(c => Expressions.identity(c)).toArray)

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    private val writer = new TableWriter(tx.spark, new Path(tx.root, "data"),
      writeSchema, partSpec, zoneId)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      new GraftDataWriterFactory(writer)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val replaced = capturedFiles()
      val snap = tx.snapshotAt(snapVersion)
      val kept = snap.files.filterNot(f => replaced.contains(f.path))
      tx.commitReplace(snapVersion, operation,
        kept ++ GraftFileMessage.files(messages))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      tx.deleteDataFiles(GraftFileMessage.files(messages).map(_.path))
  }
}

/** The finished files (stats included) one writing task produced. */
case class GraftFileMessage(files: Seq[DataFile]) extends WriterCommitMessage

object GraftFileMessage {
  def files(messages: Array[WriterCommitMessage]): Seq[DataFile] =
    messages.toSeq.collect { case m: GraftFileMessage => m.files }.flatten
}

/** Batch and streaming writer factory: one writer per task, or per
  * (task, epoch). */
class GraftDataWriterFactory(writer: TableWriter) extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(writer, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/**
 * The V2 face of the table layer's [[TableWriter]]: routes each row to
 * the task's writer, which writes the non-partition columns to one file
 * per partition directory (the layout every table write produces).
 */
class GraftDataWriter(
    writer: TableWriter,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  // The incoming layout depends on which writing task Spark picked:
  // with a metadata projection it hands rows ALREADY projected to the
  // write schema; the plain task (our case — no required metadata
  // attributes) hands the raw ReplaceData query output, which is
  // [__row_operation] ++ writeSchema. Detect by arity on first row;
  // with the operation column present, rows flagged DELETE (1) are
  // skipped rather than written (group-based COW streams mark every
  // keeper WRITE/WRITE_WITH_METADATA).
  private var task: TableWriter.Task = _
  private var opOffset: Int = -1

  override def write(row: InternalRow): Unit = {
    if (task == null) {
      opOffset = row.numFields - writer.width
      require(opOffset == 0 || opOffset == 1,
        s"unexpected replace-data row arity ${row.numFields} for a " +
          s"${writer.width}-column write schema")
      task = writer.task(partitionId, taskId, opOffset)
    }
    // RowDeltaUtils.DELETE_OPERATION = 1 — a row the rewrite drops
    // (group-based COW streams mark keepers 5/6, WRITE[_WITH_METADATA])
    if (opOffset == 1 && !row.isNullAt(0) && row.getInt(0) == 1) return
    task.write(row)
  }

  override def commit(): WriterCommitMessage =
    GraftFileMessage(if (task == null) Nil else task.commit())

  override def abort(): Unit = if (task != null) task.abort()

  override def close(): Unit = ()
}
