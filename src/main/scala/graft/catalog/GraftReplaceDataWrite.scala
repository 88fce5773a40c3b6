package graft.catalog

import graft.table.TxTable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.graft.{ParquetWriteBundle, RowSink}
import org.apache.spark.sql.types._

import java.util.UUID
import scala.collection.mutable

/**
 * The group-based `ReplaceData` write behind native `UPDATE` / `MERGE
 * INTO` / non-filter `DELETE` on graft tables — the copy-on-write
 * commit Iceberg calls a "rewrite files" operation:
 *
 *  - the operation's SCAN records exactly which snapshot files it
 *    listed (SnapshotFileIndex capture, post partition-pruning) — those
 *    are the replaced groups;
 *  - executors write replacement rows as partitioned parquet THROUGH
 *    Spark's own `ParquetFileFormat` writer ([[ParquetWriteBundle]]),
 *    routing rows to `<col>=<value>` directories exactly as the table's
 *    batch writer does (updated partition values move rows for free);
 *  - the driver commit describes the new files from their footers
 *    (row counts + min/max stats, same as every other commit) and CAS
 *    commits `kept ∪ new` against the snapshot the statement planned
 *    on — a concurrent writer fails the statement, never corrupts it.
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

  private val dataDir = new Path(tx.root, "data")
  // identity partition values live in the directory name only; a
  // DERIVED field's source column is ordinary data and stays in the file
  private val identityCols = partSpec.filter(_.isIdentity).map(_.name).toSet
  private val dataSchema =
    StructType(writeSchema.filterNot(f => identityCols.contains(f.name)))

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
    private val bundle = new ParquetWriteBundle(tx.spark, dataSchema)

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      new GraftDataWriterFactory(bundle, dataDir.toString, writeSchema,
        partSpec, zoneId)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val newFiles = tx.describeDataFiles(messages.toSeq
        .collect { case m: GraftFileMessage => m.files }.flatten)
      val replaced = capturedFiles()
      val snap = tx.snapshotAt(snapVersion)
      val kept = snap.files.filterNot(f => replaced.contains(f.path))
      tx.commitReplace(snapVersion, operation, kept ++ newFiles)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      tx.deleteDataFiles(messages.toSeq
        .collect { case m: GraftFileMessage => m.files }.flatten.map(_._1))
  }
}

/** (snapshot-relative path, partition values) per file written. */
case class GraftFileMessage(files: Seq[(String, Map[String, String])])
  extends WriterCommitMessage

class GraftDataWriterFactory(
    bundle: ParquetWriteBundle,
    dataDir: String,
    writeSchema: StructType,
    partSpec: Seq[graft.table.PartField],
    zoneId: String) extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(bundle, dataDir, writeSchema, partSpec, zoneId,
      partitionId, taskId)
}

/** Streaming flavor of the same writers — one per (task, epoch). */
class GraftStreamingWriterFactory(
    bundle: ParquetWriteBundle,
    dataDir: String,
    writeSchema: StructType,
    partSpec: Seq[graft.table.PartField],
    zoneId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(bundle, dataDir, writeSchema, partSpec, zoneId,
      partitionId, taskId)
}

/**
 * Executor-side dynamic-partition writer: routes each row to the sink
 * for its partition directory (opened lazily, one file per directory
 * per task — the upstream clustered distribution keeps that near one
 * per task), writing the NON-partition columns only; partition values
 * live in the directory name, exactly like the batch `partitionBy`
 * path, so readers see one uniform layout.
 */
class GraftDataWriter(
    bundle: ParquetWriteBundle,
    dataDir: String,
    writeSchema: StructType,
    partSpec: Seq[graft.table.PartField],
    zoneId: String,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val identityCols = partSpec.filter(_.isIdentity).map(_.name).toSet

  // The incoming layout depends on which writing task Spark picked:
  // with a metadata projection it hands rows ALREADY projected to the
  // write schema; the plain task (our case — no required metadata
  // attributes) hands the raw ReplaceData query output, which is
  // [__row_operation] ++ writeSchema. Detect by arity on first row;
  // with the operation column present, rows flagged DELETE (1) are
  // skipped rather than written (group-based COW streams mark every
  // keeper WRITE/WRITE_WITH_METADATA).
  private var opOffset: Int = -1
  private def projFor(offset: Int) = UnsafeProjection.create(
    writeSchema.fields.zipWithIndex
      .filterNot { case (f, _) => identityCols.contains(f.name) }
      .map { case (f, i) => BoundReference(i + offset, f.dataType, f.nullable) })
  private var dataProj: UnsafeProjection = _
  // partition field name -> row-to-string renderer (identity: the V1
  // rendering of the column value; derived: the shared transform
  // expression over the SOURCE column — one definition everywhere)
  private var partFields: Seq[(String, InternalRow => String)] = _

  private def bind(row: InternalRow): Unit = {
    opOffset = row.numFields - writeSchema.length
    require(opOffset == 0 || opOffset == 1,
      s"unexpected replace-data row arity ${row.numFields} for " +
        s"schema ${writeSchema.fieldNames.mkString(",")}")
    dataProj = projFor(opOffset)
    partFields = partSpec.map { f =>
      val i = writeSchema.fieldIndex(f.source)
      val dt = writeSchema(i).dataType
      val ord = i + opOffset
      if (f.isIdentity)
        (f.name, (row: InternalRow) =>
          PartitionRender(if (row.isNullAt(ord)) null else row.get(ord, dt), dt))
      else
        (f.name, graft.table.PartitionTransform.rowEval(f, ord, dt, zoneId))
    }
  }

  // dirRel -> (sink, partitionValues, relPath)
  private val sinks =
    mutable.LinkedHashMap.empty[String, (RowSink, Map[String, String], String)]

  override def write(row: InternalRow): Unit = {
    if (opOffset < 0) bind(row)
    // RowDeltaUtils.DELETE_OPERATION = 1 — a row the rewrite drops
    // (group-based COW streams mark keepers 5/6, WRITE[_WITH_METADATA])
    if (opOffset == 1 && !row.isNullAt(0) && row.getInt(0) == 1) return
    val partVals: Map[String, String] = partFields.map { case (c, eval) =>
      c -> eval(row)
    }.toMap
    val dirRel = partFields.map { case (c, _) =>
      s"$c=${ExternalCatalogUtils.escapePathName(partVals(c))}"
    }.mkString("/")
    val (sink, _, _) = sinks.getOrElseUpdate(dirRel, {
      val rel = (if (dirRel.isEmpty) "" else s"$dirRel/") +
        s"${UUID.randomUUID().toString}.parquet"
      (bundle.open(new Path(dataDir, rel).toString, partitionId, taskId),
        partVals, rel)
    })
    sink.write(dataProj(row))
  }

  private var closed = false
  private def closeAll(): Unit = if (!closed) {
    closed = true
    sinks.values.foreach(s => try s._1.close() catch { case _: Throwable => () })
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftFileMessage(sinks.values.map(v => (v._3, v._2)).toSeq)
  }

  override def abort(): Unit = {
    closeAll()
    val fs = new Path(dataDir).getFileSystem(bundle.hadoopConf)
    sinks.values.foreach(v =>
      try fs.delete(new Path(new Path(dataDir), v._3), false)
      catch { case _: Throwable => () })
  }

  override def close(): Unit = closeAll()
}

/** CATALYST-INTERNAL-value rendering of a partition value that matches
  * TxTable's external-value `partitionValueString` byte for byte — the
  * directory name and snapshot `partitionValues` ARE the partition value
  * contract. Shared by the row-level V2 writer (per-row dynamic
  * routing) and the partition-scoped INSERT OVERWRITE predicate
  * translation. */
object PartitionRender {
  def apply(v: Any, dt: DataType): String =
    if (v == null) "__HIVE_DEFAULT_PARTITION__"
    else dt match {
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType | DoubleType | FloatType => v.toString
      case _: DecimalType =>
        v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toBigDecimal.bigDecimal.toPlainString
      case TimestampType =>
        // internal micros → java.sql.Timestamp.toString, the rendering
        // the V1 append path's partitionValueString produced for the
        // same row — keeps row-level DML and partition overwrite
        // working on tables the append path created with a timestamp
        // partition column
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .toJavaTimestamp(v.asInstanceOf[Long]).toString
      case other => throw new UnsupportedOperationException(
        s"partition column type $other not supported by the V2 write")
    }
}
