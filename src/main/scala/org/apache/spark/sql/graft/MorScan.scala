package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}

/** An outstanding deletion vector as the scan plans it: the sidecar's
  * ABSOLUTE path plus its cardinality (from commit metadata). The
  * positions themselves never enter the plan — readers open the
  * sidecar executor-side ([[_root_.graft.table.DvStore]]), so task
  * payload is O(1) in accumulated delete state. */
case class DvRef(sidecar: String, count: Long)

/** An equality-delete file too large to inline as a key set: readers
  * load the keys executor-side ([[_root_.graft.table.EqKeyStore]]). */
case class DeferredEqDelete(path: String, column: String)

/**
 * One seq-group of a merge-on-read scan: the files that share the same
 * set of applicable equality deletes, plus the (already-loaded) deleted
 * key values per key column — catalyst-INTERNAL values, so the reader
 * compares row values directly.
 */
case class MorGroup(
    files: Seq[(String, Map[String, String], Long)],
    statsByPath: Map[String, Map[String, _root_.graft.table.ColStats]],
    deletedKeys: Map[String, Set[Any]],
    /** outstanding DELETION VECTORS by file path — sidecar REFERENCES,
      * resolved executor-side. DV'd files plan one-file sub-scans whose
      * read schema adds the parquet row-index column
      * ([[MorScan.RowIndexColumn]]), so every emitted row carries its
      * EXACT file position even under row-group/page skipping — data
      * filter pushdown stays on. */
    dvByPath: Map[String, DvRef] = Map.empty,
    /** equality deletes whose key sets exceeded the inline threshold
      * (`spark.graft.morMaxInlineDeleteKeys`) */
    deferredKeys: Seq[DeferredEqDelete] = Nil)

/**
 * Scan builder for a graft table with OUTSTANDING merge-on-read
 * equality deletes (the Iceberg v2 read path): files are grouped by
 * which deletes apply to them (`file.seq < delete.seq`), each group
 * plans through Spark's own parquet scan over a snapshot-pinned
 * sub-index, and the reader drops rows whose key is in the group's
 * deleted-key set before projecting to the requested columns. The key
 * columns are force-included in each group's read schema even when the
 * query prunes them (a `SELECT count(*)` still has to see which rows
 * are deleted), and aggregate pushdown is deliberately NOT offered —
 * a footer-level count would count deleted rows.
 *
 * Files with a deletion vector plan one-file sub-scans that read the
 * parquet ROW-INDEX metadata column (`_tmp_metadata_row_index`, the
 * same escape Delta's DV reader uses): the readers see each row's exact
 * file position from parquet block/page metadata, so row-group and
 * page skipping stay enabled and data filters push down like any other
 * scan.
 *
 * When every sub-scan supports Spark's vectorized parquet batches, the
 * whole MOR scan reads COLUMNAR: readers filter each batch by building
 * a surviving-row index map and re-expose the projected columns through
 * [[RemappedColumnVector]] wrappers (no value copying — the Iceberg
 * vectorized-delete-filter design). Otherwise it falls back to row-wise
 * reads (Spark rejects mixed row/columnar partitions within one scan).
 */
class MorScanBuilder(
    spark: SparkSession,
    dataDir: Path,
    fullSchema: StructType,
    partitionColumns: Seq[String],
    /** MOR groups, DEFERRED until `build()` so manifest skipping
      * applies to merge-on-read reads too (r17 VERDICT task 1 for
      * r18): the supplier receives the pushed PARTITION-column
      * conjuncts and may resolve only the manifests those admit
      * before grouping — a DV-bearing table between compactions keeps
      * the O(matching manifests) cold plan. Eager callers pass a
      * constant function. */
    groupsOf: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
      => Seq[MorGroup],
    /** forward only partition-column conjuncts to the group scans
      * (group-based row-level operations must read whole file groups) */
    partitionFiltersOnly: Boolean,
    /** hidden-partitioning spec (fullSchema then includes the derived
      * string fields); requested columns never include them */
    partSpec: Seq[_root_.graft.table.PartField] = Nil,
    /** retired-spec fields (metadata-only evolution) — prune-only */
    priorSpec: Seq[_root_.graft.table.PartField] = Nil)
  extends SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  // default to the TABLE schema (derived hidden-partition fields are
  // scan-internal — never part of a result)
  private var requested: StructType = StructType(fullSchema.filterNot(f =>
    partSpec.exists(p => !p.isIdentity && p.name == f.name)))
  private var pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil
  private var pushedReport
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  // capture indexes so group-based row-level operations can recover the
  // exact file groups their scan listed
  val indexes = scala.collection.mutable.ArrayBuffer.empty[SnapshotFileIndex]

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    pushed =
      if (!partitionFiltersOnly) filters
      else filters.filter(f => f.references.nonEmpty && f.deterministic &&
        f.references.forall(a => partitionColumns.contains(a.name)))
    if (partitionFiltersOnly) filters        // everything stays residual
    else {
      // residuals mirror a plain parquet builder: partition-only
      // conjuncts are fully handled by pruning; data conjuncts must be
      // re-checked above the scan (parquet pushdown is row-group level,
      // and the MOR reader only filters DELETED rows)
      val (partOnly, rest) = filters.partition(f => f.references.nonEmpty &&
        f.deterministic &&
        f.references.forall(a => partitionColumns.contains(a.name)))
      // report data filters as pushed for plan visibility via a probe
      // builder over an EMPTY group (best-effort; materializing real
      // groups here would defeat the deferred construction)
      val probe = newGroupBuilder(
        MorGroup(Nil, Map.empty, Map.empty), withRowIndex = false)
      probe.pushFilters(filters)
      pushedReport = probe.pushedFilters
      rest
    }
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    pushedReport

  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = requiredSchema

  private def newGroupBuilder(g: MorGroup, withRowIndex: Boolean)
      : ParquetScanBuilder = {
    // a group's rows are counted before its deletes apply: unknown
    val index = new SnapshotFileIndex(spark, dataDir, fullSchema,
      partitionColumns, g.files.map { case (rel, parts, size) =>
        (rel, parts, size, -1L) }, g.statsByPath, partSpec,
      priorSpec = priorSpec)
    indexes += index
    val base =
      StructType(fullSchema.filterNot(f => partitionColumns.contains(f.name)))
    // the row-index column exists in no file: the parquet readers
    // recognize the reserved name and GENERATE each row's file position
    // from block/page metadata instead of reading it
    val dataSchema =
      if (withRowIndex) StructType(base :+ MorScan.rowIndexField) else base
    val tableSchema =
      if (withRowIndex) StructType(fullSchema :+ MorScan.rowIndexField)
      else fullSchema
    ParquetScanBuilder(spark, index, tableSchema, dataSchema,
      CaseInsensitiveStringMap.empty())
  }

  override def build(): Scan = {
    // materialize the groups NOW, under the pushed partition-column
    // conjuncts: a deferred supplier resolves only the matching
    // manifests; file-level partition pruning below (each group's
    // SnapshotFileIndex) then refines within them exactly as before.
    // Pruning by partition value never changes delete application —
    // deletes attach per FILE (seq-grouping), so dropping a file the
    // query cannot match drops its delete work with it.
    // every deterministic pushed conjunct participates — partition
    // AND data columns (manifest summaries carry merged data bounds);
    // selectRefs keeps any manifest a summary cannot rule out, and
    // dropping a whole file no row of which can match is always safe
    // under MOR semantics (deletes only REMOVE rows)
    val groups = groupsOf(pushed.filter(_.deterministic))
    val keyColumns: Seq[String] =
      (groups.flatMap(_.deletedKeys.keys) ++
        groups.flatMap(_.deferredKeys.map(_.column))).distinct
    // each group reads the requested columns PLUS its key columns
    val readCols: Seq[String] = {
      val req = requested.fieldNames.toSeq
      req ++ keyColumns.filterNot(req.contains)
    }
    val readSchemaForGroups = StructType(
      fullSchema.filter(f => readCols.contains(f.name)))
    indexes.clear()
    // one sub-scan per (group, plain-files) + ONE per (group, DV'd
    // files): planning, reader-factory, and broadcast costs are
    // per-SCAN, not per-file — a heavily-DV'd snapshot plans two scans,
    // not hundreds. The per-task sidecar still binds uniquely because
    // planInputPartitions splits the DV'd scan's partitions one
    // PartitionedFile each (a packed partition could span files).
    val qDataDir = dataDir
      .getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(dataDir)
    val subScans: Seq[(Scan, MorGroup, Map[String, String])] =
      groups.flatMap { g =>
        val (dvFiles, plain) = g.files.partition(f => g.dvByPath.contains(f._1))
        val plainScan =
          if (plain.isEmpty) Nil
          else {
            val b = newGroupBuilder(g.copy(files = plain), withRowIndex = false)
            b.pushFilters(pushed)
            b.pruneColumns(readSchemaForGroups)
            Seq((b.build(), g, Map.empty[String, String]))
          }
        val dvScan =
          if (dvFiles.isEmpty) Nil
          else {
            val b = newGroupBuilder(g.copy(files = dvFiles), withRowIndex = true)
            b.pushFilters(pushed)
            b.pruneColumns(StructType(readSchemaForGroups :+ MorScan.rowIndexField))
            // sidecar by the file's QUALIFIED path — exactly how the
            // snapshot index lists it, so PartitionedFile.filePath
            // round-trips as the lookup key
            val bySidecar = dvFiles.map(f =>
              new Path(qDataDir, f._1).toString ->
                g.dvByPath(f._1).sidecar).toMap
            Seq((b.build(), g, bySidecar))
          }
        plainScan ++ dvScan
      }
    val requestedOut = requested
    val sparkLocal = spark
    new Scan with SupportsReportStatistics {
      override def readSchema(): StructType = requestedOut
      override def description(): String =
        s"graft-mor-scan(${subScans.size} sub-scans, " +
          s"${groups.map(_.deletedKeys.values.map(_.size).sum).sum} deleted keys, " +
          s"${groups.map(_.deferredKeys.size).sum} deferred delete files, " +
          s"${groups.map(_.dvByPath.values.map(_.count).sum).sum} deleted positions)"
      override def estimateStatistics()
          : org.apache.spark.sql.connector.read.Statistics =
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(
              math.max(1L, groups.flatMap(_.files).map(_._3).sum))
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.empty()
        }
      override def toBatch: Batch = new Batch {
        private lazy val planned: Seq[(Batch, MorGroup, Map[String, String])] =
          subScans.map { case (s, g, dv) => (s.toBatch, g, dv) }
        private lazy val partsBySub: Seq[Array[InputPartition]] =
          // parallel split generation for FileScan sub-batches (same
          // partitions, packed by Spark's own getFilePartitions)
          planned.map(p => ParallelFilePlan.planInputPartitions(p._1))
        override def planInputPartitions(): Array[InputPartition] = {
          import org.apache.spark.sql.execution.datasources.FilePartition
          var nextIdx = 0
          partsBySub.zipWithIndex.flatMap { case (ps, si) =>
            val dvMap = planned(si)._3
            if (dvMap.isEmpty) ps.map(p => MorInputPartition(p, si, None))
            else ps.toSeq.flatMap {
              case fp: FilePartition =>
                // split to one PartitionedFile per partition so each
                // task binds exactly one sidecar; splits of one big
                // file stay parallel (each carries the same sidecar)
                fp.files.toSeq.map { f =>
                  val key = f.filePath.toPath.toString
                  val sidecar = dvMap.getOrElse(key,
                    throw new IllegalStateException(
                      s"no deletion-vector sidecar mapped for $key"))
                  nextIdx += 1
                  MorInputPartition(
                    FilePartition(nextIdx - 1, Array(f)), si, Some(sidecar))
                }
              case p => throw new IllegalStateException(
                s"DV'd sub-scan planned a non-file partition: $p")
            }
          }.toArray
        }
        override def createReaderFactory(): PartitionReaderFactory = {
          val factories = planned.map(_._1.createReaderFactory())
          // the scan is columnar only when EVERY sub-scan partition is
          // (Spark rejects mixed row/columnar partitions in one scan)
          val columnar = partsBySub.zip(factories).forall { case (ps, f) =>
            ps.forall(f.supportColumnarReads)
          }
          val specs = planned.zipWithIndex.map { case ((_, g, dv), si) =>
            val scanSchema = subScans(si)._1.readSchema()
            MorGroupSpec(
              factories(si),
              scanSchema,
              requestedOut.fieldNames.map(scanSchema.fieldIndex),
              g.deletedKeys.toSeq.map { case (c, ks) =>
                (scanSchema.fieldIndex(c), scanSchema(c).dataType, ks)
              },
              g.deferredKeys.map(d =>
                (scanSchema.fieldIndex(d.column),
                  scanSchema(d.column).dataType, d.path)),
              if (dv.isEmpty) -1
              else scanSchema.fieldIndex(MorScan.RowIndexColumn))
          }
          new MorReaderFactory(specs.toArray,
            new _root_.graft.table.SerializableConf(
              sparkLocal.sessionState.newHadoopConf()), columnar)
        }
      }
    }
  }
}

/** An input partition tagged with its sub-scan ordinal and, for DV'd
  * partitions (single-file by construction), the deletion-vector
  * sidecar its task resolves executor-side. */
case class MorInputPartition(inner: InputPartition, group: Int,
    dvSidecar: Option[String] = None)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Per-sub-scan reading spec: the inner factory, its scan schema, the
  * projection to the requested order, (ordinal, type, deleted values)
  * equality checks, oversized delete files loaded executor-side as
  * (ordinal, type, path), and (positional sub-scans) the row-index
  * column's ordinal — the sidecar itself rides the PARTITION, and
  * positions resolve where the task runs, so the serialized spec is
  * O(1) in accumulated delete state. */
case class MorGroupSpec(
    factory: PartitionReaderFactory,
    scanSchema: StructType,
    perm: Array[Int],
    keyChecks: Seq[(Int, DataType, Set[Any])],
    deferredChecks: Seq[(Int, DataType, String)] = Nil,
    rowIdxOrd: Int = -1)

class MorReaderFactory(specs: Array[MorGroupSpec],
    conf: _root_.graft.table.SerializableConf,
    columnar: Boolean)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar

  /** resolve a task's delete state — on the executor, served from the
    * JVM-local immutable-sidecar caches; the DV sidecar comes from the
    * PARTITION (single-file by construction) */
  private def resolve(s: MorGroupSpec, mp: MorInputPartition)
      : (Seq[(Int, DataType, Set[Any])], Array[Long]) = {
    val checks = s.keyChecks ++ s.deferredChecks.map { case (ord, dt, path) =>
      (ord, dt, _root_.graft.table.EqKeyStore.keys(path,
        s.scanSchema(ord).name, dt, conf.value))
    }
    val positions = mp.dvSidecar
      .map(p => _root_.graft.table.DvStore.positions(p, conf.value))
      .getOrElse(Array.empty[Long])
    (checks, positions)
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    val s = specs(mp.group)
    val r = s.factory.createReader(mp.inner)
    val proj = UnsafeProjection.create(s.perm.toIndexedSeq.map(i =>
      BoundReference(i, s.scanSchema(i).dataType, s.scanSchema(i).nullable)))
    val (checks, positions) = resolve(s, mp)
    val rowIdxOrd = s.rowIdxOrd
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (r.next()) {
          val row = r.get()
          // the row-index column carries the row's EXACT file position
          // (parquet generates it from block/page metadata), so skipped
          // row groups/pages never shift the numbering
          val posDeleted = positions.nonEmpty &&
            java.util.Arrays.binarySearch(
              positions, row.getLong(rowIdxOrd)) >= 0
          val deleted = posDeleted || checks.exists { case (ord, dt, ks) =>
            !row.isNullAt(ord) && ks.contains(row.get(ord, dt))
          }
          if (!deleted) { current = proj(row); return true }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val mp = partition.asInstanceOf[MorInputPartition]
    val s = specs(mp.group)
    val inner = s.factory.createColumnarReader(mp.inner)
    val (checks, positions) = resolve(s, mp)
    val rowIdxOrd = s.rowIdxOrd
    new PartitionReader[ColumnarBatch] {
      private var out: ColumnarBatch = _
      override def next(): Boolean = {
        while (inner.next()) {
          val cb = inner.get()
          val n = cb.numRows()
          if (positions.isEmpty && checks.isEmpty) {
            out = new ColumnarBatch(s.perm.map(cb.column), n)
            return true
          }
          // survivors as an index map: values stay in the source
          // vectors; the wrappers redirect row ids (no copying)
          val map = new Array[Int](n)
          var kept = 0
          var i = 0
          val idxVec = if (rowIdxOrd >= 0) cb.column(rowIdxOrd) else null
          while (i < n) {
            var deleted = positions.nonEmpty &&
              java.util.Arrays.binarySearch(
                positions, idxVec.getLong(i)) >= 0
            if (!deleted && checks.nonEmpty) {
              val row = cb.getRow(i)
              deleted = checks.exists { case (ord, dt, ks) =>
                !row.isNullAt(ord) && ks.contains(row.get(ord, dt))
              }
            }
            if (!deleted) { map(kept) = i; kept += 1 }
            i += 1
          }
          if (kept > 0) {
            val cols: Array[ColumnVector] = s.perm.map { ord =>
              if (kept == n) cb.column(ord)
              else new RemappedColumnVector(cb.column(ord), map)
            }
            out = new ColumnarBatch(cols, kept)
            return true
          }
          // fully-deleted batch: keep draining
        }
        false
      }
      override def get(): ColumnarBatch = out
      override def close(): Unit = inner.close()
    }
  }
}

/** A [[ColumnVector]] view that re-indexes another vector through a
  * surviving-row map: row `i` of this vector is row `map(i)` of the
  * source. Zero-copy merge-on-read delete filtering for columnar
  * batches (the design Iceberg's vectorized reader uses). The source
  * vectors belong to the source reader's batch — `close()` is a no-op
  * so the source can recycle them. */
final class RemappedColumnVector(inner: ColumnVector, map: Array[Int])
  extends ColumnVector(inner.dataType) {

  override def close(): Unit = ()
  override def hasNull: Boolean = inner.hasNull
  override def numNulls: Int = math.min(inner.numNulls, map.length)
  override def isNullAt(rowId: Int): Boolean = inner.isNullAt(map(rowId))
  override def getBoolean(rowId: Int): Boolean = inner.getBoolean(map(rowId))
  override def getByte(rowId: Int): Byte = inner.getByte(map(rowId))
  override def getShort(rowId: Int): Short = inner.getShort(map(rowId))
  override def getInt(rowId: Int): Int = inner.getInt(map(rowId))
  override def getLong(rowId: Int): Long = inner.getLong(map(rowId))
  override def getFloat(rowId: Int): Float = inner.getFloat(map(rowId))
  override def getDouble(rowId: Int): Double = inner.getDouble(map(rowId))
  override def getArray(rowId: Int): ColumnarArray = inner.getArray(map(rowId))
  override def getMap(rowId: Int): ColumnarMap = inner.getMap(map(rowId))
  override def getDecimal(rowId: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(map(rowId), precision, scale)
  override def getUTF8String(rowId: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    inner.getUTF8String(map(rowId))
  override def getBinary(rowId: Int): Array[Byte] = inner.getBinary(map(rowId))

  // struct fields read as getChild(ordinal).getX(rowId) — the child
  // must remap with the SAME row map
  private val children =
    scala.collection.mutable.HashMap.empty[Int, ColumnVector]
  override def getChild(ordinal: Int): ColumnVector =
    children.getOrElseUpdate(ordinal,
      new RemappedColumnVector(inner.getChild(ordinal), map))
}

object MorScan {
  /** Parquet's reserved generated-column name: a `LongType` field by
    * this name in a read schema is filled with each row's file row
    * index by Spark's parquet readers (vectorized and row-based) —
    * exact under row-group and page skipping. */
  val RowIndexColumn: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
  private[graft] def rowIndexField: StructField =
    StructField(RowIndexColumn, LongType, nullable = true)

  /** Load a delete file's key values as catalyst-internal values (what
    * the reader's `InternalRow.get` returns), driver-side. Delete sets
    * are small by contract (large deletes take the copy-on-write
    * path). */
  def loadDeletedKeys(spark: SparkSession, deleteDir: Path,
      relPath: String, keyColumn: String, dt: DataType): Set[Any] = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dt)
    spark.read.parquet(new Path(deleteDir, relPath).toString)
      .select(keyColumn).collect()
      .map(_.get(0)).filter(_ != null).map(conv).toSet
  }
}
