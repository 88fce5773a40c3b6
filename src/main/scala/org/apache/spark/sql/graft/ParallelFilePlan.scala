package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.FileScan

import java.util.Locale
import java.util.concurrent.{Callable, Executors, TimeUnit}

/**
 * Parallel drop-in for [[FileScan.partitions]]' split generation — the
 * driver-side packing of listed files into [[FilePartition]]s.
 *
 * Spark's own implementation is strictly sequential on the planning
 * thread: one `PartitionedFileUtil.splitFiles` call per file (a
 * `SparkPath` URI parse + `PartitionedFile` per split) followed by a
 * per-directory sort. At the 10⁶-file metadata shape that is ~2 s of
 * single-core work per unpruned plan while every other driver core
 * idles (stack-sampled: `FileScan.partitions` →
 * `PartitionedFileUtil.splitFiles` / Path-name parsing dominate the
 * warm `plan_full` key, guide §1.1). The per-file work is pure — each
 * split derives only from its own FileStatus, the shared
 * `maxSplitBytes`, and the directory's partition-value row — so this
 * object computes the SAME splits on a bounded daemon pool, preserving
 * order and packing EXACTLY:
 *
 *   - per-directory split lists are computed in parallel (directories
 *     with many files are further chunked), then concatenated in the
 *     exact order Spark's sequential `flatMap` would have produced;
 *   - the per-directory descending-length sort is the same stable
 *     `sortBy` on the same sequence, so ties keep the same relative
 *     order;
 *   - the final bin-packing goes through Spark's OWN
 *     [[FilePartition.getFilePartitions]] (openCostInBytes,
 *     maxPartitionNum redistribution, partition closing rules —
 *     nothing re-implemented).
 *
 * The result is bit-for-bit the partition list `FileScan.partitions`
 * returns — verified structurally by ParallelFilePlanSpec across
 * pruned/unpruned, splittable/unsplittable, and pruned-partition-column
 * shapes. Scale-safe: the pool sizes from the host, small plans
 * (< [[ParallelThreshold]] files) never leave the calling thread, and
 * per-task memory is one directory chunk's split list.
 */
object ParallelFilePlan {

  /** Below this many listed files the parallel fan-out cannot win —
    * run the identical code inline on the planning thread. */
  private val ParallelThreshold = 4096

  /** Directories larger than this are chunked so a single huge
    * directory (an unpartitioned million-file table) still spreads
    * across the pool. */
  private val ChunkSize = 16384

  private[graft] lazy val pool = {
    val n = math.max(2, math.min(16, Runtime.getRuntime.availableProcessors() / 2))
    Executors.newFixedThreadPool(n, r => {
      val t = new Thread(r, "graft-split-plan")
      t.setDaemon(true)
      t
    })
  }

  /** Order-preserving parallel map over index chunks: runs `body(i)`
    * for every i in [0, n) on the planning pool, rethrowing the first
    * failure's cause. The caller supplies a slot writer so results
    * land in their original positions. */
  private[graft] def fanOut(n: Int)(body: Int => Unit): Unit = {
    val futures = new java.util.ArrayList[java.util.concurrent.Future[_]](n)
    var i = 0
    while (i < n) {
      val idx = i
      futures.add(pool.submit(new Callable[Unit] {
        override def call(): Unit = body(idx)
      }))
      i += 1
    }
    val it = futures.iterator()
    while (it.hasNext) {
      try it.next().get(600, TimeUnit.SECONDS)
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
  }

  /** [[FileScan.partitions]], parallelized. Semantically identical:
    * same listing call, same maxSplitBytes, same per-directory
    * partition-value projection, same splits in the same order, same
    * final packing (Spark's own `getFilePartitions`). */
  def partitions(scan: FileScan): Seq[FilePartition] = {
    val spark = scan.sparkSession
    val selected: Seq[PartitionDirectory] =
      scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
    // same arithmetic as FilePartition.maxSplitBytes(spark, selected),
    // with the total computed by a tight loop instead of a per-file
    // flatMap+map allocation pass (measurable at 10⁶ files)
    val openCostForSum = spark.sessionState.conf.filesOpenCostInBytes
    val totalBytes: Long = {
      var sum = 0L
      selected.foreach { dir =>
        val fs = dir.files
        var i = 0
        while (i < fs.length) { sum += fs(i).getLen + openCostForSum; i += 1 }
      }
      sum
    }
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, totalBytes)

    val partitionAttributes =
      DataTypeUtils.toAttributes(scan.fileIndex.partitionSchema)
    val isCaseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def norm(name: String): String =
      if (isCaseSensitive) name else name.toLowerCase(Locale.ROOT)
    val attributeMap = partitionAttributes.map(a => norm(a.name) -> a).toMap
    val readPartitionAttributes = scan.readPartitionSchema.map { f =>
      attributeMap.getOrElse(norm(f.name),
        throw QueryCompilationErrors.cannotFindPartitionColumnInPartitionSchemaError(
          f, scan.fileIndex.partitionSchema))
    }
    lazy val partitionValueProject =
      GenerateUnsafeProjection.generate(readPartitionAttributes, partitionAttributes)
    // Partition-value rows resolve on the CALLING thread (the generated
    // UnsafeProjection shares one row buffer — `.copy()` detaches each
    // result exactly as Spark's sequential loop does); O(directories).
    val needProject = readPartitionAttributes != partitionAttributes
    val dirValues: IndexedSeq[InternalRow] = selected.map { dir =>
      if (needProject) partitionValueProject(dir.values).copy() else dir.values
    }.toIndexedSeq

    val dirs = selected.toIndexedSeq
    val totalFiles = dirs.iterator.map(_.files.length).sum

    def splitChunk(dir: PartitionDirectory, values: InternalRow,
        from: Int, until: Int): Array[PartitionedFile] = {
      val out = Array.newBuilder[PartitionedFile]
      var i = from
      val files = dir.files
      while (i < until) {
        val file = files(i)
        val filePath = file.getPath
        out ++= PartitionedFileUtil.splitFiles(
          file, filePath, scan.isSplitable(filePath), maxSplitBytes, values)
        i += 1
      }
      out.result()
    }
    // same per-directory shape as FileScan.partitions: splits in file
    // order, then the IDENTICAL stable descending-length sort within
    // the directory (same sortBy call, same Ordering — ties keep file
    // order)
    def finishDir(chunks: Array[Array[PartitionedFile]]): Array[PartitionedFile] = {
      val all: Array[PartitionedFile] = chunks.flatten
      all.sortBy(_.length)(implicitly[Ordering[Long]].reverse)
    }

    val splitFiles: Seq[PartitionedFile] =
      if (totalFiles < ParallelThreshold) {
        dirs.indices.flatMap { d =>
          finishDir(Array(splitChunk(dirs(d), dirValues(d), 0, dirs(d).files.length)))
        }
      } else {
        // fan out (dir, chunk) tasks; reassemble per dir in order
        val perDir = dirs.map(dir => new Array[Array[PartitionedFile]](
          math.max(1, (dir.files.length + ChunkSize - 1) / ChunkSize)))
        val tasks = for (d <- dirs.indices; c <- perDir(d).indices) yield (d, c)
        fanOut(tasks.length) { t =>
          val (d, c) = tasks(t)
          val from = c * ChunkSize
          perDir(d)(c) = splitChunk(dirs(d), dirValues(d), from,
            math.min(dirs(d).files.length, from + ChunkSize))
        }
        dirs.indices.flatMap(d => finishDir(perDir(d)))
      }
    FilePartition.getFilePartitions(spark, splitFiles, maxSplitBytes)
  }

  /** `planInputPartitions` through the parallel path when the batch is
    * a [[FileScan]] (a FileScan IS its own Batch — `toBatch` returns
    * `this`); anything else falls back to the batch's own planning. */
  def planInputPartitions(
      batch: org.apache.spark.sql.connector.read.Batch): Array[InputPartition] =
    batch match {
      case fs: FileScan => partitions(fs).toArray
      case _ => batch.planInputPartitions()
    }
}
