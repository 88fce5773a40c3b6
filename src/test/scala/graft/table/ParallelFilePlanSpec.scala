package graft.table

import graft.SparkSpec

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.graft.{ParallelFilePlan, ScanBridge}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * ParallelFilePlan must produce BIT-IDENTICAL input partitions to
 * Spark's own sequential FileScan.partitions — same splits, same
 * order, same packing — across the planning shapes the engine serves:
 * partitioned/unpartitioned, pruned/unpruned partition columns,
 * splittable oversize files, partition-filter pruning, and both the
 * inline (small plan) and fan-out (large plan) execution paths.
 *
 * Planning is metadata-only, so the files here are synthetic snapshot
 * entries (sizes from commit metadata, nothing on disk) — exactly how
 * the 10⁶-file planning bench stages its table.
 */
class ParallelFilePlanSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType)))

  private def mkFiles(nDirs: Int, perDir: Int,
      big: Int => Boolean): Seq[(String, Map[String, String], Long, Long)] =
    (0 until nDirs).flatMap { d =>
      val date = f"2026-01-${d + 1}%02d"
      (0 until perDir).map { i =>
        val size = if (big(d * perDir + i)) 300L * 1024 * 1024 else 1024L * 1024
        (f"date=$date/w$d%02d-$i%06d.parquet", Map("date" -> date), size, -1L)
      }
    }

  private def buildScan(
      files: Seq[(String, Map[String, String], Long, Long)],
      partCols: Seq[String],
      requested: StructType,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : FileScan = {
    val dir = new Path(freshDir("pfp_" + System.nanoTime()), "data")
    val index = ScanBridge.snapshotIndex(spark, dir, schema, partCols, files)
    val dataSchema =
      StructType(schema.filterNot(f => partCols.contains(f.name)))
    val sb = ScanBridge.parquetScanBuilder(spark, index, schema, dataSchema,
      CaseInsensitiveStringMap.empty())
    sb match {
      case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
        c.pushFilters(filters)
      case _ => assert(filters.isEmpty)
    }
    sb match {
      case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        c.pruneColumns(requested)
      case _ =>
    }
    sb.build().asInstanceOf[FileScan]
  }

  private def assertIdentical(seqPlan: Array[InputPartition],
      parPlan: Array[InputPartition], partTypes: Seq[org.apache.spark.sql.types.DataType]): Unit = {
    assert(parPlan.length === seqPlan.length, "partition count differs")
    seqPlan.zip(parPlan).foreach {
      case (x: FilePartition, y: FilePartition) =>
        assert(y.index === x.index)
        assert(y.files.length === x.files.length,
          s"file count differs in partition ${x.index}")
        x.files.zip(y.files).foreach { case (f, g) =>
          assert(g.filePath.toString === f.filePath.toString)
          assert(g.start === f.start)
          assert(g.length === f.length)
          assert(g.fileSize === f.fileSize)
          assert(g.modificationTime === f.modificationTime)
          assert(g.locations.toSeq === f.locations.toSeq)
          assert(g.partitionValues.toSeq(partTypes)
            === f.partitionValues.toSeq(partTypes))
        }
      case (x, y) => fail(s"non-file partitions: $x / $y")
    }
  }

  private def checkBothPaths(scan: FileScan,
      partTypes: Seq[org.apache.spark.sql.types.DataType]): Array[InputPartition] = {
    val seqPlan = scan.planInputPartitions()   // Spark's sequential path
    val parPlan = ParallelFilePlan.planInputPartitions(scan)
    assertIdentical(seqPlan, parPlan, partTypes)
    parPlan
  }

  test("large partitioned plan with oversize splittable files — pruned partition column") {
    // 5 dirs x 1200 files = 6000 (> fan-out threshold); every 997th is
    // 300 MB so splitFiles emits multiple splits per file
    val files = mkFiles(5, 1200, i => i % 997 == 0)
    // SELECT id — partition column pruned, so the projection path runs
    val scan = buildScan(files, Seq("date"),
      StructType(schema.filter(_.name == "id")), Nil)
    val plan = checkBothPaths(scan, Nil)
    assert(plan.nonEmpty)
    val totalSplits = plan.map(_.asInstanceOf[FilePartition].files.length).sum
    assert(totalSplits > 6000, s"oversize files did not split: $totalSplits")
  }

  test("partition column in output — no projection, values preserved") {
    val files = mkFiles(4, 1100, _ => false)
    val scan = buildScan(files, Seq("date"), schema, Nil)
    val plan = checkBothPaths(scan, Seq(StringType))
    // every split carries its directory's partition value
    val dates = plan.flatMap(_.asInstanceOf[FilePartition].files)
      .map(_.partitionValues.getUTF8String(0).toString).toSet
    assert(dates === Set("2026-01-01", "2026-01-02", "2026-01-03", "2026-01-04"))
  }

  test("partition-filter pruned plan (small, inline path)") {
    val files = mkFiles(6, 900, _ => false)
    val pred = EqualTo(AttributeReference("date", StringType)(),
      Literal(UTF8String.fromString("2026-01-03"), StringType))
    val scan = buildScan(files, Seq("date"),
      StructType(schema.filter(_.name == "id")), Seq(pred))
    val plan = checkBothPaths(scan, Nil)
    val totalFiles = plan.map(_.asInstanceOf[FilePartition].files.length).sum
    assert(totalFiles === 900, s"pruning broken: $totalFiles files")
  }

  test("unpartitioned single-directory table chunks within the directory") {
    val files = (0 until 7000).map(i =>
      (f"w$i%06d.parquet", Map.empty[String, String],
        if (i % 1999 == 0) 400L * 1024 * 1024 else 512L * 1024, -1L))
    val scan = buildScan(files, Nil, schema, Nil)
    val plan = checkBothPaths(scan, Nil)
    assert(plan.nonEmpty)
  }

  test("tiny plan stays inline and identical") {
    val files = mkFiles(2, 10, i => i == 3)
    val scan = buildScan(files, Seq("date"), schema, Nil)
    checkBothPaths(scan, Seq(StringType))
  }
}
