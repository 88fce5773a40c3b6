package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * The parallel unpruned listing must return the SAME PartitionDirectory
 * sequence as Spark's sequential PartitioningAwareFileIndex.listFiles —
 * same directories in the same order, same files, same values — and the
 * whole plan built on top of it (listing → splits → packing) must be
 * identical with the parallel path on and off. This pins the end-to-end
 * equality through the live toggle, complementing ParallelFilePlanSpec
 * (which pins the split/pack stage against FileScan's own sequential
 * path).
 */
class ParallelListingSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType)))

  test("unpruned listing: parallel == sequential through the full plan") {
    val files = (0 until 8).flatMap { d =>
      val date = f"2026-02-${d + 1}%02d"
      (0 until 800).map { i =>
        val size = if (i == 13) 300L * 1024 * 1024 else 700L * 1024
        (f"date=$date/f$d%02d-$i%05d.parquet", Map("date" -> date), size, -1L)
      }
    }
    def plan(): Array[(String, Long, Long, Seq[Any])] = {
      val dir = new Path(freshDir("pls_" + System.nanoTime()), "data")
      val index = ScanBridge.snapshotIndex(spark, dir, schema, Seq("date"), files)
      val sb = ScanBridge.parquetScanBuilder(spark, index, schema,
        StructType(schema.filterNot(_.name == "date")),
        CaseInsensitiveStringMap.empty())
      val scan = sb.build().asInstanceOf[FileScan]
      // the full pipeline: listing (toggled) + parallel split packing
      ParallelFilePlan.planInputPartitions(scan).flatMap {
        case fp: FilePartition => fp.files.map(f =>
          (f.filePath.toString, f.start, f.length,
            f.partitionValues.toSeq(Seq(StringType)).map(String.valueOf)))
      }
    }
    val was = SnapshotFileIndex.parallelUnfilteredListing
    try {
      SnapshotFileIndex.parallelUnfilteredListing = false
      val seqPlan = plan()
      SnapshotFileIndex.parallelUnfilteredListing = true
      val parPlan = plan()
      assert(parPlan.length === seqPlan.length)
      // relative paths must match exactly, position by position (the
      // absolute prefix differs per freshDir)
      def rel(s: String) = s.substring(s.indexOf("date="))
      seqPlan.zip(parPlan).foreach { case (a, b) =>
        assert(rel(b._1) === rel(a._1))
        assert(b._2 === a._2)
        assert(b._3 === a._3)
        assert(b._4 === a._4)
      }
    } finally SnapshotFileIndex.parallelUnfilteredListing = was
  }
}
