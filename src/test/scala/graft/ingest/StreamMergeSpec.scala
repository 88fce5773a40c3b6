package graft.ingest

import graft.SparkSpec
import graft.table.TxTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * A micro-batch merged the way [[StreamingIngest]] merges it: on the
 * stream's tuned session ([[StreamingIngest.tuneStreamSession]]),
 * through [[StreamingIngest.mergeBatch]].
 */
class StreamMergeSpec extends SparkSpec {

  private val schema = StructType.fromDDL(
    "transaction_id STRING, processing_timestamp BIGINT, v BIGINT, date DATE")

  private def rows(ids: Range, ts: Long, v: Long): Seq[Row] =
    ids.map(i => Row(s"t$i", ts, v, java.sql.Date.valueOf("2026-03-01")))

  test("merge-on-read: the matched-refs LIMIT probe runs as one job on the stream session") {
    val dir = freshDir("stream_mor_probe")
    val t = TxTable.create(spark, new Path(dir, "t"), "t", schema, Seq("date"),
      properties = Map(TxTable.MergeModeProperty -> "merge-on-read"))
    // one touched date spread over several files: several scan splits
    (0 until 4).foreach(i => t.append(spark.createDataFrame(
      java.util.Arrays.asList(rows(i * 10 until i * 10 + 10, 0L, 0L): _*), schema)))
    assert(t.snapshot.files.size === 4)
    val ss = org.apache.spark.sql.graft.ColumnBridge.cloneSession(spark)
    val batch = ss.createDataFrame(java.util.Arrays.asList(
      (rows(5 until 35, 1L, 1L) ++ rows(40 until 44, 1L, 2L)): _*), schema)
    val tuned = StreamingIngest.tuneStreamSession(batch)
    val errors = s"$dir/errors"
    val (_, run) = countingJobs(
      StreamingIngest.mergeBatch(t.withSession(tuned), batch, 0L, errors))
    // the probe and the upserts' write: the local batch is read off
    // its plan, with no collect job
    assert(run.jobs === 2, s"$run")
    assert(!new java.io.File(errors).exists(), "the batch went to the DLQ")
    assert(t.snapshot.deletionVectors.nonEmpty)
    val got = t.toDF.groupBy("v").count().orderBy("v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got === Seq(0L -> 10L, 1L -> 30L, 2L -> 4L))
    assert(t.toDF.select("transaction_id").distinct().count() === 44L)
  }
}
