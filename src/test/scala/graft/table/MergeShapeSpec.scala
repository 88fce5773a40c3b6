package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheProbe, SmallScan}
import org.apache.spark.sql.types._

/**
 * The Spark work of a keyed [[TxTable.merge]]. A batch within
 * [[SmallScan]]'s bound is collected once into a local relation and
 * deduped inside the rewrite, and a rewrite within the bound writes
 * from one task with no exchange: two jobs, no shuffle bytes, one file
 * per touched partition value. Past the
 * bound, and past the inline key cap, the merge keeps its shuffles
 * and its cached batch, and releases the cache however it ends. Every
 * merge is checked against an in-memory keyed model.
 */
class MergeShapeSpec extends SparkSpec {
  import spark.implicits._

  private val Days = 8
  private val schema = StructType.fromDDL("k STRING, v BIGINT, ts BIGINT, date DATE")

  /** Rows (k, v, ts, date) for keys `ids`: key i lands on day i % Days. */
  private def rows(ids: Seq[Long], ts: Long, vOf: Long => Long = identity): Seq[(String, Long, Long, java.sql.Date)] =
    ids.map(i => (s"k$i", vOf(i), ts,
      java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i % Days))))

  private def frame(rs: Seq[(String, Long, Long, java.sql.Date)]): DataFrame =
    rs.toDF("k", "v", "ts", "date")

  private def table(tag: String, n: Long): TxTable = {
    val t = TxTable.create(spark, new Path(freshDir(s"mshape_$tag")), "t",
      schema, Seq("date"))
    t.append(spark.range(0, n).select(
      concat(lit("k"), col("id").cast("string")).as("k"), col("id").as("v"),
      lit(0L).as("ts"),
      date_add(lit("2026-01-01").cast("date"), (col("id") % Days).cast("int")).as("date")))
    t
  }

  /** The table after a last-writer-wins upsert of `batch` over `n`
    * seed rows, as sorted (k, v, ts, date) strings. */
  private def model(n: Long, batch: Seq[(String, Long, Long, java.sql.Date)]): Seq[String] = {
    val seed = rows(0L until n, 0L).map(r => r._1 -> r).toMap
    val winners = batch.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._3) }
    (seed ++ winners).values.map(r => Row(r._1, r._2, r._3, r._4).toString).toSeq.sorted
  }

  private def tableRows(t: TxTable): Seq[String] =
    t.toDF.select("k", "v", "ts", "date").collect().map(_.toString).toSeq.sorted

  private def filesPerDate(t: TxTable): Map[String, Int] =
    t.snapshot.files.groupBy(_.partitionValues("date")).map { case (d, fs) => d -> fs.size }

  test("a small keyed merge runs two single-task jobs with no shuffle, one file per touched date") {
    val n = 800L
    val t = table("small", n)
    // updates on days 0-3 (each key twice: the later ts wins), inserts
    // on days 1 and 3
    val batch = rows(0L until 40L filter (_ % Days < 4), 5L, _ * 10) ++
      rows(0L until 40L filter (_ % Days < 4), 7L, _ * 100) ++
      rows((n until n + 16L).filter(i => i % Days == 1 || i % Days == 3), 5L)
    val before = t.snapshot.files
    // one input partition, like a micro-batch of one file: one task
    // collects it and one writes
    val (_, run) = countingJobs(t.merge(frame(batch).coalesce(1), "k", "ts"))
    assert(run.jobs === 2, s"$run")
    assert(run.tasks === 2, s"$run")
    assert(run.shuffleWriteBytes === 0L, s"$run")
    assert(tableRows(t) === model(n, batch))
    // one file per partition value, the touched ones rewritten
    assert(filesPerDate(t).values.forall(_ == 1), s"${filesPerDate(t)}")
    val touched = batch.map(_._4.toString).toSet
    assert(t.snapshot.files.filter(f => !touched(f.partitionValues("date"))).toSet ===
      before.filter(f => !touched(f.partitionValues("date"))).toSet)

    // a hidden-partition transform is evaluated over the local batch:
    // no extra job
    val hp = TxTable.create(spark, new Path(freshDir("mshape_hidden")), "h",
      StructType.fromDDL("id BIGINT, ts TIMESTAMP, v STRING"), Nil,
      partitionSpec = Seq(PartField("ts_day", "day", "ts")))
    def at(ids: Range, day: Int, v: String) = ids.map(i => (i.toLong,
      java.sql.Timestamp.valueOf(s"2026-02-0$day 1$day:00:00"), v)).toDF("id", "ts", "v")
    hp.append(at(0 until 30, 1, "a").unionByName(at(30 until 60, 2, "a")))
    val (_, hrun) = countingJobs(hp.merge(
      at(30 until 40, 2, "b").unionByName(at(60 until 65, 1, "b")), "id", "ts"))
    assert(hrun.jobs === 2 && hrun.shuffleWriteBytes === 0L, s"$hrun")
    assert(hp.toDF.filter(col("v") === "b").count() === 15L)
    assert(hp.toDF.count() === 65L)
    assert(hp.snapshot.files.groupBy(_.partitionValues("ts_day")).values.forall(_.size == 1))
  }

  test("a merge past the size bound still shuffles and keeps one file per touched date") {
    val n = SmallScan.MaxRows + 1000
    val t = table("large", n)
    // every date touched: the rewrite reads all n rows
    val batch = rows(0L until Days.toLong, 5L, _ + 7) ++ rows(Seq(n + 1L, n + 2L), 5L)
    val (_, run) = countingJobs(t.merge(frame(batch), "k", "ts"))
    assert(run.shuffleWriteBytes > 0L, s"$run")
    assert(filesPerDate(t).size === Days && filesPerDate(t).values.forall(_ == 1),
      s"${filesPerDate(t)}")
    assert(tableRows(t) === model(n, batch))
  }

  test("a batch over the inline key cap keeps the cached path and the same rows") {
    val n = 400L
    val t = table("overcap", n)
    val cap = TxTable.MergeInlineMaxKeys
    val batch = rows(0L until cap + 200L, 3L, _ * 2)
    val cached = CacheProbe.entries(spark)
    t.merge(frame(batch), "k", "ts")
    assert(tableRows(t) === model(n, batch))
    assert(CacheProbe.entries(spark) === cached)
  }

  test("a merge that fails releases its cached batch") {
    val t = table("fails", 100L)
    t.addConstraint("v_nonneg", "v >= 0")
    // an RDD-backed batch has no size estimate, so it takes the cached
    // path; one row violates the CHECK constraint
    val bad = rows(0L until TxTable.MergeInlineMaxKeys + 10L, 3L, i => if (i == 7L) -1L else i)
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(bad.map(r => Row(r._1, r._2, r._3, r._4)), 4), schema)
    val cached = CacheProbe.entries(spark)
    val v = t.currentVersion
    val e = intercept[Exception](t.merge(batch, "k", "ts"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("v_nonneg")), e.toString)
    assert(t.currentVersion === v)
    assert(CacheProbe.entries(spark) === cached,
      "the failed merge left its deduped batch in the CacheManager")
  }
}
