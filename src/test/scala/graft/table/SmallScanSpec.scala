package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SmallScan

/**
 * [[org.apache.spark.sql.graft.SmallScan]] from both sides: a small
 * graft scan under a shuffling query runs as one task with no exchange,
 * through `spark.sql` and the `TxTable` read API alike; everything else
 * keeps its plan. Every answer is checked against the same query over a
 * plain-parquet copy of the rows.
 */
class SmallScanSpec extends SparkSpec {
  private object Plans extends AdaptiveSparkPlanHelper

  private val Days = 8
  private val Bucketing = "spark.sql.sources.v2.bucketing.enabled"

  /** A date-partitioned graft table of `n` rows in two commits, and a
    * temp view `parquet_copy` over the same rows in plain parquet. */
  private def withTable[T](tag: String, n: Long = 1200)(f: (String, TxTable) => T): T = {
    val wh = freshDir(s"smallscan_$tag")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val rows = spark.range(0, n).select(
      col("id").cast("string").as("id"),
      date_add(lit("2026-01-01").cast("date"), (col("id") % Days).cast("int")).as("date"),
      element_at(array(lit("EU"), lit("US"), lit("AP")),
        (col("id") % 7 % 3).cast("int") + 1).as("region"),
      col("id").as("amount"))
    val copy = new Path(wh, "parquet_copy").toString
    rows.write.parquet(copy)
    spark.read.parquet(copy).createOrReplaceTempView("parquet_copy")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ss")
    spark.sql("""CREATE TABLE graft.ss.t (
        id STRING, date DATE, region STRING, amount BIGINT)
        PARTITIONED BY (date)""")
    Seq(s"amount < ${n / 2}", s"amount >= ${n / 2}").foreach(p =>
      spark.sql(s"INSERT INTO graft.ss.t SELECT * FROM parquet_copy WHERE $p"))
    val t = new TableCatalog(spark, new Path(wh)).getTable("ss", "t")
    try f("graft.ss.t", t)
    finally spark.sql("DROP TABLE IF EXISTS graft.ss.t")
  }

  private def grouped(from: String): String =
    s"""SELECT region, date, count(*) AS n, sum(amount) AS total
       |FROM $from GROUP BY region, date
       |ORDER BY total DESC, region, date""".stripMargin

  private def groupedApi(t: TxTable): DataFrame =
    t.read().groupBy("region", "date")
      .agg(count(lit(1)).as("n"), sum("amount").as("total"))
      .orderBy(col("total").desc, col("region"), col("date"))

  private def shuffles(df: DataFrame): Int =
    Plans.collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }.size

  /** A `CoalesceExec(1)` directly over a scan with its filters and
    * projections: the rule's mark. */
  private def coalescedScans(plan: SparkPlan): Int = {
    def scanChain(p: SparkPlan): Boolean = p match {
      case _: FileSourceScanExec | _: BatchScanExec => true
      case ProjectExec(_, c) => scanChain(c)
      case FilterExec(_, c) => scanChain(c)
      case ColumnarToRowExec(c) => scanChain(c)
      case InputAdapter(c) => scanChain(c)
      case w: WholeStageCodegenExec => scanChain(w.child)
      case _ => false
    }
    Plans.collect(plan) { case c: CoalesceExec if c.numPartitions == 1 && scanChain(c.child) => c }.size
  }

  test("a small GROUP BY ... ORDER BY runs as one job with no exchange, in both doors") {
    withTable("small") { (name, t) =>
      val want = spark.sql(grouped("parquet_copy")).collect().toSeq
      assert(want.size == 3 * Days)
      for (df <- Seq(spark.sql(grouped(name)), groupedApi(t))) {
        val (got, run) = countingJobs(df.collect().toSeq)
        assert(got === want)
        assert(run.jobs === 1, s"${run.jobs} jobs:\n${df.queryExecution.executedPlan}")
        assert(shuffles(df) === 0)
        assert(coalescedScans(df.queryExecution.executedPlan) === 1)
      }
      // a pruned COUNT(DISTINCT) the same way
      val window = "date BETWEEN DATE'2026-01-02' AND DATE'2026-01-04'"
      def hourly(from: String) = spark.sql(
        s"""SELECT region, count(*) AS n, count(DISTINCT id % 5) AS k
           |FROM $from WHERE $window GROUP BY region ORDER BY region""".stripMargin)
      val (got, run) = countingJobs(hourly(name).collect().toSeq)
      assert(got === hourly("parquet_copy").collect().toSeq)
      assert(run.jobs === 1)
    }
  }

  test("a table above the bound keeps its packed splits and its exchange") {
    withTable("large", n = SmallScan.MaxRows + 1000) { (name, t) =>
      val want = spark.sql(grouped("parquet_copy")).collect().toSeq
      for (df <- Seq(spark.sql(grouped(name)), groupedApi(t))) {
        // the aggregate keeps its shuffle, so the ORDER BY's range
        // sampler reads shuffle output: the scan still runs once
        val (got, run) = countingJobs(df.collect().toSeq)
        assert(got === want)
        assert(run.scanStages === 1)
        val plan = df.queryExecution.executedPlan
        assert(coalescedScans(plan) === 0, s"coalesced above the bound:\n$plan")
        assert(shuffles(df) > 0)
        val splits = Plans.collect(plan) {
          case b: BatchScanExec => b.inputRDD.getNumPartitions
          case f: FileSourceScanExec => f.inputRDD.getNumPartitions
        }
        assert(splits.sum > 1, s"$splits splits")
      }
    }
  }

  test("a filter-only plan gets no CoalesceExec") {
    withTable("filter") { (name, t) =>
      val q = s"SELECT * FROM %s WHERE region = 'EU' AND amount > 100"
      val want = spark.sql(q.format("parquet_copy")).collect().map(_.toString).sorted
      for (df <- Seq(spark.sql(q.format(name)),
          t.read().filter(col("region") === "EU" && col("amount") > 100))) {
        assert(df.collect().map(_.toString).sorted === want)
        assert(coalescedScans(df.queryExecution.executedPlan) === 0)
      }
    }
  }

  test("a session that opts in to storage-partitioned join keeps its key-grouped scan") {
    import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
    withTable("spj") { (name, _) =>
      withConfs(Bucketing -> "true") {
        val q = "SELECT date, count(*) AS n, sum(amount) AS total FROM %s " +
          "GROUP BY date ORDER BY date"
        val df = spark.sql(q.format(name))
        assert(df.collect().toSeq === spark.sql(q.format("parquet_copy")).collect().toSeq)
        val plan = df.queryExecution.executedPlan
        assert(coalescedScans(plan) === 0)
        assert(Plans.collect(plan) { case b: BatchScanExec => b }
          .exists(_.outputPartitioning.isInstanceOf[KeyGroupedPartitioning]))
      }
    }
  }

  test("a date = scan reports exactly that date's rows and bytes") {
    withTable("stats") { (name, t) =>
      val day = "2026-01-03"
      val files = t.snapshot.files.filter(_.partitionValues("date") == day)
      val rel = spark.sql(s"SELECT * FROM $name WHERE date = DATE'$day'")
        .queryExecution.optimizedPlan.collectFirst { case r: DataSourceV2ScanRelation => r }.get
      val want = spark.sql(s"SELECT * FROM parquet_copy WHERE date = DATE'$day'").count()
      assert(files.map(_.rowCount).sum === want)
      assert(rel.stats.rowCount.contains(BigInt(want)), s"${rel.stats}")
      val full = spark.sql(s"SELECT * FROM $name").queryExecution.optimizedPlan
        .collectFirst { case r: DataSourceV2ScanRelation => r }.get
      assert(full.stats.rowCount.contains(BigInt(1200)))
      assert(rel.stats.sizeInBytes < full.stats.sizeInBytes)
    }
  }

  test("MERGE, append, overwrite and vector search plans are unchanged") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    withTable("writes") { (name, t) =>
      // an unpartitioned table and a sort-ordered one: no rebalance sits
      // over their writes, so only the write's own planning keeps its
      // tasks. Each appends an aggregate that already ran as a query,
      // coalesced there.
      val plain = Seq("plain" -> None, "ordered" -> Some("id")).map { case (tag, order) =>
        val u = TxTable.create(spark, new Path(freshDir(s"smallscan_$tag"), "t"),
          s"ss.$tag", t.schema, Nil)
        order.foreach(c => u.setProperties(Map(TxTable.SortOrderProperty -> c)))
        u.append(t.toDF)
        val agg = u.read().groupBy("region", "date")
          .agg(max("id").as("id"), sum("amount").as("amount"))
        agg.collect()
        assert(coalescedScans(agg.queryExecution.executedPlan) === 1)
        (u, agg)
      }
      // marker queries before and after the writes bound what the
      // listener keeps: a listener gets events in order, and one
      // registered late still gets the queued end of an earlier query
      val (startRows, endRows) = (424241L, 424242L)
      @volatile var started = false
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val drained = new java.util.concurrent.CountDownLatch(1)
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          qe.logical match {
            case r: org.apache.spark.sql.catalyst.plans.logical.Range
                if r.end == startRows => started = true
            case r: org.apache.spark.sql.catalyst.plans.logical.Range
                if r.end == endRows => drained.countDown()
            case _ => if (started) plans.add(qe.executedPlan)
          }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        spark.range(startRows).collect()
        // a CDC-shaped batch from outside the table
        val batch = spark.table("parquet_copy").filter(col("date") === "2026-01-02")
          .withColumn("amount", col("amount") + 1)
        t.merge(batch, "id", "amount")
        t.append(t.read().groupBy("region", "date")
          .agg(max("id").as("id"), sum("amount").as("amount")))
        t.overwrite(t.toDF.groupBy("id", "date", "region")
          .agg(max("amount").as("amount")))
        plain.foreach { case (u, agg) =>
          u.append(agg)
          u.overwrite(u.toDF.groupBy("id", "date", "region")
            .agg(max("amount").as("amount")))
        }
        spark.sql(s"MERGE INTO $name AS d USING (SELECT * FROM $name " +
          "WHERE date = DATE'2026-01-05') AS s ON d.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET amount = s.amount + 1")
        spark.sql(s"INSERT INTO $name SELECT max(id), date, region, sum(amount) " +
          s"FROM $name GROUP BY date, region")
        spark.range(endRows).collect()
        assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "listener did not drain")
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      assert(plans.size > 0)
      plans.asScala.foreach(p =>
        assert(coalescedScans(p) === 0, s"a write was coalesced:\n$p"))
    }
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val v = TxTable.create(spark, new Path(freshDir("smallscan_vec"), "t"),
      "vec.smallscan", emb.schema, Nil)
    v.append(emb)
    v.buildVectorIndex("vec_id", "embedding", dim = 64)
    val q = v.toDF.limit(4).select(col("vec_id").as("query_id"),
      col("embedding").as("query_vec"))
    val search = v.vectorSearch(
      spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema), k = 5)
    assert(search.collect().length === 20)
    assert(coalescedScans(search.queryExecution.executedPlan) === 0)
  }
}
