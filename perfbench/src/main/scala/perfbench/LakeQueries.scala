package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.operators.Similarity
import graft.table.{TableCatalog, TxTable}

/**
 * Read-only query mix over a preloaded lake, one query at a time:
 *  - the README's conditional-aggregation risk query (full scan);
 *  - an hourly pattern query with COUNT(DISTINCT) over a date range
 *    (partition-pruned);
 *  - a `transaction_id` point lookup;
 *  - a VERSION AS OF read of an older commit;
 *  - an ANN top-10 search of a query batch over an embedding table with
 *    a persisted IVF-PQ index (`TxTable.vectorSearch`).
 * The four SQL templates rotate through three front doors: `spark.sql` on
 * the GraftCatalog, the GraftSql text surface (`TableCatalog.sql`), and
 * the `TxTable` read API. Every SQL answer is compared with the same SQL
 * over plain-parquet copies of the preload; ANN answers count towards a
 * recall@10 measured against `Similarity.bruteForceTopK`.
 */
object LakeQueries extends Workload {
  val name = "lake_queries"
  val Rows = 60000L
  val Days = 30
  val Commits = 2
  val SqlTemplates = Seq("risk", "hourly", "point", "version")
  val Templates: Seq[String] = SqlTemplates :+ "ann"
  val Doors = Seq("spark_sql", "graft_sql", "table_api")

  val Vectors = 2000L
  val Clusters = 200
  val Dim = 16
  val K = 10
  val RecallTarget = 0.9
  val QueriesPerBatch = 16
  val QueryBatches = 4

  final case class Query(template: String, door: String, param: String)

  /** Plain-parquet copies of each commit's rows; query parameters; the
    * oracle's answer per (template, parameter); the indexed embedding
    * table with its build time; ANN query batches with their exact
    * top-10 ids. */
  final class Inputs(val copies: Seq[String], val params: Map[String, Seq[String]],
      val expected: Map[(String, String), Seq[String]], val emb: TxTable,
      val annBuildS: Double, val annBatches: IndexedSeq[DataFrame],
      val annTruth: Set[(Long, Long)])

  final class State(val cat: TableCatalog, val t: TxTable, val in: Inputs) {
    var i = 0
    val latencies = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var mismatches = 0
    val annHits = mutable.Set.empty[(Long, Long)]
  }

  private def day(d: Int): String =
    java.time.LocalDate.ofEpochDay((CdcGen.AnchorMs / CdcGen.DayMs) + d).toString

  /** Clustered vectors: cluster-centre noise plus a smaller per-vector
    * noise, both seeded hashes (`salt` separates corpus from queries). */
  private def vectors(ctx: Ctx, from: Long, until: Long, salt: Int): DataFrame = {
    def h(s: Long, a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit(ctx.seed), lit(s), a, b), lit(1000000L)) / 1000000.0 - 0.5
    ctx.spark.range(from, until).toDF("id")
      .select(col("id"), pmod(col("id"), lit(Clusters.toLong)).as("c"))
      .select(col("id"), transform(sequence(lit(0), lit(Dim - 1)),
        d => h(1, col("c"), d) * 2.0 + h(salt, col("id"), d) * 0.5).as("v"))
  }

  def prepare(ctx: Ctx): Inputs = {
    val spark = ctx.spark
    val perCommit = Days / Commits
    val copies = (0 until Commits).map { c =>
      val path = new java.io.File(ctx.work, s"inputs/commit$c").getAbsolutePath
      Workloads.transactions(ctx, Rows / Commits, ctx.seed * 100 + c, c * perCommit,
        perCommit).write.parquet(path)
      path
    }
    val rnd = new scala.util.Random(ctx.seed)
    val keys = spark.read.parquet(copies.head).select("transaction_id")
      .head(2000).map(_.getString(0))
    val windows = (0 until 2).map { _ =>
      val lo = rnd.nextInt(Days - 3)
      s"${day(lo)},${day(lo + 2)}"
    }
    val params = Map(
      "risk" -> Seq(""),
      "hourly" -> windows,
      "point" -> (0 until 2).map(_ => keys(rnd.nextInt(keys.length))),
      // versions count from the CREATE (v0): v1 is the first load
      "version" -> Seq("1"),
      "ann" -> (0 until QueryBatches).map(_.toString))
    spark.read.parquet(copies: _*).createOrReplaceTempView("oracle_all")
    val expected = for (tpl <- SqlTemplates; p <- params(tpl)) yield {
      val view = if (tpl == "version") {
        spark.read.parquet(copies.take(p.toInt): _*).createOrReplaceTempView("oracle_v")
        "oracle_v"
      } else "oracle_all"
      val text = sqlText(Query(tpl, "oracle", p), view).replace(s" VERSION AS OF $p", "")
      (tpl, p) -> render(spark.sql(text).collect())
    }

    // the embedding table and its index are built once per run; their
    // build time is reported as ann.build_s
    val corpus = new java.io.File(ctx.work, "inputs/corpus").getAbsolutePath
    vectors(ctx, 0, Vectors, 2).select(col("id").as("vec_id"), col("v").as("embedding"))
      .write.parquet(corpus)
    val embSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType))))
    val emb = ctx.warehouse(new java.io.File(ctx.work, "inputs"))
      .createTable("vec", "emb", embSchema)
    emb.append(spark.read.parquet(corpus))
    val t0 = System.nanoTime()
    emb.buildVectorIndex("vec_id", "embedding", Dim, k = K, recallTarget = RecallTarget,
      sampleQueries = 8, iters = 1)
    val buildS = ctx.elapsedMs(t0) / 1000.0
    val qs = vectors(ctx, Vectors, Vectors + QueryBatches * QueriesPerBatch, 3)
      .select(col("id").as("query_id"), col("v").as("query_vec")).collect()
    val qSchema = StructType(Seq(StructField("query_id", LongType),
      StructField("query_vec", ArrayType(DoubleType))))
    val batches = qs.grouped(QueriesPerBatch).map(rows =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), qSchema)).toIndexedSeq
    val truth = Similarity.bruteForceTopK(spark.read.parquet(corpus),
        batches.reduce(_ union _), K)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    new Inputs(copies, params, expected.toMap, emb, buildS, batches, truth)
  }

  def setup(ctx: Ctx, in: Inputs, dir: java.io.File): State = {
    val cat = ctx.warehouse(dir)
    val t = cat.createTable("lake", "txns", Schemas.transactions, Seq("date"))
    in.copies.foreach(c => t.append(ctx.spark.read.parquet(c)))
    new State(cat, t, in)
  }

  /** The query text with `tbl` as the table reference. */
  private def sqlText(q: Query, tbl: String): String = q.template match {
    case "risk" =>
      s"""SELECT region, merchant_category, date, COUNT(*) AS total_transactions,
         |  SUM(amount) AS total_amount,
         |  COUNT(CASE WHEN risk_score = 'HIGH' THEN 1 END) AS high_risk_count,
         |  COUNT(CASE WHEN velocity_check = 'FLAG' THEN 1 END) AS velocity_flags,
         |  COUNT(CASE WHEN status = 'FLAGGED' THEN 1 END) AS flagged_count
         |FROM $tbl GROUP BY region, merchant_category, date
         |HAVING COUNT(CASE WHEN risk_score = 'HIGH' THEN 1 END) > 0
         |ORDER BY high_risk_count DESC, region, merchant_category""".stripMargin
    case "hourly" =>
      val Array(lo, hi) = q.param.split(",")
      s"""SELECT hour, COUNT(*) AS n, COUNT(DISTINCT customer_id) AS customers,
         |  SUM(amount) AS total_amount
         |FROM $tbl WHERE date BETWEEN DATE'$lo' AND DATE'$hi'
         |GROUP BY hour ORDER BY hour""".stripMargin
    case "point" =>
      s"SELECT * FROM $tbl WHERE transaction_id = '${q.param}'"
    case "version" =>
      s"""SELECT date, COUNT(*) AS n, SUM(amount) AS total_amount
         |FROM $tbl VERSION AS OF ${q.param} GROUP BY date ORDER BY date""".stripMargin
  }

  /** The same query through the TxTable read API. */
  private def apiFrame(s: State, q: Query): DataFrame = q.template match {
    case "risk" =>
      s.t.read()
        .groupBy(col("region"), col("merchant_category"), col("date"))
        .agg(count(lit(1)).as("total_transactions"),
          sum(col("amount")).as("total_amount"),
          count(when(col("risk_score") === "HIGH", 1)).as("high_risk_count"),
          count(when(col("velocity_check") === "FLAG", 1)).as("velocity_flags"),
          count(when(col("status") === "FLAGGED", 1)).as("flagged_count"))
        .filter(col("high_risk_count") > 0)
        .orderBy(col("high_risk_count").desc, col("region"), col("merchant_category"))
    case "hourly" =>
      val Array(lo, hi) = q.param.split(",")
      s.t.read()
        .filter(col("date").between(lit(lo).cast(DateType), lit(hi).cast(DateType)))
        .groupBy(col("hour"))
        .agg(count(lit(1)).as("n"), countDistinct(col("customer_id")).as("customers"),
          sum(col("amount")).as("total_amount"))
        .orderBy(col("hour"))
    case "point" =>
      s.t.read().filter(col("transaction_id") === q.param)
    case "version" =>
      s.t.asOf(q.param.toLong).groupBy(col("date"))
        .agg(count(lit(1)).as("n"), sum(col("amount")).as("total_amount"))
        .orderBy(col("date"))
    case "ann" =>
      s.in.emb.vectorSearch(s.in.annBatches(q.param.toInt), k = K)
        .select("query_id", "vec_id")
  }

  private def frame(ctx: Ctx, s: State, q: Query): DataFrame = q.door match {
    case "spark_sql" => ctx.spark.sql(sqlText(q, s"${ctx.sqlCatalog}.lake.txns"))
    case "graft_sql" => s.cat.sql(sqlText(q, "lake.txns"))
    case "table_api" => apiFrame(s, q)
  }

  private def render(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The i-th query of the rotation: templates in turn; each SQL template
    * cycles through the doors, then through its parameters. */
  private def next(s: State): Query = {
    val tpl = Templates(s.i % Templates.size)
    val round = s.i / Templates.size
    val door = if (tpl == "ann") "table_api" else Doors(round % Doors.size)
    val ps = s.in.params(tpl)
    val p = ps((if (tpl == "ann") round else round / Doors.size) % ps.size)
    s.i += 1
    Query(tpl, door, p)
  }

  /** Run `q`; (latency, answer correct). ANN answers are scored for
    * recall at the end instead. */
  private def run(ctx: Ctx, s: State, q: Query): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val rows = ctx.tracer.op(s"lake.${q.template}.${q.door}") {
      val df = ctx.tracer.span("plan.front_door")(frame(ctx, s, q))
      ctx.tracer.span("exec.collect")(df.collect())
    }
    val ms = ctx.elapsedMs(t0)
    if (q.template == "ann") {
      s.annHits ++= rows.map(r => (r.getLong(0), r.getLong(1)))
      (ms, rows.length == QueriesPerBatch * K)
    } else (ms, render(rows) == s.in.expected((q.template, q.param)))
  }

  def warmup(ctx: Ctx, s: State): Unit = {
    Templates.foreach(_ => run(ctx, s, next(s)))
    s.i = 0
  }

  /** Geometric mean of the per-template median latencies: a fixed
    * weighting of the query mix, whatever the run's sample counts. */
  override def latencyMs(s: State, samples: Seq[Double]): Double = {
    val meds = s.latencies.values.filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** One step is one full rotation over the templates, so every run
    * weighs the templates alike. */
  def step(ctx: Ctx, s: State, remainingMs: Double): Step = {
    val lat = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var busy = 0.0
    Templates.foreach { _ =>
      val q = next(s)
      val t0 = System.nanoTime()
      try {
        val (ms, ok) = run(ctx, s, q)
        if (!ok) { s.mismatches += 1; failed += 1 }
        s.latencies.getOrElseUpdate(q.template, mutable.ArrayBuffer.empty) += ms
        lat += ms
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"query $q failed: $e")
          failed += 1
      }
      busy += ctx.elapsedMs(t0)
    }
    Step(lat.toSeq, Templates.size, failed, busy)
  }

  /** recall@10 over the query batches the run searched. */
  private def recall(s: State): Double = {
    val asked = s.annHits.map(_._1)
    val truth = s.in.annTruth.filter(p => asked.contains(p._1))
    if (truth.isEmpty) 0.0 else (truth & s.annHits).size.toDouble / truth.size
  }

  def check(ctx: Ctx, s: State): Seq[Check] = Seq(
    Check("oracle_match", s.mismatches == 0,
      s"${s.mismatches} answers differ from the parquet oracle or miss rows"),
    Check("ann_recall_at_10", recall(s) >= RecallTarget,
      f"recall@10 ${recall(s)}%.4f, target $RecallTarget"))

  override def layerExtras(ctx: Ctx, s: State): Map[String, Double] =
    Templates.map(tpl => s"lake.${tpl}_ms" -> s.latencies.get(tpl)
      .filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(0.0)).toMap ++
      Workloads.commitStats(s.t, s.t.currentVersion) ++ Map(
      "ann.nprobe" -> s.in.emb.vectorIndexMeta("embedding").map(_.nprobe.toDouble)
        .getOrElse(0.0),
      "ann.build_s" -> s.in.annBuildS,
      "ann.recall_at_10" -> recall(s))
}
