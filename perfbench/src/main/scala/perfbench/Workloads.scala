package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.SampleData
import graft.model.Schemas
import graft.table.{TableCatalog, TxTable}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: java.io.File,
    val tracer: Tracer) {

  /** The lake's catalog name for `spark.sql`. */
  val sqlCatalog = "graft"

  /** A fresh warehouse under `dir`, on the count-only `lagfs:` scheme,
    * also mounted as the `graft` catalog of `spark.sql`. */
  def warehouse(dir: java.io.File): TableCatalog = {
    val wh = "lagfs:" + new java.io.File(dir, "warehouse").getAbsolutePath
    spark.conf.set(s"spark.sql.catalog.$sqlCatalog.warehouse", wh)
    new TableCatalog(spark, new Path(wh))
  }

  def elapsedMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

/** Outcome of one step of a closed loop: the latencies of the
  * operations it completed, how many it attempted and lost, and how long
  * the timed part of the step took. */
final case class Step(latenciesMs: Seq[Double], attempted: Int, failed: Int,
    busyMs: Double)

/** Outcome of one output check. */
final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  type Inputs
  type State
  def name: String
  /** Generate the workload's inputs from the seed (untimed, once). */
  def prepare(ctx: Ctx): Inputs
  /** Bring the workload's tables to their starting state under `dir`:
    * the engine's set-up work, timed. */
  def setup(ctx: Ctx, in: Inputs, dir: java.io.File): State
  /** Untimed operations that warm the JIT and the engine's caches. */
  def warmup(ctx: Ctx, s: State): Unit
  /** One closed-loop step: the next operation(s), timed. `remainingMs`
    * is how much of the measuring window is left. */
  def step(ctx: Ctx, s: State, remainingMs: Double): Step
  /** The run's typical operation latency from its samples (ms). */
  def latencyMs(s: State, samples: Seq[Double]): Double = Stats.median(samples)
  /** Verify the program's outputs once the loop is done. */
  def check(ctx: Ctx, s: State): Seq[Check]
  /** Per-layer figures only this workload can produce. */
  def layerExtras(ctx: Ctx, s: State): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(CdcUpsert, LakeQueries)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Σ added bytes over the table's commits / bytes live at its head. */
  def writeAmp(t: TxTable): Double = {
    val h = t.history().agg(sum(greatest(col("added_bytes"), lit(0L))))
      .collect()(0)
    val added = if (h.isNullAt(0)) 0L else h.getLong(0)
    val live = t.snapshot.files.map(_.sizeBytes).sum
    if (live == 0) 0.0 else added.toDouble / live
  }

  /** Commit statistics over the versions in (fromVersion, head]. */
  def commitStats(t: TxTable, fromVersion: Long): Map[String, Double] = {
    val h = t.history().filter(col("version") > fromVersion).collect()
    val n = math.max(1, h.length)
    def colSum(c: String) = h.map(r => math.max(0L, r.getAs[Number](c).longValue)).sum
    Map(
      "table.files_added_per_commit" -> colSum("n_added_files").toDouble / n,
      "table.bytes_added_per_commit" -> colSum("added_bytes").toDouble / n,
      "table.compactions" -> h.count(r => {
        val op = r.getAs[String]("operation").toUpperCase
        op.contains("COMPACT") || op.contains("OPTIMIZE") || op.contains("MAINTAIN")
      }).toDouble,
      "table.files_live" -> t.snapshot.files.size.toDouble,
      "table.write_amp" -> writeAmp(t))
  }

  /** `rows` generated transactions spread over event days
    * [firstDay, firstDay + days): one generator call, each row moved by
    * whole days (a hash of its key), so hours and minutes stay put. */
  def transactions(ctx: Ctx, rows: Long, seed: Long, firstDay: Int,
      days: Int): DataFrame = {
    val shift = (pmod(xxhash64(col("transaction_id")), lit(days.toLong)) + firstDay) *
      CdcGen.DayMs
    SampleData.transactions(ctx.spark, rows, seed = seed,
        anchorMs = CdcGen.AnchorMs + 12L * 3600 * 1000)
      .withColumn("timestamp", col("timestamp") + shift)
      .withColumn("processing_timestamp", col("processing_timestamp") + shift)
      .withColumn("date", to_date(timestamp_millis(col("timestamp"))))
  }

  /** Preloaded rows on `days` event dates, written as plain parquet under
    * `dir`. */
  def preload(ctx: Ctx, rows: Long, days: Int, dir: java.io.File): String = {
    val path = new java.io.File(dir, "preload").getAbsolutePath
    transactions(ctx, rows, ctx.seed, 0, days).write.parquet(path)
    path
  }

  /** Table contents vs the last-writer-wins model over the staged
    * envelopes (plus the preloaded rows, if any). */
  def lwwCheck(ctx: Ctx, t: TxTable, files: Seq[String],
      base: Option[DataFrame]): Check = {
    val schema = Schemas.transactions
    val model = LwwModel.expected(ctx.spark, schema, "transaction_id",
      "processing_timestamp", files, base)
    val cols = schema.fieldNames.toSeq
    val got = LwwModel.fingerprint(t.toDF, cols)
    val want = LwwModel.fingerprint(model, cols)
    val detail = s"table (rows, hash) = $got, model = $want over ${files.size} files"
    if (got == want) Check("lww_model", ok = true, detail)
    else {
      def sample(a: DataFrame, b: DataFrame) =
        a.select(cols.map(col): _*).except(b.select(cols.map(col): _*))
          .orderBy("transaction_id").limit(3).collect().mkString("; ")
      Check("lww_model", ok = false, detail +
        s"; only in table: ${sample(t.toDF, model)}; only in model: ${sample(model, t.toDF)}")
    }
  }
}

/**
 * A CDC delivery feed: staged envelope files in delivery order, generated
 * ahead of use in chunks. Staging is harness work and stays out of every
 * timed interval; files get increasing modification times, the order a
 * file stream source consumes them in.
 */
final class Feed(ctx: Ctx, dir: java.io.File, val preload: String, chunk: Int) {
  val gen: CdcGen.State = CdcGen.newState(ctx.seed,
    ctx.spark.read.parquet(preload).collect().toSeq)
  private val staged = new java.io.File(dir, "staged")
  private var nextFile = 0
  private val pending = mutable.Queue.empty[(Int, java.io.File)]
  /** Absolute paths of every file handed out, in order. */
  val consumed = mutable.ArrayBuffer.empty[String]

  /** Stage deliveries until at least `n` are pending. */
  def ensure(n: Int): Unit = while (pending.size < n) {
    val files = CdcGen.stage(ctx.spark, ctx.seed, gen, staged, nextFile, chunk)
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(CdcGen.AnchorMs + (nextFile + i) * 1000L)
      pending.enqueue((nextFile + i, f))
    }
    nextFile += chunk
  }

  /** The next `n` deliveries as (index, file). */
  def take(n: Int): Seq[(Int, java.io.File)] = {
    ensure(n)
    val out = (0 until n).map(_ => pending.dequeue())
    consumed ++= out.map(_._2.getAbsolutePath)
    out
  }
}
