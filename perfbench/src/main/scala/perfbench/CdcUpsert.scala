package perfbench

import org.apache.spark.sql.streaming.Trigger

import graft.ingest.StreamingIngest
import graft.model.Schemas
import graft.table.TxTable

/**
 * The reference's Firehose path: staged envelope files stream through
 * `StreamingIngest.start(AvailableNow, maxFilesPerTrigger = 1,
 * propagateDeletes = true)` into a copy-on-write table partitioned by
 * `date` that starts from a preloaded backfill. A step hands the stream
 * enough files to fill the rest of the window (sized from the warm-up's
 * fastest trigger) and runs the query until it has consumed them, so a
 * run starts the measured query once; each trigger (one file, one MERGE)
 * is one operation.
 */
object CdcUpsert extends Workload {
  val name = "cdc_upsert"
  val PreloadRows = 16000L
  val PreloadDays = 4
  val WarmupFiles = 3
  val MaxFilesPerStep = 60

  type Inputs = Feed

  final class State(val t: TxTable, val dir: java.io.File, val feed: Feed) {
    val input = new java.io.File(dir, "input")
    var rowsIn = 0L
    var triggers = 0
    /** The warm-up's fastest trigger: sizes the measured steps. */
    var triggerEstMs = 1000.0
    val firstVersion: Long = t.currentVersion
  }

  def prepare(ctx: Ctx): Feed = {
    val dir = new java.io.File(ctx.work, "inputs")
    val feed = new Feed(ctx, dir, Workloads.preload(ctx, PreloadRows, PreloadDays, dir),
      chunk = 8)
    feed.ensure(WarmupFiles)
    feed
  }

  def setup(ctx: Ctx, feed: Feed, dir: java.io.File): State = {
    val cat = ctx.warehouse(dir)
    val t = cat.createTable("cdc", "txns", Schemas.transactions, Seq("date"))
    t.append(ctx.spark.read.parquet(feed.preload))
    val s = new State(t, dir, feed)
    s.input.mkdirs()
    s
  }

  /** Hand `n` files to the stream and run it until they are consumed;
    * (trigger ms, input rows) per trigger, and the timed wall of the run. */
  private def drain(ctx: Ctx, s: State, n: Int): (Seq[(Double, Long)], Double) = {
    s.feed.take(n).foreach { case (_, f) =>
      val to = new java.io.File(s.input, f.getName)
      java.nio.file.Files.copy(f.toPath, to.toPath,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    val t0 = System.nanoTime()
    val q = StreamingIngest.start(ctx.spark, s.input.getAbsolutePath, s.t,
      checkpointDir = new java.io.File(s.dir, "checkpoint").getAbsolutePath,
      errorsDir = new java.io.File(s.dir, "errors").getAbsolutePath,
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      propagateDeletes = true)
    q.awaitTermination()
    val busy = ctx.elapsedMs(t0)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    if (ctx.tracer.enabled) ctx.tracer.markBatches(progress.map(_.batchId).toSeq)
    val batches = progress.map(p =>
      (p.durationMs.get("triggerExecution").doubleValue, p.numInputRows)).toSeq
    (batches, busy)
  }

  def warmup(ctx: Ctx, s: State): Unit = {
    val (batches, _) = drain(ctx, s, WarmupFiles)
    s.triggerEstMs = math.max(100.0, batches.map(_._1).min)
  }

  def step(ctx: Ctx, s: State, remainingMs: Double): Step = {
    val n = math.min(MaxFilesPerStep, math.ceil(remainingMs / s.triggerEstMs).toInt + 1)
    s.feed.ensure(n)
    val (batches, busy) = try drain(ctx, s, n) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"cdc step failed: $e")
        return Step(Nil, n, n, 0.0)
    }
    s.triggers += batches.size
    s.rowsIn += batches.map(_._2).sum
    Step(batches.map(_._1), n, n - batches.size, busy)
  }

  private def dlqBatches(s: State): Int =
    Option(new java.io.File(s.dir, "errors").listFiles()).map(_.length).getOrElse(0)

  def check(ctx: Ctx, s: State): Seq[Check] = Seq(
    Check("dlq_empty", dlqBatches(s) == 0, s"${dlqBatches(s)} batches in the DLQ"),
    Workloads.lwwCheck(ctx, s.t, s.feed.consumed.toSeq,
      Some(ctx.spark.read.parquet(s.feed.preload))))

  override def layerExtras(ctx: Ctx, s: State): Map[String, Double] = {
    val commits = s.t.history().filter(org.apache.spark.sql.functions.col("version") >
      s.firstVersion).collect()
    Map(
      "ingest.rows_in" -> s.rowsIn.toDouble / math.max(1, s.triggers),
      "ingest.rows_committed" -> commits.map(_.getAs[Long]("added_rows")).sum.toDouble /
        math.max(1, commits.length),
      "ingest.dlq_batches" -> dlqBatches(s).toDouble) ++
      Workloads.commitStats(s.t, s.firstVersion)
  }
}
