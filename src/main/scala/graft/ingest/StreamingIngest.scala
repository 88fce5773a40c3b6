package graft.ingest

import graft.model.Schemas
import graft.table.TxTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming CDC ingest: the reference's Firehose delivery loop
 * (SURVEY.md §3.1-3.2) as a Structured Streaming query.
 *
 *  - micro-batch buffering 60 s / 1 MB (stack/firehose.py:92-94,152-154)
 *    → `Trigger.ProcessingTime` (configurable; tests use AvailableNow);
 *  - batch size 100 from the stream mapping (stack/firehose.py:255)
 *    → `maxFilesPerTrigger` on the file source;
 *  - Iceberg upsert on `transaction_id` (stack/firehose.py:95-101)
 *    → `foreachBatch { TxTable.merge }` — at-least-once delivery plus a
 *    keyed MERGE is exactly-once in effect (re-delivered rows upsert to
 *    the same state), the same argument the reference relies on;
 *  - failed deliveries land uncompressed under an `errors/` prefix after
 *    retry (stack/firehose.py:86-91,107-109,146-151,167-169)
 *    → per-batch try/catch writing the poisoned batch to `errorsDir`.
 */
object StreamingIngest {

  /**
   * Per-micro-batch tuning of the stream's CLONED session (never the
   * user's session): AQE off (sub-second multi-stage merge plans gain
   * nothing from runtime re-planning), one-job LIMIT probes, and a
   * shuffle parallelism DERIVED from the batch's input-size estimate —
   * CDC-sized micro-batches get few reducers (task scheduling, not
   * work, dominates a 100-record batch), while a catch-up/backfill
   * batch scales toward the session's configured parallelism instead
   * of running 8-wide on a 32-core box (r12 VERDICT task 3: at 100×
   * scale, catch-up IS the workload). Controls:
   *  - `spark.graft.stream.shufflePartitions = <n>` pins an exact
   *    value; `= keep` leaves the session's own setting untouched
   *    (the escape hatch for deployments that tune
   *    `spark.sql.shuffle.partitions` directly — ADVICE r12);
   *  - `spark.graft.stream.bytesPerReducer` (default 4 MiB of INPUT
   *    per reducer — micro-batch shuffles are latency-bound, so the
   *    target is far below AQE's 64 MiB advisory) sets the derivation
   *    slope; the result is clamped to [8, session parallelism], the
   *    session value captured BEFORE the first override so the user's
   *    setting remains the cap, never our previous batch's.
   */
  private[ingest] def tuneStreamSession(
      batch: DataFrame): org.apache.spark.sql.SparkSession = {
    val ss = batch.sparkSession
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    // the merge-on-read matched-refs probe is a LIMIT-capped collect;
    // Spark's executeTake scans 1 partition, then 4x more, ... — 3-4
    // separate jobs per micro-batch when the cap is never reached (the
    // common case: live matches are batch-bounded). Scanning everything
    // in the FIRST take job collapses that to one job per probe.
    ss.conf.set(SQLConf.LIMIT_INITIAL_NUM_PARTITIONS.key, "4096")
    ss.conf.getOption("spark.graft.stream.shufflePartitions") match {
      case Some("keep") => ()                     // deployment-tuned session
      case Some(pinned) => ss.conf.set("spark.sql.shuffle.partitions", pinned)
      case None =>
        val capKey = "spark.graft.stream.sessionShufflePartitions"
        val cap = ss.conf.getOption(capKey).map(_.toInt).getOrElse {
          val c = ss.conf.get("spark.sql.shuffle.partitions", "32").toInt
          ss.conf.set(capKey, c.toString)
          c
        }
        val perReducer = ss.conf
          .getOption("spark.graft.stream.bytesPerReducer")
          .map(_.toLong).getOrElse(4L << 20)
        // the optimizer's size estimate is the staged input bytes for a
        // file-source batch — a cheap driver-side stat, no job. When
        // stats are UNAVAILABLE the estimate defaults to a Long.Max-
        // scale sentinel: treating that as real input would run the
        // micro-batch at the full session cap — the exact latency
        // regression this derivation targets — so implausibly large
        // values fall to the floor instead (ADVICE r13)
        val inputBytes = {
          val raw =
            try batch.queryExecution.optimizedPlan.stats.sizeInBytes
            catch { case scala.util.control.NonFatal(_) => BigInt(0) }
          if (raw > (BigInt(1L) << 50)) BigInt(0) else raw // > 1 PiB: sentinel
        }
        // the floor itself is clamped by the cap: a deployment that set
        // spark.sql.shuffle.partitions BELOW 8 said "never wider than
        // that" — the user's setting remains the cap (ADVICE r13)
        val floor = math.min(8L, cap.toLong)
        val derived = math.max(floor, math.min(cap.toLong,
          ((inputBytes + perReducer - 1) / perReducer).toLong))
        ss.conf.set("spark.sql.shuffle.partitions", derived.toString)
    }
    ss
  }

  /**
   * The session a stream is built and run on: a clone of the caller's,
   * so nothing here touches the caller's conf. Its checkpoint logs
   * publish through [[LocalCheckpointFileManager]] (no process starts
   * on `file:` paths) unless the caller already named a manager. The
   * query registers with the clone's `streams`, not the caller's, so
   * the caller's streaming listeners are added to it: they still see
   * the query's progress, and `spark.streams.active` does not list it.
   * The clone's listener bus leaves the SparkContext when the query
   * ends.
   */
  private[ingest] def streamSession(spark: SparkSession): SparkSession = {
    val clone = org.apache.spark.sql.graft.ColumnBridge.cloneSession(spark)
    if (clone.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      clone.conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)
    // a listener the clone built from the static listener conf is
    // already there; skip the caller's instance of the same class
    val built = clone.streams.listListeners().map(_.getClass).toSet
    spark.streams.listListeners().filterNot(l => built(l.getClass))
      .foreach(clone.streams.addListener)
    org.apache.spark.sql.graft.ColumnBridge.releaseStreamsOnTermination(clone)
    clone
  }

  /** DynamoDB-Streams-shaped ingest: a directory of JSON envelope files
    * (the test-harness stand-in for the stream shard). */
  def start(
      spark: SparkSession,
      inputDir: String,
      table: TxTable,
      checkpointDir: String,
      errorsDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      maxFilesPerTrigger: Int = 100,
      /** Exactly-once fencing identity; defaults to the checkpoint
        * path. IMPORTANT: if a checkpoint is ever DELETED and recreated
        * at the same path (batchIds restart at 0), pass a fresh appId —
        * otherwise the table's old watermark fences the new batches
        * (the same rule Delta documents for its txn appId). */
      streamAppId: Option[String] = None,
      /** forward REMOVE events as table deletes (the reference drops
        * them); requires the stream view to carry pre-images. */
      propagateDeletes: Boolean = false): StreamingQuery = {

    val events = streamSession(spark).readStream
      .schema(Schemas.cdcEnvelope)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)

    val rows =
      if (propagateDeletes) CdcPipeline.dynamoStreamsPathWithDeletes(events)
      else CdcPipeline.dynamoStreamsPath(events)

    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // tune the stream's CLONED session, never the user's — see
        // tuneStreamSession (AQE off, one-job LIMIT probes, reducers
        // derived from the batch's input size)
        val ss = tuneStreamSession(batch)
        mergeBatch(table.withSession(ss), batch, batchId, errorsDir,
          streamAppId = Some(streamAppId.getOrElse(checkpointDir)),
          deleteCol = if (propagateDeletes) Some("_deleted") else None)
      }
      .start()
  }

  /** ATOMIC FAN-OUT ingest: every micro-batch upserts the MAIN table
    * and appends the raw winners to an AUDIT table in ONE multi-table
    * transaction ([[graft.table.GraftTxn]]) under ONE exactly-once
    * fence — downstream readers can never observe the upsert without
    * its audit record (or vice versa), and a crash at ANY point
    * replays to exactly-once effects on BOTH tables: the fence
    * watermark rides the pending headers, so it only takes effect if
    * the marker committed; an aborted attempt leaves both watermarks
    * unset and the replayed batch re-applies. The pattern the
    * reference cannot express with one Firehose delivery per table. */
  def startFanOut(
      spark: SparkSession,
      inputDir: String,
      main: TxTable,
      audit: TxTable,
      txnDir: org.apache.hadoop.fs.Path,
      checkpointDir: String,
      errorsDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      maxFilesPerTrigger: Int = 100,
      streamAppId: Option[String] = None): StreamingQuery = {
    val events = streamSession(spark).readStream
      .schema(Schemas.cdcEnvelope)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)
    CdcPipeline.dynamoStreamsPath(events).writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // same per-stream tuning as start(): the fan-out's merge +
        // append run on the stream's cloned session
        val ss = tuneStreamSession(batch)
        fanOutBatch(ss, main.withSession(ss), audit.withSession(ss),
          txnDir, batch, batchId, errorsDir,
          appId = streamAppId.getOrElse(checkpointDir))
      }
      .start()
  }

  private[graft] def fanOutBatch(spark: SparkSession, main: TxTable,
      audit: TxTable, txnDir: org.apache.hadoop.fs.Path, batch: DataFrame,
      batchId: Long, errorsDir: String, appId: String): Unit = {
    if (!batch.isEmpty) {
      val fence = Some((appId, batchId))
      try graft.table.GraftTxn.begin(spark, txnDir)
        .merge(main, batch, key = "transaction_id",
          orderCol = "processing_timestamp", txn = fence)
        .append(audit, batch, txn = fence)
        .commit()
      catch {
        case scala.util.control.NonFatal(e) =>
          batch.write.mode("append").json(s"$errorsDir/batch=$batchId")
          org.slf4j.LoggerFactory.getLogger(getClass)
            .error(s"fan-out batch $batchId failed, wrote to DLQ: ${e.getMessage}")
      }
    }
  }

  /** One micro-batch commit with DLQ semantics. With `streamAppId`, the
    * (appId, batchId) pair rides the table's transaction watermark, so
    * a micro-batch replayed after a crash-between-commit-and-checkpoint
    * is FENCED instead of re-merged — exactly-once table effects on an
    * at-least-once stream. */
  private[ingest] def mergeBatch(table: TxTable, batch: DataFrame,
      batchId: Long, errorsDir: String,
      streamAppId: Option[String] = None,
      deleteCol: Option[String] = None): Unit = {
    // no isEmpty pre-check: that costs a limit-1 job through the whole
    // decode pipeline per micro-batch; merge() itself detects an empty
    // batch from its dedup job and commits nothing
    try table.merge(batch, key = "transaction_id",
      orderCol = "processing_timestamp",
      txn = streamAppId.map(app => (app, batchId)),
      deleteCol = deleteCol)
    catch {
      case scala.util.control.NonFatal(e) =>
        // DLQ: reject path mirrors Firehose's errors/ prefix — keep the
        // batch replayable, then rethrow nothing (stream keeps going).
        batch.write.mode("append").json(s"$errorsDir/batch=$batchId")
        org.slf4j.LoggerFactory.getLogger(getClass)
          .error(s"batch $batchId failed, wrote to DLQ: ${e.getMessage}")
    }
  }

  /** Batch (non-streaming) path over the same dataflow: read every
    * envelope file currently in `inputDir` and merge once. */
  def ingestOnce(spark: SparkSession, inputDir: String, table: TxTable): Long = {
    val events = spark.read.schema(Schemas.cdcEnvelope).json(inputDir)
    table.merge(CdcPipeline.dynamoStreamsPath(events),
      key = "transaction_id", orderCol = "processing_timestamp")
  }
}
