package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

case class Ev(user: Long, ts: Timestamp, value: Double)

/** Spark-4 `transformWithState` processor: per-key (count, sum) in a
  * typed ValueState — the arbitrary-state successor to
  * mapGroupsWithState (SPARK-42931), exercised here because any
  * long-lived 100 TB ingest keeps exactly this kind of per-key
  * bookkeeping (rate counters, dedup horizons) in the state store. */
class RunningStatsProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, (Long, Long, Double)] {
  @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    st = getHandle.getValueState[(Long, Double)]("stats",
      org.apache.spark.sql.Encoders.product[(Long, Double)],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[Ev],
      timers: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, s0) = if (st.exists()) st.get() else (0L, 0.0)
    var n = n0; var s = s0
    rows.foreach { e => n += 1; s += e.value }
    st.update((n, s))
    Iterator.single((key, n, s))
  }
}

/**
 * Streaming semantics (SURVEY §2.5 streaming rows): event-time windows
 * with watermarks (late data dropped), watermark-scoped dedup, and
 * custom per-key state via mapGroupsWithState. The reference itself has
 * no watermark — late records simply upsert (covered by
 * CdcPipelineSpec's foreachBatch-MERGE tests); these are the additive
 * event-time semantics.
 */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // base aligned to a 10-minute epoch boundary, so window(ts, "10 minutes")
  // starts land exactly on ts(0), ts(10), ...
  private def ts(minutes: Int): Timestamp =
    new Timestamp(1700000400000L + minutes * 60000L)

  test("tumbling event-time window with watermark drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("user"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("tumbling_out").start()
    try {
      // batch 1: two on-time events in window [0,10)
      in.addData(Ev(1, ts(1), 1.0), Ev(1, ts(5), 1.0))
      q.processAllAvailable()
      // batch 2: event at minute 40 advances the watermark to minute 30,
      // finalizing (and emitting) everything before it
      in.addData(Ev(1, ts(40), 1.0))
      q.processAllAvailable()
      // batch 3: a LATE event for window [0,10) — behind the watermark,
      // must be dropped, not create/extend a finalized window
      in.addData(Ev(1, ts(2), 99.0))
      q.processAllAvailable()
      val out = spark.table("tumbling_out")
        .select("wstart", "n").as[(Timestamp, Long)].collect().toMap
      assert(out(ts(0)) === 2L)      // late event did NOT bump this
      assert(!out.contains(ts(40)))  // open window not emitted yet in append mode
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups redelivered events") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val deduped = in.toDF()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user", "ts")
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      in.addData(Ev(1, ts(1), 1.0), Ev(1, ts(1), 1.0)) // dup in batch
      q.processAllAvailable()
      in.addData(Ev(1, ts(1), 1.0))                    // redelivery across batches
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 1)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-key aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val counts = in.toDS()
      .groupByKey(_.user)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (user, n)
      }
    val q = counts.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("state_out").start()
    try {
      in.addData(Ev(1, ts(0), 1.0), Ev(1, ts(1), 1.0), Ev(2, ts(2), 1.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(3), 1.0))
      q.processAllAvailable()
      // Update mode: last emitted row per key reflects the running count
      val last = spark.table("state_out").groupBy("_1").agg(max("_2"))
        .as[(Long, Long)].collect().toMap
      assert(last(1L) === 3L)
      assert(last(2L) === 1L)
    } finally q.stop()
  }

  test("transformWithState (Spark 4 state API): per-key running stats on RocksDB") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    withConfs("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val in = MemoryStream[Ev]
      val out = in.toDS()
        .groupByKey(_.user)
        .transformWithState(new RunningStatsProcessor(),
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      val q = out.writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("tws_out").start()
      try {
        in.addData(Ev(1, ts(0), 2.0), Ev(1, ts(1), 4.0), Ev(2, ts(2), 10.0))
        q.processAllAvailable()
        in.addData(Ev(1, ts(3), 6.0))       // state must survive the batch
        q.processAllAvailable()
        val last = spark.table("tws_out").groupBy("_1")
          .agg(max("_2").as("n"), max("_3").as("sum"))
          .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
        assert(last(1L) === ((3L, 12.0)))
        assert(last(2L) === ((1L, 10.0)))
      } finally q.stop()
    }
  }

  test("streaming incremental MV: foreachBatch advances an aggregate table exactly-once") {
    import graft.table.TxTable
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val mvSchema = StructType(Seq(
      StructField("user", LongType, nullable = false),
      StructField("n", LongType), StructField("total", DoubleType)))
    val mv = TxTable.create(spark,
      new Path(freshDir("stream_mv")), "mv", mvSchema, Nil)
    val in = MemoryStream[Ev]
    val q = in.toDS().writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Ev], batchId: Long) =>
        // delta-agg the micro-batch, fold into the MV: new = old + delta
        // per key; the (appId, batchId) txn fences replays, so the MV
        // advances exactly once per batch even on at-least-once delivery
        val delta = batch.groupBy(col("user"))
          .agg(count(lit(1)).as("dn"), sum(col("value")).as("dtotal"))
        val merged = mv.toDF.join(delta, Seq("user"), "full_outer")
          .select(col("user"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("total"), lit(0.0)) +
              coalesce(col("dtotal"), lit(0.0))).as("total"))
        mv.merge(merged, key = "user", orderCol = "n",
          txn = Some(("stream_mv_app", batchId)))
        ()
      }
      .start()
    try {
      in.addData(Ev(1, ts(0), 2.0), Ev(1, ts(1), 3.0), Ev(2, ts(2), 10.0))
      q.processAllAvailable()
      in.addData(Ev(1, ts(3), 5.0), Ev(3, ts(4), 7.0))
      q.processAllAvailable()
      val got = mv.toDF.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got === Map(1L -> ((3L, 10.0)), 2L -> ((1L, 10.0)),
        3L -> ((1L, 7.0))))
      // a replayed batchId is fenced — the MV must NOT double-count
      val bogus = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(3L, 99L, 999.0)),
        mvSchema)
      mv.merge(bogus, key = "user", orderCol = "n",
        txn = Some(("stream_mv_app", 1L)))
      assert(mv.toDF.filter(col("user") === 3L).head().getLong(1) === 1L)
    } finally q.stop()
  }

  test("stream-stream join within event-time bounds") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val imps = MemoryStream[Ev]
    val c = clicks.toDF().withWatermark("ts", "20 minutes")
      .select(col("user").as("c_user"), col("ts").as("c_ts"))
    val i = imps.toDF().withWatermark("ts", "20 minutes")
      .select(col("user").as("i_user"), col("ts").as("i_ts"))
    // attribute a click to an impression at most 10 minutes earlier
    val joined = c.join(i,
      col("c_user") === col("i_user") &&
        col("c_ts") >= col("i_ts") &&
        col("c_ts") <= col("i_ts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ss_join_out").start()
    try {
      imps.addData(Ev(1, ts(0), 0.0), Ev(2, ts(0), 0.0))
      clicks.addData(Ev(1, ts(5), 1.0),   // within 10 min → joins
        Ev(2, ts(15), 1.0))               // too late → no match
      q.processAllAvailable()
      val out = spark.table("ss_join_out")
        .select("c_user").as[Long].collect().toSeq
      assert(out === Seq(1L))
    } finally q.stop()
  }

  test("session windows merge in streaming mode and close at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("sstart"),
        col("session_window.end").as("send"), col("user"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("session_out").start()
    try {
      // two events 5 min apart → one session; a separate user far later
      in.addData(Ev(1, ts(0), 1.0), Ev(1, ts(5), 1.0))
      q.processAllAvailable()
      // nothing emitted yet: session still open (append waits for close)
      assert(spark.table("session_out").count() === 0)
      // event at minute 120 pushes the watermark past session end
      // (minute 35) → the session finalizes and is emitted, MERGED as
      // one row spanning both events
      in.addData(Ev(2, ts(120), 1.0))
      q.processAllAvailable()
      val out = spark.table("session_out")
        .select("sstart", "send", "user", "n")
        .as[(Timestamp, Timestamp, Long, Long)].collect()
      assert(out.toSeq === Seq((ts(0), ts(35), 1L, 2L)))
    } finally q.stop()
  }

  test("streaming table source: readStream.table tails the commit log") {
    // the Delta-style "table as a stream": first batch = full snapshot,
    // subsequent batches = exactly the files added by new commits
    val wh = freshDir("v2cat_stream")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.st")
    spark.sql("CREATE TABLE graft.st.t (id STRING, date DATE, v INT) PARTITIONED BY (date)")
    spark.sql("INSERT INTO graft.st.t VALUES ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-02', 2)")
    val q = spark.readStream.table("graft.st.t")
      .writeStream.format("memory").queryName("table_stream_out")
      .option("checkpointLocation", s"${freshDir("v2cat_stream_ckpt")}/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // initial load: the live snapshot
      assert(spark.table("table_stream_out").count() === 2)
      // two more commits while the stream runs
      spark.sql("INSERT INTO graft.st.t VALUES ('c', DATE'2026-01-03', 3)")
      spark.sql("INSERT INTO graft.st.t VALUES ('d', DATE'2026-01-01', 4)")
      q.processAllAvailable()
      val out = spark.table("table_stream_out")
        .select("id", "v").as[(String, Int)].collect().toSet
      assert(out === Set(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
      // partition column survives the stream as a typed column
      assert(spark.table("table_stream_out")
        .filter(col("date") === java.sql.Date.valueOf("2026-01-01"))
        .count() === 2)
    } finally q.stop()
  }

  test("streaming sink epochs stay flat while an auto-maintenance sweep runs") {
    // r16 VERDICT task 4: maybeAutoMaintain used to run INLINE on the
    // committing thread — on a streaming ingest, the micro-batch
    // thread paid the full sweep. With the background lane, a sweep
    // parked for seconds must not move epoch latency: the ingest
    // below commits through a 3-second-blocked sweep and every epoch
    // stays an order of magnitude under the block.
    val wh = freshDir("v2cat_epochflat")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ef")
    spark.sql("CREATE TABLE graft.ef.t (id LONG, v INT) TBLPROPERTIES (" +
      "'graft.maintain.enabled' = 'true', " +
      "'graft.maintain.minSmallFiles' = '4', " +
      "'graft.maintain.orphanGraceMs' = '0')")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val swept = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.table.TxTable.autoMaintainTestHook = () => {
      swept.incrementAndGet()
      gate.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
    }
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Int)]
    val q = in.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", s"${freshDir("v2cat_epochflat_ck")}/ckpt")
      .toTable("graft.ef.t")
    try {
      val epochSecs = (1 to 6).map { i =>
        in.addData((i.toLong, i))
        val t0 = System.nanoTime()
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      // the first epoch's post-commit trigger parked a sweep on the
      // gate; every epoch (including later ones that would have queued
      // behind an inline sweep) must clear far under the 30 s park
      assert(swept.get() >= 1, "no sweep was scheduled by the stream")
      assert(epochSecs.forall(_ < 10.0),
        s"an epoch stalled behind the parked sweep: $epochSecs")
      gate.countDown()
      graft.table.TxTable.awaitAutoMaintenance()
      graft.table.TxTable.awaitAutoMaintenance()
      // the sweep then did its work off-thread: files compacted
      val cat = new graft.table.TableCatalog(spark,
        new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("ef", "t")
      assert(tx.snapshot.files.size < 6,
        s"background sweep never compacted: ${tx.snapshot.files.size}")
      assert(spark.table("graft.ef.t").count() === 6)
    } finally {
      graft.table.TxTable.autoMaintainTestHook = () => ()
      gate.countDown()
      q.stop()
    }
  }

  test("streaming table source: maxFilesPerTrigger drains a backlog in bounded batches") {
    val wh = freshDir("v2cat_admit")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ad")
    spark.sql("CREATE TABLE graft.ad.t (id STRING, v INT)")
    // six commits of one file each — the backlog a restarting stream
    // faces; without admission control this plans ONE batch of all six
    (1 to 6).foreach(i =>
      spark.sql(s"INSERT INTO graft.ad.t VALUES ('r$i', $i)"))
    val q = spark.readStream
      .option("startingVersion", "1")       // skip the initial snapshot
      .option("maxFilesPerTrigger", "2")
      .table("graft.ad.t")
      .writeStream.format("memory").queryName("admit_out")
      .option("checkpointLocation", s"${freshDir("v2cat_admit_ckpt")}/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow run did not finish")
      assert(spark.table("admit_out").count() === 6)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"expected >=3 bounded micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows <= 2),
        s"a batch exceeded the 2-file bound: ${batches.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("streaming table source: startingVersion=latest sees only new commits") {
    val wh = freshDir("v2cat_latest")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.lt")
    spark.sql("CREATE TABLE graft.lt.t (id STRING, v INT)")
    spark.sql("INSERT INTO graft.lt.t VALUES ('old', 0)")
    val q = spark.readStream
      .option("startingVersion", "latest")
      .table("graft.lt.t")
      .writeStream.format("memory").queryName("latest_out")
      .option("checkpointLocation", s"${freshDir("v2cat_latest_ckpt")}/ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("latest_out").count() === 0,
        "pre-existing snapshot must be skipped")
      spark.sql("INSERT INTO graft.lt.t VALUES ('new', 1)")
      q.processAllAvailable()
      val out = spark.table("latest_out").select("id").as[String].collect().toSeq
      assert(out === Seq("new"))
    } finally q.stop()
  }

  test("streaming table sink: writeStream.toTable appends with epoch fencing") {
    val wh = freshDir("v2cat_sink")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sk")
    spark.sql("CREATE TABLE graft.sk.t (id LONG, date DATE, v DOUBLE) PARTITIONED BY (date)")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Int, Double)]
    val q = in.toDF().toDF("id", "d", "v")
      .select(col("id"),
        date_add(lit(java.sql.Date.valueOf("2026-01-01")), col("d")).as("date"),
        col("v"))
      .writeStream
      .option("checkpointLocation", s"${freshDir("v2cat_sink_ckpt")}/ckpt")
      .toTable("graft.sk.t")
    try {
      in.addData((1L, 0, 1.5), (2L, 1, 2.5))
      q.processAllAvailable()
      in.addData((3L, 0, 3.5))
      q.processAllAvailable()
      val out = spark.table("graft.sk.t").orderBy("id")
        .select("id", "v").as[(Long, Double)].collect().toSeq
      assert(out === Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
      // two epochs -> two APPEND commits, each fenced by (queryId, epoch)
      val cat = new graft.table.TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("sk", "t")
      assert(tx.currentVersion === 2)
      assert(tx.snapshot.appTxns.values.max === 1L)
      // a replayed epoch is a no-op: same (appId, epoch) commits nothing
      val before = tx.currentVersion
      val fenced = tx.commitAppendFiles(Nil,
        Some((tx.snapshot.appTxns.keys.head, 0L)))
      assert(fenced === before && tx.currentVersion === before)
      // partitioned layout holds: date dirs carry the values
      assert(spark.table("graft.sk.t")
        .filter(col("date") === java.sql.Date.valueOf("2026-01-01")).count() === 2)
    } finally q.stop()
  }

  test("changes table: batch and streaming CDF reads through the catalog") {
    val wh = freshDir("v2cat_cdf")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cd")
    spark.sql("CREATE TABLE graft.cd.t (id STRING, v INT)")
    val cat = new graft.table.TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
    val tx = cat.getTable("cd", "t")
    tx.setProperties(Map(graft.table.TxTable.ChangeFeedProperty -> "true"))
    spark.sql("INSERT INTO graft.cd.t VALUES ('a', 1), ('b', 2)")
    val q = spark.readStream.table("graft.cd.t.changes")
      .writeStream.format("memory").queryName("cdf_stream_out")
      .option("checkpointLocation", s"${freshDir("v2cat_cdf_ckpt")}/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // the recorded history so far: two synthesized inserts
      val first = spark.table("cdf_stream_out")
      assert(first.count() === 2)
      assert(first.select("_change_type").as[String].collect().toSet === Set("insert"))
      // DML while the stream runs: stored pre/post images flow through
      tx.update(col("id") === "a", Map("v" -> lit(10)))
      tx.delete(col("id") === "b")
      q.processAllAvailable()
      val out = spark.table("cdf_stream_out")
        .select("_change_type", "id", "v").as[(String, String, Int)]
        .collect().toSet
      assert(out === Set(
        ("insert", "a", 1), ("insert", "b", 2),
        ("update_preimage", "a", 1), ("update_postimage", "a", 10),
        ("delete", "b", 2)))
      // commit versions are attributed per change
      assert(spark.table("cdf_stream_out")
        .filter(col("_change_type").startsWith("update"))
        .select("_commit_version").distinct().as[Long].collect().toSeq
        .forall(_ === tx.currentVersion - 1))
    } finally q.stop()
    // batch read of a version range through the same addressing
    val batch = spark.read.option("startingVersion", tx.currentVersion)
      .table("graft.cd.t.changes")
      .select("_change_type", "id").as[(String, String)].collect().toSet
    assert(batch === Set(("delete", "b")))
  }

  test("sliding windows assign events to overlapping buckets") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val agg = in.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))
    val q = agg.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("sliding_out").start()
    try {
      in.addData(Ev(1, ts(7), 1.0))
      q.processAllAvailable()
      val starts = spark.table("sliding_out").select("wstart")
        .as[Timestamp].collect().toSet
      // minute 7 falls in [0,10) and [5,15)
      assert(starts === Set(ts(0), ts(5)))
    } finally q.stop()
  }

  test("declarative maintenance rides streaming epochs: no CALL, table stays healthy") {
    // the reference's managed behavior end to end (r15 VERDICT task 1
    // done-criterion): a Firehose-style micro-batch ingest into a
    // table whose maintenance is CONFIGURED AS TBLPROPERTIES — the
    // post-commit trigger keeps files compacted, snapshots expired,
    // and debris vacuumed across epochs with zero external
    // orchestration (no scheduler, no CALL ever issued)
    import graft.table.TxTable
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.types._
    implicit val sqlCtx = spark.sqlContext
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val t = TxTable.create(spark,
      new Path(freshDir("stream_maint"), "t"), "sm", schema, Nil,
      properties = Map(
        TxTable.MaintainEnabledProperty -> "true",
        TxTable.MaintainPrefix + "minSmallFiles" -> "6",
        TxTable.MaintainPrefix + "retainSnapshots" -> "4",
        TxTable.MaintainPrefix + "orphanGraceMs" -> "0"))
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("id", "v").writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        t.append(b); ()
      }.start()
    try {
      (1 to 12).foreach { e =>
        in.addData((1L to 5L).map(i => (e * 10L + i, e.toDouble)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(t.toDF.count() === 60L)
    // 12 epochs of single-file appends would leave 12 files and 13
    // headers; the per-table policy bin-packed and expired as it went
    val files = t.snapshot.files.size
    assert(files <= 8, s"auto-maintenance never compacted: $files files")
    val readable = (0L to t.currentVersion).count(v =>
      scala.util.Try(t.snapshotAt(v)).isSuccess)
    assert(readable <= 8, s"retention never ran: $readable headers")
    // vacuum (piggybacking on passes that did work) reclaimed some of
    // the compacted-away epoch files once the window slid past them
    val fsys = t.root.getFileSystem(spark.sessionState.newHadoopConf())
    def walkCount(p: Path): Int =
      if (!fsys.exists(p)) 0
      else fsys.listStatus(p).map(st =>
        if (st.isDirectory) walkCount(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) 1 else 0).sum
    val onDisk = walkCount(new Path(t.root, "data"))
    assert(onDisk < 12, s"vacuum never reclaimed: $onDisk files on disk")
  }
}
