package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, sum}

/**
 * Round-17 maintenance surfaces: the ASYNC post-commit trigger (sweeps
 * run on the background lane, never on the committing thread), the
 * stamp-only-on-success retry semantics, the MAINTAIN audit rows in
 * DESCRIBE HISTORY, the cross-process advisory lease, and the
 * out-of-range-property fallback.
 *
 * Reference behavior anchored: S3 Tables maintenance is a managed
 * BACKGROUND service per table (kinesis-firehose-stream/README.md:12);
 * the sample never schedules or blocks an ingest on it.
 */
class MaintenanceSpec extends SparkSpec {

  private def conf = spark.sessionState.newHadoopConf()

  private def appendRow(t: TxTable, i: Int): Unit = {
    import spark.implicits._
    t.append(Seq((s"k$i", i)).toDF("id", "v"))
  }

  /** A maintenance-enabled table with `n` tiny single-row commits. */
  private def ingestTable(tag: String, n: Int,
      props: Map[String, String] = Map.empty): TxTable = {
    val root = new Path(freshDir(s"maint_$tag"))
    val t = TxTable.create(spark, root, s"maint_$tag",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.IntegerType))), Nil)
    t.setProperties(Map(
      TxTable.MaintainEnabledProperty -> "true",
      TxTable.MaintainPrefix + "minSmallFiles" -> "8",
      TxTable.MaintainPrefix + "retainSnapshots" -> "5",
      TxTable.MaintainPrefix + "orphanGraceMs" -> "0") ++ props)
    (1 to n).foreach(appendRow(t, _))
    t
  }

  private def drain(): Unit = {
    // two fences: a commit landing mid-sweep can schedule one more
    TxTable.awaitAutoMaintenance()
    TxTable.awaitAutoMaintenance()
  }

  test("async trigger: a slow sweep never stalls the committing thread") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val swept = new java.util.concurrent.atomic.AtomicInteger(0)
    TxTable.autoMaintainTestHook = () => {
      swept.incrementAndGet()
      // a deliberately slow sweep: the ingest below must not wait on it
      gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    try {
      val t0 = System.nanoTime()
      val t = ingestTable("async", 12)
      val ingestSec = (System.nanoTime() - t0) / 1e9
      // the first sweep is still parked on the latch; had it run
      // inline, the 12 commits would have serialized behind 12 × the
      // sweep latency. The commits above are sub-second each locally;
      // a stalled lane shows up as tens of seconds.
      assert(swept.get() >= 1, "no sweep was ever scheduled")
      assert(t.currentVersion >= 12,
        "ingest commits did not proceed while the sweep was parked")
      gate.countDown()
      drain()
      // in-flight dedup: 12 commits while one sweep was parked must
      // not queue 12 sweeps — at most the parked one plus one
      // rescheduled after it finished
      assert(swept.get() <= 3,
        s"in-flight dedup failed: ${swept.get()} sweeps for 12 commits")
      assert(ingestSec < 25.0, f"ingest took $ingestSec%.1f s")
    } finally {
      TxTable.autoMaintainTestHook = () => ()
      gate.countDown()
      drain()
    }
  }

  test("auto sweep actions are auditable from history with trigger=auto") {
    // generous retention: the compaction AUDIT row must not itself be
    // expired by a later sweep before the assertions read history
    val t = ingestTable("audit", 20,
      Map(TxTable.MaintainPrefix + "retainSnapshots" -> "50"))
    drain()
    // wait for a sweep that did work: the audit row is a MAINTAIN
    // commit whose info carries trigger=auto plus the action rows
    val hist = t.history().collect()
    val maintRows = hist.filter(_.getAs[String]("operation") == "MAINTAIN")
    assert(maintRows.nonEmpty, "no MAINTAIN audit row in history " +
      s"(operations: ${hist.map(_.getAs[String]("operation")).toSeq})")
    val info = maintRows.head.getAs[Map[String, String]]("operation_info")
    assert(info.get("trigger").contains("auto"), s"info=$info")
    assert(info.keys.exists(_.startsWith("action:")),
      s"audit row carries no actions: $info")
    // the compaction the policy ran is among the audited actions of
    // SOME sweep (20 one-row files with minSmallFiles=8 must compact)
    val allInfo = maintRows
      .map(_.getAs[Map[String, String]]("operation_info"))
    assert(allInfo.exists(_.contains("action:compacted")),
      s"no compaction audited across sweeps: $allInfo")
  }

  test("a failed sweep does not consume the interval: next commit retries") {
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    TxTable.autoMaintainTestHook = () => {
      runs.incrementAndGet()
      if (failures.getAndIncrement() == 0)
        throw new RuntimeException("injected transient maintenance failure")
    }
    try {
      // a LONG interval: were the stamp written before/despite the
      // failure (the r16 behavior), the retry below would be silenced
      // for an hour
      val t = ingestTable("retry", 1,
        Map(TxTable.MaintainPrefix + "intervalMs" -> "3600000"))
      drain()
      assert(runs.get() === 1, s"expected one (failing) sweep, got $runs")
      appendRow(t, 1001)
      drain()
      assert(runs.get() === 2,
        "the commit after a FAILED sweep did not re-evaluate " +
          s"(runs=$runs) — the failure consumed the interval")
      // the second sweep SUCCEEDED and stamped: further commits inside
      // the interval now stay quiet
      appendRow(t, 1002)
      drain()
      assert(runs.get() === 2,
        s"a successful sweep's stamp did not rate-limit (runs=$runs)")
    } finally TxTable.autoMaintainTestHook = () => ()
  }

  test("background lane leaks no thread once sweeps drain") {
    ingestTable("shutdown", 9)
    drain()
    // corePoolSize 0 with a 5 s keep-alive: the worker dies after idle
    def laneThreads: Seq[Thread] = {
      val all = new Array[Thread](Thread.activeCount() + 16)
      Thread.enumerate(all)
      all.filter(t => t != null && t.getName == "graft-auto-maintain").toSeq
    }
    val deadline = System.currentTimeMillis() + 30000
    while (laneThreads.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(250)
    assert(laneThreads.isEmpty,
      "graft-auto-maintain thread survived idle keep-alive")
  }

  test("maintenance lease: a held lease skips politely, an expired one is taken over") {
    val t = ingestTable("lease", 12, Map(
      // keep the auto trigger out of this test's way
      TxTable.MaintainEnabledProperty -> "false"))
    val maintDir = new Path(t.root, "_maintenance")
    val fs = maintDir.getFileSystem(conf)
    def putLease(seq: Long, expiresAtMs: Long): Unit = {
      fs.mkdirs(maintDir)
      val out = fs.create(new Path(maintDir, f"lease-$seq%09d.json"), true)
      try out.write(
        s"""{"holder":"other-process","expiresAtMs":$expiresAtMs}"""
          .getBytes("UTF-8"))
      finally out.close()
    }
    // 1. live foreign lease → the sweep noops politely
    putLease(0L, System.currentTimeMillis() + 600000)
    assert(t.maintainTable(minSmallFiles = 8, orphanGraceMs = 0) ===
      Seq("skipped" -> "maintenance lease held by another process"))
    assert(t.snapshot.files.size === 12, "a skipped sweep did work")
    // 2. crashed holder: the slot EXPIRES by TTL and the next sweep
    // takes over by CASing the successor slot (never deleting a live
    // one — the delete-each-other race cannot exist)
    putLease(0L, System.currentTimeMillis() - 1)
    val acts = t.maintainTable(minSmallFiles = 8, orphanGraceMs = 0)
    assert(acts.exists(_._1 == "compacted"),
      s"takeover sweep did not act: $acts")
    // its own slot was released on completion; the expired one reaped
    assert(!fs.exists(maintDir) || !fs.listStatus(maintDir).exists(
      _.getPath.getName.startsWith("lease-")),
      "lease slots survived release")
  }

  test("maintenance lease: losing the slot CAS to a concurrent taker noops") {
    val t = ingestTable("leasecas", 10, Map(
      TxTable.MaintainEnabledProperty -> "false"))
    // conditional-PUT mock (the VectorIndexSpec shape): another
    // process CLAIMS the successor slot between our listing and our
    // CAS — only the protocol can refuse, and the loser must skip,
    // not duplicate the sweep
    val mock = new ConditionalPutMock
    TxLog.protocolOverride = Some(mock)
    try {
      val maintDir = new Path(t.root, "_maintenance")
      mock.slots.add(new Path(maintDir, "lease-000000000.json").toString)
      assert(t.maintainTable(orphanGraceMs = 0) ===
        Seq("skipped" -> "maintenance lease held by another process"))
    } finally TxLog.protocolOverride = None
  }

  test("out-of-range graft.maintain.* property values fall back to defaults") {
    // minSmallFiles=1 is parseable but violates maintainTable's bound;
    // r16 passed it through and every auto sweep failed its require —
    // silently zero maintenance despite enabled=true (ADVICE r16
    // medium). It must now fall back (default 16) and the sweep runs.
    val t = ingestTable("badprop", 20, Map(
      TxTable.MaintainEnabledProperty -> "false",
      TxTable.MaintainPrefix + "minSmallFiles" -> "1",
      TxTable.MaintainPrefix + "retainSnapshots" -> "0"))
    val acts = t.maintainTableConfigured(orphanGraceMs = Some(0L))
    assert(acts.exists(_._1 == "compacted"),
      s"sweep with out-of-range properties did not run: $acts")
    // explicit CALL arguments keep failing loudly — a direct caller's
    // mistake is not silently rewritten
    intercept[IllegalArgumentException] {
      t.maintainTable(minSmallFiles = 1)
    }
  }

  test("graft.maintain.sortColumns clusters compaction output (continuous clustering)") {
    import spark.implicits._
    // small ingest files hold INTERLEAVED v values (every file spans
    // the whole range — nothing skippable); a policy-driven sweep with
    // sortColumns must pack them RANGE-SORTED, so the output files'
    // footer ranges are disjoint and file skipping starts working
    // without anyone scheduling an OPTIMIZE.
    val t = TxTable.create(spark, new Path(freshDir("maint_sortcols")),
      "maint_sortcols",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.IntegerType))), Nil)
    t.setProperties(Map(
      TxTable.MaintainEnabledProperty -> "false",
      TxTable.MaintainPrefix + "sortColumns" -> "v",
      TxTable.MaintainPrefix + "minSmallFiles" -> "3",
      TxTable.MaintainPrefix + "smallFileBytes" -> "100000",
      TxTable.MaintainPrefix + "targetFileBytes" -> "1200",
      TxTable.MaintainPrefix + "retainSnapshots" -> "100"))
    (0 until 3).foreach { c =>
      t.append((0 until 8).map(i => (s"k${c}_$i", c + i * 3))
        .toDF("id", "v").coalesce(1))
    }
    val acts = t.maintainTableConfigured(orphanGraceMs = Some(0L))
    assert(acts.exists { case (a, d) =>
      a == "compacted" && d.contains("clustered by v") }, s"acts: $acts")
    val files = t.snapshot.files
    assert(files.size >= 2, s"need >=2 outputs to prove clustering: $files")
    val ranges = files.map { f =>
      val cs = f.stats.get("v")
      (cs.min.toLong, cs.max.toLong)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"output ranges overlap: $ranges")
      case _ => ()
    }
    // clustering never changes content
    assert(t.toDF.select(sum(col("v"))).head().getLong(0) ===
      (0 until 3).flatMap(c => (0 until 8).map(i => c + i * 3)).sum.toLong)
  }

  test("lease renewal keeps a sweep longer than its TTL deduped") {
    // r17 had no mid-sweep renewal: a sweep past the TTL was taken
    // over and DUPLICATED — dedup lost exactly for the biggest sweeps.
    // Renewal at TTL/2 CASes successor slots while the sweep runs, so
    // a competitor keeps skipping for the sweep's whole life.
    val t = ingestTable("renewal", 12, Map(
      TxTable.MaintainEnabledProperty -> "false",
      TxTable.MaintainPrefix + "leaseMs" -> "1000"))
    val parked = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    TxTable.maintainSweepTestHook = () => {
      parked.countDown()
      release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
    try {
      val sweep = new Thread(() =>
        t.maintainTable(minSmallFiles = 8, orphanGraceMs = 0))
      sweep.start()
      assert(parked.await(20, java.util.concurrent.TimeUnit.SECONDS))
      // park the sweep for 3× the TTL; a competitor probes throughout
      // and must never win the lease (without renewal it wins at +1 s)
      val competitor = TxTable.open(spark, t.root, t.name)
      val until = System.currentTimeMillis() + 3000
      while (System.currentTimeMillis() < until) {
        val got = competitor.tryAcquireMaintenanceLease(1000L)
        got.foreach(competitor.releaseMaintenanceLease)
        assert(got.isEmpty,
          "competitor acquired the lease while the renewed sweep ran")
        Thread.sleep(300)
      }
      release.countDown()
      sweep.join(30000)
      assert(!sweep.isAlive, "sweep did not finish")
      // release dropped every slot of ours — the competitor can now
      // take the lease immediately
      val after = competitor.tryAcquireMaintenanceLease(1000L)
      assert(after.nonEmpty, "lease not released after the sweep")
      after.foreach(competitor.releaseMaintenanceLease)
    } finally {
      release.countDown()
      TxTable.maintainSweepTestHook = () => ()
    }
  }

  test("a persistently corrupt lease slot expires by mtime + TTL") {
    // ADVICE r17 low: an unreadable slot used to count as held with
    // expiresAtMs = Long.MaxValue — one corrupt file (non-atomic
    // putIfAbsent on some store) silently disabled maintenance for
    // the table FOREVER. It must expire by the slot file's age.
    val t = ingestTable("corrupt", 10, Map(
      TxTable.MaintainEnabledProperty -> "false"))
    val maintDir = new Path(t.root, "_maintenance")
    val fs = maintDir.getFileSystem(conf)
    fs.mkdirs(maintDir)
    val slot = new Path(maintDir, "lease-000000000.json")
    val out = fs.create(slot, true)
    try out.write("{not json".getBytes("UTF-8")) finally out.close()
    // fresh corrupt slot: held (a half-written racer may be live)
    assert(t.tryAcquireMaintenanceLease(500L).isEmpty,
      "a fresh unreadable slot must count as held")
    // age the slot past max(ttl, default TTL): hold expires
    fs.setTimes(slot,
      System.currentTimeMillis() - TxTable.DefaultMaintainLeaseMs - 1000, -1)
    val got = t.tryAcquireMaintenanceLease(500L)
    assert(got.nonEmpty,
      "an aged-out corrupt slot wedged maintenance permanently")
    got.foreach(t.releaseMaintenanceLease)
  }

  test("lease acquisition lists only the scoped _maintenance dir") {
    // r17 listed the whole log dir to find lease slots — O(log
    // entries) per admitted sweep. Pinned over LagFs: the acquire
    // path's round-trips are O(slots), and the one list it issues
    // targets _maintenance, never _log.
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.lagfs.impl", classOf[LagFs].getName)
    val base = new java.io.File(freshDir("lease_scope"))
    val root = new Path("lagfs:" + base.getAbsolutePath)
    val logDir = new Path(root, "_log")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // a log with many entries (headers only — acquire must not care)
    (0L until 40L).foreach { v =>
      val snap = TxLog.readCurrentTrusted(logDir, hconf)
      TxLog.commit(logDir, snap.map(_.version), Snapshot(version = v,
        timestampMs = 1700000000000L + v,
        operation = if (v == 0L) "CREATE" else "APPEND",
        schemaJson = schema.json, partitionColumns = Nil,
        files = Vector.empty), hconf)
    }
    val t = TxTable.open(spark, root, "lease_scope")
    // warm the slot dir (first acquire creates it), then measure
    t.tryAcquireMaintenanceLease(60000L).foreach(t.releaseMaintenanceLease)
    LagFs.reset()
    val got = t.tryAcquireMaintenanceLease(60000L)
    assert(got.nonEmpty)
    val listed = LagFs.listedPaths
    assert(listed.forall(_.endsWith("_maintenance")),
      s"acquire listed outside the scoped dir: $listed")
    val ops = LagFs.snapshot
    assert(ops.getOrElse("list", 0L) <= 2,
      s"acquire listed more than the slot dir: $ops")
    assert(ops.getOrElse("open", 0L) <= 1 &&
      ops.getOrElse("create", 0L) <= 2 &&
      ops.getOrElse("status", 0L) <= 4,
      s"acquire round-trips not O(slots): $ops")
    got.foreach(t.releaseMaintenanceLease)
  }
}
