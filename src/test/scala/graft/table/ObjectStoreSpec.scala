package graft.table

import graft.SparkSpec
import graft.ingest.SampleData
import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/**
 * End-to-end over [[MockS3FileSystem]] (`s3mock://` — non-atomic
 * copy+delete rename, no append): the whole table stack — create,
 * append, keyed merge, positional MOR delete, time travel, V2 catalog
 * SQL — must work on object-store semantics, with commits going
 * through [[TxLog.FsCreateProtocol]]'s conditional-PUT primitive and
 * the log's version slots NEVER published via rename.
 */
class ObjectStoreSpec extends SparkSpec {

  spark.sparkContext.hadoopConfiguration
    .set("fs.s3mock.impl", classOf[MockS3FileSystem].getName)

  test("full table lifecycle on an object-store-shaped filesystem") {
    val root = new Path(s"s3mock://${freshDir("s3mock_e2e")}/t")
    MockS3FileSystem.renames.clear()
    MockS3FileSystem.creates.clear()
    val t = TxTable.create(spark, root, "s3.t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 80, seed = 50L)
    t.append(seed)
    assert(t.toDF.count() === 80)
    // keyed CDC merge (upserts rewrite their touched partitions)
    val batch = seed.orderBy("transaction_id").limit(30)
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    t.merge(batch, "transaction_id", "processing_timestamp")
    assert(t.toDF.count() === 80)
    assert(t.toDF.filter(col("processing_timestamp")
      .isin(batch.select("processing_timestamp").collect()
        .map(_.getLong(0)).toSeq: _*)).count() === 30)
    // positional merge-on-read delete: sidecars + metadata-exact count
    val nHigh = t.toDF.filter(col("risk_score") === "HIGH").count()
    t.deletePos(col("risk_score") === "HIGH")
    assert(t.snapshot.deletionVectors.nonEmpty)
    assert(t.toDF.count() === 80 - nHigh)
    assert(t.count() === 80 - nHigh)
    // time travel across the same log
    assert(t.asOf(1).count() === 80)
    // the COMMIT PATH never published a version slot via rename (a
    // recorded rename is an index-chunk cache write, whose reader
    // tolerates torn copies) — the version slots went through the
    // conditional-PUT protocol
    val headerRenames = MockS3FileSystem.renames.asScala
      .filter(r => r.split("->")(1).contains("/_log/") &&
        r.split("->")(1).contains(".metadata.json"))
    assert(headerRenames.isEmpty,
      s"log headers published via rename: ${headerRenames.take(3)}")
    // data and change files are written once, in place: no rename
    // moves one into data/ or _change_data/, and every live data file
    // was created through the mock at its final path
    val fileRenames = MockS3FileSystem.renames.asScala.map(_.split("->")(1))
      .filter(d => d.contains("/t/data/") || d.contains("/t/_change_data/"))
    assert(fileRenames.isEmpty,
      s"data/change files published via rename: ${fileRenames.take(3)}")
    val created = MockS3FileSystem.creates.asScala.toSeq
    t.snapshot.files.foreach { f =>
      assert(created.exists(_.endsWith(s"/t/data/${f.path}")),
        s"data file ${f.path} was not created through the mock")
    }
  }

  test("multi-table transaction commits atomically over s3mock") {
    // the marker put-if-absent — the reference's service-side token
    // CAS — must carry the whole protocol on object-store semantics
    val wh = new Path(s"s3mock://${freshDir("s3mock_txn")}")
    val cat = new TableCatalog(spark, wh)
    def seeded(name: String): TxTable = {
      val t = cat.createTable("txn", name, Schemas.transactions, Seq("date"))
      t.append(SampleData.transactions(spark, 30, seed = 70L))
      t
    }
    val a = seeded("a")
    val b = seeded("b")
    val extra = SampleData.transactions(spark, 10, seed = 71L)
    val versions = cat.beginTransaction()
      .append(a, extra)
      .append(b, extra)
      .commit()
    assert(versions.values.toSet === Set(2L))
    assert(a.toDF.count() === 40)
    assert(b.toDF.count() === 40)
    // an aborted txn stays invisible on the same store
    val txn = cat.beginTransaction()
      .append(a, SampleData.transactions(spark, 5, seed = 72L))
    txn.publishPending()
    assert(txn.abort() === TxLog.TxnAborted)
    assert(a.toDF.count() === 40)
  }

  test("V2 catalog SQL works against an s3mock warehouse") {
    val wh = s"s3mock://${freshDir("s3mock_sql")}"
    spark.conf.set("spark.sql.catalog.s3m", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.s3m.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS s3m.ns")
    spark.sql("""CREATE TABLE s3m.ns.t (id INT, v STRING, date DATE)
                 PARTITIONED BY (date)""")
    spark.sql("""INSERT INTO s3m.ns.t VALUES
      (1, 'a', DATE'2026-01-01'), (2, 'b', DATE'2026-01-02'),
      (3, 'c', DATE'2026-01-02')""")
    assert(spark.sql("SELECT count(*) AS n FROM s3m.ns.t")
      .collect()(0).getLong(0) === 3)
    spark.sql("DELETE FROM s3m.ns.t WHERE id = 2")
    assert(spark.sql("SELECT sum(id) AS s FROM s3m.ns.t")
      .collect()(0).getLong(0) === 4)
  }

  test("steady-state commit round-trip budget over LagFs") {
    // the commit_lag bench's claim, pinned as a spec: a single-writer
    // metadata commit (trusted head read -> O(delta) layout -> parent
    // pre-check -> CAS) costs a BOUNDED number of filesystem
    // round-trips, independent of table size — the term that bounds a
    // real object-store deployment. Budget per steady commit: 1 status
    // (the pre-CAS parent existence check, the drop/recreate gap
    // defense), 1 create (the CAS — which since r15 also CARRIES the
    // tier-0 spill inside the header, so the old amortized 1/33 spill
    // create is GONE) + amortized tier-merge creates (~1/100) +
    // 1/HintEvery hint creates. Head discovery and the header re-read
    // are ZERO round-trips (the writer serves its own last commit from
    // memory; the CAS arbitrates staleness); mkdirs is paid once, on
    // the first commit only. Reference floor: 2 round-trips
    // (update_metadata.py:64-70,135-141 — GetTable + conditional
    // update); this protocol's steady state is ~2.02 with durable
    // manifests included.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.lagfs.impl", classOf[LagFs].getName)
    val base = new java.io.File(freshDir("lagfs_budget"), "_log")
    val logDir = new Path("lagfs:" + base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def step(): Unit = {
      // the micro-batch metadata path: trusted head (falls back to
      // probing discovery only when cold), then commit base ++ delta
      val snap = TxLog.readCurrentTrusted(logDir, conf)
      val cur = snap.map(_.version)
      val v = cur.map(_ + 1).getOrElse(0L)
      val added = DataFile(f"f$v%06d.parquet", Map("date" -> "2026-01-01"),
        1L, 10L)
      TxLog.commit(logDir, cur, Snapshot(version = v,
        timestampMs = 1700000000000L + v, operation =
          if (v == 0L) "CREATE" else "APPEND",
        schemaJson = schema.json, partitionColumns = Seq("date"),
        files = snap.map(_.files).getOrElse(Vector.empty) :+ added), conf,
        appendOf = snap.map(s => (s, Seq(added))))
    }
    (0 until 40).foreach(_ => step())   // past spills and a tier merge
    LagFs.reset()
    val n = 30
    (0 until n).foreach(_ => step())
    val byCat = LagFs.snapshot
    val per = LagFs.total.toDouble / n
    info(s"round-trips/commit: $per (${byCat.mkString(", ")})")
    assert(byCat.getOrElse("mkdirs", 0L) === 0L,
      "steady-state commits must not re-probe the log directory")
    assert(byCat.getOrElse("status", 0L).toDouble / n <= 1.05,
      "writer path should pay exactly the parent pre-check status")
    assert(byCat.getOrElse("open", 0L).toDouble / n <= 0.2,
      "steady-state commits should not re-open headers or manifests")
    assert(byCat.getOrElse("list", 0L) === 0L,
      "steady-state commits must never list the log directory")
    // 2.0 + slack for a hint/merge landing inside the window — the
    // r14 bound was 3.2 (spill manifests still paid a create each)
    assert(per <= 2.15, s"round-trips per commit grew to $per")
  }

  test("tier-0 spills ride the header: zero manifest files until a merge; expire keeps live carriers") {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new java.io.File(freshDir("carried"), "_log")
    val logDir = new Path(base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    var files = Vector.empty[DataFile]
    def step(v: Long): Unit = {
      files = files :+ DataFile(f"f$v%06d.parquet", Map.empty, 1L, 10L)
      TxLog.commit(logDir, if (v == 0) None else Some(v - 1),
        Snapshot(version = v, timestampMs = 1700000000000L + v,
          operation = if (v == 0) "CREATE" else "APPEND",
          schemaJson = schema.json, partitionColumns = Nil,
          files = files), conf)
    }
    (0L to 40L).foreach(step)
    // the spill (33rd file, version 32) was CARRIED, not written as a
    // file
    val carrier = TxLog.readStored(logDir, 32L, conf)
    assert(carrier.carried.exists(_.size == 33),
      s"v32 did not carry its spill: ${carrier.carried.map(_.size)}")
    assert(carrier.manifests.exists(_.path.startsWith("hdr:v32-")))
    assert(carrier.minReader === 3)
    assert(!base.listFiles().exists(_.getName.endsWith(".manifest.json")),
      "a tier-0 spill still wrote a manifest file")
    // full resolution serves every file through the carried ref
    assert(TxLog.read(logDir, 40L, conf).files.size === 41)
    // expire below the carrier: v33 survives because the retained
    // heads reference hdr:v33; everything else below the horizon goes
    TxLog.expire(logDir, keepFrom = 35L, protect = Set.empty, conf)
    assert(new java.io.File(base, "v00000032.metadata.json").exists(),
      "expire deleted a live manifest carrier")
    assert(!new java.io.File(base, "v00000010.metadata.json").exists())
    TxLog.purgeRawCache(logDir)
    assert(TxLog.read(logDir, 40L, conf).files.size === 41)
    // push through three more spills: the 4th tier-0 manifest triggers
    // the merge into a REAL manifest file; carriers become
    // unreferenced and the next expire reaps them
    (41L to 135L).foreach(step)
    assert(base.listFiles().exists(_.getName.endsWith(".manifest.json")),
      "tier merge did not materialize a manifest file")
    val headRefs = TxLog.readStored(logDir, 135L, conf).manifests.map(_.path)
    assert(!headRefs.exists(_.startsWith("hdr:")),
      s"post-merge head still references carriers: $headRefs")
    TxLog.expire(logDir, keepFrom = 134L, protect = Set.empty, conf)
    assert(!new java.io.File(base, "v00000032.metadata.json").exists(),
      "expire kept an unreferenced carrier")
    TxLog.purgeRawCache(logDir)
    assert(TxLog.read(logDir, 135L, conf).files.size === 136)
  }

  test("expire reads O(1) retained headers, not the whole retained range") {
    // r15 VERDICT task 7: the carrier-protection walk read EVERY
    // retained header (keepFrom..head). Carrier-ref lifetimes are
    // contiguous in version space (refs derive from the parent's;
    // merges remove hdr refs permanently), so the FIRST surviving
    // header at/above keepFrom already names every sub-horizon carrier
    // — the walk now reads that one header plus the (cached) head.
    // Pinned over LagFs with cold caches: a deep retained range must
    // not turn retention into an O(range) read storm.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.lagfs.impl", classOf[LagFs].getName)
    val base = new java.io.File(freshDir("lagfs_expire"), "_log")
    val logDir = new Path("lagfs:" + base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    var files = Vector.empty[DataFile]
    def step(v: Long): Unit = {
      files = files :+ DataFile(f"f$v%06d.parquet", Map.empty, 1L, 10L)
      TxLog.commit(logDir, if (v == 0) None else Some(v - 1),
        Snapshot(version = v, timestampMs = 1700000000000L + v,
          operation = if (v == 0) "CREATE" else "APPEND",
          schemaJson = schema.json, partitionColumns = Nil,
          files = files), conf)
    }
    (0L to 259L).foreach(step)
    // cold-process shape: parsed-header caches dropped, every read
    // during the expire hits storage and LagFs counts it
    TxLog.purgeRawCache(logDir)
    LagFs.reset()
    val removed = TxLog.expire(logDir, keepFrom = 5L,
      protect = Set.empty, conf)
    val byCat = LagFs.snapshot
    info(s"expire over 255 retained headers: removed=$removed, " +
      s"ops=${byCat.mkString(", ")}")
    assert(removed === 5)
    assert(byCat.getOrElse("open", 0L) <= 12,
      s"carrier walk read ${byCat.getOrElse("open", 0L)} headers — " +
        "O(retained range), not O(1)")
    // the retained log still resolves end to end (carrier protection
    // intact through the bounded walk)
    TxLog.purgeRawCache(logDir)
    assert(TxLog.read(logDir, 259L, conf).files.size === 260)
    assert(TxLog.read(logDir, 5L, conf).files.size === 6)
  }

  test("stale cached head cannot publish past an externally recreated log") {
    // the ADVICE r12 gap scenario: another PROCESS drops and recreates
    // the table (its cache purge is JVM-local), leaving this process's
    // head cache and trusted head pointing at version 5 of a log whose
    // true head is now 0. A blind putIfAbsent at 6 would SUCCEED
    // (the slot is free on the recreated log) and publish a
    // gap-corrupted log. The pre-CAS parent check must turn that into
    // a retryable conflict, and rediscovery must find the new head.
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new java.io.File(freshDir("head_recreate"), "_log")
    val logDir = new Path(base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def snapAt(v: Long, files: Vector[DataFile]) = Snapshot(version = v,
      timestampMs = 1700000000000L + v, operation =
        if (v == 0L) "CREATE" else "APPEND",
      schemaJson = schema.json, partitionColumns = Nil, files = files)
    var files = Vector.empty[DataFile]
    (0L to 5L).foreach { v =>
      files = files :+ DataFile(f"f$v%04d.parquet", Map.empty, 1L, 10L)
      TxLog.commit(logDir, if (v == 0) None else Some(v - 1),
        snapAt(v, files), conf)
    }
    // ANOTHER PROCESS: delete + recreate with a fresh v0, bypassing
    // TxLog entirely (raw file writes — this JVM's caches stay stale)
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(base, "v00000000.metadata.json").toPath,
      (s"""{"version":0,"timestampMs":1700000009000,"operation":"CREATE",""" +
        s""""schemaJson":${org.json4s.jackson.JsonMethods.compact(
          org.json4s.JString(schema.json))},""" +
        s""""partitionColumns":[],"files":[{"path":"n.parquet",""" +
        s""""partitionValues":{},"rowCount":1,"sizeBytes":10}]}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the live writer still believes head = 5; its commit of 6 must
    // fail the parent check, never create a gapped v6
    intercept[CommitConflictException] {
      TxLog.commit(logDir, Some(5L), snapAt(6L,
        files :+ DataFile("f0006.parquet", Map.empty, 1L, 10L)), conf)
    }
    assert(!new java.io.File(base, "v00000006.metadata.json").exists(),
      "gap-corrupted header was published")
    // rediscovery (the retry path) sees the recreated table's head
    assert(TxLog.currentVersion(logDir, conf) === Some(0L))
    assert(TxLog.read(logDir, 0L, conf).files.map(_.path) === Seq("n.parquet"))
  }

  test("reader forward-probe detects an externally recreated shorter log") {
    // same scenario, read side (ADVICE r12): a pure reader's cached
    // head must not survive the recreate — the no-successor probe
    // verifies the cached head's file still exists and falls back to
    // full discovery when it does not.
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new java.io.File(freshDir("head_recreate_read"), "_log")
    val logDir = new Path(base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    (0L to 4L).foreach { v =>
      TxLog.commit(logDir, if (v == 0) None else Some(v - 1),
        Snapshot(version = v, timestampMs = 1700000000000L + v,
          operation = if (v == 0) "CREATE" else "APPEND",
          schemaJson = schema.json, partitionColumns = Nil,
          files = Vector.tabulate((v + 1).toInt)(i =>
            DataFile(f"f$i%04d.parquet", Map.empty, 1L, 10L))), conf)
    }
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    // manufacture a PURE-READER cache state: head discovered by
    // probing (headCache set) with no trusted entry — the writer's own
    // trusted head is exempt from the verification (its CAS proved
    // existence; the commit parent pre-check owns that defense)
    TxLog.purgeRawCache(logDir)
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base.mkdirs()
    (0L to 1L).foreach { v =>
      java.nio.file.Files.write(
        new java.io.File(base, f"v$v%08d.metadata.json").toPath,
        (s"""{"version":$v,"timestampMs":${1700000010000L + v},""" +
          s""""operation":"${if (v == 0) "CREATE" else "APPEND"}",""" +
          s""""schemaJson":${org.json4s.jackson.JsonMethods.compact(
            org.json4s.JString(schema.json))},""" +
          s""""partitionColumns":[],"files":[]}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    assert(TxLog.currentVersion(logDir, conf) === Some(1L),
      "stale cached head survived an external drop+recreate")
  }

  test("headers declaring a future reader format version fail loudly") {
    // the format gate (ADVICE r12): a pre-upgrade reader parsing a
    // header whose features it does not understand must ERROR, never
    // silently serve a partial view (json4s ignores unknown fields, so
    // without the gate a spilled ref list would read as a tiny table)
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new java.io.File(freshDir("format_gate"), "_log")
    base.mkdirs()
    val logDir = new Path(base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    java.nio.file.Files.write(
      new java.io.File(base, "v00000000.metadata.json").toPath,
      (s"""{"version":0,"timestampMs":1700000000000,"operation":"CREATE",""" +
        s""""schemaJson":${org.json4s.jackson.JsonMethods.compact(
          org.json4s.JString(schema.json))},""" +
        s""""partitionColumns":[],"files":[],"minReader":99}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[java.io.IOException] {
      TxLog.read(logDir, 0L, conf)
    }
    assert(e.getMessage.contains("reader format version"))
  }

  test("format gate forward: a v2 head refuses a simulated v1 reader; the v1 prefix still time-travels") {
    // r13 VERDICT task 7: exercise the gate against REAL v2 headers
    // (the minReader = 99 spec above proves the error path on a
    // hand-written future header; this proves the CURRENT writer's own
    // manifest-list headers carry the gate and a mixed log degrades
    // exactly at the v1/v2 boundary, never with a partial read)
    val conf = spark.sparkContext.hadoopConfiguration
    val logDir = new Path(new java.io.File(
      freshDir("format_fwd"), "_log").getAbsolutePath)
    var files = Vector.empty[DataFile]
    var next = 0
    var expected: Option[Long] = None
    def burst(n: Int): Long = {
      files = files ++ (0 until n).map { _ =>
        next += 1; DataFile(f"d$next%05d.parquet", Map.empty, 10L, 100L)
      }
      val v = expected.map(_ + 1).getOrElse(0L)
      TxLog.commit(logDir, expected, Snapshot(version = v,
        timestampMs = 1700000000000L + v,
        operation = if (v == 0) "CREATE" else "APPEND",
        schemaJson = Schemas.transactions.json, partitionColumns = Nil,
        files = files), conf)
      expected = Some(v)
      v
    }
    // tier-spread bursts outgrow the inline ref bound → the head spills
    // a manifest list AND carries a tier-0 manifest in a header
    // (`hdr:v3`), so it stamps minReader = 3; early commits stay v1
    // (inline, or a real-manifest spill with few refs)
    burst(0)
    burst(10)
    Seq(33, 33, 150, 150, 150, 550, 550, 550, 2200, 2200, 2200)
      .foreach(burst(_))
    val head = expected.get
    val headStored = TxLog.readStored(logDir, head, conf)
    assert(headStored.manifestList.isDefined && headStored.minReader === 3,
      "head did not spill a list + carry a manifest — burst pattern regressed")
    val v1Versions = (0L to head).filter(v =>
      TxLog.readStored(logDir, v, conf).minReader == 1)
    assert(v1Versions.nonEmpty, "no v1 prefix in the mixed log")
    // a COLD pre-upgrade reader (support lowered via the test knob,
    // caches purged): the v3 head fails with the NAMED error — for a
    // v1 reader AND for a v2 reader that predates carried manifests...
    val v1conf = new org.apache.hadoop.conf.Configuration(conf)
    v1conf.setInt("graft.test.supportedReaderVersion", 1)
    TxLog.purgeRawCache(logDir)
    val e = intercept[java.io.IOException](TxLog.read(logDir, head, v1conf))
    assert(e.getMessage.contains("reader format version"),
      s"wrong failure mode: ${e.getMessage}")
    val v2conf = new org.apache.hadoop.conf.Configuration(conf)
    v2conf.setInt("graft.test.supportedReaderVersion", 2)
    TxLog.purgeRawCache(logDir)
    val e2v = intercept[java.io.IOException](TxLog.read(logDir, head, v2conf))
    assert(e2v.getMessage.contains("reader format version"),
      s"v2 reader did not refuse the carried-manifest head: ${e2v.getMessage}")
    // ...never a partial view: nothing readable AT the head
    TxLog.purgeRawCache(logDir)
    intercept[java.io.IOException](TxLog.read(logDir, head, v1conf))
    // the v1 PREFIX reads completely under time travel for that reader
    TxLog.purgeRawCache(logDir)
    val prefixHead = v1Versions.max
    val pre = TxLog.read(logDir, prefixHead, v1conf)
    assert(pre.files.nonEmpty && pre.version === prefixHead)
    // and the full reader still reads everything after the purges
    TxLog.purgeRawCache(logDir)
    assert(TxLog.read(logDir, head, conf).files.size === files.size)
    // the knob only LOWERS the gate (ADVICE r14): Spark copies session
    // SQL confs into the Hadoop conf and the governed surface leaves
    // SET open, so an attacker-settable value must never raise support
    // above what this build can parse — a doctored head declaring
    // minReader = 99 still fails loudly even with the knob at 99
    val raised = new org.apache.hadoop.conf.Configuration(conf)
    raised.setInt("graft.test.supportedReaderVersion", 99)
    val doctored = headStored.copy(minReader = 99)
    val headPath = new Path(logDir, f"v$head%08d.metadata.json")
    val fsys = headPath.getFileSystem(conf)
    val out = fsys.create(headPath, true)
    try out.write(org.json4s.jackson.Serialization.write(doctored)(
      org.json4s.DefaultFormats)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    TxLog.purgeRawCache(logDir)
    val e2 = intercept[java.io.IOException](
      TxLog.read(logDir, head, raised))
    assert(e2.getMessage.contains("reader format version"),
      s"raising the knob opened the gate: ${e2.getMessage}")
  }

  test("commit self-heals a log directory deleted behind the caches") {
    // freshDir-style external deletion (not through the catalog, which
    // purges TxLog's caches) leaves a stale head-cache entry; the next
    // CREATE's publish must recreate the directory and succeed
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new java.io.File(freshDir("heal_extdel"), "_log")
    val logDir = new Path(base.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def create(v: Long): Unit =
      TxLog.commit(logDir, if (v == 0) None else Some(v - 1),
        Snapshot(version = v, timestampMs = 1700000000000L + v,
          operation = if (v == 0) "CREATE" else "APPEND",
          schemaJson = schema.json, partitionColumns = Nil,
          files = Vector.tabulate((v + 1).toInt)(i =>
            DataFile(f"f$i%04d.parquet", Map.empty, 1L, 10L))), conf)
    create(0); create(1)
    // delete the dir OUTSIDE TxLog — head cache still says head=1
    org.apache.commons.io.FileUtils.deleteQuietly(base.getParentFile)
    create(0)                               // must heal, not throw
    assert(TxLog.read(logDir, 0L, conf).files.size === 1)
  }
}
