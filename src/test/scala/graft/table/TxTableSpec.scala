package graft.table

import graft.SparkSpec
import graft.ingest.SampleData
import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

class TxTableSpec extends SparkSpec {

  test("create + append + read round-trips rows with partition column") {
    val t = TxTable.create(spark, new Path(freshDir("tx_append")), "t",
      Schemas.transactions, Seq("date"))
    val df = SampleData.transactions(spark, 100)
    t.append(df)
    assert(t.toDF.count() === 100)
    assert(t.currentVersion === 1)
    // partition column survives the round trip with correct type/values
    val dates = t.toDF.select("date").distinct().collect().map(_.getDate(0)).toSet
    val expected = df.select("date").distinct().collect().map(_.getDate(0)).toSet
    assert(dates === expected)
  }

  test("merge: insert new keys, update matched keys (upsert contract)") {
    val t = TxTable.create(spark, new Path(freshDir("tx_merge")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 50, seed = 10L)
    t.append(seed)
    val mods = seed.limit(20)
      .withColumn("amount", lit(9999.99).cast(DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    val inserts = SampleData.transactions(spark, 10, seed = 11L)
    t.merge(mods.unionByName(inserts), "transaction_id", "processing_timestamp")
    val df = t.toDF
    assert(df.count() === 60)
    assert(df.filter(col("amount") === 9999.99).count() === 20)
    // keys unique after upsert
    assert(df.select("transaction_id").distinct().count() === 60)
  }

  test("diff: change feed reports insert/update/delete and suppresses carried-over rows") {
    val t = TxTable.create(spark, new Path(freshDir("tx_diff")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 50, seed = 30L)
    t.append(seed) // v1
    val modKeys = seed.orderBy("transaction_id").limit(5)
      .select("transaction_id").collect().map(_.getString(0)).toSet
    val mods = seed.orderBy("transaction_id").limit(5)
      .withColumn("amount", lit(7777.77).cast(DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    val inserts = SampleData.transactions(spark, 7, seed = 31L)
    val insertKeys = inserts.select("transaction_id").collect().map(_.getString(0)).toSet
    t.merge(mods.unionByName(inserts), "transaction_id", "processing_timestamp") // v2
    val d12 = t.diff(1, 2, "transaction_id")
      .select("_change_type", "transaction_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // exactly the 5 updates + 7 inserts — the 45 rows merge carried
    // into rewritten files are suppressed
    assert(d12.count(_._1 == "update") === 5)
    assert(d12.filter(_._1 == "update").map(_._2).toSet === modKeys)
    assert(d12.count(_._1 == "insert") === 7)
    assert(d12.filter(_._1 == "insert").map(_._2).toSet === insertKeys)
    assert(d12.length === 12)
    // deletes carry the old-side row
    val nHigh = t.toDF.filter(col("risk_score") === "HIGH").count()
    t.delete(col("risk_score") === "HIGH") // v3
    val d23 = t.diff(2, 3, "transaction_id")
    assert(d23.count() === nHigh)
    assert(d23.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("delete"))
    assert(d23.filter(col("risk_score") =!= "HIGH").count() === 0)
    // identical snapshots diff to nothing
    assert(t.diff(3, 3, "transaction_id").isEmpty)
  }

  test("merge: in-batch duplicate keys collapse last-writer-wins") {
    val t = TxTable.create(spark, new Path(freshDir("tx_dups")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 10, seed = 20L)
    val older = seed.withColumn("amount", lit(1.00).cast(DecimalType(12, 2)))
    val newer = seed.withColumn("amount", lit(2.00).cast(DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 100L)
    t.append(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.transactions))
    t.merge(older.unionByName(newer), "transaction_id", "processing_timestamp")
    val amounts = t.toDF.select("amount").distinct().collect()
      .map(_.getDecimal(0).doubleValue()).toSet
    assert(amounts === Set(2.00))
    assert(t.toDF.count() === 10)
  }

  test("merge idempotence: re-applying the same CDC batch is a no-op") {
    val t = TxTable.create(spark, new Path(freshDir("tx_idem")), "t",
      Schemas.transactions, Seq("date"))
    val batch = SampleData.transactions(spark, 30, seed = 30L)
    t.merge(batch, "transaction_id", "processing_timestamp")
    val v1 = t.toDF.orderBy("transaction_id").collect().toSeq
    t.merge(batch, "transaction_id", "processing_timestamp")
    val v2 = t.toDF.orderBy("transaction_id").collect().toSeq
    assert(v1 === v2)
  }

  test("commit CAS: stale expected version is rejected") {
    val root = new Path(freshDir("tx_cas"))
    val t = TxTable.create(spark, root, "t", Schemas.transactions, Seq("date"))
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(root, "_log")
    val cur = TxLog.readCurrent(logDir, conf).get
    // first commit with expected=0 wins
    TxLog.commit(logDir, Some(0L), cur.copy(version = 1L), conf)
    // second commit with the SAME stale expected loses
    intercept[CommitConflictException] {
      TxLog.commit(logDir, Some(0L), cur.copy(version = 1L), conf)
    }
  }

  test("time travel: asOf(v) reads each committed snapshot") {
    val t = TxTable.create(spark, new Path(freshDir("tx_tt")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 10, seed = 40L))
    t.append(SampleData.transactions(spark, 15, seed = 41L))
    assert(t.asOf(0).count() === 0)
    assert(t.asOf(1).count() === 10)
    assert(t.asOf(2).count() === 25)
  }

  test("delete rewrites only matching rows") {
    val t = TxTable.create(spark, new Path(freshDir("tx_del")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 100, seed = 50L))
    val high = t.toDF.filter(col("risk_score") === "HIGH").count()
    t.delete(col("risk_score") === "HIGH")
    assert(t.toDF.count() === 100 - high)
    assert(t.toDF.filter(col("risk_score") === "HIGH").count() === 0)
  }

  test("vacuum reclaims files outside the retention window only") {
    val t = TxTable.create(spark, new Path(freshDir("tx_vacuum")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 30, seed = 110L))  // v1
    t.delete(col("risk_score") === "HIGH")                     // v2 rewrites
    t.append(SampleData.transactions(spark, 10, seed = 111L))  // v3
    val countNow = t.toDF.count()
    // files are minutes old at most → within the default grace period,
    // nothing may be reclaimed yet (that's the concurrent-writer guard)
    assert(t.vacuum(retainVersions = 2) === 0)
    val removed = t.vacuum(retainVersions = 2, graceMillis = 0) // keep v2, v3
    assert(removed > 0) // v1's replaced files were reclaimed
    // retained snapshots stay fully readable
    assert(t.toDF.count() === countNow)
    assert(t.asOf(t.currentVersion - 1).count() === countNow - 10)
    // a second vacuum is a no-op
    assert(t.vacuum(retainVersions = 2, graceMillis = 0) === 0)
  }

  test("vacuum never deletes staged files inside the grace period") {
    val root = new Path(freshDir("tx_vacuum_grace"))
    val t = TxTable.create(spark, root, "t", Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 20, seed = 112L))
    t.append(SampleData.transactions(spark, 20, seed = 113L))
    // simulate a concurrent writer that has renamed its file into data/
    // but not yet committed: a fresh parquet no snapshot references
    val staged = new Path(root, "data/date=2099-01-01/staged-in-flight.parquet")
    val fs = staged.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(staged.getParent)
    val out = fs.create(staged)
    out.write("not-yet-committed".getBytes); out.close()
    t.vacuum(retainVersions = 1) // default grace → must NOT delete it
    assert(fs.exists(staged), "vacuum deleted a staged (in-flight) file")
    // outside the grace period the orphan is reclaimable
    t.vacuum(retainVersions = 1, graceMillis = 0)
    assert(!fs.exists(staged))
  }

  test("concurrent appends all land under real contention (CAS + retry)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = new Path(freshDir("tx_concurrent"))
    TxTable.create(spark, root, "t", Schemas.transactions, Seq("date"))
    val writers = (0 until 4).map { i =>
      Future {
        // each writer opens its own handle, as separate jobs would
        val t = TxTable.open(spark, root, "t")
        t.append(SampleData.transactions(spark, 20, seed = 100L + i))
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val t = TxTable.open(spark, root, "t")
    assert(t.currentVersion === 4) // every append became its own commit
    assert(t.toDF.count() === 80)  // no writer's rows were lost
    assert(t.toDF.select("transaction_id").distinct().count() === 80)
  }

  test("partition values with spaces and '+' round-trip through merge") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cat", org.apache.spark.sql.types.StringType)))
    val t = TxTable.create(spark, new Path(freshDir("tx_escape")), "t",
      schema, Seq("cat"))
    import spark.implicits._
    val rows = Seq((1L, 10L, "a b"), (2L, 10L, "a+b"), (3L, 10L, "plain"))
      .toDF("id", "ts", "cat")
    t.merge(rows, "id", "ts")
    // values survive the dir-name escaping round trip exactly
    assert(t.toDF.select("cat").as[String].collect().toSet ===
      Set("a b", "a+b", "plain"))
    // and a second merge matches the SAME partitions (no duplicate keys)
    t.merge(rows, "id", "ts")
    assert(t.toDF.count() === 3)
    assert(t.snapshot.files.map(_.partitionValues("cat")).toSet ===
      Set("a b", "a+b", "plain"))
  }

  test("schema evolution: addColumn pads old files, accepts new writes") {
    val t = TxTable.create(spark, new Path(freshDir("tx_evolve")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 20, seed = 90L))
    t.addColumn("fraud_flag", org.apache.spark.sql.types.BooleanType)
    // old rows read back with the new column as null
    assert(t.toDF.columns.contains("fraud_flag"))
    assert(t.toDF.filter(col("fraud_flag").isNull).count() === 20)
    // new writes can carry the column; old-schema batches still merge
    val batch2 = SampleData.transactions(spark, 10, seed = 91L)
      .withColumn("fraud_flag", lit(true))
    t.merge(batch2, "transaction_id", "processing_timestamp")
    assert(t.toDF.filter(col("fraud_flag") === true).count() === 10)
    val oldSchemaBatch = SampleData.transactions(spark, 5, seed = 92L)
    t.merge(oldSchemaBatch, "transaction_id", "processing_timestamp")
    assert(t.toDF.count() === 35)
    // merge without the key column is rejected
    import spark.implicits._
    intercept[IllegalArgumentException] {
      t.merge(Seq(1L).toDF("timestamp"), "transaction_id", "processing_timestamp")
    }
  }

  test("data skipping: readWhere prunes files by footer min/max stats") {
    val t = TxTable.create(spark, new Path(freshDir("tx_skip")), "t",
      Schemas.transactions, Seq("date"))
    // three appends with disjoint timestamp ranges (different anchors)
    val anchors = Seq(1754988000000L, 1755988000000L, 1756988000000L)
    anchors.zipWithIndex.foreach { case (a, i) =>
      t.append(SampleData.transactions(spark, 30, seed = 80L + i, anchorMs = a)
        .coalesce(1))
    }
    // stats recorded for the timestamp column
    assert(t.snapshot.files.forall(_.stats.exists(_.contains("timestamp"))))
    val all = t.snapshot.files.size
    // a range inside the first anchor's hour must skip the other appends
    val lo = anchors.head - 3600 * 1000L
    val hi = anchors.head
    val scanned = t.filesForRange("timestamp", Some(lo), Some(hi))
    assert(scanned < all, s"scanned=$scanned all=$all")
    // and the skipped read returns exactly the filtered rows
    assert(t.readWhere("timestamp", Some(lo), Some(hi)).count() ===
      t.toDF.filter(col("timestamp") >= lo && col("timestamp") <= hi).count())
    // skipping on a string column works too
    assert(t.readWhere("risk_score", Some("HIGH"), Some("HIGH")).count() ===
      t.toDF.filter(col("risk_score") === "HIGH").count())
  }

  test("delete keeps rows where the predicate evaluates to NULL") {
    val t = TxTable.create(spark, new Path(freshDir("tx_del_null")), "t",
      Schemas.transactions, Seq("date"))
    val base = SampleData.transactions(spark, 40, seed = 55L)
    val withNulls = base.withColumn("region",
      when(col("minute") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("region")))
    t.append(withNulls)
    val nullRegion = t.toDF.filter(col("region").isNull).count()
    val usEast = t.toDF.filter(col("region") === "US_EAST").count()
    assert(nullRegion > 0)
    t.delete(col("region") === "US_EAST")
    // only TRUE-predicate rows removed; NULL-predicate rows survive
    assert(t.toDF.count() === 40 - usEast)
    assert(t.toDF.filter(col("region").isNull).count() === nullRegion)
  }

  test("compact rewrites small files into fewer, preserving contents") {
    val t = TxTable.create(spark, new Path(freshDir("tx_compact")), "t",
      Schemas.transactions, Seq("date"))
    // several small appends → many small files
    (0 until 4).foreach(i =>
      t.append(SampleData.transactions(spark, 25, seed = 70L + i)))
    val before = t.snapshot.files.size
    val contentBefore = t.toDF.orderBy("transaction_id").collect().toSeq
    t.compact()
    assert(t.snapshot.files.size < before)
    assert(t.toDF.orderBy("transaction_id").collect().toSeq === contentBefore)
    // pre-compaction snapshots still readable (time travel preserved)
    assert(t.asOf(t.currentVersion - 1).count() === 100)
  }

  test("read(partitionFilter) prunes to snapshot files of that partition") {
    val t = TxTable.create(spark, new Path(freshDir("tx_prune")), "t",
      Schemas.transactions, Seq("date"))
    // two distinct dates via two anchors
    t.append(SampleData.transactions(spark, 40, seed = 60L,
      anchorMs = 1754988000000L))
    t.append(SampleData.transactions(spark, 25, seed = 61L,
      anchorMs = 1755988000000L))
    val dates = t.toDF.select("date").distinct().collect()
      .map(_.getDate(0).toString).sorted
    assert(dates.length >= 2)
    val pruned = t.read(Map("date" -> dates.head))
    assert(pruned.count() === t.toDF
      .filter(col("date") === dates.head).count())
    // driver-side pruning: the pruned plan reads strictly fewer files
    val allFiles = t.snapshot.files.size
    val prunedFiles = t.snapshot.files.count(_.partitionValues("date") == dates.head)
    assert(prunedFiles < allFiles)
  }

  test("z-order compact makes range queries prune files on BOTH columns") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.LongType)))
    val t = TxTable.create(spark, new Path(freshDir("tx_zorder")), "t", schema, Nil)
    import spark.implicits._
    // two independent uniform dimensions, written in random (hash) order
    val rows = spark.range(20000).select(
      (xxhash64(col("id"), lit(1)) % 10000).as("x"),
      (xxhash64(col("id"), lit(2)) % 10000).as("y"))
    t.append(rows)
    val fileBytes = t.snapshot.files.map(_.sizeBytes).sum
    val target = math.max(1L, fileBytes / 16) // force ~16 output files
    def scanned(c: String): Int =
      t.filesForRange(c, Some(Long.box(0L)), Some(Long.box(500L)))
    // unclustered compact: every file spans the whole range of both dims
    t.compact(targetFileBytes = target)
    val all = t.snapshot.files.size
    assert(all >= 8, s"expected many files, got $all")
    assert(scanned("x") === all)
    assert(scanned("y") === all)
    // z-order compact: a narrow range on EITHER dimension prunes files
    t.compact(targetFileBytes = target, clusterBy = Seq("x", "y"))
    val allZ = t.snapshot.files.size
    assert(scanned("x") < allZ, s"x: ${scanned("x")} of $allZ")
    assert(scanned("y") < allZ, s"y: ${scanned("y")} of $allZ")
    // and the clustered rewrite kept every row
    assert(t.toDF.count() === 20000)
    assert(t.readWhere("x", Some(Long.box(0L)), Some(Long.box(500L))).count() ===
      t.toDF.filter(col("x") >= 0 && col("x") <= 500).count())
    // conjunctive multi-column skip: both dimensions prune together
    val box = Seq(
      ("x", Some(Long.box(0L)), Some(Long.box(500L))),
      ("y", Some(Long.box(0L)), Some(Long.box(500L))))
    assert(t.readWhereAll(box).count() ===
      t.toDF.filter(col("x").between(0, 500) && col("y").between(0, 500)).count())
  }

  test("raw commit race: N threads CAS the same version, exactly one wins") {
    val root = new Path(freshDir("tx_raw_race"))
    TxTable.create(spark, root, "t", Schemas.transactions, Seq("date"))
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(root, "_log")
    val base = TxLog.readCurrent(logDir, conf).get
    // hammer the SAME next-version slot from many threads — on a local
    // FS this exercises the O_EXCL create path (Hadoop's own
    // create(overwrite=false) is exists-then-create, which can double-win)
    val winners = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 16).map { i =>
      new Thread(() =>
        try {
          TxLog.commit(logDir, Some(0L),
            base.copy(version = 1L, operation = s"RACE_$i"), conf)
          winners.incrementAndGet()
        } catch { case _: CommitConflictException => () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(winners.get() === 1)
    // and the committed snapshot is intact (no torn/overwritten JSON)
    val committed = TxLog.read(logDir, 1L, conf)
    assert(committed.operation.startsWith("RACE_"))
  }

  test("stats skipping compares 2^62-scale long bounds exactly") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType)))
    val t = TxTable.create(spark, new Path(freshDir("tx_bigid")), "t", schema, Nil)
    import spark.implicits._
    // snowflake-style ids around 2^62: adjacent values collapse when
    // routed through Double (ulp at this magnitude is 512)
    val base = 1L << 62 // ulp(Double) here is 1024: +1100 rounds to +1024
    t.append(Seq((base + 1100L, 1L), (base + 1150L, 2L)).toDF("id", "ts").coalesce(1))
    t.append(Seq((base + 2000L, 3L), (base + 2100L, 4L)).toDF("id", "ts").coalesce(1))
    // hi exactly at file 1's min: a Double-rounded bound (base+1024)
    // would fall below the min and silently skip the matching row
    assert(t.readWhere("id", None, Some(base + 1100L)).count() === 1)
    // lo between the files still skips file 1 (no false positives kept)
    assert(t.filesForRange("id", Some(base + 1160L), None) === 1)
    assert(t.readWhere("id", Some(base + 1160L), None).count() === 2)
    // row counts are real footer counts now, not -1 placeholders
    assert(t.snapshot.files.forall(_.rowCount === 2L))
  }

  test("txn fencing: a replayed (appId, version) merge is a no-op") {
    val t = TxTable.create(spark, new Path(freshDir("tx_fence")), "t",
      Schemas.transactions, Seq("date"))
    val b1 = SampleData.transactions(spark, 20, seed = 140L)
    val v1 = t.merge(b1, "transaction_id", "processing_timestamp",
      txn = Some(("stream-a", 0L)))
    // replay of batch 0 (same or older txn version) must not commit —
    // even with DIFFERENT data, the fence wins (exactly-once contract)
    val replay = b1.withColumn("amount", lit(1.23).cast(DecimalType(12, 2)))
    assert(t.merge(replay, "transaction_id", "processing_timestamp",
      txn = Some(("stream-a", 0L))) === v1)
    assert(t.currentVersion === v1)
    assert(t.toDF.filter(col("amount") === 1.23).count() === 0)
    // the next batch applies, and an unrelated appId is not fenced
    assert(t.merge(replay, "transaction_id", "processing_timestamp",
      txn = Some(("stream-a", 1L))) === v1 + 1)
    assert(t.merge(b1, "transaction_id", "processing_timestamp",
      txn = Some(("stream-b", 0L))) === v1 + 2)
    // watermarks survive unrelated commits and are visible in snapshots
    t.delete(col("risk_score") === "__none__")
    assert(t.snapshot.appTxns === Map("stream-a" -> 1L, "stream-b" -> 0L))
  }

  test("history() lists every commit with truthful totals, newest first") {
    val t = TxTable.create(spark, new Path(freshDir("tx_history")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 40, seed = 130L))
    t.delete(col("risk_score") === "HIGH")
    val h = t.history().collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    assert(h.map(_.getString(1)).toSeq === Seq("DELETE", "APPEND", "CREATE"))
    assert(h.find(_.getLong(0) == 1L).get.getLong(4) === 40L)
    assert(h.find(_.getLong(0) == 2L).get.getLong(4) === t.count())
    // operation metrics: the append ADDED 40 rows from nothing; the
    // delete REPLACED the affected files (removed the old 40-row set,
    // added the survivors)
    val hist = t.history()
    val append = hist.filter(col("version") === 1).head()
    assert(append.getAs[Long]("added_rows") === 40L)
    assert(append.getAs[Int]("n_removed_files") === 0)
    val del = hist.filter(col("version") === 2).head()
    assert(del.getAs[Long]("removed_rows") === 40L)
    assert(del.getAs[Long]("added_rows") === t.count())
    assert(del.getAs[Int]("n_removed_files") > 0)
  }

  test("metadata-only count answers without scanning, incl. per-partition") {
    val t = TxTable.create(spark, new Path(freshDir("tx_metacount")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 60, seed = 120L,
      anchorMs = 1754988000000L))
    t.append(SampleData.transactions(spark, 25, seed = 121L,
      anchorMs = 1755988000000L))
    assert(t.count() === t.toDF.count())
    val dates = t.snapshot.files.map(_.partitionValues("date")).distinct
    dates.foreach { d =>
      assert(t.count(Map("date" -> d)) ===
        t.toDF.filter(col("date") === d).count())
    }
    // merge/delete keep the metadata counts truthful
    t.delete(col("risk_score") === "HIGH")
    assert(t.count() === t.toDF.count())
  }

  test("merge anti-join: broadcast below the key gate, shuffled above, same rows") {
    val existing = spark.range(1000)
      .select(col("id").cast("string").as("k"), col("id").as("v"))
    val keys = spark.range(10).select(col("id").cast("string").as("k"))
    // CDC-sized batch → forced broadcast (plan carries the hint even with
    // auto-broadcast disabled); backfill-sized → plain shuffled anti-join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val small = TxTable.antiJoinSurvivors(existing, keys, "k", batchRows = 10)
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val big = TxTable.antiJoinSurvivors(existing, keys, "k",
        batchRows = TxTable.MergeBroadcastMaxKeys + 1)
      assert(!big.queryExecution.executedPlan.toString.contains("Broadcast"),
        big.queryExecution.executedPlan.toString)
      assert(big.orderBy("k").collect().toSeq ===
        small.orderBy("k").collect().toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // end to end through TxTable.merge: a null batch key drops out of
    // the collected key list (collect_list skips nulls), so the list is
    // shorter than the batch and the survivors come from the anti-join
    import spark.implicits._
    val target = Seq((Option.empty[String], 1L, 0L), (Some("a"), 1L, 0L),
      (Some("b"), 2L, 0L), (Some("c"), 3L, 0L))
    val batch = Seq((Option.empty[String], 10L, 5L),
      (Option.empty[String], 11L, 6L), (Some("a"), 100L, 5L),
      (Some("b"), 200L, 5L), (Some("b"), 201L, 7L), (Some("d"), 400L, 5L))
    val t = TxTable.create(spark, new Path(freshDir("tx_merge_nullkey")), "t",
      target.toDF("k", "v", "ts").schema, Nil)
    t.append(target.toDF("k", "v", "ts"))
    t.merge(batch.toDF("k", "v", "ts"), "k", "ts")
    // keyed model: one winner per batch key (null included) by ts;
    // null-keyed target rows never match, so they all survive
    val winners = batch.groupBy(_._1).values.map(_.maxBy(_._3)).toSeq
    val model = target.filter(r => r._1.isEmpty ||
      !winners.exists(_._1 == r._1)) ++ winners
    val got = t.toDF.select("k", "v", "ts")
      .as[(Option[String], Long, Long)].collect().toSeq
    assert(got.size === model.size)
    assert(got.toSet === model.toSet)
    assert(got.filter(_._1.isEmpty).toSet ===
      Set((None, 1L, 0L), (None, 11L, 6L)))
  }

  test("catalog: SQL-text CREATE/DROP TABLE route through GraftSql") {
    val cat = new TableCatalog(spark, new Path(freshDir("sqlddl")))
    val created = cat.sql("""
      CREATE TABLE analytics.orders (
        -- identifiers
        orderId STRING,
        amount DECIMAL(12,2),
        meta STRUCT<region: STRING, channel: STRING>,
        date DATE
      ) PARTITIONED BY (date) TBLPROPERTIES ('table_type'='ICEBERG')""")
    assert(created.collect()(0).getString(0) === "CREATED analytics.orders")
    val t = cat.getTable("analytics", "orders")
    assert(t.schema.fieldNames.toSeq ===
      Seq("orderId", "amount", "meta", "date"))
    assert(t.snapshot.partitionColumns === Seq("date"))
    // IF NOT EXISTS is a no-op on an existing table
    assert(cat.sql("CREATE TABLE IF NOT EXISTS analytics.orders (x INT)")
      .collect()(0).getString(0) === "EXISTS analytics.orders")
    // bare CREATE on an existing table fails
    intercept[IllegalArgumentException] {
      cat.sql("CREATE TABLE analytics.orders (x INT)")
    }
    // DROP IF EXISTS is idempotent; bare DROP on a missing table fails
    assert(cat.sql("DROP TABLE IF EXISTS analytics.orders")
      .collect()(0).getString(0) === "DROPPED analytics.orders")
    cat.sql("DROP TABLE IF EXISTS analytics.orders")
    intercept[IllegalArgumentException] {
      cat.sql("DROP TABLE analytics.orders")
    }
    // non-DDL text delegates to spark.sql
    assert(cat.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) === 2)
  }

  test("catalog: SQL DDL edge cases — quoted literals, per-segment backticks, unknown tail") {
    val cat = new TableCatalog(spark, new Path(freshDir("sqlddl2")))
    // '--' inside a quoted COMMENT is not a line comment
    val created = cat.sql("""
      CREATE TABLE `analytics`.`annotated` (
        id STRING COMMENT 'a--b', -- a real comment
        v INT
      ) LOCATION 's3://bucket/pre--fix/path'""")
    assert(created.collect()(0).getString(0) === "CREATED analytics.annotated")
    val t = cat.getTable("analytics", "annotated")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(t.schema("id").getComment().contains("a--b"))
    // unknown tail clauses are rejected, not silently dropped
    val err = intercept[IllegalArgumentException] {
      cat.sql("CREATE TABLE analytics.bad (x INT) USING csv")
    }
    assert(err.getMessage.contains("unsupported clause"))
    intercept[IllegalArgumentException] {
      cat.sql("CREATE TABLE analytics.bad2 (x INT) AS SELECT 1")
    }
  }

  test("update applies SET expressions to matching rows, pre-update semantics") {
    val t = TxTable.create(spark, new Path(freshDir("tx_upd")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 100, seed = 60L)
    t.append(seed)
    val before = t.toDF.select(col("transaction_id"), col("amount"),
      col("status"), col("risk_score")).collect()
      .map(r => r.getString(0) -> ((r.getDecimal(1), r.getString(2), r.getString(3)))).toMap
    t.update(col("risk_score") === "HIGH",
      Map("amount" -> (col("amount") * 2), "status" -> lit("REVIEWED")))
    t.toDF.select(col("transaction_id"), col("amount"), col("status"),
      col("risk_score")).collect().foreach { r =>
      val (amt0, st0, risk) = before(r.getString(0))
      if (risk == "HIGH") {
        assert(r.getDecimal(1) === amt0.multiply(new java.math.BigDecimal(2))
          .setScale(2))
        assert(r.getString(2) === "REVIEWED")
      } else {
        assert(r.getDecimal(1) === amt0)
        assert(r.getString(2) === st0)
      }
    }
    assert(t.toDF.count() === 100) // UPDATE never changes cardinality
    intercept[IllegalArgumentException] {
      t.update(lit(true), Map("not_a_column" -> lit(1)))
    }
  }

  test("merge deleteCol: flagged winners delete, racing later upsert wins") {
    val t = TxTable.create(spark, new Path(freshDir("tx_mergedel")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 60, seed = 61L)
    t.append(seed)
    val doomed = seed.orderBy("transaction_id").limit(20)
    // all 20 flagged for delete at t+10; the first 5 also re-upserted at t+20
    val dels = doomed
      .withColumn("processing_timestamp", col("processing_timestamp") + 10L)
      .withColumn("_deleted", lit(true))
    val back = doomed.orderBy("transaction_id").limit(5)
      .withColumn("processing_timestamp", col("processing_timestamp") + 20L)
      .withColumn("status", lit("RESTORED"))
      .withColumn("_deleted", lit(false))
    t.merge(dels.unionByName(back), "transaction_id", "processing_timestamp",
      deleteCol = Some("_deleted"))
    assert(t.toDF.count() === 60 - 20 + 5)
    assert(t.toDF.filter(col("status") === "RESTORED").count() === 5)
    // deleting an absent key is a no-op, not an error
    val ghost = seed.limit(1)
      .withColumn("transaction_id", lit("TXN_GHOST"))
      .withColumn("_deleted", lit(true))
    t.merge(ghost, "transaction_id", "processing_timestamp",
      deleteCol = Some("_deleted"))
    assert(t.toDF.filter(col("transaction_id") === "TXN_GHOST").count() === 0)
  }

  test("diff preimages: updates emit pre- and post-image rows") {
    val t = TxTable.create(spark, new Path(freshDir("tx_diffpre")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 30, seed = 62L)
    t.append(seed)                                                     // v1
    val mods = seed.orderBy("transaction_id").limit(10)
      .withColumn("amount", (col("amount") + 50).cast(DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    t.merge(mods, "transaction_id", "processing_timestamp")            // v2
    val d = t.diff(1, 2, "transaction_id", preimages = true)
    val byType = d.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 10L, "update_postimage" -> 10L))
    // pre+post for one key differ by exactly the applied delta
    val k = mods.select("transaction_id").orderBy("transaction_id")
      .first().getString(0)
    val rows = d.filter(col("transaction_id") === k)
      .select("_change_type", "amount").collect()
      .map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(rows("update_postimage").subtract(rows("update_preimage"))
      .compareTo(new java.math.BigDecimal("50.00")) === 0)
  }

  test("partition evolution: repartitionTable relays out atomically, old snapshots intact") {
    val t = TxTable.create(spark, new Path(freshDir("tx_evolve")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 120, seed = 64L)
    t.append(seed)                                                     // v1
    val before = t.toDF.orderBy("transaction_id").collect()
    t.repartitionTable(Seq("region"))                                  // v2
    assert(t.snapshot.partitionColumns === Seq("region"))
    // identical rows through the layout change
    assert(t.toDF.orderBy("transaction_id").collect() === before)
    // new layout actually partition-prunes on region
    val eu = t.toDF.filter(col("region") === "EU").count()
    assert(t.count(Map("region" -> "EU")) === eu)
    assert(t.snapshot.files.forall(_.partitionValues.keySet == Set("region")))
    // time travel still reads the old layout
    assert(t.asOf(1).orderBy("transaction_id").collect() === before)
    assert(t.snapshotAt(1).partitionColumns === Seq("date"))
  }

  test("update(partitionFilter) rewrites only the targeted partition's files") {
    val t = TxTable.create(spark, new Path(freshDir("tx_updprune")), "t",
      Schemas.transactions, Seq("region"))
    t.append(SampleData.transactions(spark, 150, seed = 65L))
    val filesBefore = t.snapshot.files.map(f => f.partitionValues -> f.path)
    val untouchedBefore = filesBefore.filter(_._1("region") != "EU").toSet
    t.update(col("risk_score") === "HIGH", Map("status" -> lit("REVIEWED")),
      partitionFilter = Map("region" -> "EU"))
    val after = t.snapshot.files.map(f => f.partitionValues -> f.path).toSet
    // every non-EU file survives the commit byte-identical (same path)
    assert(untouchedBefore.subsetOf(after))
    // and only EU rows changed
    assert(t.toDF.filter(col("status") === "REVIEWED" &&
      col("region") =!= "EU").count() === 0)
    assert(t.toDF.filter(col("region") === "EU" &&
      col("risk_score") === "HIGH" && col("status") =!= "REVIEWED").count() === 0)
  }

  test("bloom index: point lookups skip files min/max cannot prune") {
    val t = TxTable.create(spark, new Path(freshDir("tx_bloom")), "t",
      Schemas.transactions, Nil)
    // several appends → several files, each with the FULL id hash range
    // (ids are not clustered), so min/max stats prune nothing
    (0 until 5).foreach(i =>
      t.append(SampleData.transactions(spark, 200, seed = 70L + i)))
    val nFiles = t.snapshot.files.size
    assert(nFiles >= 5)
    // probe a MID-RANGE id: every file's [min, max] hex span contains
    // it (the global minimum would be stats-prunable on its own)
    val probe = t.toDF.select("transaction_id").orderBy("transaction_id")
      .limit(500).collect()(499).getString(0)
    // without the index, min/max stats keep nearly every file
    assert(t.candidateFilesForEquals("transaction_id", probe).size >= nFiles / 2)
    assert(t.buildBloomIndex("transaction_id") === nFiles)
    // with the index, ~1 candidate (fpp 0.001 → extra candidates are
    // vanishingly unlikely across a handful of files)
    val cands = t.candidateFilesForEquals("transaction_id", probe)
    assert(cands.size <= 2, s"bloom pruned to ${cands.size} of $nFiles")
    assert(cands.size < nFiles)
    // exactness: the pruned read returns exactly the matching row(s)
    val viaIndex = t.readWhereEquals("transaction_id", probe).collect()
    val full = t.toDF.filter(col("transaction_id") === probe).collect()
    assert(viaIndex.toSet === full.toSet && viaIndex.nonEmpty)
    // absent key → typically zero candidate files, always zero rows
    assert(t.readWhereEquals("transaction_id", "TXN_NOPE").count() === 0)
    // files appended AFTER the build have no entry → read conservatively
    t.append(SampleData.transactions(spark, 50, seed = 99L))
    val newProbe = SampleData.transactions(spark, 50, seed = 99L)
      .select("transaction_id").orderBy("transaction_id").limit(1)
      .collect()(0).getString(0)
    assert(t.readWhereEquals("transaction_id", newProbe).count() >= 1)
    // incremental refresh encodes ONLY the appended file (O(new files) —
    // the full build rescans the table), converting the single-file
    // sidecar to the directory-of-parts shape the loader already serves
    val newFiles = t.snapshot.files.size - nFiles
    assert(t.refreshBloomIndex("transaction_id") === newFiles)
    assert(t.readWhereEquals("transaction_id", newProbe).count() >= 1)
    val candsNew = t.candidateFilesForEquals("transaction_id", newProbe)
    assert(candsNew.size < t.snapshot.files.size,
      s"refreshed bloom prunes nothing (${candsNew.size})")
    // the ORIGINAL files' filters survive the conversion untouched
    val candsOld = t.candidateFilesForEquals("transaction_id", probe)
    assert(candsOld.size <= 3, s"conversion lost filters (${candsOld.size})")
    // idempotent: full coverage → no work
    assert(t.refreshBloomIndex("transaction_id") === 0)
    // dead-entry observability (SHOW INDEXES parity with the policy):
    // full fresh coverage has none; a compaction retires every covered
    // path, and the signal maintain_table's rebuild threshold acts on
    // must be readable from the same surface as the coverage fraction
    def deadEntries: Long = t.showIndexes
      .filter(col("index_type") === "bloom")
      .select("dead_entries").collect()(0).getLong(0)
    assert(deadEntries === 0L)
    t.compactSmallFiles()
    assert(deadEntries >= nFiles.toLong, s"dead=$deadEntries")
  }

  test("bloom index: chunked multi-group build is byte-identical to one pass") {
    val t = TxTable.create(spark, new Path(freshDir("tx_bloom_chunked")), "t",
      Schemas.transactions, Nil)
    (0 until 6).foreach(i =>
      t.append(SampleData.transactions(spark, 150, seed = 80L + i)))
    val nFiles = t.snapshot.files.size
    assert(nFiles >= 6)
    // single-pass reference build first
    assert(t.buildBloomIndex("transaction_id") === nFiles)
    val single = t.bloomEntries("transaction_id")
      .map { case (k, v) => k -> v.toSeq }
    // rebuild with 2 files per pass → ceil(nFiles/2) sidecar parts,
    // one scan job each, driver peak = one group's filters
    spark.conf.set("spark.graft.bloomIndexFilesPerPass", "2")
    try {
      assert(t.buildBloomIndex("transaction_id") === nFiles)
      val idxPath = new Path(t.root, "_index/bloom_transaction_id.json")
      val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.getFileStatus(idxPath).isDirectory)
      assert(fs.listStatus(idxPath).count(_.getPath.getName.endsWith(".json"))
        === (nFiles + 1) / 2)
      val chunked = t.bloomEntries("transaction_id")
        .map { case (k, v) => k -> v.toSeq }
      // byte-identical skipping behavior: same files, same filters
      assert(chunked === single)
      // and probes behave exactly as with the one-file sidecar
      val probe = t.toDF.select("transaction_id").orderBy("transaction_id")
        .limit(500).collect()(499).getString(0)
      val cands = t.candidateFilesForEquals("transaction_id", probe)
      assert(cands.size < nFiles)
      assert(t.readWhereEquals("transaction_id", probe).collect().toSet ===
        t.toDF.filter(col("transaction_id") === probe).collect().toSet)
      // schema edits invalidate the DIRECTORY sidecar too
      t.renameColumn("transaction_id", "txid")
      assert(!fs.exists(idxPath))
    } finally spark.conf.unset("spark.graft.bloomIndexFilesPerPass")
  }

  test("catalog: SQL-text UPDATE and DELETE FROM route to the table") {
    val cat = new TableCatalog(spark, new Path(freshDir("sqldml")))
    val t = cat.createTable("analytics", "txns_dml",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 80, seed = 63L))
    val high = t.toDF.filter(col("risk_score") === "HIGH").count()
    val res = cat.sql("UPDATE analytics.txns_dml SET status = 'REVIEWED', " +
      "amount = round(amount * 2, 2) WHERE risk_score = 'HIGH'")
    assert(res.collect()(0).getString(0).startsWith("UPDATED analytics.txns_dml"))
    assert(t.toDF.filter(col("status") === "REVIEWED").count() === high)
    val declined = t.toDF.filter(col("status") === "DECLINED").count()
    cat.sql("DELETE FROM analytics.txns_dml WHERE status = 'DECLINED'")
    assert(t.toDF.count() === 80 - declined)
    // WHERE-less DELETE empties the table (standard SQL)
    cat.sql("DELETE FROM analytics.txns_dml")
    assert(t.toDF.count() === 0)
    // SET with a function call containing commas parses correctly
    intercept[Exception] {
      cat.sql("UPDATE analytics.missing SET x = 1")
    }
  }

  test("SQL DML partition pruning canonicalizes literals through the column type") {
    import spark.implicits._
    val cat = new TableCatalog(spark, new Path(freshDir("sqlprune")))
    val t = cat.createTable("analytics", "by_hour",
      Seq(("a", 5, 1.0)).toDF("id", "hour", "v").schema, Seq("hour"))
    t.append(Seq(("a", 5, 1.0), ("b", 5, 2.0), ("c", 12, 3.0))
      .toDF("id", "hour", "v"))
    // 'hour = 05' renders "05" raw but must match the stored "5" —
    // without canonicalization the UPDATE silently no-ops (prunes to
    // zero files) even though its predicate matches rows
    cat.sql("UPDATE analytics.by_hour SET v = v + 10 WHERE hour = 05")
    assert(t.toDF.filter(col("hour") === 5 && col("v") >= 10).count() === 2)
    // '5.0' on an int partition also canonicalizes to "5"
    cat.sql("DELETE FROM analytics.by_hour WHERE hour = 5.0 AND id = 'a'")
    assert(t.toDF.count() === 2)
    // pruning still holds: a DELETE on hour=12 must not rewrite hour=5
    val keepFiles = t.snapshot.files
      .filter(_.partitionValues("hour") == "5").map(_.path).toSet
    cat.sql("DELETE FROM analytics.by_hour WHERE hour = 12")
    assert(keepFiles.subsetOf(t.snapshot.files.map(_.path).toSet))
    assert(t.toDF.count() === 1)
  }

  test("SQL DML on a timestamp-partitioned table updates rows (no silent no-op)") {
    import spark.implicits._
    val cat = new TableCatalog(spark, new Path(freshDir("sqlprune_ts")))
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val t = cat.createTable("analytics", "by_ts",
      Seq(("a", ts1, 1.0)).toDF("id", "ts", "v").schema, Seq("ts"))
    t.append(Seq(("a", ts1, 1.0), ("b", ts1, 2.0), ("c", ts2, 3.0))
      .toDF("id", "ts", "v"))
    // pre-fix, the timestamp literal canonicalized to raw epoch micros,
    // matched no partition, and the UPDATE reported success while
    // touching zero rows
    cat.sql("UPDATE analytics.by_ts SET v = v + 10 " +
      "WHERE ts = TIMESTAMP'2026-01-01 00:00:00'")
    assert(t.toDF.filter(col("v") >= 10).count() === 2)
    // pruning actually engaged: the other partition's file survived
    val keep = t.snapshot.files
      .filterNot(_.partitionValues("ts").startsWith("2026-01-01"))
      .map(_.path).toSet
    assert(keep.nonEmpty && keep.subsetOf(t.snapshot.files.map(_.path).toSet))
    cat.sql("DELETE FROM analytics.by_ts WHERE ts = TIMESTAMP'2026-01-02 00:00:00'")
    assert(t.toDF.count() === 2)
    assert(keep.intersect(t.snapshot.files.map(_.path).toSet).isEmpty)
  }

  test("schema evolution: dropColumn, renameColumn, NOT NULL write enforcement") {
    val t = TxTable.create(spark, new Path(freshDir("tx_evolve2")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 50, seed = 95L)
    t.append(seed)                                                    // v1
    // metadata-only drop: the column vanishes from reads, rows intact
    t.dropColumn("pattern_match")                                     // v2
    assert(!t.toDF.columns.contains("pattern_match"))
    assert(t.toDF.count() === 50)
    intercept[IllegalArgumentException] { t.dropColumn("date") }      // partition col
    // name-based mapping: re-adding the dropped name would resurrect
    // old file data — refused until a full rewrite clears those files
    val resErr = intercept[IllegalArgumentException] {
      t.addColumn("pattern_match", org.apache.spark.sql.types.StringType)
    }
    assert(resErr.getMessage.contains("previously dropped"))
    t.compact()
    t.addColumn("pattern_match", org.apache.spark.sql.types.StringType)
    // post-rewrite the re-added column reads as null, never stale data
    assert(t.toDF.filter(col("pattern_match").isNotNull).count() === 0)
    // rename rewrites once; values survive under the new name, and
    // time travel still shows the old schema
    val before = t.toDF.select("transaction_id", "velocity_check")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    t.renameColumn("velocity_check", "velocity_flag")                 // v3
    assert(t.toDF.columns.contains("velocity_flag") &&
      !t.toDF.columns.contains("velocity_check"))
    t.toDF.select("transaction_id", "velocity_flag").collect()
      .foreach(r => assert(r.getString(1) === before(r.getString(0))))
    assert(t.asOf(1).columns.contains("velocity_check"))
    // NOT NULL key: a batch with a null transaction_id is REJECTED at
    // write time, and the table is untouched
    val poisoned = seed.limit(3).withColumn("transaction_id",
      when(col("risk_score") === col("risk_score"), lit(null).cast("string")))
    val err = intercept[Throwable] { t.append(poisoned) }
    def messages(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ messages(e.getCause)
    assert(messages(err).exists(_.contains("NOT NULL")), err.toString)
    assert(t.toDF.count() === 50)
  }

  test("metadata tables and tags: files/partitions from the log, tagged reads") {
    val t = TxTable.create(spark, new Path(freshDir("tx_meta")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 100, seed = 90L))        // v1
    val files = t.filesDf.collect()
    assert(files.length === t.snapshot.files.size)
    assert(files.map(_.getLong(2)).sum === 100L)                     // row_count
    val parts = t.partitionsDf.collect()
    assert(parts.map(_.getLong(2)).sum === 100L)
    assert(parts.map(_.getLong(1)).sum === files.length.toLong)      // file_count
    // tag the pre-delete version; a later delete must not affect it
    t.tag("pre-delete")
    t.delete(col("risk_score") === "HIGH")                           // v2
    assert(t.asOfTag("pre-delete").count() === 100)
    assert(t.toDF.count() < 100)
    // re-tagging moves the name; unknown tags are an error
    t.tag("pre-delete", t.currentVersion)
    assert(t.asOfTag("pre-delete").count() === t.toDF.count())
    intercept[IllegalArgumentException] { t.asOfTag("nope") }
    intercept[IllegalArgumentException] { t.tag("future", 99L) }
  }

  test("row provenance: _commit_version tracks the commit that wrote each file") {
    val t = TxTable.create(spark, new Path(freshDir("tx_prov")), "t",
      Schemas.transactions, Seq("date"))
    val a = SampleData.transactions(spark, 30, seed = 91L)
    val b = SampleData.transactions(spark, 20, seed = 92L)
    t.append(a)                                                      // v1
    t.append(b)                                                      // v2
    val prov = t.readWithProvenance()
    val byVersion = prov.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion === Map(1L -> 30L, 2L -> 20L))
    // a copy-on-write delete re-versions the rewritten rows
    t.delete(col("risk_score") === "HIGH")                           // v3
    val after = t.readWithProvenance()
    assert(after.filter(col("_commit_version") === 3L).count() ===
      after.count())
    assert(after.filter(col("_commit_version").isin(1L, 2L)).count() === 0)
  }

  test("catalog: SQL-text INSERT INTO, MERGE INTO, and SELECT over ns.tbl") {
    val cat = new TableCatalog(spark, new Path(freshDir("sqlfull")))
    val t = cat.createTable("analytics", "txns_sql",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 40, seed = 80L)
    t.append(seed)
    // INSERT INTO ... SELECT (positional)
    seed.limit(0).createOrReplaceTempView("empty_batch")
    val extra = SampleData.transactions(spark, 10, seed = 81L)
    extra.createOrReplaceTempView("extra_batch")
    val ins = cat.sql("INSERT INTO analytics.txns_sql SELECT * FROM extra_batch")
    assert(ins.collect()(0).getString(0).startsWith("INSERTED"))
    assert(t.toDF.count() === 50)
    // SELECT auto-resolves ns.tbl via a snapshot view
    val n = cat.sql("SELECT count(*) AS n FROM analytics.txns_sql")
      .collect()(0).getLong(0)
    assert(n === 50)
    // MERGE INTO with a delete branch: 5 upserts (changed amount),
    // 5 deletes, 5 fresh inserts
    val ups = seed.orderBy("transaction_id").limit(5)
      .withColumn("amount", lit(1.23).cast(DecimalType(12, 2)))
      .withColumn("__op", lit("U"))
    val dels = seed.orderBy(col("transaction_id").desc).limit(5)
      .withColumn("__op", lit("D"))
    val fresh = SampleData.transactions(spark, 5, seed = 82L)
      .withColumn("__op", lit("U"))
    ups.unionByName(dels).unionByName(fresh).createOrReplaceTempView("cdc_batch")
    val m = cat.sql("""
      MERGE INTO analytics.txns_sql AS t USING cdc_batch AS s
      ON t.transaction_id = s.transaction_id
      WHEN MATCHED AND s.__op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(m.collect()(0).getString(0).startsWith("MERGED"))
    assert(t.toDF.count() === 50 - 5 + 5)
    assert(t.toDF.filter(col("amount") === 1.23).count() === 5)
    // a MERGE whose ON references undeclared aliases is rejected by
    // analysis (aliases default to the table/source simple names), not
    // silently misrouted
    intercept[org.apache.spark.sql.AnalysisException] {
      cat.sql("MERGE INTO analytics.txns_sql USING cdc_batch " +
        "ON t.transaction_id = s.other_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    // duplicate source keys are an ERROR (SQL MERGE contract), never a
    // nondeterministic winner
    spark.table("cdc_batch").unionByName(spark.table("cdc_batch"))
      .createOrReplaceTempView("dup_batch")
    val dupErr = intercept[IllegalArgumentException] {
      cat.sql("""
        MERGE INTO analytics.txns_sql AS t USING dup_batch AS s
        ON t.transaction_id = s.transaction_id
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(dupErr.getMessage.contains("multiple"))
    // CTAS (optionally partitioned) materializes a query into a new table
    val ctas = cat.sql("CREATE TABLE analytics.high_risk PARTITIONED BY (date) " +
      "AS SELECT * FROM analytics.txns_sql WHERE risk_score = 'HIGH'")
    assert(ctas.collect()(0).getString(0).startsWith("CREATED analytics.high_risk"))
    val expected = t.toDF.filter(col("risk_score") === "HIGH").count()
    assert(cat.getTable("analytics", "high_risk").toDF.count() === expected)
    assert(cat.getTable("analytics", "high_risk").snapshot
      .partitionColumns === Seq("date"))
  }

  test("catalog SQL edge cases: literals with keywords, decimal delete conds, pruned DML") {
    val cat = new TableCatalog(spark, new Path(freshDir("sqledge")))
    val t = cat.createTable("analytics", "txns_edge",
      Schemas.transactions, Seq("region"))
    t.append(SampleData.transactions(spark, 60, seed = 85L))
    // a WHERE keyword inside a string literal must not end the SET list
    cat.sql("UPDATE analytics.txns_edge SET pattern_match = 'see WHERE docs' " +
      "WHERE risk_score = 'HIGH'")
    val high = t.toDF.filter(col("risk_score") === "HIGH").count()
    assert(t.toDF.filter(col("pattern_match") === "see WHERE docs").count() === high)
    // SQL DML with a partition-column equality conjunct prunes: files of
    // other partitions survive the commit untouched
    val before = t.snapshot.files.filter(_.partitionValues("region") != "EU")
      .map(_.path).toSet
    cat.sql("DELETE FROM analytics.txns_edge " +
      "WHERE region = 'EU' AND status = 'DECLINED'")
    val after = t.snapshot.files.map(_.path).toSet
    assert(before.subsetOf(after))
    // a MERGE delete condition with a DECIMAL literal survives alias
    // stripping intact (the old blanket strip mangled `9999.5` → `5`)
    val delBatch = t.toDF.limit(10)
      .withColumn("amount", lit(10000.00).cast(DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    delBatch.createOrReplaceTempView("edge_batch")
    val total = t.toDF.count()
    cat.sql("""
      MERGE INTO analytics.txns_edge AS t USING edge_batch AS s
      ON t.transaction_id = s.transaction_id
      WHEN MATCHED AND s.amount > 9999.5 THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // every batch row has amount 10000 > 9999.5 → all 10 deleted
    assert(t.toDF.count() === total - 10)
  }

  test("catalog: SHOW TABLES / SHOW NAMESPACES / DESCRIBE route to metadata") {
    val cat = new TableCatalog(spark, new Path(freshDir("sqlshow")))
    cat.createTable("analytics", "txns_a", Schemas.transactions, Seq("date"))
    cat.createTable("raw", "events_b", Schemas.transactions, Nil)
    assert(cat.sql("SHOW NAMESPACES").collect().map(_.getString(0)).sorted
      === Array("analytics", "raw"))
    assert(cat.sql("SHOW TABLES IN analytics").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("analytics", "txns_a")))
    assert(cat.sql("SHOW TABLES").count() === 2)
    val desc = cat.sql("DESCRIBE analytics.txns_a").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(desc("transaction_id") === (("string", false, false)))
    assert(desc("date") === (("date", true, true)))
    assert(desc("amount")._1 === "decimal(12,2)")
  }

  test("concurrent copy-on-write writers: exactly one wins, loser surfaces the conflict") {
    val t = TxTable.create(spark, new Path(freshDir("tx_conflict")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 60, seed = 96L))
    // two rewrites derived from the SAME snapshot race their commits:
    // serializable copy-on-write means one wins, the other must see
    // CommitConflictException (silent retry would drop the winner's
    // effect — the policy documented on merge/delete/update)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val results = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        def call(): Option[Throwable] = {
          start.await(10, TimeUnit.SECONDS)
          try {
            if (i == 0) t.delete(col("risk_score") === "HIGH")
            else t.update(col("risk_score") === "LOW",
              Map("status" -> lit("CHECKED")))
            None
          } catch { case e: Throwable => Some(e) }
        }
      })
    }
    start.countDown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val failures = outcomes.flatten
    assert(failures.size === 1, s"expected exactly one conflict, got $outcomes")
    def causes(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: causes(e.getCause)
    assert(causes(failures.head).exists(_.isInstanceOf[CommitConflictException]),
      failures.head.toString)
    // the table reflects exactly the winner's change, nothing mixed
    assert(t.currentVersion === 2)
  }

  test("catalog: namespace/table DDL + idempotent drop") {
    val cat = new TableCatalog(spark, new Path(freshDir("cat")))
    cat.createTable("analytics", "txns", Schemas.transactions, Seq("date"))
    assert(cat.tableExists("analytics", "txns"))
    assert(cat.listTables("analytics") === Seq("txns"))
    assert(cat.listNamespaces() === Seq("analytics"))
    cat.dropTable("analytics", "txns")
    cat.dropTable("analytics", "txns") // idempotent (ResourceNotFound swallow)
    assert(!cat.tableExists("analytics", "txns"))
    cat.dropNamespace("analytics")
    assert(cat.listNamespaces() === Nil)
  }

  test("mergeBranches: unmatched source rows INSERT even beside a DELETE branch") {
    // Standard MERGE semantics (Delta/Iceberg/Athena): WHEN NOT MATCHED
    // THEN INSERT * has no implicit carve-out for rows that WOULD have
    // matched a DELETE branch — such rows insert. The keyed CDC fast
    // path (merge with deleteCol) intentionally drops them; the SQL
    // statement must not.
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_mb_ins")), "t",
      Seq(("a", 1, false)).toDF("id", "v", "flag").schema, Nil)
    t.append(Seq(("a", 1, false), ("b", 2, false)).toDF("id", "v", "flag"))
    val src = Seq(("b", 20, true), ("z", 26, true)).toDF("id", "v", "flag")
    t.mergeBranches(src, "t", "s", "t.id = s.id",
      matched = Seq(TxTable.MatchedBranch(Some("s.flag"), isDelete = true, None)),
      notMatched = Seq(TxTable.InsertBranch(None, None, Nil)))
    val out = t.toDF.orderBy("id").collect().map(r => (r.getString(0), r.getInt(1)))
    // b deleted (matched + flag); z INSERTED despite flag=true (unmatched)
    assert(out.toSeq === Seq(("a", 1), ("z", 26)))
  }

  test("mergeBranches: NOT MATCHED BY SOURCE branches touch unmatched target rows") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_mb_bysrc")), "t",
      Seq(("a", 1)).toDF("id", "v").schema, Nil)
    t.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("id", "v"))
    val src = Seq(("a", 10)).toDF("id", "v")
    // matched → update from source; not matched by source → v = -1,
    // except c which deletes
    t.mergeBranches(src, "t", "s", "t.id = s.id",
      matched = Seq(TxTable.MatchedBranch(None, isDelete = false, None)),
      notMatched = Nil,
      notMatchedBySource = Seq(
        TxTable.MatchedBranch(Some("t.id = 'c'"), isDelete = true, None),
        TxTable.MatchedBranch(None, isDelete = false,
          Some(Map("v" -> "-1")))))
    val out = t.toDF.orderBy("id").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(out.toSeq === Seq(("a", 10), ("b", -1)))
  }

  test("mergeBranches: cardinality violation raises; partition pruning holds") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_mb_card")), "t",
      Seq(("a", "p1", 1)).toDF("id", "p", "v").schema, Seq("p"))
    t.append(Seq(("a", "p1", 1), ("b", "p2", 2), ("c", "p3", 3)).toDF("id", "p", "v"))
    val dup = Seq(("a", 10), ("a", 11)).toDF("id", "nv")
    val err = intercept[IllegalArgumentException] {
      t.mergeBranches(dup, "t", "s", "t.id = s.id",
        matched = Seq(TxTable.MatchedBranch(None, isDelete = false,
          Some(Map("v" -> "s.nv")))),
        notMatched = Nil)
    }
    assert(err.getMessage.contains("multiple"))
    // pruning: an update matching only partition p1 leaves p2/p3 files alone
    val before = t.snapshot.files.filterNot(_.partitionValues("p") == "p1")
      .map(_.path).toSet
    t.mergeBranches(Seq(("a", 99)).toDF("id", "nv"), "t", "s", "t.id = s.id",
      matched = Seq(TxTable.MatchedBranch(None, isDelete = false,
        Some(Map("v" -> "s.nv")))),
      notMatched = Nil)
    assert(before.subsetOf(t.snapshot.files.map(_.path).toSet))
    assert(t.toDF.filter(col("id") === "a").head().getInt(2) === 99)
  }

  test("merge key distribution is size-gated: broadcast hint below threshold only") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val existing = spark.range(1000).toDF("k")
      val keys = spark.range(10).toDF("k")
      def planOf(batchRows: Long): String =
        TxTable.antiJoinSurvivors(existing, keys, "k", batchRows)
          .queryExecution.sparkPlan.toString
      assert(planOf(100L).contains("BroadcastHashJoin"),
        "small batch should broadcast its key set")
      assert(!planOf(TxTable.MergeBroadcastMaxKeys + 1).contains("BroadcastHashJoin"),
        "oversized batch must not broadcast (driver OOM risk)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("log checkpointing: 500 commits keep snapshot JSON O(changed files)") {
    // TxLog-level (synthetic DataFiles, no parquet I/O): each commit
    // adds one file to a growing table. With manifest reuse the stored
    // snapshot must reference unchanged groups by id, so its JSON stays
    // bounded while the logical file list grows to 500.
    val logDir = new Path(freshDir("tx_ckpt"), "_log")
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    var files = Vector.empty[DataFile]
    var expected: Option[Long] = None
    (0 until 500).foreach { i =>
      files = files :+ DataFile(f"f$i%05d.parquet", Map.empty, 10L, 100L)
      val v = TxLog.commit(logDir, expected, Snapshot(
        version = expected.map(_ + 1).getOrElse(0L),
        timestampMs = 0L, operation = if (i == 0) "CREATE" else "APPEND",
        schemaJson = schema.json, partitionColumns = Nil, files = files), conf)
      expected = Some(v)
    }
    val fsys = TxLog.fs(logDir, conf)
    val headLen = fsys.getFileStatus(
      new Path(logDir, f"v${499L}%08d.metadata.json")).getLen
    // a full 500-file list would serialize to ~40KB+; the checkpointed
    // head must stay an order of magnitude under that
    assert(headLen < 4096, s"head snapshot is $headLen bytes — not O(changed)")
    val head = TxLog.read(logDir, 499L, conf)
    assert(head.files.size === 500)
    assert(head.files.map(_.path).distinct.size === 500)
    assert(head.manifests.nonEmpty)
    // per-commit added records are exact: commit i added exactly file i
    assert(TxLog.readAdded(logDir, 0L, conf) === Seq("f00000.parquet"))
    assert(TxLog.readAdded(logDir, 317L, conf) === Seq("f00317.parquet"))
    // a delete that breaks one manifest group only rewrites that group
    val without = head.files.filterNot(_.path == "f00007.parquet")
    TxLog.commit(logDir, expected, Snapshot(
      version = 500L, timestampMs = 0L, operation = "DELETE",
      schemaJson = schema.json, partitionColumns = Nil,
      files = without), conf)
    val afterDel = TxLog.read(logDir, 500L, conf)
    assert(afterDel.files.size === 499)
    assert(TxLog.readAdded(logDir, 500L, conf) === Nil)
    val delLen = fsys.getFileStatus(
      new Path(logDir, f"v${500L}%08d.metadata.json")).getLen
    assert(delLen < 8192, s"delete snapshot is $delLen bytes")
  }

  test("concurrent GraftSql routing across two warehouses never cross-targets") {
    import spark.implicits._
    val catA = new TableCatalog(spark, new Path(freshDir("sql_thr_a")))
    val catB = new TableCatalog(spark, new Path(freshDir("sql_thr_b")))
    catA.createTable("ns", "t", Seq((1, "x")).toDF("id", "tag").schema, Nil)
    catB.createTable("ns", "t", Seq((1, "x")).toDF("id", "tag").schema, Nil)
    // same statement text, same ns.tbl name, different warehouses — the
    // round-6 single shared catalog name could cross-target under
    // concurrency (one thread's warehouse repoint visible to the other)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val spans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Long, Long)]())
    try {
      val tasks = Seq(("A", catA), ("B", catB)).map { case (tag, cat) =>
        pool.submit(new java.util.concurrent.Callable[(Long, Seq[String])] {
          override def call(): (Long, Seq[String]) = {
            (1 to 10).foreach { i =>
              val t0 = System.nanoTime()
              cat.sql(s"INSERT INTO ns.t VALUES ($i, '$tag')")
              spans.add((tag, t0, System.nanoTime()))
            }
            val tags = cat.sql("SELECT DISTINCT tag FROM ns.t")
              .as[String].collect().toSeq
            val n = cat.sql("SELECT count(*) AS n FROM ns.t")
              .as[Long].head()
            (n, tags)
          }
        })
      }
      val results = tasks.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(results(0) === ((10L, Seq("A"))), s"catalog A saw ${results(0)}")
      assert(results(1) === ((10L, Seq("B"))), s"catalog B saw ${results(1)}")
      // NO serialization: eager statements from the two warehouses must
      // overlap in time (the former session-global current-catalog lock
      // made every pair disjoint)
      import scala.jdk.CollectionConverters._
      val all = spans.asScala.toSeq
      val overlaps = for {
        (ta, sa, ea) <- all; (tb, sb, eb) <- all
        if ta == "A" && tb == "B" && sa < eb && sb < ea
      } yield 1
      assert(overlaps.nonEmpty,
        "no cross-warehouse statement pair overlapped — routing is serialized")
    } finally pool.shutdown()
  }

  test("RESTORE rewinds table state as a new commit, history preserved") {
    import spark.implicits._
    val cat = new TableCatalog(spark, new Path(freshDir("tx_restore")))
    val t = cat.createTable("ops", "r",
      Seq((1L, "a")).toDF("id", "tag").schema, Nil)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))             // v1
    t.append(Seq((3L, "c")).toDF("id", "tag"))                        // v2
    t.delete(col("id") === 1L)                                        // v3
    assert(t.toDF.count() === 2)
    val res = cat.sql("RESTORE TABLE ops.r TO VERSION AS OF 1")
      .collect()(0).getString(0)
    assert(res === "RESTORED ops.r to v1 as v4", res)
    // state is exactly v1's; the restore is a NEW commit
    assert(t.currentVersion === 4L)
    assert(t.toDF.select("id").as[Long].collect().sorted === Array(1L, 2L))
    // restored-away versions remain time-travelable
    assert(t.asOf(3L).count() === 2)
    assert(t.asOf(2L).count() === 3)
    // restoring to a vacuumed-away version fails cleanly: overwrite
    // orphans v1's files, vacuum reclaims them, restore must refuse
    t.overwrite(Seq((9L, "z")).toDF("id", "tag"))                     // v5
    t.vacuum(retainVersions = 1, graceMillis = 0)
    val err = intercept[IllegalArgumentException] {
      t.restore(1L)
    }
    assert(err.getMessage.contains("already vacuumed"))
  }

  test("expireSnapshots bounds the log: headers below horizon go, tags survive") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_expire")), "t",
      Seq((1L, 1.0)).toDF("id", "v").schema, Nil)
    (1 to 9).foreach(i => t.append(Seq((i.toLong, i * 1.0)).toDF("id", "v")))
    assert(t.currentVersion === 9L)
    t.tag("audit", 2L)                       // protect an old version
    val tsAtV5 = TxLog.readRaw(new Path(t.root, "_log"), 5L,
      spark.sparkContext.hadoopConfiguration).timestampMs
    val removed = t.expireSnapshots(retainVersions = 3)  // keep 7, 8, 9
    assert(removed === 6, s"removed $removed")           // 0,1,3,4,5,6 (2 tagged)
    val fsys = t.root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fsys.exists(new Path(t.root, "_log/v00000000.metadata.json")))
    assert(fsys.exists(new Path(t.root, "_log/v00000002.metadata.json")))
    // head reads, history of retained versions, counts all intact
    assert(t.toDF.count() === 9)
    assert(t.currentVersion === 9L)
    // tagged version still time-travels
    assert(t.asOfTag("audit").count() === 2)
    // expired version fails cleanly
    intercept[Exception] { t.asOf(5L).count() }
    // TIMESTAMP AS OF with a cutoff inside the expired range errors
    // (the instant's snapshot no longer exists), while a recent cutoff
    // still resolves
    intercept[IllegalArgumentException] {
      TxLog.versionAtOrBefore(new Path(t.root, "_log"), 9L, tsAtV5,
        spark.sparkContext.hadoopConfiguration)
    }
    assert(TxLog.versionAtOrBefore(new Path(t.root, "_log"), 9L,
      System.currentTimeMillis(),
      spark.sparkContext.hadoopConfiguration) === 9L)
    // provenance still answers: expired-commit files attribute to the
    // earliest retained (or tagged) snapshot containing them
    val prov = t.readWithProvenance()
    assert(prov.count() === 9)
    assert(prov.select("_commit_version").as[Long].collect().forall(_ >= 2L))
  }

  test("SQL maintenance: OPTIMIZE [ZORDER BY], VACUUM, DESCRIBE HISTORY route") {
    import spark.implicits._
    val cat = new TableCatalog(spark, new Path(freshDir("sql_maint")))
    val t = cat.createTable("ops", "t",
      Seq((1L, 2.0)).toDF("id", "v").schema, Nil)
    (1 to 5).foreach(i =>
      t.append(Seq((i.toLong, i * 1.0)).toDF("id", "v")))
    val filesBefore = t.snapshot.files.size
    assert(filesBefore >= 5)
    val res = cat.sql("OPTIMIZE ops.t ZORDER BY (id, v)")
      .collect()(0).getString(0)
    assert(res.startsWith("OPTIMIZED ops.t ZORDER BY (id, v)"), res)
    assert(t.snapshot.files.size < filesBefore)
    assert(t.toDF.count() === 5)
    val hist = cat.sql("DESCRIBE HISTORY ops.t")
    assert(hist.columns.contains("operation"))
    assert(hist.select("operation").as[String].collect().head === "COMPACT")
    // vacuum with retention keeps current-version files (grace window
    // protects the rest in this fresh table)
    val vac = cat.sql("VACUUM ops.t RETAIN 1 VERSIONS").collect()(0).getString(0)
    assert(vac.startsWith("VACUUMED ops.t removed"), vac)
    assert(t.toDF.count() === 5)
  }

  test("merge-on-read equality deletes: no rewrite, sequence rule, compact applies") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_mor")), "t",
      Seq(("k1", 1, "a")).toDF("id", "v", "tag").schema, Nil)
    t.append(Seq(("k1", 1, "a"), ("k2", 2, "a"), ("k3", 3, "b"))
      .toDF("id", "v", "tag"))                                        // v1
    val dataFilesBefore = t.snapshot.files.map(_.path).toSet
    // MOR delete: commit is metadata + one tiny delete file — the data
    // files are untouched
    t.deleteMor(col("tag") === "a" && col("v") >= 2, "id")            // v2
    assert(t.snapshot.files.map(_.path).toSet === dataFilesBefore,
      "MOR delete must not rewrite data files")
    assert(t.snapshot.equalityDeletes.size === 1)
    assert(t.toDF.select("id").as[String].collect().sorted === Array("k1", "k3"))
    assert(t.count() === 2L)                 // metadata count falls back
    // sequence rule: re-inserting a deleted key AFTER the delete
    // survives (its file's seq > the delete's seq)
    t.append(Seq(("k2", 99, "c")).toDF("id", "v", "tag"))             // v3
    assert(t.toDF.select("id", "v").as[(String, Int)].collect().toSet ===
      Set(("k1", 1), ("k3", 3), ("k2", 99)))
    // a second MOR delete stacks (deletes the re-inserted row too)
    t.deleteMor(col("id") === "k3" || col("id") === "k2", "id")       // v4
    assert(t.toDF.select("id").as[String].collect() === Array("k1"))
    assert(t.snapshot.equalityDeletes.size === 2)
    // predicates evaluate against the delete-applied view: deleting
    // already-deleted rows is a no-op commit
    val vBefore = t.currentVersion
    t.deleteMor(col("tag") === "b", "id")
    assert(t.currentVersion === vBefore, "empty delete set must not commit")
    // COW ops read delete-applied data; compact applies & clears
    t.compact()                                                       // v5
    assert(t.snapshot.equalityDeletes.isEmpty, "compact must clear deletes")
    assert(t.toDF.select("id").as[String].collect() === Array("k1"))
    assert(t.count() === 1L)                 // metadata-only again
    // orphaned delete files reclaimed past the retention horizon
    val deletesDir = new Path(t.root, "deletes")
    val fsys = t.root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.listStatus(deletesDir).nonEmpty)
    t.vacuum(retainVersions = 1, graceMillis = 0)
    assert(!fsys.exists(deletesDir) || fsys.listStatus(deletesDir).isEmpty)
  }

  test("head-hint version discovery: hint happy path, probe-forward, and listing fallbacks") {
    val logDir = new Path(freshDir("tx_hint"), "_log")
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    var expected: Option[Long] = None
    (0 until 5).foreach { i =>
      expected = Some(TxLog.commit(logDir, expected, Snapshot(
        version = expected.map(_ + 1).getOrElse(0L),
        timestampMs = 0L, operation = if (i == 0) "CREATE" else "APPEND",
        schemaJson = schema.json, partitionColumns = Nil,
        files = Seq(DataFile(f"h$i%03d.parquet", Map.empty, 1L, 10L))), conf))
    }
    val f = TxLog.fs(logDir, conf)
    val hint = new Path(logDir, "_head.hint")
    def hintContent(): String = {
      val in = f.open(hint)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    def writeHint(s: String): Unit = {
      val out = f.create(hint, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // the hint refreshes on the HintEvery cadence (r13: a per-commit
    // hint write was a full round-trip per commit for a cold-start-only
    // saving) — after commits 0..4 only v0 qualified
    assert(f.exists(hint) && hintContent() === "0")
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    // cold process (caches purged): the lagging hint seeds a forward
    // probe that still finds the true head — lag ≤ HintEvery by design
    TxLog.purgeRawCache(logDir)
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    // a stale hint is corrected by the forward probe, never trusted
    TxLog.purgeRawCache(logDir)
    writeHint("1")
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    // a torn/corrupt hint falls back to the listing
    TxLog.purgeRawCache(logDir)
    writeHint("not-a-number")
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    // a missing hint falls back to the listing
    TxLog.purgeRawCache(logDir)
    f.delete(hint, false)
    assert(TxLog.currentVersion(logDir, conf) === Some(4L))
    // the next cadence-boundary commit restores it
    (5L to TxLog.HintEvery).foreach { v =>
      TxLog.commit(logDir, Some(v - 1), Snapshot(
        version = v, timestampMs = 0L, operation = "APPEND",
        schemaJson = schema.json, partitionColumns = Nil,
        files = Seq(DataFile(f"h$v%03d.parquet", Map.empty, 1L, 10L))), conf)
    }
    assert(hintContent() === TxLog.HintEvery.toString)
    assert(TxLog.currentVersion(logDir, conf) === Some(TxLog.HintEvery))
  }

  test("readChanged resolves a K-commit catch-up in O(changed), not O(K x table)") {
    // Synthetic log, 120 single-file commits: readChanged(v) must open
    // only the manifest commit v itself introduced — never the whole
    // snapshot — so a streaming catch-up over K commits costs O(K), not
    // K × refs. Measured against the full-resolution walk on the SAME
    // log via the manifest-resolution counter.
    val logDir = new Path(freshDir("tx_changed"), "_log")
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    var files = Vector.empty[DataFile]
    var expected: Option[Long] = None
    (0 until 120).foreach { i =>
      files = files :+ DataFile(f"c$i%05d.parquet", Map.empty, 10L, 100L)
      expected = Some(TxLog.commit(logDir, expected, Snapshot(
        version = expected.map(_ + 1).getOrElse(0L),
        timestampMs = 0L, operation = if (i == 0) "CREATE" else "APPEND",
        schemaJson = schema.json, partitionColumns = Nil, files = files), conf))
    }
    // correctness: the union of per-commit changes is every file, each
    // attributed exactly once, with real size/partition records
    val before = TxLog.manifestResolutionCount
    val changed = (0L to 119L).flatMap(v => TxLog.readChanged(logDir, v, conf))
    val incremental = TxLog.manifestResolutionCount - before
    assert(changed.map(_.path) === (0 until 120).map(i => f"c$i%05d.parquet"))
    assert(changed.forall(_.sizeBytes === 100L))
    // the old shape: resolve the FULL snapshot per version
    val beforeFull = TxLog.manifestResolutionCount
    (0L to 119L).foreach(v => TxLog.read(logDir, v, conf))
    val full = TxLog.manifestResolutionCount - beforeFull
    // readChanged opens ≤1 introduced manifest per commit; the full
    // walk resolves every ref of every version (quadratic-ish in refs)
    assert(incremental <= 125L, s"readChanged resolved $incremental manifests")
    assert(incremental * 3 < full,
      s"readChanged ($incremental) not materially cheaper than full replay ($full)")
  }

  test("vacuum removes orphaned manifests but never referenced ones") {
    val root = new Path(freshDir("tx_vac_manifest"))
    val t = TxTable.create(spark, root, "t", Schemas.transactions, Nil)
    (1 to 12).foreach { i =>
      t.append(SampleData.transactions(spark, 5, seed = 900L + i))
    }
    // an overwrite breaks every previous manifest group (orphans them
    // once their snapshots age out of retention)
    t.overwrite(SampleData.transactions(spark, 10, seed = 999L))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifests(): Set[String] =
      fs.listStatus(new Path(root, "_log")).map(_.getPath.getName)
        .filter(_.endsWith(".manifest.json")).toSet
    val before = manifests()
    val removed = t.vacuum(retainVersions = 1, graceMillis = 0)
    assert(removed > 0)
    val after = manifests()
    assert(after.subsetOf(before))
    // every manifest the head still references survives, and reads work
    val headRefs = TxLog.readRaw(new Path(root, "_log"), t.currentVersion,
      spark.sparkContext.hadoopConfiguration).manifests.map(_.path).toSet
    assert(headRefs.subsetOf(after))
    assert(t.toDF.count() === 10)
  }

  test("vacuum reaps orphaned manifest-list files, keeps referenced ones") {
    // drive the ref list past the inline bound so headers carry
    // manifest-LIST files (see TxLog's two-level layout): tier-sized
    // appends stack 9 same-size manifests without merging — every
    // ref-changing commit above 8 refs writes a new list and orphans
    // its parent's
    val root = new Path(freshDir("tx_vac_mlist"))
    val t = TxTable.create(spark, root, "t", Schemas.transactions, Nil)
    // no partition columns → file count per append = shuffle
    // partitions of the written frame. Three manifests in each of
    // tiers 1/2/3 stack to 9 refs (list file #1) without a merge;
    // two tier-4 appends then change the refs twice more (lists #2,
    // #3), orphaning their parents.
    // row counts are ≥3× the partition counts so written-file counts
    // land mid-tier even when a few partitions come up empty
    // (tiers at TierUnit 33: 33-131 / 132-527 / 528-2111 / 2112+ files)
    val shapes = Seq.fill(3)((150, 50)) ++ Seq.fill(3)((600, 200)) ++
      Seq.fill(3)((1800, 600)) ++ Seq.fill(2)((11000, 2200))
    shapes.zipWithIndex.foreach { case ((rows, files), i) =>
      t.append(SampleData.transactions(spark, rows, seed = 300L + i)
        .repartition(files))
    }
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFiles(): Set[String] =
      fs.listStatus(new Path(root, "_log")).map(_.getPath.getName)
        .filter(_.endsWith(".manifestlist.json")).toSet
    val logDir = new Path(root, "_log")
    val headRaw = TxLog.readRaw(logDir, t.currentVersion,
      spark.sparkContext.hadoopConfiguration)
    assert(headRaw.manifestList.isDefined,
      s"head should be past the inline-refs bound, has ${headRaw.manifests.size} refs")
    val before = listFiles()
    assert(before.size > 1)          // superseded lists accumulated
    val removed = t.vacuum(retainVersions = 1, graceMillis = 0)
    assert(removed > 0)
    val after = listFiles()
    // the head's list survives; every unreferenced one is gone
    assert(after.contains(headRaw.manifestList.get))
    assert(after.subsetOf(before))
    assert(after.size < before.size)
    // and reads still resolve through the surviving list
    TxLog.purgeRawCache(logDir)
    assert(t.toDF.count() === shapes.map(_._1.toLong).sum)
  }

  test("provenance stays exact across checkpointed commits") {
    val t = TxTable.create(spark, new Path(freshDir("tx_prov_ckpt")), "t",
      Schemas.transactions, Nil)
    // enough commits that manifests kick in (inline accumulation past
    // InlineMaxFiles=32) and at least one reuse+remainder split happens
    (1 to 12).foreach { i =>
      t.append(SampleData.transactions(spark, 25, seed = 700L + i)
        .repartition(5))
    }
    val prov = t.readWithProvenance()
    val byVersion = prov.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion === (1 to 12).map(v => v.toLong -> 25L).toMap)
    // and the plan carries no UDF: the file→version decoration is a
    // broadcast join, which stays inside codegen
    val plan = prov.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("udf("),
      s"provenance decoration should be a broadcast join, got:\n$plan")
  }

  test("branch: write-audit-publish lifecycle (isolation, fast-forward, drop)") {
    val t = TxTable.create(spark, new Path(freshDir("tx_branch_wap")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 50, seed = 800L)) // v1
    val fork = t.createBranch("audit")
    assert(fork === 1L)
    assert(t.branches === Seq("audit"))
    val b = t.branch("audit")
    assert(b.toDF.count() === 50)
    // branch writes: an append and an update, invisible to main
    b.append(SampleData.transactions(spark, 10, seed = 801L))
    b.update(col("risk_score") === "HIGH",
      Map("risk_score" -> lit("AUDITED")))
    assert(b.toDF.count() === 60)
    assert(b.toDF.filter(col("risk_score") === "AUDITED").count() > 0)
    assert(t.toDF.count() === 50)
    assert(t.toDF.filter(col("risk_score") === "AUDITED").count() === 0)
    assert(t.currentVersion === 1L)
    // branch chain continues ABOVE the fork version (seq coherence)
    assert(b.currentVersion > fork)
    // publish: one metadata commit; main now shows the audited state
    val v = t.fastForward("audit")
    assert(v === 2L)
    assert(t.toDF.count() === 60)
    assert(t.toDF.filter(col("risk_score") === "AUDITED").count()
      === b.toDF.filter(col("risk_score") === "AUDITED").count())
    assert(t.history().select("operation").first().getString(0)
      === "FASTFORWARD")
    t.dropBranch("audit")
    assert(t.branches.isEmpty)
    // branch-handle misuse fails fast
    intercept[IllegalArgumentException](b.createBranch("nested"))
    intercept[IllegalArgumentException](b.vacuum())
  }

  test("branch: fast-forward refuses a diverged main") {
    val t = TxTable.create(spark, new Path(freshDir("tx_branch_diverge")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 20, seed = 810L))
    t.createBranch("wip")
    t.branch("wip").append(SampleData.transactions(spark, 5, seed = 811L))
    t.append(SampleData.transactions(spark, 5, seed = 812L)) // main moves
    val e = intercept[IllegalArgumentException](t.fastForward("wip"))
    assert(e.getMessage.contains("diverge"))
    // main and branch both intact after the refusal
    assert(t.toDF.count() === 25)
    assert(t.branch("wip").toDF.count() === 25)
  }

  test("branch: merge-on-read deletes keep seq coherence across the fork") {
    val t = TxTable.create(spark, new Path(freshDir("tx_branch_mor")), "t",
      Schemas.transactions, Nil)
    t.append(SampleData.transactions(spark, 30, seed = 820L)) // v1, seqs=1
    t.createBranch("gdpr")
    val b = t.branch("gdpr")
    val victim = b.toDF.select("transaction_id").orderBy("transaction_id")
      .first().getString(0)
    // MOR delete on the branch: fork files (seq 1) < delete seq (> fork)
    b.deleteMor(col("transaction_id") === victim, "transaction_id")
    assert(b.toDF.filter(col("transaction_id") === victim).count() === 0)
    assert(b.toDF.count() === 29)
    // re-insert AFTER the delete: its file seq exceeds the delete's — survives
    val reborn = SampleData.transactions(spark, 30, seed = 820L)
      .filter(col("transaction_id") === victim)
    b.append(reborn)
    assert(b.toDF.filter(col("transaction_id") === victim).count() === 1)
    // publishing with a branch-created MOR delete outstanding is refused
    val e = intercept[IllegalArgumentException](t.fastForward("gdpr"))
    assert(e.getMessage.contains("merge-on-read"))
    // compaction applies + clears the delete; publish then succeeds
    b.compact()
    t.fastForward("gdpr")
    assert(t.toDF.count() === 30)
    assert(t.toDF.filter(col("transaction_id") === victim).count() === 1)
  }

  test("branch: vacuum never reclaims files a live branch references") {
    val t = TxTable.create(spark, new Path(freshDir("tx_branch_vacuum")), "t",
      Schemas.transactions, Nil)
    t.append(SampleData.transactions(spark, 20, seed = 830L)) // v1
    t.createBranch("keepme")
    // main overwrites everything — v1's files now referenced ONLY by
    // the branch (and v1 itself, which retainVersions=1 drops)
    t.overwrite(SampleData.transactions(spark, 5, seed = 831L)) // v2
    t.vacuum(retainVersions = 1, graceMillis = 0)
    // branch still reads its fork state intact
    assert(t.branch("keepme").toDF.count() === 20)
    // after the branch is dropped the files become reclaimable
    t.dropBranch("keepme")
    val removed = t.vacuum(retainVersions = 1, graceMillis = 0)
    assert(removed > 0)
    assert(t.toDF.count() === 5)
  }

  test("TBLPROPERTIES: stored at create, SET/UNSET/SHOW, carried by commits") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_props")))
    cat.createNamespace("ns")
    GraftSql.sql(cat,
      "CREATE TABLE ns.p (id INT) TBLPROPERTIES ('owner'='graft', 'tier'='gold')")
    val t = cat.getTable("ns", "p")
    assert(t.properties === Map("owner" -> "graft", "tier" -> "gold"))
    GraftSql.sql(cat, "ALTER TABLE ns.p SET TBLPROPERTIES ('tier'='silver', 'ttl'='30d')")
    GraftSql.sql(cat, "ALTER TABLE ns.p UNSET TBLPROPERTIES ('owner', 'missing')")
    val shown = GraftSql.sql(cat, "SHOW TBLPROPERTIES ns.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown === Map("tier" -> "silver", "ttl" -> "30d"))
    // data commits carry properties; SHOW CREATE emits them
    GraftSql.sql(cat, "INSERT INTO ns.p SELECT 1")
    assert(t.properties("tier") === "silver")
    val ddl = GraftSql.sql(cat, "SHOW CREATE TABLE ns.p").first().getString(0)
    assert(ddl.contains("TBLPROPERTIES ('tier'='silver', 'ttl'='30d')"))
    // V2 table exposure
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", cat.warehouse.toString)
    val v2props = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("ns"), "p")).properties()
    assert(v2props.get("tier") === "silver")
    // the NATIVE V2 path stores/removes them too (Catalyst-parsed ALTER
    // and CREATE ... TBLPROPERTIES through the catalog plugin)
    spark.sql("ALTER TABLE graft.ns.p SET TBLPROPERTIES ('native'='yes')")
    assert(cat.getTable("ns", "p").properties("native") === "yes")
    spark.sql("ALTER TABLE graft.ns.p UNSET TBLPROPERTIES ('native')")
    assert(!cat.getTable("ns", "p").properties.contains("native"))
    spark.sql(
      "CREATE TABLE graft.ns.p2 (id INT) TBLPROPERTIES ('kind'='native')")
    assert(cat.getTable("ns", "p2").properties === Map("kind" -> "native"))
  }

  test("SHOW CREATE TABLE round-trips through the DDL parser") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_showcreate")))
    cat.createNamespace("ns")
    GraftSql.sql(cat,
      """CREATE TABLE ns.s (id STRING NOT NULL, amount DECIMAL(12,2),
         meta STRUCT<a: STRING, b: INT>, date DATE) PARTITIONED BY (date)""")
    cat.getTable("ns", "s").addConstraint("amt_pos", "amount > 0")
    val ddl = GraftSql.sql(cat, "SHOW CREATE TABLE ns.s").first().getString(0)
    assert(ddl.contains("id STRING NOT NULL"))
    assert(ddl.contains("PARTITIONED BY (date)"))
    assert(ddl.contains("ADD CONSTRAINT amt_pos CHECK (amount > 0)"))
    // the emitted statements rebuild an identical table
    ddl.split(";").map(_.trim).filter(_.nonEmpty).foreach(stmt =>
      GraftSql.sql(cat, stmt.replace("ns.s", "ns.s2")))
    val a = cat.getTable("ns", "s"); val b = cat.getTable("ns", "s2")
    assert(a.schema === b.schema)
    assert(a.snapshot.partitionColumns === b.snapshot.partitionColumns)
    assert(a.constraints === b.constraints)
  }

  test("DESCRIBE DETAIL and time-based snapshot expiration") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_detail")))
    cat.createNamespace("ns")
    GraftSql.sql(cat, "CREATE TABLE ns.d (id INT, p STRING) PARTITIONED BY (p)")
    (1 to 3).foreach(i => GraftSql.sql(cat, s"INSERT INTO ns.d SELECT $i, 'x'"))
    val t = cat.getTable("ns", "d")
    t.createBranch("wip")
    t.addConstraint("id_pos", "id > 0")
    val d = GraftSql.sql(cat, "DESCRIBE DETAIL ns.d").collect().head
    assert(d.getAs[String]("name") === "ns.d")
    assert(d.getAs[Long]("version") === 4L) // create + 3 inserts + constraint
    assert(d.getAs[String]("partition_columns") === "p")
    assert(d.getAs[Long]("num_files") === 3L)
    assert(d.getAs[String]("branches") === "wip")
    assert(d.getAs[Long]("num_constraints") === 1L)
    // time-based expiration: everything at/before v2's commit time goes,
    // except tag-protected versions; later versions stay readable
    t.tag("keep_v1", 1L)
    val cutoff = t.snapshotAt(2L).timestampMs
    val removed = t.expireSnapshotsOlderThan(cutoff)
    assert(removed === 2) // v0 and v2 expired; v1 tag-protected
    assert(t.asOfTag("keep_v1").count() === 1)
    intercept[Exception](t.snapshotAt(2L))
    assert(t.toDF.count() === 3)
  }

  test("OPTIMIZE WHERE: compaction rewrites only the selected partitions") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_opt_where")))
    cat.createNamespace("ns")
    GraftSql.sql(cat, "CREATE TABLE ns.o (id INT, p STRING) PARTITIONED BY (p)")
    // fragment partition 'a' with 4 tiny commits; 'b' gets one
    (1 to 4).foreach(i =>
      GraftSql.sql(cat, s"INSERT INTO ns.o SELECT $i, 'a'"))
    GraftSql.sql(cat, "INSERT INTO ns.o SELECT 9, 'b'")
    val t = cat.getTable("ns", "o")
    val before = t.snapshot.files
    assert(before.count(_.partitionValues.get("p").contains("a")) === 4)
    val bFiles = before.filter(_.partitionValues.get("p").contains("b")).map(_.path)
    GraftSql.sql(cat, "OPTIMIZE ns.o WHERE p = 'a'")
    val after = t.snapshot.files
    // 'a' compacted to one file; 'b' files untouched (same paths)
    assert(after.count(_.partitionValues.get("p").contains("a")) === 1)
    assert(after.filter(_.partitionValues.get("p").contains("b")).map(_.path)
      === bFiles)
    assert(t.toDF.count() === 5)
    // a non-partition WHERE is refused, not silently widened
    val e = intercept[IllegalArgumentException](
      GraftSql.sql(cat, "OPTIMIZE ns.o WHERE id = 1"))
    assert(e.getMessage.contains("partition-column"))
  }

  test("CHECK constraints: validated on add, enforced on every write path") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_constraints")))
    cat.createNamespace("ns")
    GraftSql.sql(cat, "CREATE TABLE ns.c (id INT, amount INT, status STRING)")
    GraftSql.sql(cat, "INSERT INTO ns.c SELECT 1, 10, 'OK'")
    // adding a constraint existing data violates is refused
    val bad = intercept[IllegalArgumentException](GraftSql.sql(cat,
      "ALTER TABLE ns.c ADD CONSTRAINT amount_neg CHECK (amount < 0)"))
    assert(bad.getMessage.contains("1 existing row"))
    GraftSql.sql(cat,
      "ALTER TABLE ns.c ADD CONSTRAINT amount_pos CHECK (amount > 0)")
    val t = cat.getTable("ns", "c")
    assert(t.constraints === Map("amount_pos" -> "amount > 0"))
    // a violating INSERT fails with the constraint's name; nothing lands
    val e = intercept[Exception](
      GraftSql.sql(cat, "INSERT INTO ns.c SELECT 2, -5, 'BAD'"))
    assert(e.getMessage.contains("amount_pos") ||
      Option(e.getCause).exists(_.getMessage.contains("amount_pos")))
    assert(t.toDF.count() === 1)
    // NULL conditions pass (SQL CHECK semantics)
    GraftSql.sql(cat, "INSERT INTO ns.c SELECT 3, NULL, 'NULL_OK'")
    assert(t.toDF.count() === 2)
    // UPDATE cannot smuggle a violation through SET
    val u = intercept[Exception](
      GraftSql.sql(cat, "UPDATE ns.c SET amount = -1 WHERE id = 1"))
    assert(u.getMessage.contains("amount_pos") ||
      Option(u.getCause).exists(_.getMessage.contains("amount_pos")))
    // merge path enforces too
    val m = intercept[Exception] {
      t.merge(spark.sql("SELECT 9 AS id, -7 AS amount, 'X' AS status, 1L AS ts"),
        "id", "ts")
    }
    assert(m.getMessage.contains("amount_pos") ||
      Option(m.getCause).exists(_.getMessage.contains("amount_pos")))
    // dropped constraint stops gating
    GraftSql.sql(cat, "ALTER TABLE ns.c DROP CONSTRAINT amount_pos")
    GraftSql.sql(cat, "INSERT INTO ns.c SELECT 4, -5, 'NOW_OK'")
    assert(t.toDF.count() === 3)
  }

  test("shallow clone: metadata-only copy, independent histories") {
    val t = TxTable.create(spark, new Path(freshDir("tx_clone_src")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 40, seed = 840L)) // v1
    val destDir = freshDir("tx_clone_dst")
    val c = t.cloneTo(new Path(destDir), "c")
    // clone starts at the source's version and sees the same rows
    assert(c.currentVersion === t.currentVersion)
    assert(c.toDF.count() === 40)
    // no data was copied: the clone's own data dir doesn't exist yet
    assert(!new java.io.File(destDir, "data").exists())
    // clone writes don't touch the source; source writes don't touch the clone
    val local = SampleData.transactions(spark, 10, seed = 841L)
    c.append(local)
    // the clone now spans two data roots (the source's and its own), and
    // still scans through the snapshot index: no listing, no inference
    val df = c.toDF
    val locations = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.collect {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location
    }
    assert(locations.nonEmpty && locations.forall(
      _.isInstanceOf[org.apache.spark.sql.graft.SnapshotFileIndex]), locations)
    assert(!df.queryExecution.analyzed.toString.contains("InMemoryFileIndex"))
    assert(locations.flatMap(_.rootPaths).distinct.size === 2)
    // rows unchanged: the source's rows plus the local append
    val typed = Schemas.transactions.fields.map(f => col(f.name).cast(f.dataType))
    def keyed(d: org.apache.spark.sql.DataFrame) =
      d.select(typed: _*).collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(keyed(df) === keyed(t.toDF.unionByName(local.select(typed: _*))))
    c.update(col("risk_score") === "HIGH", Map("status" -> lit("CLONED")))
    assert(c.toDF.count() === 50)
    assert(t.toDF.count() === 40)
    assert(t.toDF.filter(col("status") === "CLONED").count() === 0)
    t.append(SampleData.transactions(spark, 5, seed = 842L))
    assert(c.toDF.count() === 50)
    // compact migrates the clone fully local: every path relative after
    c.compact()
    assert(c.snapshot.files.forall(f => !new Path(f.path).isAbsolute))
    assert(c.toDF.count() === 50)
  }

  test("shallow clone: carries MOR deletes and seq semantics") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_clone_mor")))
    cat.createNamespace("ns")
    val t = TxTable.create(spark, cat.tableRoot("ns", "src"), "ns.src",
      Schemas.transactions, Nil)
    t.append(SampleData.transactions(spark, 20, seed = 850L)) // v1
    val ids = t.toDF.select("transaction_id").orderBy("transaction_id")
      .collect().map(_.getString(0))
    val victim = ids(0)
    t.deleteMor(col("transaction_id") === victim, "transaction_id") // v2
    // re-insert after the delete: survives via seq rule
    t.append(SampleData.transactions(spark, 20, seed = 850L)
      .filter(col("transaction_id") === victim)) // v3
    assert(t.toDF.count() === 20)
    // a deletion vector too: its data file AND sidecar live under the
    // source root, so the clone must carry both by absolute path
    val dvVictim = ids(1)
    t.deletePos(col("transaction_id") === dvVictim) // v4
    assert(t.snapshot.deletionVectors.nonEmpty)
    assert(t.toDF.count() === 19)
    val c = t.cloneTo(cat.tableRoot("ns", "dst"), "ns.dst")
    def sqlCount(q: String): Long = GraftSql.sql(cat, q).first().getLong(0)
    // the clone sees the identical MOR-resolved state through every door:
    // metadata count, TxTable scan, and the SQL (V2 merge-on-read) scan
    assert(c.count() === t.count())
    assert(c.toDF.count() === t.toDF.count())
    assert(sqlCount("SELECT count(*) FROM ns.dst") ===
      sqlCount("SELECT count(*) FROM ns.src"))
    assert(c.count() === 19)
    assert(c.toDF.filter(col("transaction_id") === dvVictim).count() === 0)
    assert(sqlCount(
      s"SELECT count(*) FROM ns.dst WHERE transaction_id = '$dvVictim'") === 0L)
    assert(c.toDF.filter(col("transaction_id") === victim).count() === 1)
    // a clone-side MOR delete works too (its seq continues the chain)
    val victim2 = c.toDF.select("transaction_id").orderBy(col("transaction_id").desc)
      .first().getString(0)
    c.deleteMor(col("transaction_id") === victim2, "transaction_id")
    assert(c.toDF.count() === 18)
    // positional delete and MOR update on the clone: their ref scans
    // run over the source's absolute-path files and the carried vector
    val before = c.toDF.collect()
    val statusAt = before.head.fieldIndex("status")
    val (posVictim, updKey) = (ids(2), ids(3))
    c.deletePos(col("transaction_id") === posVictim)
    c.updateMor(col("transaction_id") === updKey, Map("status" -> lit("CLONED")))
    val model = before.filterNot(_.getAs[String]("transaction_id") == posVictim)
      .map { r =>
        if (r.getAs[String]("transaction_id") != updKey) r.toSeq
        else r.toSeq.updated(statusAt, "CLONED")
      }
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(keyed(c.toDF.collect()) === model.sortBy(_.head.toString).toSeq)
    assert(keyed(GraftSql.sql(cat, "SELECT * FROM ns.dst").collect()) ===
      model.sortBy(_.head.toString).toSeq)
    assert(c.count() === 17)
    // the source is untouched by every clone-side write
    assert(t.toDF.count() === 19)
    assert(t.toDF.filter(col("status") === "CLONED").count() === 0)
  }

  test("shallow clone: SQL surface with VERSION AS OF") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_clone_sql")))
    cat.createNamespace("ns")
    GraftSql.sql(cat, "CREATE TABLE ns.src (id INT, v STRING)")
    GraftSql.sql(cat, "INSERT INTO ns.src SELECT 1, 'a'") // v1
    GraftSql.sql(cat, "INSERT INTO ns.src SELECT 2, 'b'") // v2
    GraftSql.sql(cat, "CREATE TABLE ns.dst SHALLOW CLONE ns.src VERSION AS OF 1")
    assert(GraftSql.sql(cat, "SELECT count(*) FROM ns.dst").first().getLong(0) === 1L)
    GraftSql.sql(cat, "CREATE TABLE ns.dst2 SHALLOW CLONE ns.src")
    assert(GraftSql.sql(cat, "SELECT count(*) FROM ns.dst2").first().getLong(0) === 2L)
    // IF NOT EXISTS tolerated, plain re-create rejected
    val r = GraftSql.sql(cat,
      "CREATE TABLE IF NOT EXISTS ns.dst SHALLOW CLONE ns.src")
    assert(r.first().getString(0).startsWith("EXISTS"))
    intercept[IllegalArgumentException](
      GraftSql.sql(cat, "CREATE TABLE ns.dst SHALLOW CLONE ns.src"))
  }

  test("branch: SQL surface — CREATE/SHOW/FAST FORWARD/DROP BRANCH") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_branch_sql")))
    cat.createNamespace("ns")
    GraftSql.sql(cat,
      "CREATE TABLE ns.b (id INT, v STRING) PARTITIONED BY (v)")
    GraftSql.sql(cat, "INSERT INTO ns.b SELECT 1, 'a'")
    GraftSql.sql(cat, "ALTER TABLE ns.b CREATE BRANCH audit")
    val shown = GraftSql.sql(cat, "SHOW BRANCHES IN ns.b").collect()
    assert(shown.map(_.getString(0)).toSeq === Seq("audit"))
    assert(shown.head.getLong(2) === 1L) // fork_version
    // write through the branch handle, then publish via SQL
    cat.getTable("ns", "b").branch("audit")
      .append(spark.sql("SELECT 2 AS id, 'b' AS v"))
    assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM ns.b")
      .first().getLong(0) === 1L)
    GraftSql.sql(cat, "ALTER TABLE ns.b FAST FORWARD audit")
    assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM ns.b")
      .first().getLong(0) === 2L)
    GraftSql.sql(cat, "ALTER TABLE ns.b DROP BRANCH audit")
    assert(cat.getTable("ns", "b").branches.isEmpty)
  }

  test("schema evolution on write: mergeSchema widens, old rows read NULL") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_evolve"), "t"),
      "ns.evolve", org.apache.spark.sql.types.StructType.fromDDL(
        "id STRING, v INT"), Nil)
    t.append(Seq(("a", 1), ("b", 2)).toDF("id", "v"))
    // plain append still DROPS unknown columns (strict by default)
    t.append(Seq(("c", 3, "x")).toDF("id", "v", "extra"))
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
    // mergeSchema: new column appended nullable; old rows read NULL
    t.append(Seq(("d", 4, "DE", 1.5)).toDF("id", "v", "cc", "score"),
      mergeSchema = true)
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "cc", "score"))
    assert(t.schema("cc").nullable && t.schema("score").nullable)
    val byId = t.toDF.collect().map(r => r.getString(0) ->
      (Option(r.get(2)), Option(r.get(3)))).toMap
    assert(byId("a") === ((None, None)))
    assert(byId("d") === ((Some("DE"), Some(1.5))))
    // CDC merge evolves too: upsert carrying a new column
    t.merge(Seq(("a", 10, "FR", 0.5, "m1")).toDF("id", "v", "cc", "score", "note"),
      key = "id", orderCol = "v", mergeSchema = true)
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "cc", "score", "note"))
    val a = t.toDF.filter($"id" === "a").head()
    assert(a.getInt(1) === 10 && a.getString(2) === "FR" && a.getString(4) === "m1")
    assert(t.toDF.count() === 4)
    // evolution refuses a name colliding with a dropped column's data
    t.dropColumn("note")
    intercept[IllegalArgumentException] {
      t.append(Seq(("e", 5, "note-data")).toDF("id", "v", "note"),
        mergeSchema = true)
    }
  }

  test("vacuum never reclaims files or manifests a tag still references") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = TxTable.create(spark, new Path(freshDir("tx_tagvac"), "t"),
      "ns.tagvac", StructType.fromDDL("id STRING, v INT"), Nil)
    t.append(Seq(("a", 1)).toDF("id", "v"))                     // v1
    t.append(Seq(("b", 2)).toDF("id", "v"))                     // v2
    t.tag("keep", 2)
    t.overwrite(Seq(("z", 9)).toDF("id", "v"))                  // v3: rolls v1-v2 files out of head
    // expire + vacuum below the tag: the tagged snapshot must stay readable
    t.expireSnapshots(retainVersions = 1)
    t.vacuum(retainVersions = 1, graceMillis = 0)
    assert(t.asOfTag("keep").collect().map(_.getString(0)).toSet === Set("a", "b"))
    assert(t.toDF.collect().map(_.getString(0)).toSeq === Seq("z"))
  }

  test("WRITE ORDERED BY clusters files into disjoint ranges; point reads hit one file") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val wh = freshDir("tx_writeorder")
    val cat = new TableCatalog(spark, new Path(wh))
    val t = cat.createTable("ns", "wo", StructType.fromDDL("id STRING, v INT"), Nil)
    GraftSql.sql(cat, "ALTER TABLE ns.wo WRITE ORDERED BY (v)")
    // unknown column refused
    intercept[IllegalArgumentException] {
      GraftSql.sql(cat, "ALTER TABLE ns.wo WRITE ORDERED BY (nope)") }
    // a shuffled frame across 4 tasks: without the declared order every
    // file would span ~the full [0,1000) value range
    val rnd = new scala.util.Random(7)
    val df = rnd.shuffle((0 until 1000).toList)
      .map(i => (s"id$i", i)).toDF("id", "v").repartition(4)
    t.append(df)
    val ranges = t.snapshot.files
      .flatMap(_.stats.flatMap(_.get("v"))).map(cs => (cs.min.toLong, cs.max.toLong))
    assert(ranges.size >= 2, s"expected multiple files, got $ranges")
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"overlapping file ranges: $sorted")
      case _ =>
    }
    // min/max skipping now isolates a point predicate to ONE file
    assert(t.readWhere("v", Some(500), Some(500)).inputFiles.length === 1)
    assert(t.readWhere("v", Some(500), Some(500)).collect()
      .map(_.getString(0)).toSeq === Seq("id500"))
    // WRITE UNORDERED clears the property; later writes stop clustering
    GraftSql.sql(cat, "ALTER TABLE ns.wo WRITE UNORDERED")
    assert(!cat.getTable("ns", "wo").snapshot.properties
      .contains(graft.table.TxTable.SortOrderProperty))
  }

  test("COPY INTO: idempotent file ingest — each source file loads exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = freshDir("tx_copyinto")
    val srcDir = new Path(dir, "incoming").toString
    Seq(("a", 1), ("b", 2)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val t = TxTable.create(spark, new Path(dir, "t"), "ns.copy",
      StructType.fromDDL("id STRING, v INT"), Nil)
    val (v1, n1) = t.copyInto(srcDir)
    assert(n1 === 1L && t.toDF.count() === 2)
    // replay: nothing new, NO commit
    val (v2, n2) = t.copyInto(srcDir)
    assert(n2 === 0L && v2 === v1 && t.toDF.count() === 2)
    // a new file arriving later in the same directory loads alone
    Seq(("c", 3)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val (_, n3) = t.copyInto(srcDir)
    assert(n3 === 1L)
    assert(t.toDF.collect().map(r => (r.getString(0), r.getInt(1))).toSet ===
      Set(("a", 1), ("b", 2), ("c", 3)))
    // path spelling variants track as ONE source (qualified-URI key)
    val (_, n4) = t.copyInto(srcDir + "/")
    assert(n4 === 0L)
  }

  test("ADD FILES registers external parquet in place: no copy, stats and vacuum safe") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = freshDir("tx_addfiles")
    val ext = new Path(dir, "external").toString
    Seq(("a", 10), ("b", 20)).toDF("id", "v").coalesce(1).write.parquet(ext)
    Seq(("c", 30), ("d", 40)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(ext)
    val t = TxTable.create(spark, new Path(dir, "t"), "ns.addf",
      StructType.fromDDL("id STRING, v INT"), Nil)
    val (_, n1) = t.addFiles(ext)
    assert(n1 === 2)
    // metadata-only: nothing was copied under the table's own data dir
    val hfs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val ownData = new Path(dir, "t/data")
    assert(!hfs.exists(ownData) || hfs.listStatus(ownData).isEmpty)
    // footer stats drive metadata counts and skipping as for native files
    assert(t.count() === 4)
    assert(t.readWhere("v", Some(30), None).collect()
      .map(_.getString(0)).toSet === Set("c", "d"))
    // idempotent
    assert(t.addFiles(ext)._2 === 0)
    // vacuum never touches files it does not own
    t.vacuum(retainVersions = 1, graceMillis = 0)
    def extParquets = hfs.listStatus(new Path(ext))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(extParquets === 2 && t.toDF.count() === 4)
    // compact migrates everything local; the external source is untouched
    t.compact()
    assert(extParquets === 2 && t.toDF.count() === 4)
    assert(hfs.exists(ownData) && hfs.listStatus(ownData).nonEmpty)
  }

  test("ADD FILES: Hive-layout partition inference; incompatible types refused") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = freshDir("tx_addfiles_hive")
    val ext = new Path(dir, "ext").toString
    Seq(("a", "EU", 1), ("b", "US", 2)).toDF("id", "region", "v")
      .write.partitionBy("region").parquet(ext)
    val t = TxTable.create(spark, new Path(dir, "t"), "ns.addh",
      StructType.fromDDL("id STRING, region STRING, v INT"), Seq("region"))
    val (_, n) = t.addFiles(ext)
    assert(n === 2)
    assert(t.toDF.filter($"region" === "EU").collect()
      .map(_.getString(0)).toSeq === Seq("a"))
    assert(t.count(Map("region" -> "US")) === 1)
    // a source column WIDER than the table's declared type cannot read
    val bad = new Path(dir, "bad").toString
    Seq(("x", "EU", 5L)).toDF("id", "region", "v")
      .write.partitionBy("region").parquet(bad)
    intercept[IllegalArgumentException] { t.addFiles(bad) }
  }

  test("SQL: COPY INTO and ALTER TABLE ADD FILES route through GraftSql") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val wh = freshDir("tx_sql_ingest")
    val cat = new TableCatalog(spark, new Path(wh))
    val src = new Path(wh, "src").toString
    Seq(("a", 1)).toDF("id", "v").coalesce(1).write.parquet(src)
    cat.createTable("ns", "cp", StructType.fromDDL("id STRING, v INT"), Nil)
    assert(GraftSql.sql(cat, s"COPY INTO ns.cp FROM '$src'")
      .first().getString(0).startsWith("COPIED 1"))
    assert(GraftSql.sql(cat, s"COPY INTO ns.cp FROM '$src'")
      .first().getString(0).startsWith("COPIED 0"))
    val ext = new Path(wh, "ext").toString
    Seq(("b", 2)).toDF("id", "v").coalesce(1).write.parquet(ext)
    assert(GraftSql.sql(cat, s"ALTER TABLE ns.cp ADD FILES '$ext'")
      .first().getString(0).startsWith("ADDED 1"))
    assert(cat.getTable("ns", "cp").toDF.count() === 2)
  }

  test("type widening: mergeSchema and widenColumn promote losslessly, no rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = TxTable.create(spark, new Path(freshDir("tx_widen"), "t"),
      "ns.widen", StructType.fromDDL("id STRING, qty INT, score FLOAT"), Nil)
    t.append(Seq(("a", 1, 1.5f), ("b", 2, 2.5f)).toDF("id", "qty", "score"))
    val filesBefore = t.snapshot.files.map(_.path).toSet
    // widening append: qty beyond int range arrives as LONG, score as DOUBLE
    t.append(Seq(("c", 5000000000L, 3.25)).toDF("id", "qty", "score"),
      mergeSchema = true)
    assert(t.schema("qty").dataType === LongType)
    assert(t.schema("score").dataType === DoubleType)
    // metadata-only evolution: the pre-widening files were not rewritten
    assert(filesBefore.subsetOf(t.snapshot.files.map(_.path).toSet))
    val byId = t.toDF.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byId("a") === ((1L, 1.5)))
    assert(byId("c") === ((5000000000L, 3.25)))
    // min/max skipping stays exact across mixed int32/int64 files
    assert(t.readWhere("qty", Some(5000000000L), None)
      .collect().map(_.getString(0)).toSeq === Seq("c"))
    // explicit evolution to decimal; old long values read scaled
    t.widenColumn("qty", DecimalType(22, 2))
    assert(t.toDF.filter($"id" === "c").head().getDecimal(1) ===
      new java.math.BigDecimal("5000000000.00"))
    // decimal pushdown over pre-widening "long"-tagged stats stays exact
    assert(t.readWhere("qty", Some(new java.math.BigDecimal("5000000000")), None)
      .collect().map(_.getString(0)).toSeq === Seq("c"))
    // lossy/narrowing changes are refused
    intercept[IllegalArgumentException] { t.widenColumn("score", FloatType) }
    intercept[IllegalArgumentException] { t.widenColumn("id", LongType) }
    // a non-widening incoming type under mergeSchema keeps the stored type
    t.append(Seq(("d", 7, 1.0)).toDF("id", "qty", "score"), mergeSchema = true)
    assert(t.schema("qty").dataType === DecimalType(22, 2))
  }

  test("type widening invalidates the column's bloom index; lookups stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val t = TxTable.create(spark, new Path(freshDir("tx_widen_bloom"), "t"),
      "ns.widenbloom", StructType.fromDDL("id STRING, v INT"), Nil)
    // one file per append (coalesce) so file ranges SPAN the probe value
    t.append(Seq(("a", 10), ("b", 20)).toDF("id", "v").coalesce(1))
    t.append(Seq(("c", 30), ("d", 40)).toDF("id", "v").coalesce(1))
    t.buildBloomIndex("v")
    // bloom prunes a value inside the global [min,max] that no file holds
    assert(t.candidateFilesForEquals("v", 15).isEmpty)
    // widening drops the index (old filters hashed ints; probes would
    // hash longs and false-skip) — lookups fall back to stats, stay exact
    t.append(Seq(("e", 9000000000L)).toDF("id", "v"), mergeSchema = true)
    assert(t.schema("v").dataType === LongType)
    assert(t.candidateFilesForEquals("v", 15L).nonEmpty)
    assert(t.readWhereEquals("v", 20L).collect().map(_.getString(0)).toSeq === Seq("b"))
    assert(t.readWhereEquals("v", 9000000000L).collect()
      .map(_.getString(0)).toSeq === Seq("e"))
    // rebuilt index hashes under the widened type and prunes again
    t.buildBloomIndex("v")
    assert(t.candidateFilesForEquals("v", 15L).isEmpty)
  }

  test("commit protocol seam: CAS-conflict suite through a conditional-put mock") {
    // service-side CAS mock (the reference's UpdateTableMetadataLocation
    // shape — kfs/scripts/update_metadata.py:135-141): an atomic slot
    // registry decides winners, storage is a plain NON-atomic overwrite
    // like an object-store PUT. Proves the log's conflict semantics come
    // entirely from the protocol seam, not from local-rename atomicity.
    val mock = new ConditionalPutMock
    TxLog.protocolOverride = Some(mock)
    try {
      val root = new Path(freshDir("proto_mock"))
      val t = TxTable.create(spark, root, "t",
        Schemas.transactions, Seq("date"))
      val conf = spark.sessionState.newHadoopConf()
      val logDir = new Path(root, "_log")
      val base = TxLog.readRaw(logDir, 0L, conf)
      // raw race: 16 threads CAS the same slot, exactly one wins
      val winners = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 16).map { i =>
        new Thread(() =>
          try {
            TxLog.commit(logDir, Some(0L),
              base.copy(version = 1L, operation = s"RACE_$i"), conf)
            winners.incrementAndGet()
          } catch { case _: CommitConflictException => () })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(winners.get() === 1)
      assert(TxLog.read(logDir, 1L, conf).operation.startsWith("RACE_"))
      // retrying writers proceed through the mock: two concurrent
      // appends from separate handles both land
      val a = TxTable.open(spark, root, "t")
      val b = TxTable.open(spark, root, "t")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new Runnable {
          override def run(): Unit =
            a.append(SampleData.transactions(spark, 10, seed = 1L)) }, true)
        val fb = pool.submit(new Runnable {
          override def run(): Unit =
            b.append(SampleData.transactions(spark, 12, seed = 2L)) }, true)
        fa.get(); fb.get()
      } finally pool.shutdown()
      assert(t.toDF.count() === 22)
      assert(mock.puts.get() >= 4,
        "the mock protocol did not carry the commits")
    } finally TxLog.protocolOverride = None
  }

  test("commit index: catch-up reads chunks, not raw headers; results identical") {
    val root = new Path(freshDir("commit_index"))
    val logDir = new Path(root, "_log")
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val commits = 600                      // 2 complete chunks + a tail
    var files = Vector.empty[DataFile]
    var expected: Option[Long] = None
    (0 until commits).foreach { i =>
      files = files :+ DataFile(f"f$i%06d.parquet",
        Map("date" -> f"2026-02-${i % 28 + 1}%02d"), 100L, 1000L)
      expected = Some(TxLog.commit(logDir, expected, Snapshot(
        version = expected.map(_ + 1).getOrElse(0L),
        timestampMs = 1700000000000L + i * 1000L,
        operation = if (i == 0) "CREATE" else "APPEND",
        schemaJson = schema.json,
        partitionColumns = Seq("date"), files = files), conf))
    }
    val f = logDir.getFileSystem(conf)
    val chunks = f.listStatus(logDir).map(_.getPath.getName)
      .filter(_.startsWith("ci-")).sorted
    assert(chunks.toSeq ===
      Seq("ci-00000000-00000255.index.json",
        "ci-00000256-00000511.index.json"))
    def walk(): Seq[String] =
      (0L until commits.toLong).flatMap(v =>
        TxLog.readChanged(logDir, v, conf).map(df => s"$v:${df.path}"))
    TxLog.purgeRawCache(logDir)
    val before = TxLog.rawHeaderReadCount
    val indexed = walk()
    val headerReads = TxLog.rawHeaderReadCount - before
    assert(indexed.size === commits)
    // indexed versions (0..511) never parse a header; only the
    // unindexed tail (512..599) does — ~2 extra for chunk-boundary
    // prev-manifest resolution
    assert(headerReads <= commits - TxLog.IndexChunkSize * 2 + 4,
      s"catch-up parsed $headerReads raw headers with the index present")
    // the index serves EXACTLY what the raw path would
    chunks.foreach(c => f.delete(new Path(logDir, c), false))
    TxLog.purgeRawCache(logDir)
    assert(walk() === indexed)
  }

  test("re-CREATE at a reused path invalidates stale parsed headers") {
    val root = new Path(freshDir("cache_recreate"))
    val t1 = TxTable.create(spark, root, "t", Schemas.transactions, Seq("date"))
    t1.append(SampleData.transactions(spark, 5, seed = 11L))          // v1
    val logDir = new Path(root, "_log")
    val conf = spark.sessionState.newHadoopConf()
    val f = logDir.getFileSystem(conf)
    val warm = TxLog.readRaw(logDir, 1L, conf)                        // warms cache
    // adversarial DROP + re-CREATE: v1's header rewritten with
    // different SAME-LENGTH content and the original mtime restored —
    // the (mtime, length) probe alone cannot tell the file changed
    val p = new Path(logDir, f"v${1L}%08d.metadata.json")
    val st = f.getFileStatus(p)
    val json = new String(
      org.apache.commons.io.IOUtils.toByteArray(f.open(p)), "UTF-8")
    val ts = warm.timestampMs
    val ts2 = ts - (ts % 10) + ((ts % 10 + 1) % 10)
    val mutated = json.replace(
      s""""timestampMs":$ts""", s""""timestampMs":$ts2""")
    assert(mutated != json && mutated.length == json.length)
    f.delete(p, false)
    val out = f.create(p, true)
    out.write(mutated.getBytes("UTF-8")); out.close()
    f.setTimes(p, st.getModificationTime, -1)
    f.delete(new Path(logDir, f"v${0L}%08d.metadata.json"), false)    // DROP half
    TxTable.create(spark, root, "t", Schemas.transactions, Seq("date"))
    // CREATE purged the logDir's cache: the re-parse sees the rewrite
    assert(TxLog.readRaw(logDir, 1L, conf).timestampMs === ts2)
  }

  test("session-mutating SQL survives the per-statement routing clone") {
    val cat = new TableCatalog(spark, new Path(freshDir("tx_session_sql")))
    val t = cat.createTable("analytics", "txns", Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 12, seed = 61L))
    // CREATE TEMP VIEW resolves ns.tbl on the routing clone but must
    // register in the REAL session for the next statement to see it
    GraftSql.sql(cat,
      "CREATE OR REPLACE TEMPORARY VIEW hi_risk AS " +
        "SELECT * FROM analytics.txns WHERE risk_score = 'HIGH'")
    val expected = t.toDF.filter(col("risk_score") === "HIGH").count()
    assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM hi_risk")
      .head().getLong(0) === expected)
    // SET applies to the real session, not a discarded clone
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      GraftSql.sql(cat, "SET spark.sql.shuffle.partitions=7")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
    GraftSql.sql(cat, "DROP VIEW hi_risk")
    intercept[Exception](
      GraftSql.sql(cat, "SELECT count(*) FROM hi_risk").collect())
  }

  test("auto-compact bounds small files under a stream of tiny appends") {
    val t = TxTable.create(spark, new Path(freshDir("tx_autocompact")), "t",
      Schemas.transactions, Seq("date"),
      properties = Map(TxTable.AutoCompactProperty -> "true",
        TxTable.AutoCompactMinFilesProperty -> "4"))
    (1 to 8).foreach { i =>
      t.append(SampleData.transactions(spark, 5, seed = 50L + i))
    }
    assert(t.toDF.count() === 40)
    // 8 appends × ≥1 file each would leave ≥8 files; the inline
    // bin-packs keep the per-partition count under the threshold + one
    // batch's worth
    assert(t.snapshot.files.size < 8)
    assert(t.history().filter(col("operation") === "COMPACT").count() > 0)
    // rows survive packing with MOR deletes folded in
    val before = t.toDF.count()
    val oneId = t.toDF.select("transaction_id").first().getString(0)
    t.deletePos(col("transaction_id") === oneId)
    (1 to 4).foreach { i =>
      t.append(SampleData.transactions(spark, 5, seed = 60L + i))
    }
    assert(t.toDF.count() === before - 1 + 20)
  }

  test("pruned MOR scans load only the touched files' DV sidecars") {
    // 10 partitions × 1 file, a deletion vector on EVERY file; a
    // one-partition read must load ~1 sidecar, not all 10 — the lazy
    // per-file DV filter's defining property (an accumulated-delete
    // table at scale would otherwise pay O(total delete state) per
    // pruned read, however narrow the scan)
    import org.apache.spark.sql.functions.{col, format_string, lit, pmod}
    import org.apache.spark.sql.types._
    val t = TxTable.create(spark, new Path(freshDir("tx_dvlazy")), "t",
      StructType(Seq(StructField("id", LongType),
        StructField("part", StringType))), Seq("part"),
      properties = Map(TxTable.MergeModeProperty -> "merge-on-read"))
    val df = spark.range(1000).select(col("id"),
      format_string("p%02d", pmod(col("id"), lit(10))).as("part"))
    t.append(df.repartition(10, col("part")))
    assert(t.snapshot.files.size === 10)
    // id % 3 == 0 hits every residue mod 10 → one DV per partition file
    t.deletePos(pmod(col("id"), lit(3)) === 0)
    assert(t.snapshot.deletionVectors.size === 10)
    // warm nothing: fresh sidecars, cold DvStore for these paths
    val before = DvStore.loadCount
    val n = t.toDF.filter(col("part") === "p03").count()
    val loaded = DvStore.loadCount - before
    assert(n === 66)          // 100 rows − 34 deleted (id ≡ 3 mod 30)
    assert(loaded <= 2, s"pruned scan loaded $loaded sidecars, expected ~1")
    // and the full scan sees every DV's effect exactly once
    assert(t.toDF.count() === 666)
  }

  test("compactSmallFiles leaves at-size files alone and packs the rest") {
    val t = TxTable.create(spark, new Path(freshDir("tx_smallpack")), "t",
      Schemas.transactions, Seq("date"))
    (1 to 5).foreach(i =>
      t.append(SampleData.transactions(spark, 10, seed = 70L + i)))
    val filesBefore = t.snapshot.files
    // a tiny "small" threshold packs nothing (nothing is smaller)
    t.compactSmallFiles(smallerThanBytes = 1L)
    assert(t.snapshot.files.map(_.path).sorted ===
      filesBefore.map(_.path).sorted)
    // everything is below 64 MB here → all five pack into one commit
    val v = t.compactSmallFiles(minInputFiles = 2)
    assert(t.snapshot.operation === "COMPACT" && v === t.currentVersion)
    assert(t.snapshot.files.size < filesBefore.size)
    assert(t.toDF.count() === 50)
  }

  test("DELETE rebases across a concurrent blind append (WriteSerializable)") {
    val t = TxTable.create(spark, new Path(freshDir("tx_ws_append")), "t",
      Schemas.transactions, Seq("date"))
    val seed = SampleData.transactions(spark, 60, seed = 40L)
    t.append(seed)
    val high = seed.filter(col("risk_score") === "HIGH").count()
    // phase A rewrites from v1; the append below moves the head but
    // leaves every replaced file in place — the delete must REBASE,
    // carrying the appended files (their rows survive even when the
    // predicate matches: snapshot-isolation WriteSerializable, the
    // Delta default for row-level DML vs blind appends)
    val commitDelete = t.stageDelete(col("risk_score") === "HIGH")
    val extra = SampleData.transactions(spark, 20, seed = 41L)
    t.append(extra)
    commitDelete(None)
    assert(t.snapshot.operation === "DELETE")
    assert(t.toDF.count() === 60 - high + 20)
    assert(t.currentVersion === 3)
  }

  test("concurrent partition-scoped deletes on DISJOINT partitions both commit") {
    val t = TxTable.create(spark, new Path(freshDir("tx_ws_disjoint")), "t",
      Schemas.transactions, Seq("date"))
    // two anchor days → two physical partitions
    t.append(SampleData.transactions(spark, 40, seed = 42L))
    t.append(SampleData.transactions(spark, 40, seed = 44L,
      anchorMs = 1754988000000L + 86400000L))
    val dates = t.snapshot.files.flatMap(_.partitionValues.get("date"))
      .distinct.sorted
    assert(dates.size >= 2)
    val (d1, d2) = (dates.head, dates.last)
    def cnt(d: String) = t.toDF.filter(col("date") === d).count()
    val (n1, n2) = (cnt(d1), cnt(d2))
    // writer 1 stages against the same head writer 2 commits from:
    // disjoint partitions → writer 1 rebases instead of aborting
    val commit1 = t.stageDelete(lit(true), Map("date" -> d1))
    t.delete(lit(true), Map("date" -> d2))
    commit1(None)
    assert(cnt(d1) === 0 && cnt(d2) === 0)
    assert(t.toDF.count() === 80 - n1 - n2)
  }

  test("concurrent MERGEs on disjoint partitions both commit; same-partition append conflicts") {
    val anchor = 1754988000000L
    val t = TxTable.create(spark, new Path(freshDir("tx_ws_merge")), "t",
      Schemas.transactions, Seq("date"))
    val day1 = SampleData.transactions(spark, 30, seed = 44L, anchorMs = anchor)
    val day2 = SampleData.transactions(spark, 30, seed = 45L,
      anchorMs = anchor + 86400000L)
    t.append(day1); t.append(day2)
    // writer 1 stages a day-1 upsert; writer 2 merges day-2 first —
    // disjoint partitions, writer 1 rebases and BOTH land
    val mods1 = day1.orderBy("transaction_id").limit(10)
      .withColumn("amount", lit(111.11).cast(
        org.apache.spark.sql.types.DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    val commit1 = t.stageMerge(mods1, "transaction_id", "processing_timestamp")
    val mods2 = day2.orderBy("transaction_id").limit(10)
      .withColumn("amount", lit(222.22).cast(
        org.apache.spark.sql.types.DecimalType(12, 2)))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
    t.merge(mods2, "transaction_id", "processing_timestamp")
    commit1(None)
    assert(t.snapshot.operation === "MERGE")
    assert(t.toDF.count() === 60)
    assert(t.toDF.filter(col("amount") === 111.11).count() === 10)
    assert(t.toDF.filter(col("amount") === 222.22).count() === 10)
    // a concurrent APPEND into a merged partition could duplicate the
    // batch's keys — that rebase must refuse
    val commitStale = t.stageMerge(mods1, "transaction_id", "processing_timestamp")
    t.append(day1.orderBy("transaction_id").limit(3)
      .withColumn("transaction_id", concat(col("transaction_id"), lit("_x"))))
    intercept[CommitConflictException](commitStale(None))
  }

  test("DELETE still conflicts when a concurrent commit rewrote its inputs") {
    val t = TxTable.create(spark, new Path(freshDir("tx_ws_conflict")), "t",
      Schemas.transactions, Seq("date"))
    t.append(SampleData.transactions(spark, 50, seed = 43L))
    val commitStale = t.stageDelete(col("risk_score") === "HIGH")
    // whole-table UPDATE rewrites every file the staged delete read
    t.update(lit(true), Map("amount" ->
      (col("amount") + lit(1)).cast(org.apache.spark.sql.types.DecimalType(12, 2))))
    intercept[CommitConflictException](commitStale(None))
    // and a concurrent deletion vector on an input file conflicts too
    val commitStale2 = t.stageDelete(col("risk_score") === "HIGH")
    val oneId = t.toDF.select("transaction_id").first().getString(0)
    t.deletePos(col("transaction_id") === oneId)
    intercept[CommitConflictException](commitStale2(None))
  }

  test("table grants: CTE/TRUNCATE/metadata routes and owner-less tables stay closed") {
    val cat = new TableCatalog(spark, new Path(freshDir("sql_grants2")))
    GraftSql.sql(cat, "CREATE TABLE sec.t (id INT, v STRING)")
    GraftSql.sql(cat, "INSERT INTO sec.t VALUES (1, 'a')")
    try {
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "GRANT ALL ON sec.t TO admin")
      spark.conf.unset("graft.sql.principal")        // → anonymous
      // a CTE prefix must not route DML around the write gate
      intercept[SecurityException](GraftSql.sql(cat,
        "WITH x AS (SELECT 9 AS id, 'z' AS v) INSERT INTO sec.t SELECT * FROM x"))
      // TRUNCATE parses to a plan with no UnresolvedRelation — still gated
      intercept[SecurityException](GraftSql.sql(cat, "TRUNCATE TABLE sec.t"))
      // 3-part metadata statements fall to the native path, which would
      // return the RAW allow lists — gated for non-grantees
      val catName = GraftSql.ensureCatalogRegistered(cat)
      intercept[SecurityException](GraftSql.sql(cat,
        s"SHOW TBLPROPERTIES $catName.sec.t"))
      intercept[SecurityException](GraftSql.sql(cat,
        s"DESCRIBE TABLE $catName.sec.t"))
      intercept[SecurityException](GraftSql.sql(cat,
        s"SHOW CREATE TABLE $catName.sec.t"))
      // the 2-part SHOW CREATE / SHOW TBLPROPERTIES arms take the
      // DESCRIBE (grantee) bar too — schema, partitioning, constraints
      // and non-ACL property values are table metadata (ADVICE r10)
      intercept[SecurityException](
        GraftSql.sql(cat, "SHOW CREATE TABLE sec.t"))
      intercept[SecurityException](
        GraftSql.sql(cat, "SHOW TBLPROPERTIES sec.t"))
      // a grantee-but-not-admin sees the DDL with allow lists redacted
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "GRANT SELECT ON sec.t TO viewer")
      spark.conf.set("graft.sql.principal", "viewer")
      assert(!GraftSql.sql(cat, "SHOW CREATE TABLE sec.t")
        .collect()(0).getString(0).contains("'admin'"))
      // ...and raw passes for the administrator
      spark.conf.set("graft.sql.principal", "admin")
      assert(GraftSql.sql(cat, s"SHOW TBLPROPERTIES $catName.sec.t")
        .count() > 0)
      // an ACL'd table with NO recorded owner (legacy raw properties):
      // only its WRITE grantees administer — a SELECT-only grantee must
      // not grant itself INSERT, and outsiders cannot claim ownership
      GraftSql.sql(cat, "CREATE TABLE sec.u (id INT)")
      cat.getTable("sec", "u")
        .setProperties(Map("graft.acl.select" -> "carol",
          "graft.acl.insert" -> "carolw"))
      spark.conf.set("graft.sql.principal", "bob")
      intercept[SecurityException](GraftSql.sql(cat,
        "ALTER TABLE sec.u SET TBLPROPERTIES ('graft.acl.owner'='bob')"))
      intercept[SecurityException](
        GraftSql.sql(cat, "GRANT SELECT ON sec.u TO bob"))
      spark.conf.set("graft.sql.principal", "carol")   // SELECT-only
      intercept[SecurityException](
        GraftSql.sql(cat, "GRANT INSERT ON sec.u TO carol"))
      spark.conf.set("graft.sql.principal", "carolw")  // INSERT grantee
      GraftSql.sql(cat, "GRANT SELECT ON sec.u TO dave")
      // carolw's first grant recorded her as owner
      assert(GraftSql.sql(cat, "SHOW GRANTS ON sec.u").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
        .contains(("carolw", "OWNER")))
      // a clone carries its source's ACL (snapshot properties travel,
      // OWNER included): an owner-made clone is closed to strangers,
      // and a SELECT-only grantee who clones gets a table they can
      // read but neither open up nor administer — no laundering route
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "CREATE TABLE sec.tclone SHALLOW CLONE sec.t")
      spark.conf.set("graft.sql.principal", "bob")
      intercept[SecurityException](
        GraftSql.sql(cat, "SELECT * FROM sec.tclone"))
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "GRANT SELECT ON sec.t TO carl")
      spark.conf.set("graft.sql.principal", "carl")
      GraftSql.sql(cat, "CREATE TABLE sec.carlclone SHALLOW CLONE sec.t")
      assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM sec.carlclone")
        .collect()(0).getLong(0) > 0)
      // carl is NOT the clone's owner (admin carried over): he cannot
      // widen its ACL, and strangers still cannot read it
      intercept[SecurityException](
        GraftSql.sql(cat, "GRANT SELECT ON sec.carlclone TO bob"))
      spark.conf.set("graft.sql.principal", "bob")
      intercept[SecurityException](
        GraftSql.sql(cat, "SELECT * FROM sec.carlclone"))
      // the property door seeds ownership on first ACL edit too
      spark.conf.set("graft.sql.principal", "erin")
      GraftSql.sql(cat, "CREATE TABLE sec.w (id INT)")
      GraftSql.sql(cat,
        "ALTER TABLE sec.w SET TBLPROPERTIES ('graft.acl.select'='erin')")
      spark.conf.set("graft.sql.principal", "bob")
      intercept[SecurityException](
        GraftSql.sql(cat, "GRANT SELECT ON sec.w TO bob"))
    } finally spark.conf.unset("graft.sql.principal")
  }

  test("hot-key merge batch: thousands of updates to ONE key keep exactly the last writer") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_hotkey")), "t",
      Seq(("k", 0L, "v")).toDF("id", "ts", "v").schema, Nil)
    t.append(Seq(("hot", 0L, "seed"), ("cold", 0L, "keep")).toDF("id", "ts", "v"))
    // the CDC worst case: a batch that is ENTIRELY updates to one key
    // (the shape that skewed the old per-key window sort into one task)
    val batch = (1 to 5000).map(i => ("hot", i.toLong, s"v$i"))
      .toDF("id", "ts", "v").repartition(16)
    t.merge(batch, "id", "ts")
    val rows = t.toDF.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq === Seq(("cold", 0L, "keep"), ("hot", 5000L, "v5000")))
  }

  test("history at the retention floor reports unknown deltas, not the whole file set") {
    import spark.implicits._
    val t = TxTable.create(spark, new Path(freshDir("tx_hist_floor")), "t",
      Seq((1L, 1.0)).toDF("id", "v").schema, Nil)
    (1 to 5).foreach(i => t.append(Seq((i.toLong, i * 1.0)).toDF("id", "v")))
    t.expireSnapshots(retainVersions = 2)     // keep 4, 5
    val rows = t.history().collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(5L, 4L))
    // the floor version's PARENT expired: added/removed are unknowable,
    // so they surface as the -1 sentinel instead of claiming the whole
    // surviving file set as that commit's delta
    val floor = rows.last
    assert(floor.getInt(6) === -1 && floor.getLong(8) === -1L)
    // the next version has a readable parent: exact one-file delta
    val head = rows.head
    assert(head.getInt(6) === 1 && head.getLong(8) === 1L)
  }

  test("drop + recreate with the same branch name serves the NEW branch state") {
    import spark.implicits._
    val cat = new TableCatalog(spark, new Path(freshDir("tx_branch_drop")))
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    val t1 = cat.createTable("ns", "t", schema, Nil)
    t1.append((1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    t1.createBranch("b")
    // cache the branch chain's headers
    assert(t1.branch("b").toDF.count() === 10)
    cat.dropTable("ns", "t")
    // same path, same branch name — version file names recur; the
    // prefix purge must cover the branch chain under _log/refs/b too
    val t2 = cat.createTable("ns", "t", schema, Nil)
    t2.append((1 to 3).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    t2.createBranch("b")
    assert(t2.branch("b").toDF.count() === 3)
  }

  test("table grants: GRANT/REVOKE allow lists enforced on the SQL surface") {
    val cat = new TableCatalog(spark, new Path(freshDir("sql_grants")))
    GraftSql.sql(cat, "CREATE TABLE sec.t (id INT, v STRING)")
    GraftSql.sql(cat, "INSERT INTO sec.t VALUES (1, 'a'), (2, 'b')")
    // no ACL declared → open to every principal
    assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM sec.t")
      .collect()(0).getLong(0) === 2)
    try {
      // the FIRST grant records its principal as the table's owner
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "GRANT SELECT ON sec.t TO alice")
      GraftSql.sql(cat, "GRANT ALL ON sec.t TO admin")
      val grants = GraftSql.sql(cat, "SHOW GRANTS ON sec.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(grants === Set(("admin", "OWNER"), ("alice", "SELECT"),
        ("admin", "SELECT"), ("admin", "INSERT")))
      // the default principal (anonymous) is now outside the list
      spark.conf.unset("graft.sql.principal")
      intercept[SecurityException](
        GraftSql.sql(cat, "SELECT * FROM sec.t"))
      // ...and cannot self-grant or edit the ACL properties directly
      intercept[SecurityException](
        GraftSql.sql(cat, "GRANT SELECT ON sec.t TO anonymous"))
      intercept[SecurityException](GraftSql.sql(cat,
        "ALTER TABLE sec.t SET TBLPROPERTIES ('graft.acl.select'='anonymous')"))
      // ...nor impersonate a principal through the SQL door
      intercept[SecurityException](
        GraftSql.sql(cat, "SET graft.sql.principal = admin"))
      // ...nor write through the transaction block or INSERT OVERWRITE
      intercept[SecurityException](GraftSql.sql(cat,
        "BEGIN; DELETE FROM sec.t WHERE id = 1; COMMIT"))
      intercept[SecurityException](GraftSql.sql(cat,
        "INSERT OVERWRITE sec.t VALUES (9, 'z')"))
      // ...nor read the protected rows out through a clone, rewind the
      // table, enumerate its grants, or drop it
      intercept[SecurityException](GraftSql.sql(cat,
        "CREATE TABLE sec.leak SHALLOW CLONE sec.t"))
      intercept[SecurityException](GraftSql.sql(cat,
        "RESTORE TABLE sec.t TO VERSION AS OF 1"))
      intercept[SecurityException](GraftSql.sql(cat, "SHOW GRANTS ON sec.t"))
      intercept[SecurityException](GraftSql.sql(cat, "DROP TABLE sec.t"))
      spark.conf.set("graft.sql.principal", "alice")
      assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM sec.t")
        .collect()(0).getLong(0) === 2)
      // SELECT does not imply INSERT
      intercept[SecurityException](
        GraftSql.sql(cat, "INSERT INTO sec.t VALUES (3, 'c')"))
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "INSERT INTO sec.t VALUES (3, 'c')")
      assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM sec.t")
        .collect()(0).getLong(0) === 3)
      // a view read checks the UNDERLYING table's ACL
      GraftSql.sql(cat, "CREATE VIEW sec.vv AS SELECT id FROM sec.t")
      spark.conf.set("graft.sql.principal", "bob")
      intercept[SecurityException](
        GraftSql.sql(cat, "SELECT * FROM sec.vv"))
      // the change feed is row data: same SELECT gate
      intercept[SecurityException](
        GraftSql.sql(cat, "SELECT * FROM table_changes('sec.t', 1)"))
      // revoke closes alice out (owner-only administration)
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "REVOKE SELECT ON sec.t FROM alice")
      spark.conf.set("graft.sql.principal", "alice")
      intercept[SecurityException](
        GraftSql.sql(cat, "SELECT * FROM sec.t"))
      // revoking the LAST principal of a privilege unsets its list:
      // the table reopens for that privilege instead of locking out
      // everyone (reads here stay admin-only)
      spark.conf.set("graft.sql.principal", "admin")
      GraftSql.sql(cat, "REVOKE INSERT ON sec.t FROM admin")
      spark.conf.set("graft.sql.principal", "bob")
      GraftSql.sql(cat, "INSERT INTO sec.t VALUES (4, 'd')")
      spark.conf.set("graft.sql.principal", "admin")
      assert(GraftSql.sql(cat, "SELECT count(*) AS n FROM sec.t")
        .collect()(0).getLong(0) === 4)
    } finally spark.conf.unset("graft.sql.principal")
  }

  test("compactBloomIndex drops dead entries in O(sidecar): zero data reads, live filters verbatim") {
    val t = TxTable.create(spark, new Path(freshDir("tx_bloom_compact")), "t",
      Schemas.transactions, Nil)
    (0 until 5).foreach(i =>
      t.append(SampleData.transactions(spark, 120, seed = 210L + i)))
    val nFiles = t.snapshot.files.size
    assert(t.buildBloomIndex("transaction_id") === nFiles)
    def deadEntries: Long = t.showIndexes
      .filter(col("index_type") === "bloom")
      .select("dead_entries").collect()(0).getLong(0)
    // compaction retires every original path; the refresh covers the
    // compacted outputs so only DEAD weight separates the two states
    t.compactSmallFiles()
    t.refreshBloomIndex("transaction_id")
    val dead = deadEntries
    assert(dead >= nFiles.toLong, s"dead=$dead")
    val liveBefore = t.bloomEntries("transaction_id")
      .filter { case (k, _) => t.snapshot.files.exists(_.path == k) }
      .map { case (k, v) => k -> v.toSeq }
    assert(liveBefore.nonEmpty)
    // O(sidecar) contract: the compaction launches NO Spark job (the
    // kept filters are copied as opaque strings — a rebuild would scan
    // the table to re-encode them)
    val (dropped, run) = countingJobs(t.compactBloomIndex("transaction_id"))
    assert(dropped.toLong === dead, s"dropped=$dropped dead=$dead")
    assert(run.jobs === 0,
      s"bloom compaction ran ${run.jobs} Spark jobs — it must not read data")
    assert(deadEntries === 0L)
    // live filters survive BYTE-identical and keep pruning
    val liveAfter = t.bloomEntries("transaction_id")
      .map { case (k, v) => k -> v.toSeq }
    assert(liveAfter === liveBefore)
    // idempotent; a second compaction is a no-op
    assert(t.compactBloomIndex("transaction_id") === 0)
    // maintain_table wires the same remedy: after another round of
    // churn (appends covered by a refresh, then compacted away), the
    // policy compacts the sidecar instead of paying the O(table)
    // rebuild — and refreshes the files the table-compaction created
    (0 until 2).foreach(i =>
      t.append(SampleData.transactions(spark, 120, seed = 220L + i)))
    t.refreshBloomIndex("transaction_id")
    t.compactSmallFiles()
    assert(deadEntries > 0L)
    val actions = t.maintainTable(minSmallFiles = 1000,
      removeOrphans = false)
    val bloomActs = actions.filter(_._1 == "bloom:transaction_id")
    assert(bloomActs.exists(_._2.contains("compacted")),
      s"policy did not compact the sidecar: $actions")
    assert(deadEntries === 0L)
  }

  test("maintain_table validates arguments before any dimension commits work") {
    val t = TxTable.create(spark, new Path(freshDir("tx_maintain_args")), "t",
      Schemas.transactions, Nil)
    (0 until 3).foreach(i =>
      t.append(SampleData.transactions(spark, 40, seed = 230L + i)))
    val v = t.currentVersion
    // retain_snapshots = 0 used to pass compaction + index upkeep and
    // abort mid-policy in expireSnapshots' own require
    intercept[IllegalArgumentException](t.maintainTable(retainSnapshots = 0))
    intercept[IllegalArgumentException](t.maintainTable(targetFileBytes = 0))
    intercept[IllegalArgumentException](t.maintainTable(orphanGraceMs = -1))
    assert(t.currentVersion === v,
      "a refused maintenance pass must commit nothing")
  }

  test("bloom reads degrade (never fail) while a rebuild/conversion races them") {
    val t = TxTable.create(spark, new Path(freshDir("tx_bloom_race")), "t",
      Schemas.transactions, Nil)
    (0 until 3).foreach(i =>
      t.append(SampleData.transactions(spark, 100, seed = 240L + i)))
    t.buildBloomIndex("transaction_id")
    val probe = t.toDF.select("transaction_id").orderBy("transaction_id")
      .limit(1).collect()(0).getString(0)
    val expect = t.toDF.filter(col("transaction_id") === probe)
      .collect().toSet
    // rebuilds cycle the sidecar through its delete→recreate window
    // while lookups run: bloom is advisory, so a reader landing inside
    // the window must prune less — never throw (ADVICE r15: the old
    // exists→getFileStatus→open sequence threw FileNotFoundException)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val rebuilder = new Thread(() =>
      try (0 until 12).foreach(_ => t.buildBloomIndex("transaction_id"))
      catch { case e: Throwable => failure.set(e) }
      finally stop.set(true))
    rebuilder.start()
    try {
      var n = 0
      while (!stop.get() || n == 0) {
        // exactness holds in every window state (conservative fallback)
        assert(t.readWhereEquals("transaction_id", probe).collect().toSet
          === expect)
        t.candidateFilesForEquals("transaction_id", probe)
        n += 1
      }
      info(s"$n lookups interleaved with 12 rebuilds")
    } finally rebuilder.join(120000)
    assert(failure.get() === null, s"rebuilder failed: ${failure.get()}")
  }

  test("streaming manifest parse is byte-equivalent to the reflective one") {
    // the hot-path token-streaming manifest parser (cold reads at 10⁶
    // entries were json4s-extract-bound) must agree with json4s on
    // EVERYTHING json4s can write: differential test over adversarial
    // and randomized entries — unicode, quotes, newlines, null map
    // values, absent/present stats, huge longs, unknown-field
    // tolerance
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    def roundTrip(m: graft.table.Manifest): Unit = {
      val json = org.json4s.jackson.Serialization.write(m)
      assert(TxLog.parseManifestStreaming(json) === m, s"mismatch on $json")
      assert(TxLog.parseManifest(json) === m)
    }
    val nasty = graft.table.Manifest(Seq(
      DataFile("a b/c%20d/\"q\"\n.parquet",
        Map("k" -> null, "región" -> "日本/☃", "eq" -> "a=b+c"),
        Long.MaxValue, Long.MinValue,
        Some(Map("c1" -> graft.table.ColStats("string", null, "z\"\\", -1L),
          "c 2" -> graft.table.ColStats(null, "", " x", Long.MaxValue))),
        seq = 42L),
      DataFile("plain.parquet", Map.empty, 0L, 0L, None)))
    roundTrip(nasty)
    val rnd = new scala.util.Random(20260816L)
    def rs(): String = rnd.alphanumeric.take(rnd.nextInt(12)).mkString +
      (if (rnd.nextBoolean()) "\"\\/é\n" else "")
    (1 to 200).foreach { _ =>
      roundTrip(graft.table.Manifest((0 until rnd.nextInt(5)).map { _ =>
        DataFile(rs(), (0 until rnd.nextInt(3)).map(_ =>
            rs() -> (if (rnd.nextInt(5) == 0) null else rs())).toMap,
          rnd.nextLong(), rnd.nextLong(),
          if (rnd.nextBoolean()) None
          else Some((0 until rnd.nextInt(3)).map(_ => rs() ->
            graft.table.ColStats(rs(), rs(), rs(), rnd.nextLong())).toMap),
          rnd.nextLong())
      }))
    }
    // unknown fields skip like json4s (schema-evolution tolerance) —
    // nested objects/arrays included
    val evolved = """{"files":[{"path":"p.parquet","partitionValues":{},
      "rowCount":1,"sizeBytes":2,"seq":3,
      "futureField":{"nested":[1,2,{"x":"y"}]},"another":null}],
      "manifestLevelFuture":[{"a":1}]}"""
    val parsed = TxLog.parseManifestStreaming(evolved)
    assert(parsed.files === Seq(DataFile("p.parquet", Map.empty, 1L, 2L,
      None, 3L)))
    // a structurally alien document falls back rather than mis-parsing
    intercept[Exception](
      TxLog.parseManifestStreaming("""{"files":"not-an-array"}"""))
  }

  test("vacuum aborts (fail-safe) when a LIVE retained snapshot's manifest is unreadable") {
    val dir = freshDir("tx_vac_fnfe")
    val t = TxTable.create(spark, new Path(dir, "t"), "t",
      Schemas.transactions, Nil)
    // enough single-file appends to spill real manifest files
    (0 until 36).foreach(i =>
      t.append(SampleData.transactions(spark, 5, seed = 300L + i)))
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(t.root, "_log")
    val fsys = logDir.getFileSystem(conf)
    val manifests = fsys.listStatus(logDir)
      .filter(_.getPath.getName.endsWith(".manifest.json"))
    assert(manifests.nonEmpty, "no spilled manifests — shape assumption broke")
    // a manifest the HEAD still references (resolved refs of the head)
    val headRefs = TxLog.readRaw(logDir, t.currentVersion, conf)
      .manifests.map(_.path).filterNot(_.startsWith("hdr:")).toSet
    assert(headRefs.nonEmpty)
    val victim = new Path(logDir, headRefs.head)
    val dataFiles = fsys.listStatus(new Path(t.root, "data"))
    val victimBytes = {
      val in = fsys.open(victim)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    fsys.delete(victim, false)
    // reopen through a SYMLINK alias: same storage, different path
    // strings, so the JVM-wide header/manifest caches cannot mask the
    // missing file (a fresh process's view)
    val link = java.nio.file.Paths.get(dir + "_alias")
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(link,
      java.nio.file.Paths.get(dir))
    val t2 = TxTable.open(spark, new Path(link.toString, "t"), "t")
    // the header EXISTS but its manifests cannot resolve: vacuum must
    // ABORT, not treat the snapshot as contributing zero retained
    // paths and delete every file it references (ADVICE r15 medium)
    intercept[java.io.FileNotFoundException](t2.vacuum(2, graceMillis = 0L))
    assert(fsys.listStatus(new Path(t.root, "data")).length
      === dataFiles.length, "fail-safe vacuum must delete nothing")
    // restored, the same alias handle vacuums cleanly — the abort was
    // the missing manifest, nothing else (expired-gap tolerance is
    // pinned separately by the CatalogV2Spec sweep)
    val out = fsys.create(victim, true)
    try out.write(victimBytes) finally out.close()
    t2.vacuum(2, graceMillis = 0L)
    assert(t2.toDF.count() === t.toDF.count())
  }

  /** 1200 rows over 12 dates, produced by 4 tasks with no repartition
    * of their own: a writer that does not cluster lands 4 × 12 files. */
  private def twelveDates(tasks: Int = 4) =
    spark.range(0, 1200, 1, tasks).select(
      concat(lit("id"), col("id")).as("id"), col("id").cast("int").as("v"),
      date_add(lit(java.sql.Date.valueOf("2026-03-01")),
        (col("id") % 12).cast("int")).as("date"))

  test("partitioned append clusters on the partition column: one file per date") {
    import org.apache.spark.sql.types._
    val dir = freshDir("tx_cluster")
    val schema = StructType.fromDDL("id STRING, v INT, date DATE")
    val t = TxTable.create(spark, new Path(dir, "t"), "t", schema, Seq("date"))
    val in = twelveDates()
    assert(in.rdd.getNumPartitions === 4)
    t.append(in)
    val files = t.snapshot.files
    assert(files.size === 12, s"expected one file per date, got ${files.size}")
    assert(files.map(_.partitionValues("date")).distinct.size === 12)
    assert(files.map(_.rowCount).sum === 1200)
    assert(t.toDF.select("id", "v", "date").collect().map(_.toString).sorted ===
      in.collect().map(_.toString).sorted)
    // an explicit repartition is the caller's layout: kept as written
    val u = TxTable.create(spark, new Path(dir, "u"), "u", schema, Seq("date"))
    u.append(twelveDates().repartition(8))
    assert(u.snapshot.files.size > 12,
      s"explicit repartition(8) was re-clustered: ${u.snapshot.files.size} files")
    assert(u.toDF.count() === 1200)
  }

  test("SQL INSERT through GraftCatalog lays out one file per date, like a V2 UPDATE") {
    val wh = freshDir("tx_cluster_sql")
    spark.conf.set("spark.sql.catalog.graftcl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftcl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcl.ns")
    spark.sql("CREATE TABLE graftcl.ns.t (id BIGINT, v INT, date DATE) PARTITIONED BY (date)")
    spark.sql("""INSERT INTO graftcl.ns.t
                 SELECT id, CAST(id AS INT), date_add(DATE'2026-03-01', CAST(id % 12 AS INT))
                 FROM range(0, 1200, 1, 4)""")
    def filesPerDate: Map[String, Int] =
      new TableCatalog(spark, new Path(wh)).getTable("ns", "t").snapshot.files
        .groupBy(_.partitionValues("date")).map { case (d, fs) => d -> fs.size }
    val inserted = filesPerDate
    assert(inserted.size === 12 && inserted.values.forall(_ == 1),
      s"INSERT layout: $inserted")
    // the V2 row-level path (GraftReplaceDataWrite) clusters the same way
    spark.sql("UPDATE graftcl.ns.t SET v = v + 1")
    assert(filesPerDate === inserted)
    assert(spark.sql("SELECT sum(v) FROM graftcl.ns.t").head.getLong(0) ===
      (0 until 1200).sum + 1200L)
  }

  test("a declared write order still range-distributes a partitioned write") {
    import org.apache.spark.sql.types._
    val cat = new TableCatalog(spark, new Path(freshDir("tx_cluster_order")))
    val t = cat.createTable("ns", "wo",
      StructType.fromDDL("id STRING, v INT, date DATE"), Seq("date"))
    GraftSql.sql(cat, "ALTER TABLE ns.wo WRITE ORDERED BY (v)")
    t.append(spark.range(0, 1000, 1, 4).select(
      concat(lit("id"), col("id")).as("id"), col("id").cast("int").as("v"),
      date_add(lit(java.sql.Date.valueOf("2026-03-01")),
        (col("id") % 2).cast("int")).as("date")))
    val byDate = t.snapshot.files.groupBy(_.partitionValues("date"))
    assert(byDate.size === 2)
    // a range split on (date, v) over 4 tasks: a date spans several
    // files (a rebalance on date alone would write one per date) ...
    assert(byDate.values.exists(_.size > 1), s"not range-split: $byDate")
    // ... whose v ranges are disjoint
    byDate.values.foreach { fs =>
      val ranges = fs.flatMap(_.stats.flatMap(_.get("v")))
        .map(cs => (cs.min.toLong, cs.max.toLong)).sortBy(_._1)
      assert(ranges.size === fs.size)
      ranges.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1, s"overlapping file ranges: $ranges")
        case _ =>
      }
    }
    assert(t.toDF.count() === 1000)
  }
}
