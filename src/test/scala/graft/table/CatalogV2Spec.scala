package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

/**
 * DataSource V2 catalog plugin ([[graft.catalog.GraftCatalog]]):
 * `spark.sql` statements resolve graft tables natively — DDL, DML,
 * ALTER, SHOW/DESCRIBE, CTAS — and scans are V2 `BatchScan`s over the
 * snapshot file index with filters pushed to parquet.
 */
class CatalogV2Spec extends SparkSpec {
  import spark.implicits._

  private def withCatalog[T](tag: String)(f: String => T): T = {
    val wh = freshDir(s"v2cat_$tag")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    f(wh)
  }

  test("V2 catalog: CREATE/INSERT/SELECT/OVERWRITE/DROP round trip") {
    withCatalog("crud") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      spark.sql("""CREATE TABLE graft.analytics.txns (
          transaction_id STRING, date DATE, amount DECIMAL(12,2), region STRING)
          PARTITIONED BY (date)""")
      spark.sql("""INSERT INTO graft.analytics.txns VALUES
        ('t1', DATE'2026-01-01', 10.50, 'EU'),
        ('t2', DATE'2026-01-01', 20.00, 'US'),
        ('t3', DATE'2026-01-02', 30.25, 'EU')""")
      assert(spark.sql("SELECT * FROM graft.analytics.txns").count() === 3)
      // snapshot-pinned read: the underlying TxTable sees the same rows
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      assert(cat.getTable("analytics", "txns").toDF.count() === 3)
      // typed partition column round trip
      val jan1 = spark.sql(
        "SELECT transaction_id FROM graft.analytics.txns WHERE date = DATE'2026-01-01'")
      assert(jan1.collect().map(_.getString(0)).sorted === Array("t1", "t2"))
      spark.sql("INSERT OVERWRITE graft.analytics.txns VALUES ('t9', DATE'2026-02-01', 1.00, 'AP')")
      assert(spark.sql("SELECT * FROM graft.analytics.txns").count() === 1)
      assert(spark.sql("SHOW TABLES IN graft.analytics").count() === 1)
      spark.sql("DROP TABLE graft.analytics.txns")
      assert(spark.sql("SHOW TABLES IN graft.analytics").count() === 0)
    }
  }

  test("V2 scan: BatchScan with pushed data filters and partition pruning") {
    withCatalog("scan") { _ =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.s")
      spark.sql("CREATE TABLE graft.s.t (id STRING, date DATE, v INT) PARTITIONED BY (date)")
      spark.sql("""INSERT INTO graft.s.t VALUES
        ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-02', 2), ('c', DATE'2026-01-03', 3)""")
      val q = spark.sql("SELECT id FROM graft.s.t WHERE date = DATE'2026-01-02' AND v > 1")
      val scans = q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.length === 1, "expected exactly one V2 BatchScan")
      val scan = scans.head
      val desc = scan.scan.description()
      assert(desc.contains("SnapshotFileIndex"), s"scan not snapshot-pinned: $desc")
      assert(desc.contains("GreaterThan(v,1)"), s"data filter not pushed: $desc")
      // partition pruning happened at planning: only the matching file is read
      assert(scan.inputRDD.getNumPartitions <= 1)
      assert(q.collect().map(_.getString(0)) === Array("b"))
    }
  }

  test("V2 scan: file-level min/max skipping prunes files on data predicates") {
    withCatalog("skip") { wh =>
      import org.apache.spark.sql.execution.datasources.FilePartition
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sk")
      spark.sql("CREATE TABLE graft.sk.t (id STRING, v BIGINT)")
      // three commits with disjoint value ranges → ≥3 files with
      // disjoint [min, max] footer stats
      spark.sql("INSERT INTO graft.sk.t VALUES ('a', 1), ('b', 2)")
      spark.sql("INSERT INTO graft.sk.t VALUES ('c', 100), ('d', 101)")
      spark.sql("INSERT INTO graft.sk.t VALUES ('e', 200), ('f', 201)")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val total = cat.getTable("sk", "t").snapshot.files.size
      assert(total >= 3)
      def scannedFiles(q: org.apache.spark.sql.DataFrame): Int =
        q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
          .map(_.inputPartitions.map {
            case fp: FilePartition => fp.files.length
            case _ => 0
          }.sum).sum
      val eq = spark.sql("SELECT id FROM graft.sk.t WHERE v = 100")
      assert(eq.collect().map(_.getString(0)) === Array("c"))
      assert(scannedFiles(eq) < total, "v = 100 should skip non-matching files")
      val range = spark.sql("SELECT id FROM graft.sk.t WHERE v > 150")
      assert(range.collect().map(_.getString(0)).sorted === Array("e", "f"))
      assert(scannedFiles(range) < total, "v > 150 should skip non-matching files")
      // string column skipping
      val s = spark.sql("SELECT v FROM graft.sk.t WHERE id = 'f'")
      assert(s.collect().map(_.getLong(0)) === Array(201L))
      assert(scannedFiles(s) < total, "id = 'f' should skip non-matching files")
      // a predicate matching nothing plans zero files but still answers
      val none = spark.sql("SELECT id FROM graft.sk.t WHERE v = 50")
      assert(none.count() === 0)
      assert(scannedFiles(none) === 0)
      // the wrapped V2 scan still reports real statistics (broadcast
      // decisions depend on it — defaultSizeInBytes would be MaxValue)
      val rel = spark.table("graft.sk.t")
      val sz = rel.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(sz > 0 && sz < BigInt(Long.MaxValue) / 4,
        s"scan stats not reported: $sz")
      spark.sql("DROP TABLE graft.sk.t")
    }
  }

  test("V2 scan: Bloom-index skipping prunes files min/max cannot") {
    withCatalog("bloomskip") { wh =>
      import org.apache.spark.sql.execution.datasources.FilePartition
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bl")
      spark.sql("CREATE TABLE graft.bl.t (id STRING, v BIGINT)")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("bl", "t")
      // ONE file per append, every file spanning ['aaa','zzz'] on id —
      // min/max stats can never prune an id point lookup; only Bloom
      // membership can
      import spark.implicits._
      Seq(
        Seq(("aaa", 1L), ("k1", 2L), ("zzz", 3L)),
        Seq(("aab", 4L), ("k2", 5L), ("zzy", 6L)),
        Seq(("aac", 7L), ("k3", 8L), ("zzx", 9L))
      ).foreach(rows => tx.append(rows.toDF("id", "v").coalesce(1)))
      val total = tx.snapshot.files.size
      assert(total === 3)
      def scannedFiles(q: org.apache.spark.sql.DataFrame): Int =
        q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
          .map(_.inputPartitions.map {
            case fp: FilePartition => fp.files.length
            case _ => 0
          }.sum).sum
      // without the index: every file planned (ranges overlap)
      val before = spark.sql("SELECT v FROM graft.bl.t WHERE id = 'k2'")
      assert(before.collect().map(_.getLong(0)) === Array(5L))
      assert(scannedFiles(before) === total)
      tx.buildBloomIndex("id")
      val after = spark.sql("SELECT v FROM graft.bl.t WHERE id = 'k2'")
      assert(after.collect().map(_.getLong(0)) === Array(5L))
      assert(scannedFiles(after) < total,
        "bloom index should prune files the overlapping min/max cannot")
      // IN probes each value; commits AFTER the index stay conservative
      tx.append(Seq(("aad", 10L), ("k4", 11L), ("zzw", 12L))
        .toDF("id", "v").coalesce(1))
      val in = spark.sql("SELECT v FROM graft.bl.t WHERE id IN ('k1', 'k4')")
      assert(in.collect().map(_.getLong(0)).sorted === Array(2L, 11L))
      spark.sql("DROP TABLE graft.bl.t")
    }
  }

  test("V2 catalog: ALTER TABLE ADD/RENAME/DROP COLUMN via SQL text") {
    withCatalog("alter") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.a")
      spark.sql("CREATE TABLE graft.a.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.a.t VALUES ('x', 1)")
      spark.sql("ALTER TABLE graft.a.t ADD COLUMN note STRING")
      assert(spark.table("graft.a.t").columns.toSeq === Seq("id", "v", "note"))
      spark.sql("ALTER TABLE graft.a.t RENAME COLUMN note TO remark")
      assert(spark.table("graft.a.t").columns.toSeq === Seq("id", "v", "remark"))
      spark.sql("ALTER TABLE graft.a.t DROP COLUMN remark")
      assert(spark.table("graft.a.t").columns.toSeq === Seq("id", "v"))
      // evolution is a log commit each time
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      assert(cat.getTable("a", "t").currentVersion === 4)
    }
  }

  test("V2 catalog: CTAS and current-catalog unqualified resolution") {
    withCatalog("ctas") { _ =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.c")
      spark.sql("CREATE TABLE graft.c.src (id INT, grp STRING)")
      spark.sql("INSERT INTO graft.c.src SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END FROM range(10)")
      spark.sql("CREATE TABLE graft.c.evens AS SELECT * FROM graft.c.src WHERE grp = 'even'")
      assert(spark.table("graft.c.evens").count() === 5)
      val prev = spark.catalog.currentCatalog()
      spark.catalog.setCurrentCatalog("graft")
      try assert(spark.sql("SELECT count(*) FROM c.src").head().getLong(0) === 10)
      finally spark.catalog.setCurrentCatalog(prev)
    }
  }

  test("V2 catalog: native DELETE FROM with partition pruning; TRUNCATE") {
    withCatalog("del") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.d")
      spark.sql("CREATE TABLE graft.d.t (id STRING, date DATE, v INT) PARTITIONED BY (date)")
      spark.sql("""INSERT INTO graft.d.t VALUES
        ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-01', 2),
        ('c', DATE'2026-01-02', 3), ('d', DATE'2026-01-03', 4)""")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("d", "t")
      // data-predicate delete: Catalyst parses it, SupportsDeleteV2
      // executes it as a COW rewrite
      spark.sql("DELETE FROM graft.d.t WHERE v >= 4")
      assert(spark.table("graft.d.t").count() === 3)
      // partition-equality conjunct prunes the rewrite: files of other
      // partitions survive untouched
      val before = tx.snapshot.files
        .filterNot(_.partitionValues("date") == "2026-01-01").map(_.path).toSet
      spark.sql("DELETE FROM graft.d.t WHERE date = DATE'2026-01-01' AND id = 'a'")
      assert(before.subsetOf(tx.snapshot.files.map(_.path).toSet))
      assert(spark.table("graft.d.t").collect().map(_.getString(0)).sorted
        === Array("b", "c"))
      // every delete was a real versioned commit
      assert(tx.history().head().getString(1) === "DELETE")
      // TRUNCATE TABLE routes through truncateTable() -> deleteWhere
      // (the native WHERE-less wipe; bare `DELETE FROM t` is the one
      // shape the planner can't map through our reordered scan — see
      // GraftV2Table scaladoc — and GraftSql covers it)
      spark.sql("TRUNCATE TABLE graft.d.t")
      assert(spark.table("graft.d.t").count() === 0)
      // UPDATE executes the full group-based ReplaceData write
      spark.sql("INSERT INTO graft.d.t VALUES ('z', DATE'2026-01-05', 9)")
      spark.sql("UPDATE graft.d.t SET v = 10 WHERE id = 'z'")
      assert(spark.table("graft.d.t").head().getInt(2) === 10)
    }
  }

  test("V2 catalog: native UPDATE and MERGE INTO via group-based ReplaceData") {
    withCatalog("rowlevel") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.r")
      spark.sql("CREATE TABLE graft.r.t (id STRING, date DATE, v INT) PARTITIONED BY (date)")
      spark.sql("""INSERT INTO graft.r.t VALUES
        ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-01', 2),
        ('c', DATE'2026-01-02', 3), ('d', DATE'2026-01-03', 4)""")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("r", "t")

      // UPDATE with a partition-equality conjunct: only that partition's
      // files are replaced, the others survive byte-identical
      val before = tx.snapshot.files
        .filterNot(_.partitionValues("date") == "2026-01-01").map(_.path).toSet
      spark.sql("UPDATE graft.r.t SET v = v + 100 WHERE date = DATE'2026-01-01' AND id = 'a'")
      assert(before.subsetOf(tx.snapshot.files.map(_.path).toSet))
      assert(spark.table("graft.r.t").orderBy("id").collect()
        .map(r => (r.getString(0), r.getInt(2))).toSeq
        === Seq(("a", 101), ("b", 2), ("c", 3), ("d", 4)))

      // UPDATE that MOVES a row across partitions (copy-on-write routes
      // rewritten rows to their new partition directory)
      spark.sql("UPDATE graft.r.t SET date = DATE'2026-01-09' WHERE id = 'c'")
      assert(spark.sql(
        "SELECT id FROM graft.r.t WHERE date = DATE'2026-01-09'")
        .head().getString(0) === "c")
      assert(spark.sql(
        "SELECT count(*) FROM graft.r.t WHERE date = DATE'2026-01-02'")
        .head().getLong(0) === 0)

      // MERGE INTO with update + delete + insert branches, all native
      Seq(("a", 7), ("d", -1), ("e", 5)).toDF("mid", "mv")
        .createOrReplaceTempView("merge_src")
      spark.sql("""
        MERGE INTO graft.r.t t USING merge_src s ON t.id = s.mid
        WHEN MATCHED AND s.mv < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.mv
        WHEN NOT MATCHED THEN INSERT (id, date, v) VALUES (s.mid, DATE'2026-02-01', s.mv)""")
      assert(spark.table("graft.r.t").orderBy("id").collect()
        .map(r => (r.getString(0), r.getInt(2))).toSeq
        === Seq(("a", 7), ("b", 2), ("c", 3), ("e", 5)))
      // the merge was one versioned commit with footer stats intact
      assert(tx.history().head().getString(1) === "MERGE")
      assert(tx.snapshot.files.forall(_.rowCount > 0))
      // and a metadata-only count still answers from the snapshot
      assert(tx.count() === 4)
    }
  }

  test("V2 catalog: VERSION AS OF / TIMESTAMP AS OF / tag time travel") {
    withCatalog("tt") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
      spark.sql("CREATE TABLE graft.tt.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.tt.t VALUES ('a', 1)")          // v1
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("tt", "t")
      val tsAfterV1 = System.currentTimeMillis()
      tx.tag("first-load")
      Thread.sleep(5)
      spark.sql("INSERT INTO graft.tt.t VALUES ('b', 2)")          // v2
      spark.sql("UPDATE graft.tt.t SET v = 10 WHERE id = 'a'")     // v3
      assert(spark.table("graft.tt.t").count() === 2)
      // numeric version
      assert(spark.sql("SELECT * FROM graft.tt.t VERSION AS OF 1").count() === 1)
      assert(spark.sql(
        "SELECT v FROM graft.tt.t VERSION AS OF 2 WHERE id = 'a'")
        .head().getInt(0) === 1)
      // tag name resolves through the table's tag store
      assert(spark.sql(
        "SELECT * FROM graft.tt.t VERSION AS OF 'first-load'").count() === 1)
      // timestamp pins the newest version committed at or before it
      val ts = new java.sql.Timestamp(tsAfterV1)
      assert(spark.sql(
        s"SELECT * FROM graft.tt.t TIMESTAMP AS OF '$ts'").count() === 1)
      // a time-travel relation is read-only
      val err = intercept[Exception] {
        spark.sql("DELETE FROM (SELECT * FROM graft.tt.t VERSION AS OF 1)")
      }
      assert(err != null)
      // Delta-style DataFrame read options resolve through the same
      // loadTable overloads (Spark's TimeTravelSpec extraction)
      assert(spark.read.option("versionAsOf", "1")
        .table("graft.tt.t").count() === 1)
      assert(spark.read.option("timestampAsOf", ts.toString)
        .table("graft.tt.t").count() === 1)
    }
  }

  test("V2 scan: dynamic partition pruning prunes the fact scan at runtime") {
    withCatalog("dpp") { _ =>
      // plain (non-AQE) plan so the scan node is reachable via collect
      withConfs(
          "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
          "spark.sql.adaptive.enabled" -> "false") {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dp")
        spark.sql("""CREATE TABLE graft.dp.fact (id STRING, date DATE, v INT)
            PARTITIONED BY (date)""")
        spark.sql("""INSERT INTO graft.dp.fact
            SELECT CAST(id AS STRING),
                   date_add(DATE'2026-01-01', CAST(id % 30 AS INT)),
                   CAST(id AS INT)
            FROM range(3000)""")
        val dimPath = freshDir("dpp_dim")
        import spark.implicits._
        (0 until 30).map(i => (java.sql.Date.valueOf(
            java.time.LocalDate.of(2026, 1, 1).plusDays(i).toString),
            if (i == 4) "keep" else s"x$i"))
          .toDF("ddate", "tag").write.parquet(dimPath)
        spark.read.parquet(dimPath).createOrReplaceTempView("dpp_dim")
        val q = spark.sql("""SELECT count(*) FROM graft.dp.fact f
            JOIN dpp_dim d ON f.date = d.ddate WHERE d.tag = 'keep'""")
        // collect() (not head — head builds a separate limited
        // QueryExecution, leaving THIS plan's metrics untouched)
        assert(q.collect()(0).getLong(0) === 100L)
        // the graft scan carries a dynamic-pruning runtime filter...
        val planStr = q.queryExecution.executedPlan.toString
        assert(planStr.contains("dynamicpruning"),
          s"no runtime filter on the fact scan:\n$planStr")
        // ...and it actually pruned: the scan emitted one partition's
        // rows (100), not the whole fact table (3000)
        val scanRows = q.queryExecution.executedPlan.collect {
          case b: BatchScanExec if b.toString.contains("SnapshotFileIndex") =>
            b.metrics("numOutputRows").value
        }
        assert(scanRows.nonEmpty && scanRows.head === 100L,
          s"fact scan output $scanRows rows — DPP did not prune")
      }
    }
  }

  test("V2 catalog: bare DELETE FROM works on partitioned and unpartitioned tables") {
    withCatalog("baredel") { _ =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bd")
      spark.sql("CREATE TABLE graft.bd.p (id STRING, date DATE, v INT) PARTITIONED BY (date)")
      spark.sql("""INSERT INTO graft.bd.p VALUES
        ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-02', 2)""")
      // pre-fix this threw INTERNAL_ERROR: the pushdown rule wrapped the
      // partitioned scan in a reordering Project the truncate path rejects
      spark.sql("DELETE FROM graft.bd.p")
      assert(spark.sql("SELECT count(*) FROM graft.bd.p").head.getLong(0) === 0L)
      spark.sql("CREATE TABLE graft.bd.u (id STRING, v INT)")
      spark.sql("INSERT INTO graft.bd.u VALUES ('a', 1)")
      spark.sql("DELETE FROM graft.bd.u")
      assert(spark.sql("SELECT count(*) FROM graft.bd.u").head.getLong(0) === 0L)
      // the order-matched scan plans with no Project above the relation:
      // SELECT * output equals declared order straight from the scan
      spark.sql("""INSERT INTO graft.bd.p VALUES ('c', DATE'2026-01-03', 3)""")
      val star = spark.sql("SELECT * FROM graft.bd.p")
      assert(star.columns.toSeq === Seq("id", "date", "v"))
      val hasProject = star.queryExecution.optimizedPlan.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
      }.nonEmpty
      assert(!hasProject, "SELECT * should plan without a reordering Project")
      assert(star.collect().map(_.getString(0)) === Array("c"))
    }
  }

  test("V2 catalog: partition-scoped INSERT OVERWRITE replaces only that partition") {
    withCatalog("pow") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ow")
      spark.sql("""CREATE TABLE graft.ow.t (id STRING, date DATE, v INT)
          PARTITIONED BY (date)""")
      spark.sql("""INSERT INTO graft.ow.t VALUES
        ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-01', 2),
        ('c', DATE'2026-01-02', 3)""")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val t = cat.getTable("ow", "t")
      val keepFiles = t.snapshot.files
        .filter(_.partitionValues("date") == "2026-01-02").map(_.path).toSet
      val vBefore = t.currentVersion
      spark.sql("""INSERT OVERWRITE graft.ow.t PARTITION (date = DATE'2026-01-01')
                   VALUES ('x', 9), ('y', 10)""")
      // one composite commit: delete+append under a single CAS
      assert(t.currentVersion === vBefore + 1)
      val out = spark.sql("SELECT id, v FROM graft.ow.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(out === Seq(("c", 3), ("x", 9), ("y", 10)))
      // the untouched partition's files are carried forward byte-identical
      assert(keepFiles.subsetOf(t.snapshot.files.map(_.path).toSet))
      // overwriting a partition that matches nothing still appends its rows
      spark.sql("""INSERT OVERWRITE graft.ow.t PARTITION (date = DATE'2026-03-01')
                   VALUES ('z', 42)""")
      assert(spark.sql("SELECT count(*) FROM graft.ow.t").head.getLong(0) === 4L)
      // full-table overwrite still works
      spark.sql("INSERT OVERWRITE graft.ow.t VALUES ('w', DATE'2026-05-05', 0)")
      assert(spark.sql("SELECT count(*) FROM graft.ow.t").head.getLong(0) === 1L)
    }
  }

  test("storage-partitioned join: co-partitioned graft tables join with zero shuffles") {
    withCatalog("spj") { _ =>
      withConfs(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sj")
        spark.sql("""CREATE TABLE graft.sj.a (id STRING, date DATE, v INT)
            PARTITIONED BY (date)""")
        spark.sql("""CREATE TABLE graft.sj.b (id STRING, date DATE, w INT)
            PARTITIONED BY (date)""")
        spark.sql("""INSERT INTO graft.sj.a
            SELECT CAST(id AS STRING),
                   date_add(DATE'2026-01-01', CAST(id % 10 AS INT)),
                   CAST(id AS INT) FROM range(1000)""")
        spark.sql("""INSERT INTO graft.sj.b
            SELECT CAST(id AS STRING),
                   date_add(DATE'2026-01-01', CAST(id % 10 AS INT)),
                   CAST(id AS INT) FROM range(500)""")
        val q = spark.sql("""SELECT a.date, count(*) AS n
            FROM graft.sj.a a JOIN graft.sj.b b ON a.date = b.date
            GROUP BY a.date""")
        assert(q.collect().map(_.getLong(1)).sum === 50000L)
        val plan = q.queryExecution.executedPlan.toString
        // both sides report KeyGroupedPartitioning over date, so
        // EnsureRequirements elides the join shuffles — and the GROUP
        // BY on date reuses the same layout: ZERO exchanges anywhere
        assert(!plan.contains("Exchange"),
          s"expected a shuffle-free storage-partitioned join plan:\n$plan")
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      }
    }
  }

  test("V2 scan packs splits by size unless the session opts in to storage-partitioned join") {
    import org.apache.spark.sql.catalyst.plans.physical.KeyGroupedPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.{count, lit, sum}
    object Plans extends AdaptiveSparkPlanHelper
    val bucketing = "spark.sql.sources.v2.bucketing.enabled"
    withCatalog("sizesplits") { wh =>
      // more dates than cores, in two commits: one split per date
      // would plan more tasks than the machine runs at once
      val dates = spark.sparkContext.defaultParallelism * 3
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pk")
      spark.sql("""CREATE TABLE graft.pk.t (
          id STRING, date DATE, region STRING, amount BIGINT)
          PARTITIONED BY (date)""")
      Seq(0 -> 600, 600 -> 1200).foreach { case (lo, hi) =>
        spark.sql(s"""INSERT INTO graft.pk.t
            SELECT CAST(id AS STRING),
                   date_add(DATE'2026-01-01', CAST(id % $dates AS INT)),
                   element_at(array('EU', 'US', 'AP'), CAST(id % 7 % 3 AS INT) + 1),
                   id
            FROM range($lo, $hi)""")
      }
      def scans(df: org.apache.spark.sql.DataFrame): Seq[BatchScanExec] =
        Plans.collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
      def keyGrouped(df: org.apache.spark.sql.DataFrame): Boolean =
        scans(df).exists(_.outputPartitioning.isInstanceOf[KeyGroupedPartitioning])
      def all = spark.sql("SELECT * FROM graft.pk.t")

      // Spark's default (`true`) alone does not opt in: size-packed
      // splits, fewer tasks than dates
      assert(!keyGrouped(all), s"unasked key-grouped scan:\n${all.queryExecution.executedPlan}")
      val splits = scans(all).map(_.inputRDD.getNumPartitions).sum
      assert(splits < dates, s"$splits splits for $dates dates")

      // a table this small runs as one task (SmallScan): no exchange,
      // so ORDER BY needs no range sampling and the scan runs once
      // (SmallScanSpec pins the scan running once above the bound too,
      // where the aggregate keeps its shuffle)
      val q = spark.sql("""SELECT region, date, count(*) AS n, sum(amount) AS total
          FROM graft.pk.t GROUP BY region, date ORDER BY total DESC, region, date""")
      val (got, run) = countingJobs(q.collect().toSeq)
      assert(run.scanStages === 1)
      assert(!keyGrouped(q))
      val cat = new TableCatalog(spark, new Path(wh))
      val want = cat.getTable("pk", "t").read()
        .groupBy("region", "date")
        .agg(count(lit(1)).as("n"), sum("amount").as("total"))
        .orderBy(col("total").desc, col("region"), col("date"))
        .collect().toSeq
      assert(got.nonEmpty && got === want)

      // an explicit session setting opts in: one split per date ...
      withConfs(bucketing -> "true") {
        assert(keyGrouped(all), "explicit opt-in must report key-grouped partitioning")
        assert(scans(all).map(_.inputRDD.getNumPartitions).sum === dates)
      }
      // ... and with the key unset again, the same table version opts out
      assert(!keyGrouped(all), "no layout cache may keep the opt-in")
    }
  }

  test("V2 reads apply merge-on-read equality deletes (and DML doesn't resurrect)") {
    withCatalog("mor") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mr")
      spark.sql("""CREATE TABLE graft.mr.t (id STRING, date DATE, v INT)
          PARTITIONED BY (date)""")
      spark.sql("""INSERT INTO graft.mr.t VALUES
        ('k1', DATE'2026-01-01', 1), ('k2', DATE'2026-01-01', 2),
        ('k3', DATE'2026-01-02', 3), ('k4', DATE'2026-01-02', 4)""")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val t = cat.getTable("mr", "t")
      t.deleteMor(col("id") === "k2" || col("id") === "k4", "id")
      // plain SQL SELECT sees the deletes
      assert(spark.sql("SELECT id FROM graft.mr.t ORDER BY id")
        .collect().map(_.getString(0)) === Array("k1", "k3"))
      // count(*) does not count deleted rows (no aggregate pushdown on
      // a MOR scan)
      assert(spark.sql("SELECT count(*) FROM graft.mr.t").collect()(0)
        .getLong(0) === 2L)
      // pruned projections that drop the key column still filter
      assert(spark.sql("SELECT sum(v) FROM graft.mr.t").collect()(0)
        .getLong(0) === 4L)
      // partition pruning still applies on the MOR scan
      assert(spark.sql(
          "SELECT id FROM graft.mr.t WHERE date = DATE'2026-01-02'")
        .collect().map(_.getString(0)) === Array("k3"))
      // a re-inserted key (file seq above the delete's) survives
      spark.sql("INSERT INTO graft.mr.t VALUES ('k2', DATE'2026-01-03', 22)")
      assert(spark.sql("SELECT id, v FROM graft.mr.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ===
        Seq(("k1", 1), ("k2", 22), ("k3", 3)))
      // native UPDATE on the MOR table must not resurrect deleted rows
      spark.sql("UPDATE graft.mr.t SET v = v + 100 WHERE date = DATE'2026-01-01'")
      assert(spark.sql("SELECT id, v FROM graft.mr.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ===
        Seq(("k1", 101), ("k2", 22), ("k3", 3)))
      // time travel to the pre-delete version still sees all four rows
      assert(spark.sql("SELECT count(*) FROM graft.mr.t VERSION AS OF 1")
        .collect()(0).getLong(0) === 4L)
    }
  }

  test("incremental batch reads: startingVersion/endingVersion and changesBetween") {
    withCatalog("incr") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ic")
      spark.sql("CREATE TABLE graft.ic.t (id STRING, v INT)")           // v0
      spark.sql("INSERT INTO graft.ic.t VALUES ('a', 1)")               // v1
      spark.sql("INSERT INTO graft.ic.t VALUES ('b', 2)")               // v2
      spark.sql("INSERT INTO graft.ic.t VALUES ('c', 3)")               // v3
      def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.select("id").collect().map(_.getString(0)).sorted.toSeq
      // commits >= 2
      assert(ids(spark.read.option("startingVersion", "2")
        .table("graft.ic.t")) === Seq("b", "c"))
      // bounded range [2, 2]
      assert(ids(spark.read.option("startingVersion", "2")
        .option("endingVersion", "2").table("graft.ic.t")) === Seq("b"))
      // full-log range = full table (append-only)
      assert(ids(spark.read.option("startingVersion", "0")
        .table("graft.ic.t")) === Seq("a", "b", "c"))
      // TxTable surface adds _commit_version
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val ch = cat.getTable("ic", "t").changesBetween(2, 3)
      assert(ch.columns.contains("_commit_version"))
      assert(ch.select("id", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ===
        Set(("b", 2L), ("c", 3L)))
    }
  }

  test("TIMESTAMP AS OF resolves by binary search: O(log n) header reads") {
    withCatalog("ttbin") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tb")
      spark.sql("CREATE TABLE graft.tb.t (id INT)")                   // v0
      // synthesize 400 further commits with strictly monotone times —
      // header-only resolution needs no data files
      val logDir = new org.apache.hadoop.fs.Path(s"$wh/tb/t/_log")
      val conf = spark.sessionState.newHadoopConf()
      val base = TxLog.readRaw(logDir, 0L, conf)
      val t0 = base.timestampMs
      (1L to 400L).foreach { i =>
        TxLog.commit(logDir, Some(i - 1), base.copy(
          version = i, timestampMs = t0 + i * 1000L,
          operation = "APPEND"), conf)
      }
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("tb"), "t")
      def resolve(cutoffMs: Long): (Long, Long) = {
        val before = TxLog.rawHeaderReadCount
        val tbl = cat.loadTable(ident, cutoffMs * 1000L) // micros
          .asInstanceOf[graft.catalog.GraftV2Table]
        (tbl.asOfVersion.get, TxLog.rawHeaderReadCount - before)
      }
      // exact hit, between-commit instant, and head
      val (v1, r1) = resolve(t0 + 137 * 1000L)
      assert(v1 === 137L)
      val (v2, r2) = resolve(t0 + 137 * 1000L + 500L)
      assert(v2 === 137L)
      val (v3, r3) = resolve(t0 + 400 * 1000L + 60000L)
      assert(v3 === 400L)
      // log2(401) ≈ 8.6 → ≤ ~10 probes + boundary check (+ table-open
      // overhead); a linear walk would read 264-401 headers
      Seq(r1, r2, r3).foreach(r =>
        assert(r <= 20L, s"time-travel resolution read $r headers — not O(log n)"))
      // pre-creation instant errors
      intercept[IllegalArgumentException] { resolve(t0 - 10000L) }
    }
  }

  test("V2 catalog: metadata tables files/partitions/history/tags") {
    withCatalog("meta") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.m")
      spark.sql("CREATE TABLE graft.m.t (id STRING, date DATE, v INT) PARTITIONED BY (date)")
      spark.sql("""INSERT INTO graft.m.t VALUES
        ('a', DATE'2026-01-01', 1), ('b', DATE'2026-01-02', 2)""")
      spark.sql("INSERT INTO graft.m.t VALUES ('c', DATE'2026-01-01', 3)")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      cat.getTable("m", "t").tag("audit")
      // files: one row per live data file, partition values attached
      val files = spark.sql("SELECT * FROM graft.m.t.files")
      assert(files.count() === cat.getTable("m", "t").snapshot.files.size)
      assert(files.columns.contains("partition_values"))
      // partitions: per-partition rollup, metadata only
      val parts = spark.sql(
        "SELECT partition_values['date'] AS d, row_count FROM graft.m.t.partitions ORDER BY d")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(parts.toSeq === Seq(("2026-01-01", 2L), ("2026-01-02", 1L)))
      // history: newest first, one row per commit (create + 2 inserts)
      val hist = spark.sql("SELECT version, operation FROM graft.m.t.history")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(hist.head._1 === 2L && hist.length === 3)
      assert(hist.map(_._2).toSet === Set("CREATE", "APPEND"))
      // tags: the tag store as a table
      val tags = spark.sql("SELECT * FROM graft.m.t.tags").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(tags.toSeq === Seq(("audit", 2L)))
      // predicates and aggregates compose over metadata tables
      assert(spark.sql(
        "SELECT sum(row_count) FROM graft.m.t.partitions").head().getLong(0) === 3L)
    }
  }

  test("V2 row-level write at volume: 30k rows, many partitions, counts exact") {
    withCatalog("vol") { wh =>
      // enough rows to spread across tasks and partition dirs, so the
      // clustered-distribution write and dynamic routing actually fan
      import graft.ingest.SampleData
      val seed = SampleData.transactions(spark, 30000, seed = 77L)
        .withColumn("date", org.apache.spark.sql.functions.date_add(
          org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("2026-01-01")),
          (org.apache.spark.sql.functions.col("hour") % 8)))
      seed.createOrReplaceTempView("vol_seed")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.vol")
      spark.sql("CREATE TABLE graft.vol.t PARTITIONED BY (date) AS SELECT * FROM vol_seed")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val tx = cat.getTable("vol", "t")
      val total = 30000L
      val declined = spark.table("graft.vol.t")
        .filter(col("status") === "DECLINED").count()
      spark.sql("DELETE FROM graft.vol.t WHERE status = 'DECLINED'")
      assert(spark.table("graft.vol.t").count() === total - declined)
      val high = spark.table("graft.vol.t")
        .filter(col("risk_score") === "HIGH").count()
      spark.sql("UPDATE graft.vol.t SET status = 'ESCALATED' WHERE risk_score = 'HIGH'")
      assert(spark.table("graft.vol.t")
        .filter(col("status") === "ESCALATED").count() === high)
      // no row lost or duplicated by the rewrite; keys stay unique
      assert(spark.table("graft.vol.t").count() === total - declined)
      assert(spark.table("graft.vol.t")
        .select("transaction_id").distinct().count() === total - declined)
      // snapshot metadata agrees with the data (footer counts recorded)
      assert(tx.count() === total - declined)
      // clustered distribution kept file counts sane: at most a couple
      // of files per partition at this size, not tasks x partitions
      val perPart = tx.snapshot.files.groupBy(_.partitionValues("date"))
        .map(_._2.size).max
      assert(perPart <= 4, s"small-file fan-out: $perPart files in one partition")
    }
  }

  test("GraftSql routes SELECT over ns.tbl through the V2 catalog (no temp views)") {
    withCatalog("gsql") { wh =>
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      cat.sql("CREATE TABLE mart.sales (id STRING, amount DECIMAL(10,2))")
      cat.sql("INSERT INTO mart.sales VALUES ('a', 5.00), ('b', 7.50)")
      val r = cat.sql("SELECT sum(amount) AS s FROM mart.sales")
      assert(r.head().getDecimal(0).doubleValue() === 12.5)
      // a string literal containing a qualified table name must survive
      // (the old regex rewrite would have mangled it)
      val lit = cat.sql("SELECT 'mart.sales' AS label FROM mart.sales LIMIT 1")
      assert(lit.head().getString(0) === "mart.sales")
      // the native route leaves no temp view behind
      assert(!spark.catalog.tableExists("mart_sales"))
      // ALTER TABLE statements (no GraftSql regex) route natively too,
      // and the catalog's own DESCRIBE sees the evolved schema
      cat.sql("ALTER TABLE mart.sales ADD COLUMN note STRING")
      val cols = cat.sql("DESCRIBE mart.sales").collect().map(_.getString(0))
      assert(cols.contains("note"))
      assert(cat.getTable("mart", "sales").schema.fieldNames.contains("note"))
    }
  }

  test("V2 catalog: ANALYZE TABLE feeds exact rowCount and column stats to the optimizer") {
    withCatalog("stats") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.st")
      spark.sql("CREATE TABLE graft.st.t (id STRING, grp STRING, v INT)")
      spark.sql("""INSERT INTO graft.st.t SELECT
        CAST(id AS STRING), CAST(id % 7 AS STRING), CAST(id % 13 AS INT)
        FROM range(1000)""")
      // exact numRows flows from commit metadata even before ANALYZE
      val pre = spark.sql("SELECT * FROM graft.st.t")
        .queryExecution.optimizedPlan.stats
      assert(pre.rowCount.contains(BigInt(1000)),
        s"metadata rowCount should reach the optimizer, got ${pre.rowCount}")
      // ANALYZE via the SQL router, then ndv/nullCount are CBO-visible
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      val msg = GraftSql.sql(cat,
        "ANALYZE TABLE st.t COMPUTE STATISTICS FOR ALL COLUMNS")
        .first().getString(0)
      assert(msg.contains("1000 rows") && msg.contains("3 column(s)"))
      val st = cat.getTable("st", "t").tableStats.get
      assert(st.rowCount === 1000L)
      assert(st.cols("grp").ndv >= 6 && st.cols("grp").ndv <= 8) // ~7, HLL
      assert(st.cols("id").nullCount === 0L)
      val post = spark.sql("SELECT * FROM graft.st.t")
        .queryExecution.optimizedPlan.stats
      val byName = post.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName.get("grp").flatMap(_.distinctCount)
        .exists(n => n >= 6 && n <= 8),
        s"grp ndv should reach the optimizer, got ${byName.get("grp")}")
      assert(byName.get("v").flatMap(_.distinctCount)
        .exists(n => n >= 12 && n <= 14))
    }
  }

  test("V2 catalog: branch addressing — t.branch_x writes, VERSION AS OF reads") {
    withCatalog("branch") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.br")
      spark.sql("CREATE TABLE graft.br.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.br.t VALUES ('a', 1), ('b', 2)")
      val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
      cat.getTable("br", "t").createBranch("audit")
      // write through the Iceberg-style branch identifier: main untouched
      spark.sql("INSERT INTO graft.br.t.branch_audit VALUES ('c', 3)")
      spark.sql("UPDATE graft.br.t.branch_audit SET v = 20 WHERE id = 'b'")
      assert(spark.sql("SELECT * FROM graft.br.t").count() === 2)
      assert(spark.sql("SELECT sum(v) FROM graft.br.t").first().getLong(0) === 3L)
      // read the branch two ways: identifier suffix and VERSION AS OF
      assert(spark.sql("SELECT * FROM graft.br.t.branch_audit").count() === 3)
      assert(spark.sql(
        "SELECT v FROM graft.br.t VERSION AS OF 'audit' WHERE id = 'b'")
        .first().getInt(0) === 20)
      // publish, then main sees the branch state
      GraftSql.sql(cat, "ALTER TABLE br.t FAST FORWARD audit")
      assert(spark.sql("SELECT sum(v) FROM graft.br.t").first().getLong(0) === 24L)
      // metadata tables cover the new surfaces
      val b = spark.sql("SELECT * FROM graft.br.t.branches").collect()
      assert(b.map(_.getString(0)).toSeq === Seq("audit"))
      cat.getTable("br", "t").addConstraint("v_pos", "v > 0")
      val ck = spark.sql("SELECT * FROM graft.br.t.constraints").collect()
      assert(ck.map(r => (r.getString(0), r.getString(1))).toSeq
        === Seq(("v_pos", "v > 0")))
    }
  }

  test("persistent views: CREATE/SELECT/nested/REPLACE/SHOW/DROP via GraftSql") {
    val wh = freshDir("v2cat_views")
    val cat = new TableCatalog(spark, new org.apache.hadoop.fs.Path(wh))
    cat.sql("CREATE TABLE vw.t (id STRING, region STRING, v INT)")
    cat.sql("""INSERT INTO vw.t VALUES
      ('a', 'EU', 1), ('b', 'EU', 2), ('c', 'US', 3)""")
    cat.sql("""CREATE VIEW vw.eu_total AS
      SELECT region, sum(v) AS total FROM vw.t
      WHERE region = 'EU' GROUP BY region""")
    val r1 = cat.sql("SELECT * FROM vw.eu_total").collect()
    assert(r1.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("EU", 3L)))
    // a view is SQL text, not a snapshot: new rows show up on re-read
    cat.sql("INSERT INTO vw.t VALUES ('d', 'EU', 10)")
    assert(cat.sql("SELECT total FROM vw.eu_total").first().getLong(0) === 13L)
    // views on views: nested substitution
    cat.sql("""CREATE VIEW vw.eu_doubled AS
      SELECT region, total * 2 AS dbl FROM vw.eu_total""")
    assert(cat.sql("SELECT dbl FROM vw.eu_doubled").first().getLong(0) === 26L)
    // the _views store never shows up as a table
    assert(cat.listTables("vw") === Seq("t"))
    assert(cat.sql("SHOW VIEWS IN vw").collect()
      .map(_.getString(1)).toSeq === Seq("eu_doubled", "eu_total"))
    cat.sql("""CREATE OR REPLACE VIEW vw.eu_total AS
      SELECT region, count(*) AS total FROM vw.t GROUP BY region""")
    assert(cat.sql("SELECT * FROM vw.eu_total").count() === 2)
    // the V2 ViewCatalog interface reads the same storage (the
    // connector surface engines with view-DDL extensions resolve)
    spark.conf.set("spark.sql.catalog.graftvtest", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftvtest.warehouse", wh)
    val vc = new graft.catalog.GraftCatalog
    vc.initialize("graftvtest",
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("vw"), "eu_total")
    assert(vc.viewExists(ident))
    assert(vc.loadView(ident).query.contains("count(*)"))
    assert(vc.listViews("vw").map(_.name()).toSeq === Seq("eu_doubled", "eu_total"))
    // duplicate create refused; IF NOT EXISTS tolerated
    intercept[IllegalArgumentException] {
      cat.sql("CREATE VIEW vw.eu_total AS SELECT 1 AS one") }
    assert(cat.sql("CREATE VIEW IF NOT EXISTS vw.eu_total AS SELECT 1 AS one")
      .first().getString(0).startsWith("EXISTS"))
    cat.sql("DROP VIEW vw.eu_doubled")
    cat.sql("DROP VIEW vw.eu_total")
    assert(cat.sql("SHOW VIEWS IN vw").count() === 0)
    intercept[Exception] { cat.sql("SELECT * FROM vw.eu_total").collect() }
  }

  test("ALTER COLUMN TYPE widens via SQL; old files read through promotion") {
    withCatalog("widen") { _ =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.w")
      spark.sql("CREATE TABLE graft.w.t (id STRING, qty INT, score FLOAT)")
      spark.sql("INSERT INTO graft.w.t VALUES ('a', 7, CAST(1.5 AS FLOAT))")
      spark.sql("ALTER TABLE graft.w.t ALTER COLUMN qty TYPE BIGINT")
      spark.sql("ALTER TABLE graft.w.t ALTER COLUMN score TYPE DOUBLE")
      spark.sql("INSERT INTO graft.w.t VALUES ('b', 6000000000, 2.25)")
      val rows = spark.sql("SELECT id, qty, score FROM graft.w.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq(("a", 7L, 1.5), ("b", 6000000000L, 2.25)))
      // pushed filters over the widened column stay exact on old files
      assert(spark.sql("SELECT id FROM graft.w.t WHERE qty = 7").collect()
        .map(_.getString(0)).toSeq === Seq("a"))
      // narrowing is refused by the catalog
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.w.t ALTER COLUMN qty TYPE INT") }
    }
  }

  test("DEFAULT column values: create, add, alter, and existence defaults") {
    withCatalog("defaults") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.d")
      spark.sql("""CREATE TABLE graft.d.t (
        id STRING, qty INT DEFAULT 1, status STRING DEFAULT 'NEW')""")
      // INSERT omitting defaulted columns takes the current defaults
      spark.sql("INSERT INTO graft.d.t (id) VALUES ('a')")
      spark.sql("INSERT INTO graft.d.t VALUES ('b', 5, 'DONE')")
      val rows = spark.sql("SELECT id, qty, status FROM graft.d.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      assert(rows.toSeq === Seq(("a", 1, "NEW"), ("b", 5, "DONE")))
      // ADD COLUMN with DEFAULT is metadata-only: rows written BEFORE
      // the column existed report the existence default on read
      spark.sql("ALTER TABLE graft.d.t ADD COLUMN score INT DEFAULT 7")
      val withNew = spark.sql("SELECT id, score FROM graft.d.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getInt(1)))
      assert(withNew.toSeq === Seq(("a", 7), ("b", 7)))
      // DEFAULT keyword and omission both resolve on the new column
      spark.sql("INSERT INTO graft.d.t VALUES ('c', DEFAULT, DEFAULT, 9)")
      spark.sql("INSERT INTO graft.d.t (id) VALUES ('d')")
      // SET DEFAULT changes future inserts only; existing rows keep
      // reporting the add-time existence default
      spark.sql("ALTER TABLE graft.d.t ALTER COLUMN qty SET DEFAULT 100")
      spark.sql("INSERT INTO graft.d.t (id) VALUES ('e')")
      val all = spark.sql("SELECT id, qty, score FROM graft.d.t ORDER BY id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      assert(all.toSeq === Seq(("a", 1, 7), ("b", 5, 7), ("c", 1, 9),
        ("d", 1, 7), ("e", 100, 7)))
    }
  }

  test("atomic CREATE OR REPLACE TABLE AS SELECT via StagingTableCatalog") {
    withCatalog("rtas") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.r")
      // staged CTAS: the table appears only at publication
      spark.sql("""CREATE TABLE graft.r.t PARTITIONED BY (region) AS
        SELECT * FROM VALUES ('a', 'EU', 1), ('b', 'US', 2) AS v(id, region, n)""")
      assert(spark.sql("SELECT * FROM graft.r.t").count() === 2)
      // no staging debris after publication
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def stageDirs = fs.listStatus(new org.apache.hadoop.fs.Path(wh, "r"))
        .map(_.getPath.getName).filter(_.startsWith("_stage_"))
      assert(stageDirs.isEmpty, s"staging debris: ${stageDirs.mkString(",")}")
      // REPLACE swaps schema + data in one commit; history survives
      spark.sql("""REPLACE TABLE graft.r.t AS
        SELECT * FROM VALUES ('x', 10L), ('y', 20L), ('z', 30L) AS v(key, total)""")
      val after = spark.sql("SELECT key, total FROM graft.r.t ORDER BY key")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(after.toSeq === Seq(("x", 10L), ("y", 20L), ("z", 30L)))
      assert(stageDirs.isEmpty)
      // the pre-replace table stays time-travelable (version 1 = CTAS data)
      assert(spark.sql("SELECT count(*) FROM graft.r.t VERSION AS OF 1")
        .head().getLong(0) === 2L)
      // CREATE OR REPLACE over existing; plain CTAS on existing still fails
      spark.sql("CREATE OR REPLACE TABLE graft.r.t AS SELECT 1 AS one")
      assert(spark.sql("SELECT one FROM graft.r.t").head().getInt(0) === 1)
      intercept[Exception] {
        spark.sql("CREATE TABLE graft.r.t AS SELECT 2 AS two") }
      // REPLACE of a missing table is refused and leaves nothing behind
      intercept[Exception] {
        spark.sql("REPLACE TABLE graft.r.missing AS SELECT 1 AS one") }
      assert(stageDirs.isEmpty)
      assert(spark.sql("SHOW TABLES IN graft.r").count() === 1)
    }
  }

  test("CALL procedures: tag/rollback/expire/compact/analyze via native SQL") {
    withCatalog("proc") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.p")
      spark.sql("CREATE TABLE graft.p.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.p.t VALUES ('a', 1)")          // v1
      spark.sql("INSERT INTO graft.p.t VALUES ('b', 2)")          // v2
      spark.sql("INSERT INTO graft.p.t VALUES ('c', 3)")          // v3
      // create_tag pins the current version; by-name arguments work
      val tagged = spark.sql(
        "CALL graft.system.create_tag(table => 'p.t', tag => 'launch')")
      assert(tagged.collect().head.getLong(0) === 3L)
      // rollback_to_version restores as a NEW commit
      val rb = spark.sql("CALL graft.system.rollback_to_version('p.t', 2)")
      assert(rb.collect().head.getLong(0) === 4L)
      assert(spark.sql("SELECT count(*) FROM graft.p.t").head().getLong(0) === 2L)
      // rewrite_data_files compacts into one commit
      val rw = spark.sql("CALL graft.system.rewrite_data_files('p.t')")
      assert(rw.collect().head.getLong(0) === 5L)
      // analyze_table reports the row count it computed
      val an = spark.sql("CALL graft.system.analyze_table('p.t')")
      assert(an.collect().head.getLong(0) === 2L)
      // expire_snapshots retains the head (tagged v3 is protected)
      val ex = spark.sql(
        "CALL graft.system.expire_snapshots(table => 'p.t', retain_last => 1)")
      assert(ex.collect().head.getInt(0) >= 1)
      // the tagged version survives expiration
      assert(spark.sql("SELECT count(*) FROM graft.p.t VERSION AS OF 'launch'")
        .head().getLong(0) === 3L)
      // SHOW PROCEDURES lists the registry
      val procs = spark.sql("SHOW PROCEDURES IN graft")
        .select("procedure_name").collect().map(_.getString(0))
      assert(procs.contains("expire_snapshots") && procs.contains("shallow_clone"))
      // unknown procedure is refused with the available list
      val err = intercept[Exception] {
        spark.sql("CALL graft.system.nope('p.t')") }
      assert(err.getMessage.contains("nope"))
    }
  }

  test("CALL procedures: branches, shallow_clone, remove_orphan_files") {
    withCatalog("proc2") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.q")
      spark.sql("CREATE TABLE graft.q.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.q.t VALUES ('a', 1)")
      // branch fork + write + fast-forward publish (WAP via CALL)
      spark.sql("CALL graft.system.create_branch('q.t', 'audit')")
      spark.sql("INSERT INTO graft.q.t.branch_audit VALUES ('b', 2)")
      assert(spark.sql("SELECT count(*) FROM graft.q.t").head().getLong(0) === 1L)
      spark.sql("CALL graft.system.fast_forward('q.t', 'audit')")
      assert(spark.sql("SELECT count(*) FROM graft.q.t").head().getLong(0) === 2L)
      spark.sql("CALL graft.system.drop_branch('q.t', 'audit')")
      // shallow_clone: metadata-only copy readable immediately
      val cl = spark.sql("CALL graft.system.shallow_clone('q.t', 'q.t2')")
      assert(cl.collect().head.getLong(0) >= 0L)
      assert(spark.sql("SELECT count(*) FROM graft.q.t2").head().getLong(0) === 2L)
      // remove_orphan_files with zero grace reclaims rolled-over files
      spark.sql("INSERT OVERWRITE graft.q.t VALUES ('z', 9)")
      val rm = spark.sql(
        "CALL graft.system.remove_orphan_files(table => 'q.t', retain_versions => 1, grace_millis => 0)")
      assert(rm.collect().head.getInt(0) >= 1)
      assert(spark.sql("SELECT count(*) FROM graft.q.t").head().getLong(0) === 1L)
    }
  }

  test("CALL maintain_table: the one-call policy compacts, expires, vacuums, and goes quiet") {
    withCatalog("proc3") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.m")
      spark.sql("CREATE TABLE graft.m.t (id STRING, v INT)")
      // 20 single-row commits: small-file debris + snapshot debt, the
      // steady state of a micro-batch stream with maintenance off
      (1 to 20).foreach(i =>
        spark.sql(s"INSERT INTO graft.m.t VALUES ('k$i', $i)"))
      // a bloom sidecar participates in the policy too
      spark.sql("CALL graft.system.build_bloom_index('m.t', 'id')")
      def maintain(): Seq[(String, String)] = spark.sql(
        "CALL graft.system.maintain_table(table => 'm.t', " +
          "min_small_files => 10, retain_snapshots => 5, " +
          "orphan_grace_ms => 0)")
        .collect().toSeq.map(r => r.getString(0) -> r.getString(1))
      def acts(rows: Seq[(String, String)], key: String) =
        rows.filter(_._1 == key).map(_._2)
      // sweep 1: bin-packs the 20 small files and expires history past
      // the retention count. NOTHING is vacuumed yet — the retained
      // pre-compaction snapshots still time-travel to the small files,
      // and reclaiming them would break that contract
      val first = maintain()
      assert(acts(first, "compacted").nonEmpty, s"actions: $first")
      assert(acts(first, "expired").nonEmpty, s"actions: $first")
      assert(acts(first, "vacuumed").isEmpty, s"actions: $first")
      // the compaction rewrote every covered file — the sidecar is all
      // dead entries, so the policy drops them with the O(sidecar)
      // COMPACTION (r16 — the rebuild's O(table) rescan is reserved
      // for fpp reshaping) and then refreshes the compacted outputs
      // O(new files)
      assert(acts(first, "bloom:id").exists(_.startsWith("compacted (20")),
        s"actions: $first")
      assert(acts(first, "bloom:id").exists(_.startsWith("refreshed")),
        s"actions: $first")
      assert(spark.sql("SELECT count(*) FROM graft.m.t")
        .head().getLong(0) === 20L)
      assert(spark.sql("SELECT count(*) FROM graft.m.t.files")
        .head().getLong(0) <= 2L)
      // 5 more commits slide the retention window past the last
      // pre-compaction snapshot: sweep 2 reclaims the small files the
      // compaction retired (plus their aged-out metadata)
      (21 to 25).foreach(i =>
        spark.sql(s"INSERT INTO graft.m.t VALUES ('k$i', $i)"))
      val second = maintain()
      assert(acts(second, "vacuumed").nonEmpty, s"actions: $second")
      assert(acts(second, "vacuumed").head.split(" ")(0).toInt >= 20,
        s"actions: $second")
      // ...and the 5 fresh files dropped bloom coverage to 0.8 — the
      // policy refreshes O(new files); zero dead entries, so no
      // sidecar compaction rides along
      assert(acts(second, "bloom:id") match {
        case Seq(one) => one.startsWith("refreshed (5")
        case _ => false
      }, s"actions: $second")
      assert(spark.sql("SELECT count(*) FROM graft.m.t")
        .head().getLong(0) === 25L)
      // sweep 3: every signal within thresholds
      assert(maintain() ===
        Seq("noop" -> "all signals within thresholds"))
    }
  }

  test("planning-layout cache never aliases a dropped-and-recreated table") {
    withCatalog("layoutalias") { wh =>
      // the r16 cross-query layout cache serves the O(files) planning
      // geometry by (root, branch, version, created-ts, zone): a table
      // DROPPED and RECREATED at the same root restarts version
      // numbering, so created-ts is the only thing standing between
      // the new v1 and the old v1's cached file list — pin it
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.la")
      spark.sql("CREATE TABLE graft.la.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.la.t VALUES ('old', 1)")
      // plan + execute: the old v1 layout is now cached
      assert(spark.sql("SELECT id FROM graft.la.t").collect()
        .map(_.getString(0)).toSeq === Seq("old"))
      spark.sql("DROP TABLE graft.la.t")
      spark.sql("CREATE TABLE graft.la.t (id STRING, v INT)")
      spark.sql("INSERT INTO graft.la.t VALUES ('new', 2)")
      // same root, same version number, different creation: the read
      // must see ONLY the new table's file
      assert(spark.sql("SELECT id FROM graft.la.t").collect()
        .map(_.getString(0)).toSeq === Seq("new"))
      // and re-planning the same version twice stays consistent (the
      // cached layout serves the second plan)
      assert(spark.sql("SELECT id, v FROM graft.la.t WHERE v = 2")
        .collect().map(_.getString(0)).toSeq === Seq("new"))
    }
  }

  test("declarative maintenance: graft.maintain.* properties keep an ingest healthy with no CALLs") {
    withCatalog("autom") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.am")
      // maintenance CONFIGURED PER TABLE, the reference's managed S3
      // Tables shape (kinesis-firehose-stream/README.md:12): thresholds
      // are TBLPROPERTIES; the post-commit trigger runs the policy —
      // no scheduler, no CALL
      spark.sql("CREATE TABLE graft.am.t (id STRING, v INT) " +
        "TBLPROPERTIES ('graft.maintain.enabled' = 'true', " +
        "'graft.maintain.minSmallFiles' = '8', " +
        "'graft.maintain.retainSnapshots' = '5', " +
        "'graft.maintain.orphanGraceMs' = '0')")
      // properties round-trip through SHOW TBLPROPERTIES (governed
      // like any TBLPROPERTIES read)
      val shown = spark.sql("SHOW TBLPROPERTIES graft.am.t")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown.get("graft.maintain.enabled").contains("true"))
      assert(shown.get("graft.maintain.minSmallFiles").contains("8"))
      // a micro-batch-shaped ingest: 30 single-row commits. With
      // maintenance OFF this leaves 30 files and 31 snapshots; the
      // per-table policy keeps both bounded as epochs pass — files
      // bin-pack whenever 8 small ones accumulate, snapshots expire
      // past 5, and the vacuum piggybacks on passes that did work
      (1 to 30).foreach(i =>
        spark.sql(s"INSERT INTO graft.am.t VALUES ('k$i', $i)"))
      // sweeps run on the background lane since r17 — drain it (a
      // sweep's own trailing commit may schedule nothing further, but
      // a commit landing mid-sweep schedules one more; loop to quiet)
      TxTable.awaitAutoMaintenance()
      TxTable.awaitAutoMaintenance()
      val t = new TableCatalog(spark, new Path(wh)).getTable("am", "t")
      val files = t.snapshot.files.size
      assert(files < 15, s"auto-maintenance never compacted: $files files")
      assert(spark.sql("SELECT count(*) FROM graft.am.t")
        .head().getLong(0) === 30L)
      // snapshot debt stays bounded by retainSnapshots (tiny slack for
      // the maintenance pass's own trailing commits)
      val v = t.currentVersion
      val readable = (0L to v).count(ver =>
        scala.util.Try(t.snapshotAt(ver)).isSuccess)
      // slack: the pass's own trailing commits + carrier headers the
      // expiry must keep while their refs age out
      assert(readable <= 10, s"retention never ran: $readable headers live")
      // vacuum reclaimed compacted-away debris (no CALL ever issued)
      val dataFiles = new Path(t.root, "data").getFileSystem(
        spark.sessionState.newHadoopConf())
      // every live file is accounted; dead small files were swept in
      // some pass after the retention window slid past them
      def walkCount(p: Path): Int = {
        val fsx = dataFiles
        if (!fsx.exists(p)) 0
        else fsx.listStatus(p).map(st =>
          if (st.isDirectory) walkCount(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet")) 1 else 0).sum
      }
      val onDisk = walkCount(new Path(t.root, "data"))
      assert(onDisk < 30, s"vacuum never reclaimed: $onDisk files on disk")
      // CALL arguments override the properties: an explicit pass with
      // a 1-snapshot retention tightens beyond the configured 5
      spark.sql("CALL graft.system.maintain_table(table => 'am.t', " +
        "retain_snapshots => 1, orphan_grace_ms => 0)").collect()
      val readableAfter = (0L to t.currentVersion).count(ver =>
        scala.util.Try(t.snapshotAt(ver)).isSuccess)
      // head + protected carriers at most
      assert(readableAfter <= 4, s"CALL override ignored: $readableAfter")
      // rate limiting: a long interval stops further auto passes (the
      // stamp is JVM-wide per table)
      spark.sql("ALTER TABLE graft.am.t SET TBLPROPERTIES " +
        "('graft.maintain.intervalMs' = '3600000')")
      // the interval gate reads the last SUCCESSFUL sweep stamp; the
      // sweeps above stamped it moments ago, so the hour-long interval
      // silences the trigger for the commits below. Drain first so no
      // already-queued sweep interleaves its commits into the count.
      TxTable.awaitAutoMaintenance()
      TxTable.awaitAutoMaintenance()
      val vNow = t.currentVersion
      (31 to 40).foreach(i =>
        spark.sql(s"INSERT INTO graft.am.t VALUES ('k$i', $i)"))
      // versions advance one per insert — no interleaved maintenance
      // commits, because the interval gate short-circuits evaluation
      assert(t.currentVersion === vNow + 10,
        "intervalMs did not rate-limit the auto trigger")
    }
  }
}
