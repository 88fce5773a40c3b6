package graft.table

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Hidden partitioning ([[PartitionTransform]]): Iceberg-style partition
 * transforms — `day(ts)`, `bucket(n, id)`, `truncate(w, s)` — where the
 * derived partition column never appears in the table schema and
 * queries filter on the SOURCE column only; the engine projects
 * predicates onto partitions itself (Iceberg spec, "Partition
 * Transforms" / "Scan Planning"; the reference's S3-Tables tables are
 * Iceberg, whose `PARTITIONED BY (days(ts))` layouts this mirrors).
 */
class HiddenPartitionSpec extends SparkSpec {
  import spark.implicits._

  private def withCatalog[T](tag: String)(f: String => T): T = {
    val wh = freshDir(s"hidden_$tag")
    spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    f(wh)
  }

  private def scannedFiles(q: org.apache.spark.sql.DataFrame): Int =
    q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .map(_.inputPartitions.map {
        case fp: FilePartition => fp.files.length
        case _                 => 0
      }.sum).sum

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("v", StringType)))

  private def rows(ids: Range, day: String) =
    ids.map(i => (i.toLong, java.sql.Timestamp.valueOf(s"$day ${10 + i % 8}:00:00"), s"v$i"))
      .toDF("id", "ts", "v")

  test("spec validation rejects bad transforms at create") {
    val root = new Path(freshDir("hp_validate"))
    def mk(spec: Seq[PartField]) =
      TxTable.create(spark, new Path(root, spec.hashCode.toString), "t",
        schema, Nil, partitionSpec = spec)
    intercept[IllegalArgumentException] {
      mk(Seq(PartField("x_day", "dayz", "ts")))          // unknown transform
    }
    intercept[IllegalArgumentException] {
      mk(Seq(PartField("x_day", "day", "nope")))         // missing source
    }
    intercept[IllegalArgumentException] {
      mk(Seq(PartField("v", "day", "ts")))               // collides with schema col
    }
    intercept[IllegalArgumentException] {
      mk(Seq(PartField("id_bucket", "bucket", "id")))    // bucket without count
    }
    intercept[IllegalArgumentException] {
      mk(Seq(PartField("ts_day", "day", "id")))          // day of a long
    }
  }

  test("V1: append + merge land in derived partition dirs; reads stay schema-only") {
    val root = new Path(freshDir("hp_v1"), "t")
    val t = TxTable.create(spark, root, "hp.t", schema, Nil, partitionSpec = Seq(
      PartField("ts_day", "day", "ts"), PartField("id_bucket", "bucket", "id", 4)))
    t.append(rows(0 until 16, "2026-01-01").union(rows(16 until 32, "2026-01-02")))
    // physical layout: ts_day=YYYY-MM-DD/id_bucket=N directories
    val parts = t.snapshot.files.map(_.partitionValues)
    assert(parts.nonEmpty)
    assert(parts.forall(p => p.keySet == Set("ts_day", "id_bucket")))
    assert(parts.map(_("ts_day")).toSet === Set("2026-01-01", "2026-01-02"))
    assert(parts.map(_("id_bucket")).toSet.subsetOf(Set("0", "1", "2", "3")))
    assert(t.snapshot.files.forall(f =>
      f.path.startsWith(s"ts_day=${f.partitionValues("ts_day")}/")))
    // the derived columns never surface in a read
    assert(t.toDF.columns.toSeq === Seq("id", "ts", "v"))
    assert(t.toDF.count() === 32)
    // merge (upsert by id): updates land in the right derived partitions
    val upd = Seq((3L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "UPDATED"),
      (99L, java.sql.Timestamp.valueOf("2026-01-03 09:00:00"), "NEW"))
      .toDF("id", "ts", "v")
    t.merge(upd, "id", orderCol = "ts")
    val out = t.toDF.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(3L) === "UPDATED")
    assert(out(99L) === "NEW")
    assert(out.size === 33)
    assert(t.snapshot.files.map(_.partitionValues("ts_day")).toSet
      === Set("2026-01-01", "2026-01-02", "2026-01-03"))
    // schema evolution guards: a transform source cannot be dropped/renamed
    intercept[IllegalArgumentException] { t.dropColumn("ts") }
    intercept[IllegalArgumentException] { t.renameColumn("id", "id2") }
  }

  test("SQL DDL: PARTITIONED BY (days(ts), bucket(4, id)) round trips") {
    withCatalog("ddl") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.h")
      spark.sql("""CREATE TABLE graft.h.events (id BIGINT, ts TIMESTAMP, v STRING)
        PARTITIONED BY (days(ts), bucket(4, id))""")
      // schema: no derived columns
      assert(spark.table("graft.h.events").columns.toSeq === Seq("id", "ts", "v"))
      // partitioning reported as transforms (DESCRIBE shows them)
      val desc = spark.sql("DESCRIBE TABLE graft.h.events").collect()
        .map(_.getString(0)).mkString("\n")
      assert(desc.contains("Part 0") || desc.contains("# Partitioning"),
        s"partitioning not described:\n$desc")
      rows(0 until 16, "2026-03-01").union(rows(16 until 32, "2026-03-02"))
        .writeTo("graft.h.events").append()
      assert(spark.table("graft.h.events").count() === 32)
      val cat = new TableCatalog(spark, new Path(wh))
      val t = cat.getTable("h", "events")
      assert(t.partitionSpec.map(f => (f.name, f.transform, f.source, f.param))
        === Seq(("ts_day", "day", "ts", 0), ("id_bucket", "bucket", "id", 4)))
      assert(t.snapshot.files.map(_.partitionValues("ts_day")).toSet
        === Set("2026-03-01", "2026-03-02"))
    }
  }

  test("scan pruning: source predicates prune derived partitions") {
    withCatalog("prune") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.p")
      spark.sql("""CREATE TABLE graft.p.e (id BIGINT, ts TIMESTAMP, v STRING)
        PARTITIONED BY (days(ts), bucket(4, id))""")
      // one append spanning 3 days × 4 buckets; every bucket file's id
      // [min, max] spans nearly the whole range, so ONLY the bucket
      // transform can prune an id-equality probe
      rows(0 until 32, "2026-03-01")
        .union(rows(0 until 32, "2026-03-02"))
        .union(rows(0 until 32, "2026-03-03"))
        .writeTo("graft.p.e").append()
      val cat = new TableCatalog(spark, new Path(wh))
      val total = cat.getTable("p", "e").snapshot.files.size
      assert(total >= 12, s"expected >= 12 files (3 days × 4 buckets), got $total")
      // day range on ts: only the matching days' files are planned
      val dayQ = spark.sql(
        "SELECT v FROM graft.p.e WHERE ts >= TIMESTAMP'2026-03-03 00:00:00'")
      assert(dayQ.count() === 32)
      assert(scannedFiles(dayQ) <= total / 3,
        s"day pruning: planned ${scannedFiles(dayQ)} of $total files")
      // bucket equality on id: at most one bucket per day is planned
      // (min/max stats cannot help here — ranges overlap by design)
      val idQ = spark.sql("SELECT v FROM graft.p.e WHERE id = 7")
      assert(idQ.count() === 3)
      assert(scannedFiles(idQ) <= total / 4,
        s"bucket pruning: planned ${scannedFiles(idQ)} of $total files")
      // conjunction prunes on both dimensions
      val bothQ = spark.sql(
        """SELECT v FROM graft.p.e
           WHERE id = 7 AND ts >= TIMESTAMP'2026-03-03 00:00:00'""")
      assert(bothQ.count() === 1)
      assert(scannedFiles(bothQ) <= total / 12,
        s"combined pruning: planned ${scannedFiles(bothQ)} of $total files")
      // a probe matching nothing still answers (conservatively planned)
      assert(spark.sql("SELECT v FROM graft.p.e WHERE ts < TIMESTAMP'2020-01-01 00:00:00'")
        .count() === 0)
    }
  }

  test("row-level UPDATE/DELETE rewrite only the partitions they can touch") {
    withCatalog("dml") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.d")
      spark.sql("""CREATE TABLE graft.d.e (id BIGINT, ts TIMESTAMP, v STRING)
        PARTITIONED BY (days(ts))""")
      rows(0 until 8, "2026-04-01")
        .union(rows(8 until 16, "2026-04-02"))
        .union(rows(16 until 24, "2026-04-03"))
        .writeTo("graft.d.e").append()
      val cat = new TableCatalog(spark, new Path(wh))
      def filesByDay = cat.getTable("d", "e").snapshot.files
        .groupBy(_.partitionValues("ts_day")).view.mapValues(_.map(_.path).toSet).toMap
      val before = filesByDay
      // UPDATE scoped to one day by a ts range on the SOURCE column
      spark.sql("""UPDATE graft.d.e SET v = 'X'
        WHERE ts >= TIMESTAMP'2026-04-02 00:00:00'
          AND ts < TIMESTAMP'2026-04-03 00:00:00'""")
      val after = filesByDay
      assert(spark.sql("SELECT count(*) FROM graft.d.e WHERE v = 'X'")
        .head().getLong(0) === 8)
      // untouched days keep their exact files (no needless rewrite)
      assert(after("2026-04-01") === before("2026-04-01"))
      assert(after("2026-04-03") === before("2026-04-03"))
      assert(after("2026-04-02") !== before("2026-04-02"))
      // DELETE scoped the same way
      spark.sql("""DELETE FROM graft.d.e
        WHERE ts >= TIMESTAMP'2026-04-03 00:00:00'""")
      assert(spark.table("graft.d.e").count() === 16)
      val afterDelete = filesByDay
      assert(afterDelete("2026-04-01") === before("2026-04-01"))
      assert(!afterDelete.contains("2026-04-03"))
      // rows remain consistent: re-read through a fresh statement
      assert(spark.sql("SELECT count(*) FROM graft.d.e WHERE v = 'X'")
        .head().getLong(0) === 8)
    }
  }

  test("partition evolution: identity -> hidden spec -> identity round trips") {
    val root = new Path(freshDir("hp_evolve"), "t")
    val full = StructType(schema.fields :+ StructField("d", StringType))
    val t = TxTable.create(spark, root, "hp.evolve", full, Seq("d"))
    t.append(rows(0 until 8, "2026-05-01").withColumn("d", lit("x"))
      .union(rows(8 until 16, "2026-05-02").withColumn("d", lit("y"))))
    val v1 = t.currentVersion
    assert(t.snapshot.files.forall(_.partitionValues.keySet == Set("d")))
    // evolve onto a hidden day(ts) spec: one atomic rewrite
    t.evolvePartitionSpec(Seq(PartField("ts_day", "day", "ts")))
    assert(t.partitionSpec.map(_.transform) === Seq("day"))
    assert(t.snapshot.files.map(_.partitionValues("ts_day")).toSet
      === Set("2026-05-01", "2026-05-02"))
    assert(t.toDF.count() === 16)
    assert(t.toDF.columns.toSeq === Seq("id", "ts", "v", "d"))
    // old snapshot still reads its own identity layout (time travel)
    assert(t.asOf(v1).count() === 16)
    // and back to identity: the spec clears
    t.repartitionTable(Seq("d"))
    assert(t.partitionSpec.map(_.transform) === Seq("identity"))
    assert(t.snapshot.files.forall(_.partitionValues.keySet == Set("d")))
    assert(t.toDF.count() === 16)
  }

  test("storage-partitioned join over bucket transforms: zero shuffles") {
    withCatalog("spj") { _ =>
      withConfs(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false") {
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bj")
        spark.sql("""CREATE TABLE graft.bj.a (id BIGINT, v INT)
            PARTITIONED BY (bucket(4, id))""")
        spark.sql("""CREATE TABLE graft.bj.b (id BIGINT, w INT)
            PARTITIONED BY (bucket(4, id))""")
        spark.sql("""INSERT INTO graft.bj.a
            SELECT id, CAST(id AS INT) FROM range(1000)""")
        spark.sql("""INSERT INTO graft.bj.b
            SELECT id, CAST(id * 2 AS INT) FROM range(500)""")
        val q = spark.sql("""SELECT sum(a.v + b.w) AS s, count(*) AS n
            FROM graft.bj.a a JOIN graft.bj.b b ON a.id = b.id""")
        val row = q.collect().head
        // sum over id<500 of (id + 2*id) = 3 * 499*500/2
        assert(row.getLong(1) === 500L)
        assert(row.getLong(0) === 3L * 499 * 500 / 2)
        // both sides report KeyGroupedPartitioning over bucket(4, id) —
        // resolved via the catalog's bucket FUNCTION — so the join
        // needs no exchange on either side
        val plan = q.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning"),
          s"expected a shuffle-free bucket-transform join:\n$plan")
      }
    }
  }

  test("text-DDL surface: CREATE TABLE / SET PARTITION SPEC with transforms") {
    val cat = new TableCatalog(spark,
      new Path(freshDir("hp_textddl")))
    cat.sql("""CREATE TABLE lake.ev (
        id BIGINT, ts TIMESTAMP, v STRING
      ) PARTITIONED BY (day(ts), bucket(4, id))""")
    val t = cat.getTable("lake", "ev")
    assert(t.partitionSpec.map(f => (f.name, f.transform, f.param))
      === Seq(("ts_day", "day", 0), ("id_bucket", "bucket", 4)))
    t.append(rows(0 until 16, "2026-06-01"))
    assert(cat.sql("SELECT count(*) AS n FROM lake.ev").head().getLong(0) === 16)
    // SHOW CREATE TABLE renders re-runnable transform DDL
    val ddl = cat.sql("SHOW CREATE TABLE lake.ev").head().getString(0)
    assert(ddl.contains("PARTITIONED BY (days(ts), bucket(4, id))"), ddl)
    // evolve the spec by SQL text
    cat.sql("ALTER TABLE lake.ev SET PARTITION SPEC (hours(ts))")
    assert(cat.getTable("lake", "ev").partitionSpec.map(_.transform)
      === Seq("hour"))
    assert(cat.sql("SELECT count(*) AS n FROM lake.ev").head().getLong(0) === 16)
    // CTAS with a transform spec
    cat.sql("""CREATE TABLE lake.ev2 PARTITIONED BY (bucket(2, id)) AS
      SELECT * FROM lake.ev WHERE id < 8""")
    val t2 = cat.getTable("lake", "ev2")
    assert(t2.partitionSpec.map(_.transform) === Seq("bucket"))
    assert(t2.toDF.count() === 8)
  }

  test("truncate transform: string prefix partitioning with equality pruning") {
    withCatalog("trunc") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.t")
      spark.sql("""CREATE TABLE graft.t.docs (code STRING, n INT)
        PARTITIONED BY (truncate(2, code))""")
      Seq(("alpha", 1), ("amber", 2), ("beta", 3), ("bravo", 4), ("gamma", 5))
        .toDF("code", "n").writeTo("graft.t.docs").append()
      val cat = new TableCatalog(spark, new Path(wh))
      val t = cat.getTable("t", "docs")
      assert(t.snapshot.files.map(_.partitionValues("code_trunc")).toSet
        === Set("al", "am", "be", "br", "ga"))
      val total = t.snapshot.files.size
      val q = spark.sql("SELECT n FROM graft.t.docs WHERE code = 'beta'")
      assert(q.collect().map(_.getInt(0)) === Array(3))
      assert(scannedFiles(q) < total)
      assert(spark.table("graft.t.docs").count() === 5)
    }
  }

  test("metadata-only spec evolution: day(ts) -> month(ts), mixed-spec pruning") {
    withCatalog("evolve") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hp")
      spark.sql("""CREATE TABLE graft.hp.ev (id LONG, ts TIMESTAMP, v STRING)
        PARTITIONED BY (days(ts))""")
      val cat = new TableCatalog(spark, new Path(wh))
      val t = cat.getTable("hp", "ev")
      t.append(rows(0 until 8, "2026-01-01"))
      t.append(rows(8 until 16, "2026-01-02"))
      val vBefore = t.currentVersion
      val filesBefore = t.snapshot.files.map(_.path).toSet
      // the evolution is ONE metadata commit: zero files rewritten
      val v = t.alterPartitionSpec(Seq(PartField("ts_month", "month", "ts")))
      assert(v === vBefore + 1)
      assert(t.snapshot.files.map(_.path).toSet === filesBefore)
      assert(t.snapshot.partitionColumns === Seq("ts_month"))
      assert(t.snapshot.previousSpecFields ===
        Seq(PartField("ts_day", "day", "ts")))
      // time travel reads the OLD spec in its own layout
      assert(t.snapshotAt(vBefore).partitionColumns === Seq("ts_day"))
      // observability: SHOW TBLPROPERTIES names the retired fields
      val props = spark.sql("SHOW TBLPROPERTIES graft.hp.ev").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("previous-spec-fields").contains("day(ts) AS ts_day"),
        s"retired fields not observable: $props")
      // new writes land under the NEW spec only
      t.append(rows(16 until 24, "2026-02-10"))
      val newFiles = t.snapshot.files.filterNot(f => filesBefore(f.path))
      assert(newFiles.nonEmpty)
      assert(newFiles.forall(_.partitionValues.keySet == Set("ts_month")))
      assert(newFiles.forall(_.partitionValues("ts_month") == "2026-02"))
      val total = t.snapshot.files.size
      // pruning on the OLD side of the boundary: a one-day predicate
      // scans only that day's files (projected onto the RETIRED
      // ts_day field — new-spec files are excluded via ts_month)
      val qOld = spark.sql("""SELECT id FROM graft.hp.ev
        WHERE ts >= TIMESTAMP'2026-01-02 00:00:00'
          AND ts <  TIMESTAMP'2026-01-03 00:00:00'""")
      assert(qOld.collect().map(_.getLong(0)).sorted === (8L until 16L).toArray)
      val day2Files = t.snapshot.files.count(
        _.partitionValues.get("ts_day").contains("2026-01-02"))
      assert(scannedFiles(qOld) === day2Files,
        s"old-spec pruning inactive: ${scannedFiles(qOld)} of $total scanned")
      // and on the NEW side: a February predicate scans only new files
      val qNew = spark.sql("""SELECT id FROM graft.hp.ev
        WHERE ts >= TIMESTAMP'2026-02-01 00:00:00'""")
      assert(qNew.collect().map(_.getLong(0)).sorted === (16L until 24L).toArray)
      assert(scannedFiles(qNew) === newFiles.size,
        s"new-spec pruning inactive: ${scannedFiles(qNew)} of $total scanned")
      assert(spark.table("graft.hp.ev").count() === 24)
      // guards: identity fields cannot change metadata-only (their
      // values are not in the data files) ...
      intercept[IllegalArgumentException] {
        t.alterPartitionSpec(Seq(PartField("v", "identity", "v")))
      }
      // ... and a field NAME means one definition for the table's life
      intercept[IllegalArgumentException] {
        t.alterPartitionSpec(Seq(PartField("ts_day", "month", "ts")))
      }
      // evolving BACK reuses the historical field (same definition —
      // allowed), via the CALL surface; ts_month becomes retired
      spark.sql(
        "CALL graft.system.evolve_partition_spec(table => 'hp.ev', spec => 'day(ts)')")
      val t2 = cat.getTable("hp", "ev")
      assert(t2.snapshot.partitionColumns === Seq("ts_day"))
      assert(t2.snapshot.previousSpecFields.toSet ===
        Set(PartField("ts_month", "month", "ts")))
      t2.append(rows(24 until 28, "2026-03-01"))
      assert(spark.table("graft.hp.ev").count() === 28)
      // three spec generations in one table, still pruned correctly
      val qMar = spark.sql("""SELECT id FROM graft.hp.ev
        WHERE ts >= TIMESTAMP'2026-03-01 00:00:00'""")
      assert(qMar.collect().map(_.getLong(0)).sorted === (24L until 28L).toArray)
      assert(scannedFiles(qMar) < t2.snapshot.files.size)
      // a DERIVED-field static overwrite is ambiguous while retired-
      // spec files remain: old files carry no value for the field, so
      // target-partition rows could silently survive the replace
      intercept[IllegalArgumentException] {
        t2.overwritePartitions(rows(100 until 102, "2026-03-01"),
          Map("ts_day" -> "2026-03-01"))
      }
      assert(spark.table("graft.hp.ev").count() === 28,
        "the refused overwrite must not have committed")
      // a FULL rewrite normalizes every file under the current spec
      // and clears the retired fields — the guard then lifts
      t2.compact()
      assert(t2.snapshot.previousSpecFields.isEmpty,
        "full compact did not clear retired spec fields")
      assert(t2.snapshot.files.forall(_.partitionValues.keySet == Set("ts_day")))
      assert(spark.table("graft.hp.ev").count() === 28)
      t2.overwritePartitions(rows(100 until 102, "2026-03-01"),
        Map("ts_day" -> "2026-03-01"))
      assert(spark.table("graft.hp.ev").count() === 28 - 4 + 2)
    }
  }

  test("spec history auto-retires once incremental compaction empties it") {
    // r18 VERDICT task 2: previousSpecFields used to persist until a
    // FULL rewrite even after incremental policy compactions had
    // replaced every old-spec file. The spec.<field> carrier counters
    // now prove vacuousness, a MAINTAIN dimension clears the history
    // metadata-only, and the derived-overwrite guard lifts.
    withCatalog("retire") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hp")
      spark.sql("""CREATE TABLE graft.hp.ret (id LONG, ts TIMESTAMP, v STRING)
        PARTITIONED BY (days(ts))""")
      val t = new TableCatalog(spark, new Path(wh)).getTable("hp", "ret")
      t.append(rows(0 until 8, "2026-01-01"))
      t.append(rows(8 until 16, "2026-01-02"))
      t.alterPartitionSpec(Seq(PartField("ts_month", "month", "ts")))
      t.append(rows(16 until 24, "2026-02-10"))
      // carrier counters stamped: old-spec files still live
      val s0 = t.snapshot
      assert(s0.counters.get("spec.ts_day").exists(_ > 0L),
        s"retired-field carrier counter missing: ${s0.counters}")
      assert(s0.counters.get("spec.ts_month").exists(_ > 0L))
      // vacuous it is not — no retirement yet
      assert(t.retireSpecHistory().isEmpty)
      // a derived static overwrite is still refused (counters < total)
      intercept[IllegalArgumentException] {
        t.overwritePartitions(rows(100 until 102, "2026-02-10"),
          Map("ts_month" -> "2026-02"))
      }
      // INCREMENTAL compaction (not a full rewrite) replaces every
      // old-spec file — files here are tiny, so all get packed
      t.compactSmallFiles()
      val s1 = t.snapshot
      assert(s1.counters.get("spec.ts_day").contains(0L),
        s"carrier counter did not reach zero: ${s1.counters}")
      assert(s1.previousSpecFields.nonEmpty,
        "incremental compaction must not clear the history itself")
      // the guard lifts ALREADY (proof is the counter, not the clear)
      t.overwritePartitions(rows(100 until 102, "2026-02-10"),
        Map("ts_month" -> "2026-02"))
      // the maintenance pass clears the vacuous history metadata-only
      val actions = t.maintainTableConfigured(orphanGraceMs = Some(0L))
      assert(actions.exists(_._1 == "retired_spec"),
        s"maintenance did not retire the vacuous history: $actions")
      val s2 = t.snapshot
      assert(s2.previousSpecFields.isEmpty)
      // the retirement commit itself is metadata-only: same file set
      // as its parent
      val retireV = (0L to t.currentVersion).find(v =>
        t.snapshotAt(v).operation == "RETIRE_SPEC_HISTORY")
      assert(retireV.isDefined, "no RETIRE_SPEC_HISTORY commit in the log")
      assert(t.snapshotAt(retireV.get).files.map(_.path).toSet ===
        t.snapshotAt(retireV.get - 1).files.map(_.path).toSet,
        "retirement rewrote files")
      // the dead carrier counter drops from subsequent commits
      t.append(rows(200 until 202, "2026-03-05"))
      assert(!t.snapshot.counters.contains("spec.ts_day"),
        s"stale carrier key survived: ${t.snapshot.counters}")
      assert(t.snapshot.counters.contains("spec.ts_month"))
      // observability: the property is gone
      val props = spark.sql("SHOW TBLPROPERTIES graft.hp.ret").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(!props.contains("previous-spec-fields"),
        s"retired history still advertised: $props")
      // and the source-column drop guard lifted with the history
      // (ts still sources the CURRENT ts_month field, so probe via a
      // fresh evolution away from it, then drop)
      t.alterPartitionSpec(Seq(PartField("id_bucket", "bucket", "id", 4)))
      t.compactSmallFiles()
      t.retireSpecHistory()
      assert(t.snapshot.previousSpecFields.isEmpty)
      t.dropColumn("ts")
      assert(t.toDF.columns.toSeq === Seq("id", "v"))
    }
  }

  test("a RETIRED spec field's source cannot be dropped or renamed") {
    // ADVICE r18 medium: dropColumn guarded only the CURRENT spec's
    // sources — after evolving month(ts) -> bucket(8, id) the ts
    // column could drop while old files still carried ts_month values,
    // and every subsequent DELETE threw building the constraint
    // projection. The guard now covers previousSpecFields too.
    withCatalog("retired_src") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.hp")
      spark.sql("""CREATE TABLE graft.hp.rsrc (id LONG, ts TIMESTAMP, v STRING)
        PARTITIONED BY (months(ts))""")
      val t = new TableCatalog(spark, new Path(wh)).getTable("hp", "rsrc")
      t.append(rows(0 until 8, "2026-01-05"))
      t.alterPartitionSpec(Seq(PartField("id_bucket", "bucket", "id", 8)))
      assert(t.snapshot.previousSpecFields ===
        Seq(PartField("ts_month", "month", "ts")))
      // ts derives nothing in the CURRENT spec, but retired-spec files
      // still project ts predicates onto their ts_month values
      intercept[IllegalArgumentException] { t.dropColumn("ts") }
      intercept[IllegalArgumentException] { t.renameColumn("ts", "ts2") }
      // DELETE through the V2 path still builds its constraints
      spark.sql(
        "DELETE FROM graft.hp.rsrc WHERE ts < TIMESTAMP'2026-01-05 11:00:00'")
      assert(spark.table("graft.hp.rsrc").count() === 7)
      // a full rewrite clears the history and lifts the guard
      t.compact()
      assert(t.snapshot.previousSpecFields.isEmpty)
      t.dropColumn("ts")
      assert(t.toDF.columns.toSeq === Seq("id", "v"))
    }
  }

  test("one partition rendering: append, INSERT and UPDATE agree per type; merge keeps one row per key") {
    withCatalog("render") { wh =>
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.render")
      val cat = new TableCatalog(spark, new Path(wh))
      // (column type, partition-value literals); NULL is added to each
      val cases = Seq(
        "DATE" -> Seq("DATE'2024-01-01'", "DATE'1999-12-31'"),
        "TIMESTAMP" -> Seq("TIMESTAMP'2024-01-01 10:00:00'",
          "TIMESTAMP'2024-01-01 10:00:00.5'"),
        "TIMESTAMP_NTZ" -> Seq("TIMESTAMP_NTZ'2024-01-01 10:00:00'",
          "TIMESTAMP_NTZ'2024-06-01 23:59:59.123'"),
        "STRING" -> Seq("''", "'a/b=c d'", "'x'"),
        "INT" -> Seq("1", "-7"),
        "BIGINT" -> Seq("5000000000", "2"),
        "DECIMAL(10,2)" -> Seq("1.5", "-20.25"),
        "BOOLEAN" -> Seq("true", "false"),
        "DOUBLE" -> Seq("1.5", "1.0E10"))
      cases.zipWithIndex.foreach { case ((tpe, lits), n) =>
        val values = (lits :+ "NULL").zipWithIndex.map { case (l, i) =>
          s"('k$i', $i, CAST($l AS $tpe))" }.mkString(", ")
        def layout(t: TxTable): Set[(Map[String, String], String)] =
          t.snapshot.files.map(f =>
            (f.partitionValues, f.path.substring(0, f.path.lastIndexOf('/')))).toSet
        Seq("a", "b").foreach(x => spark.sql(
          s"CREATE TABLE graft.render.$x$n (k STRING, v INT, p $tpe) PARTITIONED BY (p)"))
        val a = cat.getTable("render", s"a$n")
        a.append(spark.sql(s"SELECT * FROM VALUES $values AS r(k, v, p)"))
        spark.sql(s"INSERT INTO graft.render.b$n VALUES $values")
        val expected = layout(a)
        assert(layout(cat.getTable("render", s"b$n")) === expected, s"$tpe: INSERT")
        spark.sql(s"UPDATE graft.render.b$n SET v = v + 100")
        assert(layout(cat.getTable("render", s"b$n")) === expected, s"$tpe: UPDATE")
        // the keyed merge finds each key's partition from its rendered
        // value: a rendering mismatch would leave the old row behind
        a.merge(spark.sql(s"SELECT k, v + 10 AS v, p FROM VALUES $values AS r(k, v, p)"),
          "k", "v")
        val perKey = a.toDF.groupBy("k").count().collect()
        assert(perKey.length === lits.size + 1 && perKey.forall(_.getLong(1) === 1L),
          s"$tpe: merge left ${perKey.mkString(", ")}")
        assert(a.toDF.filter(col("v") < 10).count() === 0, s"$tpe: merge lost an update")
      }
    }
  }
}
