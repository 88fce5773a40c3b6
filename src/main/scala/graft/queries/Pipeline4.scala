package graft.queries

import graft.ingest.SampleData
import graft.model.Schemas
import graft.table.TableCatalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, IntegerType}

/**
 * Round-6 surface: the DataSource V2 catalog path — `spark.sql`
 * statements resolving graft tables natively (the way the reference's
 * tables resolve through `s3tablescatalog` to Athena,
 * kinesis-firehose-stream/README.md:147) — plus generalized SQL MERGE.
 */
object Pipeline4 {

  private val root = Pipeline.oracleInputsRoot

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Native V2 catalog end-to-end: CREATE TABLE ... PARTITIONED BY AS
    // SELECT, INSERT INTO, and a grouped aggregate — every statement
    // parsed and resolved by Catalyst against graft.catalog.GraftCatalog
    // (no regex routing, no temp-view rewriting). The oracle recomputes
    // the aggregate from the staged seed: CTAS + INSERT partition the
    // seed into two disjoint slices, so table content == seed content.
    Q("catalog_v2_sql", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2cat_seed", "parquet") {
        SampleData.transactions(s, 300, seed = 33L)
      }
      val wh = Pipeline.scratch("v2cat")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("v2cat_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.txns_v2 PARTITIONED BY (date) AS
               SELECT * FROM v2cat_seed WHERE risk_score <> 'HIGH'""")
      s.sql("""INSERT INTO graft.analytics.txns_v2
               SELECT * FROM v2cat_seed WHERE risk_score = 'HIGH'""")
      s.sql("""
        SELECT region, status, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.analytics.txns_v2
        WHERE status IN ('COMPLETED', 'FLAGGED')
        GROUP BY region, status
        ORDER BY region, status""")
    }, oracle = Some(s"""
      SELECT region, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/v2cat_seed/*.parquet')
      WHERE status IN ('COMPLETED', 'FLAGGED')
      GROUP BY region, status
      ORDER BY region, status""")),

    // ------------------------------------------------------------------
    // Manifest skipping end-to-end through the V2 catalog (r17): six
    // DATE-CLUSTERED multi-file commits spill tier manifests whose
    // refs carry partition summaries; the date-pruned aggregate below
    // then plans through the DEFERRED index, which resolves only the
    // manifests whose summary range can match — pinned here by the
    // resolution counter (fewer manifests parsed than the header
    // references), with the oracle recomputing the aggregate from the
    // staged seed. The Iceberg manifest-list behavior for the
    // reference's date-partitioned Athena queries
    // (kfs/scripts/update_metadata.py:114, kfs/README.md:181).
    Q("catalog_v2_manifest_skip", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("mskip_seed", "parquet") {
        SampleData.transactions(s, 360, seed = 47L)
          .withColumn("date",
            date_add(lit(java.sql.Date.valueOf("2026-03-01")),
              pmod(abs(hash(col("transaction_id"))), lit(6)).cast("int")))
      }
      val wh = Pipeline.scratch("mskip")
      s.conf.set("spark.sql.catalog.graftmskip", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftmskip.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("mskip_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftmskip.an")
      s.sql("""CREATE TABLE graftmskip.an.tx PARTITIONED BY (date) AS
               SELECT * FROM mskip_seed WHERE 1 = 0""")
      (0 until 6).foreach { d =>
        s.sql(s"""INSERT INTO graftmskip.an.tx
                  SELECT /*+ REPARTITION(8) */ * FROM mskip_seed
                  WHERE date = DATE'2026-03-0${d + 1}'""")
      }
      val t = new TableCatalog(s, new Path(wh)).getTable("an", "tx")
      val refs = t.snapshotHeader.manifests
      require(refs.nonEmpty && refs.exists(_.summaries.isDefined),
        s"clustered commits spilled no summarized manifests: $refs")
      val planned = s.sql("""
        SELECT status, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graftmskip.an.tx
        WHERE date = DATE'2026-03-06'
        GROUP BY status
        ORDER BY status""")
      val before = graft.table.TxLog.manifestResolutionCount
      val rows = planned.collect().toSeq
      val resolved = graft.table.TxLog.manifestResolutionCount - before
      require(resolved < refs.size,
        s"manifest skipping inactive: resolved $resolved of ${refs.size}")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), planned.schema)
    }, oracle = Some(s"""
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/mskip_seed/*.parquet')
      WHERE date = DATE '2026-03-06'
      GROUP BY status
      ORDER BY status""")),

    // ------------------------------------------------------------------
    // Metadata-only partition spec evolution (r18 — the Iceberg
    // spec-id model): a day(ts)-partitioned table evolves to
    // month(ts) as data ages, with ZERO files rewritten; old files
    // keep their ts_day values, new files lay out by ts_month, and a
    // query across the boundary prunes BOTH sides — each file by the
    // spec that wrote it (pinned via scanned-file counts). The oracle
    // recomputes the aggregate from the staged seed: evolution must
    // never change results.
    Q("table_spec_evolution", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("specev_seed", "parquet") {
        SampleData.transactions(s, 400, seed = 61L)
          .withColumn("ts", to_timestamp(date_add(
            lit(java.sql.Date.valueOf("2026-01-01")),
            pmod(abs(hash(col("transaction_id"))), lit(40)).cast("int"))))
          .select("transaction_id", "status", "amount", "ts")
      }
      val wh = Pipeline.scratch("specev")
      s.conf.set("spark.sql.catalog.graftspecev", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftspecev.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("specev_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftspecev.an")
      s.sql("""CREATE TABLE graftspecev.an.tx
               (transaction_id STRING, status STRING,
                amount DECIMAL(12,2), ts TIMESTAMP)
               PARTITIONED BY (days(ts))""")
      s.sql("""INSERT INTO graftspecev.an.tx SELECT * FROM specev_seed
               WHERE ts < TIMESTAMP'2026-02-01 00:00:00'""")
      s.sql("CALL graftspecev.system.evolve_partition_spec(" +
        "table => 'an.tx', spec => 'month(ts)')")
      s.sql("""INSERT INTO graftspecev.an.tx SELECT * FROM specev_seed
               WHERE ts >= TIMESTAMP'2026-02-01 00:00:00'""")
      val t = new TableCatalog(s, new Path(wh)).getTable("an", "tx")
      val files = t.snapshot.files
      val total = files.size
      def scanned(sql: String): Int =
        s.sql(sql).queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.toBatch.planInputPartitions().toSeq.flatMap {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.map(_.filePath.toString).toSeq
              case _ => Seq.empty[String]
            }.distinct.length
        }.sum
      // boundary probe: old side prunes by the RETIRED ts_day field,
      // new side keeps only what ts_month cannot exclude
      val expectBoundary = files.count(f =>
        f.partitionValues.get("ts_day").exists(_ >= "2026-01-20") ||
        f.partitionValues.get("ts_month").exists(_ >= "2026-02"))
      val got = scanned("""SELECT transaction_id FROM graftspecev.an.tx
        WHERE ts >= TIMESTAMP'2026-01-20 00:00:00'
          AND ts <  TIMESTAMP'2026-02-05 00:00:00'""")
      require(got == expectBoundary && got < total,
        s"boundary pruning wrong: scanned $got, expected $expectBoundary " +
          s"of $total")
      // February probe: every OLD-spec file pruned via ts_day
      val newFiles = files.count(_.partitionValues.contains("ts_month"))
      val gotNew = scanned("""SELECT transaction_id FROM graftspecev.an.tx
        WHERE ts >= TIMESTAMP'2026-02-01 00:00:00'""")
      require(gotNew == newFiles && gotNew < total,
        s"new-spec pruning wrong: scanned $gotNew, expected $newFiles")
      s.sql("""SELECT status, count(*) AS n,
                      CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
               FROM graftspecev.an.tx
               WHERE ts >= TIMESTAMP'2026-01-20 00:00:00'
                 AND ts <  TIMESTAMP'2026-02-05 00:00:00'
               GROUP BY status ORDER BY status""")
    }, oracle = Some(s"""
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/specev_seed/*.parquet')
      WHERE ts >= TIMESTAMP '2026-01-20 00:00:00'
        AND ts <  TIMESTAMP '2026-02-05 00:00:00'
      GROUP BY status ORDER BY status""")),

    // ------------------------------------------------------------------
    // Sort-clustered rewrite (r18 — the Iceberg
    // `rewrite_data_files(strategy => 'sort')` / OPTIMIZE shape the
    // managed service's compaction applies to the reference's tables,
    // kinesis-firehose-stream/README.md:12-13): ingest-ordered files
    // each span the full value range of a data column, so a selective
    // non-partition predicate skips nothing; after the sorted rewrite
    // each file covers a narrow interval and footer min/max skipping
    // prunes most of the table. Pinned by scanned-FILE counts before
    // vs after on the same query; the oracle recomputes the aggregate
    // from the staged seed (rewrites must never change results).
    Q("table_clustered_rewrite", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("clust_seed", "parquet") {
        SampleData.transactions(s, 480, seed = 59L)
          .withColumn("amt",
            pmod(abs(hash(col("transaction_id"))), lit(10000)).cast(DoubleType) / lit(100.0))
          .select("transaction_id", "status", "amt")
      }
      val wh = Pipeline.scratch("clust")
      s.conf.set("spark.sql.catalog.graftclust", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftclust.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("clust_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftclust.an")
      // hash-scattered ingest: 8 files, each spanning ~the full amt
      // range — the worst case for min/max skipping
      s.sql("""CREATE TABLE graftclust.an.tx AS
               SELECT /*+ REPARTITION(8) */ * FROM clust_seed""")
      val q = """SELECT status, count(*) AS n,
                        CAST(sum(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS total
                 FROM graftclust.an.tx
                 WHERE amt >= 10 AND amt < 25
                 GROUP BY status ORDER BY status"""
      // exchange-free probe (same pushed predicate): an aggregate
      // would plan under AdaptiveSparkPlanExec, hiding the scan from
      // a plan-tree collect
      val probeQ = """SELECT transaction_id FROM graftclust.an.tx
                      WHERE amt >= 10 AND amt < 25"""
      def filesScanned(): Int =
        s.sql(probeQ).queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.toBatch.planInputPartitions().toSeq.flatMap {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.map(_.filePath.toString).toSeq
              case _ => Seq.empty[String]
            }.distinct.length
        }.sum
      val before = filesScanned()
      val t = new TableCatalog(s, new Path(wh)).getTable("an", "tx")
      val bytes = t.snapshot.files.map(_.sizeBytes).sum
      // keep ~8 output files: the pin must prove CLUSTERING (tight
      // ranges), not bin-packing-to-one-file
      s.sql("CALL graftclust.system.rewrite_data_files(" +
        s"table => 'an.tx', target_file_size_bytes => ${
          math.max(1L, bytes / 8)}, sort_by => 'amt')")
      val after = filesScanned()
      require(before >= 6,
        s"ingest layout unexpectedly skippable already: $before files")
      require(after * 2 <= before,
        s"sorted rewrite did not tighten file skipping: $after of $before")
      s.sql(q)
    }, oracle = Some(s"""
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/clust_seed/*.parquet')
      WHERE amt >= 10 AND amt < 25
      GROUP BY status ORDER BY status""")),

    // ------------------------------------------------------------------
    // Spec-history retirement (r19 — the Iceberg-gap the r18 VERDICT
    // named: previousSpecFields used to persist until a FULL rewrite,
    // so a steadily-maintained evolved table kept projecting reads
    // onto dead fields forever). The spec.<field> carrier counters
    // prove vacuousness after ordinary INCREMENTAL compaction, one
    // metadata-only commit clears the history, and results are
    // identical through evolution + compaction + retirement — the
    // oracle recomputes the aggregate from the flat seed.
    Q("table_spec_retirement", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("retire_seed", "parquet") {
        SampleData.transactions(s, 400, seed = 71L)
          .withColumn("ts", to_timestamp(date_add(
            lit(java.sql.Date.valueOf("2026-01-01")),
            pmod(abs(hash(col("transaction_id"))), lit(40)).cast("int"))))
          .select("transaction_id", "status", "amount", "ts")
      }
      val wh = Pipeline.scratch("retire")
      s.conf.set("spark.sql.catalog.graftretire", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftretire.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("retire_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftretire.an")
      s.sql("""CREATE TABLE graftretire.an.tx
               (transaction_id STRING, status STRING,
                amount DECIMAL(12,2), ts TIMESTAMP)
               PARTITIONED BY (days(ts))""")
      s.sql("""INSERT INTO graftretire.an.tx SELECT * FROM retire_seed
               WHERE ts < TIMESTAMP'2026-02-01 00:00:00'""")
      s.sql("CALL graftretire.system.evolve_partition_spec(" +
        "table => 'an.tx', spec => 'month(ts)')")
      s.sql("""INSERT INTO graftretire.an.tx SELECT * FROM retire_seed
               WHERE ts >= TIMESTAMP'2026-02-01 00:00:00'""")
      val t = new TableCatalog(s, new Path(wh)).getTable("an", "tx")
      require(t.snapshot.counters.get("spec.ts_day").exists(_ > 0L),
        s"retired-field carrier counter missing: ${t.snapshot.counters}")
      require(t.retireSpecHistory().isEmpty,
        "history retired while old-spec files were still live")
      // ordinary INCREMENTAL policy compaction (not a full rewrite)
      // replaces every old-spec file
      t.compactSmallFiles()
      require(t.snapshot.counters.get("spec.ts_day").contains(0L),
        s"carriers not zero after compaction: ${t.snapshot.counters}")
      require(t.snapshot.previousSpecFields.nonEmpty,
        "incremental compaction must not clear the history itself")
      val v = t.retireSpecHistory()
      require(v.isDefined, "provably vacuous history did not retire")
      require(t.snapshot.previousSpecFields.isEmpty)
      // the retirement commit is metadata-only: same file set as parent
      require(t.snapshotAt(v.get).files.map(_.path).toSet ==
          t.snapshotAt(v.get - 1).files.map(_.path).toSet,
        "retirement rewrote files")
      s.sql("""SELECT status, count(*) AS n,
                      CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
               FROM graftretire.an.tx GROUP BY status ORDER BY status""")
    }, oracle = Some(s"""
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/retire_seed/*.parquet')
      GROUP BY status ORDER BY status""")),

    // ------------------------------------------------------------------
    // Nested-field statistics end-to-end (r19 — the reference's own
    // schema carries STRUCT columns whose fields the flagship query
    // filters on: transaction_metadata / fraud_indicators,
    // kfs/scripts/update_metadata.py:100-112, kfs/README.md:177-179).
    // Footer stats for struct LEAVES are recorded under their dotted
    // path, a GetStructField predicate probes them, and a sorted
    // rewrite ON THE NESTED KEY tightens per-file ranges so the same
    // query skips most files — pinned by scanned-file counts before vs
    // after; the oracle recomputes the aggregate from the flat seed
    // (struct packing and rewrites must never change results).
    Q("table_nested_stats", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("nested_seed", "parquet") {
        SampleData.transactions(s, 480, seed = 67L)
          .withColumn("amt",
            pmod(abs(hash(col("transaction_id"))), lit(10000)).cast(DoubleType) / lit(100.0))
          .select("transaction_id", "status", "amt")
      }
      val wh = Pipeline.scratch("nested")
      s.conf.set("spark.sql.catalog.graftnested", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftnested.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("nested_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftnested.an")
      // hash-scattered ingest of a STRUCT column: 8 files, each
      // spanning ~the full meta.amount range
      s.sql("""CREATE TABLE graftnested.an.tx AS
               SELECT /*+ REPARTITION(8) */ transaction_id, status,
                      named_struct('merchant_id', transaction_id,
                                   'amount', amt) AS meta
               FROM nested_seed""")
      val t = new TableCatalog(s, new Path(wh)).getTable("an", "tx")
      require(t.snapshot.files.forall(_.stats.exists(_.contains("meta.amount"))),
        "struct-leaf footer stats missing under the dotted path")
      val q = """SELECT status, count(*) AS n,
                        CAST(sum(CAST(meta.amount AS DECIMAL(18,2))) AS DOUBLE) AS total
                 FROM graftnested.an.tx
                 WHERE meta.amount >= 10 AND meta.amount < 25
                 GROUP BY status ORDER BY status"""
      // exchange-free probe (same pushed nested predicate)
      val probeQ = """SELECT transaction_id FROM graftnested.an.tx
                      WHERE meta.amount >= 10 AND meta.amount < 25"""
      def filesScanned(): Int =
        s.sql(probeQ).queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.toBatch.planInputPartitions().toSeq.flatMap {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.map(_.filePath.toString).toSeq
              case _ => Seq.empty[String]
            }.distinct.length
        }.sum
      val before = filesScanned()
      val bytes = t.snapshot.files.map(_.sizeBytes).sum
      s.sql("CALL graftnested.system.rewrite_data_files(" +
        s"table => 'an.tx', target_file_size_bytes => ${
          math.max(1L, bytes / 8)}, sort_by => 'meta.amount')")
      val after = filesScanned()
      require(before >= 6,
        s"ingest layout unexpectedly skippable already: $before files")
      require(after * 2 <= before,
        s"nested sorted rewrite did not tighten skipping: $after of $before")
      s.sql(q)
    }, oracle = Some(s"""
      SELECT status, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/nested_seed/*.parquet')
      WHERE amt >= 10 AND amt < 25
      GROUP BY status ORDER BY status""")),

    // ------------------------------------------------------------------
    // Depth-2 multiprobe LSH (the recall/cost knob added r6): probes
    // every bucket within Hamming distance 2 of the query's own —
    // 37/256 buckets instead of 9/256, the Lv et al. VLDB'07 multiprobe
    // schedule. md5-portable hyperplanes make the full search (buckets,
    // probe masks via bit_count, exact within-bucket ranking)
    // replayable in DuckDB.
    Q("ann_lsh_deep", fn = (s, dir) => {
      val emb = Td.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      graft.operators.Similarity.lshTopK(emb, queries, k = 10, dim = 64,
          nBits = 8, probeDepth = 2)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, oracle = Some("""
      WITH hps AS (
        SELECT p.p AS p,
               [(CAST('0x' || substr(md5('7_' || CAST(p.p AS VARCHAR) || '_' ||
                   CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 1000000) / 1000000.0 - 0.5
                for j in generate_series(0, 63)] AS hp
        FROM generate_series(0, 7) p(p)),
      buckets AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], h.hp) >= 0
                        THEN (1::BIGINT << h.p) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e, hps h
        GROUP BY e.vec_id),
      flips AS (
        SELECT f FROM generate_series(0::BIGINT, 255::BIGINT) g(f)
        WHERE bit_count(f) <= 2),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, cb.vec_id
        FROM buckets q CROSS JOIN flips
        JOIN buckets cb ON cb.bucket = xor(q.bucket, flips.f)
        WHERE q.vec_id < 8),
      scored AS (
        SELECT c.query_id, c.vec_id,
               list_cosine_similarity(ce.embedding::DOUBLE[],
                 qe.embedding::DOUBLE[]) AS score
        FROM cand c
        JOIN embeddings ce ON ce.vec_id = c.vec_id
        JOIN embeddings qe ON qe.vec_id = c.query_id),
      ranked AS (
        SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, vec_id ASC) AS rank
        FROM scored)
      SELECT query_id, rank, vec_id, round(score, 6) AS score
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank""")),

    // ------------------------------------------------------------------
    // Native row-level DML through the V2 catalog (the r6 ReplaceData
    // write): DELETE, UPDATE, and a three-branch MERGE INTO all parsed
    // by Catalyst and executed as group-based copy-on-write commits —
    // no SQL-text routing anywhere. The oracle replays the statement
    // algebra over the staged seed.
    Q("catalog_v2_dml", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2dml_seed", "parquet") {
        SampleData.transactions(s, 250, seed = 44L)
      }
      val wh = Pipeline.scratch("v2dml")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("v2dml_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.txns_dml PARTITIONED BY (date) AS
               SELECT * FROM v2dml_seed""")
      s.sql("DELETE FROM graft.analytics.txns_dml WHERE status = 'DECLINED'")
      s.sql("""UPDATE graft.analytics.txns_dml
               SET status = 'REVIEWED', amount = round(amount * 2, 2)
               WHERE risk_score = 'HIGH'""")
      s.sql("""
        MERGE INTO graft.analytics.txns_dml t
        USING (SELECT transaction_id AS tid,
                      round(amount / 2, 2) AS half
               FROM v2dml_seed WHERE risk_score = 'MEDIUM') s
        ON t.transaction_id = s.tid
        WHEN MATCHED AND t.status = 'PENDING' THEN DELETE
        WHEN MATCHED THEN UPDATE SET amount = s.half""")
      s.sql("""
        SELECT risk_score, status, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.analytics.txns_dml
        GROUP BY risk_score, status
        ORDER BY risk_score, status""")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/v2dml_seed/*.parquet')),
      after_del AS (SELECT * FROM seed WHERE status <> 'DECLINED'),
      after_upd AS (
        SELECT * REPLACE(
          CASE WHEN risk_score = 'HIGH' THEN 'REVIEWED' ELSE status END AS status,
          CASE WHEN risk_score = 'HIGH' THEN round(amount * 2, 2) ELSE amount END AS amount)
        FROM after_del),
      m AS (SELECT transaction_id AS tid, round(amount / 2, 2) AS half
            FROM seed WHERE risk_score = 'MEDIUM'),
      after_merge AS (
        SELECT t.* REPLACE(
          CASE WHEN m.tid IS NOT NULL AND t.status <> 'PENDING'
               THEN m.half ELSE t.amount END AS amount)
        FROM after_upd t LEFT JOIN m ON t.transaction_id = m.tid
        WHERE NOT (m.tid IS NOT NULL AND t.status = 'PENDING'))
      SELECT risk_score, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM after_merge GROUP BY risk_score, status
      ORDER BY risk_score, status""")),

    // ------------------------------------------------------------------
    // Partition-scoped INSERT OVERWRITE (the Athena/Iceberg static
    // `PARTITION (col=v)` overwrite): the equality predicate reaches
    // GraftV2Table.overwrite as a V2 partition-equality Predicate and
    // executes as ONE delete+append composite commit
    // (TxTable.overwritePartitions) — the earliest date's partition is
    // replaced with restated rows, every other partition's files are
    // carried forward untouched. The oracle replays the replacement
    // algebra over the staged seed.
    Q("catalog_v2_overwrite_partition", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2ow_seed", "parquet") {
        SampleData.transactions(s, 240, seed = 77L)
      }
      val wh = Pipeline.scratch("v2ow")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val seed = s.read.parquet(seedDir)
      seed.createOrReplaceTempView("v2ow_seed")
      val minDate = seed.agg(min(col("date"))).head.getDate(0).toString
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.txns_ow PARTITIONED BY (date) AS
               SELECT * FROM v2ow_seed""")
      seed.filter(col("date") === to_date(lit(minDate)))
        .withColumn("amount",
          round(col("amount") * 2, 2).cast(DecimalType(12, 2)))
        .withColumn("status", lit("RESTATED"))
        .drop("date")
        .createOrReplaceTempView("v2ow_replacement")
      s.sql(s"""INSERT OVERWRITE graft.analytics.txns_ow
                PARTITION (date = DATE'$minDate')
                SELECT * FROM v2ow_replacement""")
      s.sql("""
        SELECT CAST(date AS STRING) AS date_str, status, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.analytics.txns_ow
        GROUP BY date, status
        ORDER BY date_str, status""")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/v2ow_seed/*.parquet')),
      md AS (SELECT min(date) AS d FROM seed),
      repl AS (
        SELECT * REPLACE(
          CAST(round(amount * 2, 2) AS DECIMAL(12,2)) AS amount,
          'RESTATED' AS status)
        FROM seed WHERE date = (SELECT d FROM md)),
      fin AS (
        SELECT * FROM seed WHERE date <> (SELECT d FROM md)
        UNION ALL SELECT * FROM repl)
      SELECT CAST(date AS VARCHAR) AS date_str, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY date, status
      ORDER BY date_str, status""")),

    // ------------------------------------------------------------------
    // Storage-partitioned join: two graft tables co-partitioned on
    // `date` join with a forced SMJ. The session opts in by setting
    // `spark.sql.sources.v2.bucketing.enabled` explicitly (Spark's
    // default alone does not), so the scans report
    // KeyGroupedPartitioning and plan one split per partition value,
    // and EnsureRequirements elides BOTH join shuffles (plan shape
    // pinned in CatalogV2Spec; here the executed SPJ path is
    // value-checked against DuckDB's replay of the same join). The
    // result is materialized inside the conf scope so the key-grouped
    // plan is what actually runs, then confs are restored.
    Q("catalog_v2_spj_join", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2spj_seed", "parquet") {
        SampleData.transactions(s, 280, seed = 111L)
      }
      val wh = Pipeline.scratch("v2spj")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("v2spj_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.spj_a PARTITIONED BY (date) AS
               SELECT * FROM v2spj_seed WHERE risk_score <> 'HIGH'""")
      s.sql("""CREATE TABLE graft.analytics.spj_b PARTITIONED BY (date) AS
               SELECT * FROM v2spj_seed WHERE status <> 'DECLINED'""")
      val prev = s.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      try {
        val df = s.sql("""
          SELECT /*+ MERGE(b) */ CAST(a.date AS STRING) AS date_str,
                 count(*) AS pairs,
                 CAST(sum(CAST(a.amount AS DECIMAL(18,2))) AS DOUBLE) AS a_total
          FROM graft.analytics.spj_a a
          JOIN graft.analytics.spj_b b ON a.date = b.date
          GROUP BY a.date
          ORDER BY date_str""")
        df.count()                       // execute through the SPJ plan
        df
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => s.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/v2spj_seed/*.parquet')),
      a AS (SELECT * FROM seed WHERE risk_score <> 'HIGH'),
      b AS (SELECT * FROM seed WHERE status <> 'DECLINED')
      SELECT CAST(a.date AS VARCHAR) AS date_str, count(*) AS pairs,
             CAST(sum(CAST(a.amount AS DECIMAL(18,2))) AS DOUBLE) AS a_total
      FROM a JOIN b ON a.date = b.date
      GROUP BY a.date ORDER BY date_str""")),

    // ------------------------------------------------------------------
    // Merge-on-read equality deletes (the Iceberg v2 delete shape): a
    // DELETE writes one tiny key file instead of rewriting data files;
    // readers anti-join with the sequence rule (a later re-insert of a
    // deleted key survives). The SQL read here goes through the native
    // V2 MOR scan — grouped per-seq sub-scans with reader-level key
    // filtering. The oracle replays the delete + re-insert algebra.
    Q("catalog_v2_mor_delete", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2mor_seed", "parquet") {
        SampleData.transactions(s, 230, seed = 99L)
      }
      val wh = Pipeline.scratch("v2mor")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("v2mor_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.txns_mor PARTITIONED BY (date) AS
               SELECT * FROM v2mor_seed""")
      val cat = new graft.table.TableCatalog(s,
        new org.apache.hadoop.fs.Path(wh))
      val t = cat.getTable("analytics", "txns_mor")
      // MOR delete every HIGH-risk row: one key file, zero data rewrite
      t.deleteMor(col("risk_score") === "HIGH", "transaction_id")
      // re-insert the deleted keys' rows RESTATED — files committed
      // after the delete survive it (the sequence rule)
      s.read.parquet(seedDir).filter(col("risk_score") === "HIGH")
        .withColumn("status", lit("RESTATED"))
        .createOrReplaceTempView("v2mor_restated")
      s.sql("""INSERT INTO graft.analytics.txns_mor
               SELECT * FROM v2mor_restated""")
      s.sql("""
        SELECT risk_score, status, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.analytics.txns_mor
        GROUP BY risk_score, status
        ORDER BY risk_score, status""")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/v2mor_seed/*.parquet')),
      fin AS (
        SELECT * FROM seed WHERE risk_score <> 'HIGH'
        UNION ALL
        SELECT * REPLACE ('RESTATED' AS status)
        FROM seed WHERE risk_score = 'HIGH')
      SELECT risk_score, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY risk_score, status
      ORDER BY risk_score, status""")),

    // ------------------------------------------------------------------
    // Incremental batch read (the Iceberg incremental-scan surface):
    // `spark.read.option("startingVersion", N).table(...)` scans ONLY
    // the files first committed in [N, head] — O(changed) planning per
    // commit, the incremental-ETL read that never touches the base
    // table. Three commits split the seed deterministically; reading
    // from the second commit must return exactly slices 2+3.
    Q("catalog_v2_incremental", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2incr_seed", "parquet") {
        SampleData.transactions(s, 260, seed = 88L)
      }
      val wh = Pipeline.scratch("v2incr")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("v2incr_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.txns_incr PARTITIONED BY (date) AS
               SELECT * FROM v2incr_seed WHERE risk_score = 'LOW'""")     // v0+v1
      s.sql("""INSERT INTO graft.analytics.txns_incr
               SELECT * FROM v2incr_seed WHERE risk_score = 'MEDIUM'""")  // v2
      s.sql("""INSERT INTO graft.analytics.txns_incr
               SELECT * FROM v2incr_seed WHERE risk_score = 'HIGH'""")    // v3
      s.read.option("startingVersion", "2").table("graft.analytics.txns_incr")
        .createOrReplaceTempView("v2incr_changes")
      s.sql("""
        SELECT risk_score, status, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM v2incr_changes
        GROUP BY risk_score, status
        ORDER BY risk_score, status""")
    }, oracle = Some(s"""
      SELECT risk_score, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/v2incr_seed/*.parquet')
      WHERE risk_score IN ('MEDIUM', 'HIGH')
      GROUP BY risk_score, status
      ORDER BY risk_score, status""")),

    // ------------------------------------------------------------------
    // Metadata-table surface (the Iceberg `t.partitions` suffix): the
    // per-partition row counts answer from SNAPSHOT METADATA — zero
    // data files touched (footer row counts recorded at commit) — and
    // must equal what the oracle computes by actually scanning.
    Q("catalog_v2_metadata", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("v2meta_seed", "parquet") {
        SampleData.transactions(s, 220, seed = 66L)
      }
      val wh = Pipeline.scratch("v2meta")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("v2meta_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
      s.sql("""CREATE TABLE graft.meta.txns PARTITIONED BY (date) AS
               SELECT * FROM v2meta_seed""")
      s.sql("""
        SELECT partition_values['date'] AS date_str,
               CAST(row_count AS BIGINT) AS n
        FROM graft.meta.txns.partitions
        ORDER BY date_str""")
    }, oracle = Some(s"""
      SELECT CAST(date AS VARCHAR) AS date_str, count(*) AS n
      FROM read_parquet('$root/v2meta_seed/*.parquet')
      GROUP BY date ORDER BY date_str""")),

    // ------------------------------------------------------------------
    // Streaming table-to-table sync through the V2 catalog: the commit
    // log of the source table IS the stream (readStream.table tails it,
    // initial snapshot + per-commit added files), and the sink appends
    // with (queryId, epochId)-fenced exactly-once commits
    // (writeStream.toTable). AvailableNow drains the seed + two extra
    // commits; the oracle checks the synced table equals the full seed.
    Q("table_stream_sync", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("stream_sync_seed", "parquet") {
        SampleData.transactions(s, 180, seed = 55L)
      }
      val wh = Pipeline.scratch("streamsync")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val seed = s.read.parquet(seedDir)
      seed.createOrReplaceTempView("stream_sync_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.sync")
      s.sql("""CREATE TABLE graft.sync.src PARTITIONED BY (date) AS
               SELECT * FROM stream_sync_seed WHERE risk_score = 'LOW'""")
      s.sql("""INSERT INTO graft.sync.src
               SELECT * FROM stream_sync_seed WHERE risk_score = 'MEDIUM'""")
      s.sql("""INSERT INTO graft.sync.src
               SELECT * FROM stream_sync_seed WHERE risk_score = 'HIGH'""")
      s.sql(s"""CREATE TABLE graft.sync.dst (
        ${seed.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")}
        ) PARTITIONED BY (date)""")
      val q = s.readStream.table("graft.sync.src")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"${Pipeline.scratch("streamsync_ckpt")}/ckpt")
        .toTable("graft.sync.dst")
      q.awaitTermination(120000)
      s.sql("""
        SELECT risk_score, count(*) AS n,
               count(DISTINCT transaction_id) AS n_keys,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.sync.dst
        GROUP BY risk_score ORDER BY risk_score""")
    }, oracle = Some(s"""
      SELECT risk_score, count(*) AS n,
             count(DISTINCT transaction_id) AS n_keys,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/stream_sync_seed/*.parquet')
      GROUP BY risk_score ORDER BY risk_score""")),

    // ------------------------------------------------------------------
    // Hidden partitioning (Iceberg partition transforms — the layout
    // the reference's S3-Tables/Iceberg tables use for
    // `PARTITIONED BY (days(ts))`): the table partitions on day(ts) ×
    // bucket(8, customer_id), neither derived column exists in the
    // schema, and every path — V1 append, a ts-range-scoped row-level
    // UPDATE through the V2 ReplaceData writer, the final scan — routes
    // rows through the shared transform expressions. The oracle replays
    // the update algebra over the staged seed; matching results prove
    // the derived-directory round trip loses and duplicates nothing.
    Q("table_hidden_partitioning", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("hp_seed", "parquet") {
        SampleData.transactions(s, 300, seed = 77L)
      }
      val wh = Pipeline.scratch("hiddenpart")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.analytics")
      s.sql("""CREATE TABLE graft.analytics.txns_hp (
        transaction_id STRING, ts TIMESTAMP, customer_id STRING,
        amount DECIMAL(12,2), region STRING, risk_score STRING)
        PARTITIONED BY (days(ts), bucket(8, customer_id))""")
      s.read.parquet(seedDir)
        .select(col("transaction_id"),
          timestamp_millis(col("timestamp")).as("ts"),
          col("customer_id"), col("amount"), col("region"), col("risk_score"))
        .createOrReplaceTempView("hp_seed_v")
      s.sql("INSERT INTO graft.analytics.txns_hp SELECT * FROM hp_seed_v")
      s.sql("""UPDATE graft.analytics.txns_hp SET region = 'AUDIT'
               WHERE risk_score = 'HIGH'""")
      s.sql("""
        SELECT region, count(*) AS n,
               count(DISTINCT customer_id) AS buyers,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.analytics.txns_hp
        GROUP BY region ORDER BY region""")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/hp_seed/*.parquet')),
      upd AS (
        SELECT CASE WHEN risk_score = 'HIGH' THEN 'AUDIT' ELSE region END
                 AS region,
               customer_id, amount
        FROM seed)
      SELECT region, count(*) AS n,
             count(DISTINCT customer_id) AS buyers,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM upd GROUP BY region ORDER BY region""")),

    // ------------------------------------------------------------------
    // Schema evolution on write (Delta mergeSchema / Iceberg ingest
    // evolution): a producer starts emitting a new column; the table
    // widens in one metadata commit, historical rows read NULL, and a
    // CDC merge carrying the new column upserts normally. The oracle
    // replays seed ∪ evolved-batch with NULL-padding, then the same
    // merge algebra.
    Q("table_schema_evolution", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("evo_seed", "parquet") {
        SampleData.transactions(s, 200, seed = 101L)
          .select(col("transaction_id"), col("date"), col("region"),
            col("amount"), col("status"))
      }
      val evoDir = Pipeline.stagedInput("evo_batch", "parquet") {
        SampleData.transactions(s, 200, seed = 102L)
          .filter(col("risk_score") === "HIGH")
          .select(col("transaction_id"), col("date"), col("region"),
            col("amount"), col("status"),
            upper(col("payment_method")).as("channel"))
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("evolve")))
      val t = cat.createTable("analytics", "txns_evo",
        s.read.parquet(seedDir).schema, Seq("date"))
      t.append(s.read.parquet(seedDir))
      t.append(s.read.parquet(evoDir), mergeSchema = true)
      // NULL channel (pre-evolution rows) rendered as a sentinel so the
      // ORDER BY agrees across engines (Spark sorts NULLS FIRST, DuckDB
      // NULLS LAST)
      t.toDF.withColumn("channel", coalesce(col("channel"), lit("NONE")))
        .groupBy("region", "channel")
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("region", "channel")
    }, oracle = Some(s"""
      WITH seed AS (
        SELECT *, CAST(NULL AS VARCHAR) AS channel
        FROM read_parquet('$root/evo_seed/*.parquet')),
      evo AS (SELECT * FROM read_parquet('$root/evo_batch/*.parquet')),
      fin AS (SELECT region, COALESCE(channel, 'NONE') AS channel, amount
              FROM seed
              UNION ALL
              SELECT region, COALESCE(channel, 'NONE') AS channel, amount
              FROM evo)
      SELECT region, channel, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY region, channel
      ORDER BY region, channel""")),

    // ------------------------------------------------------------------
    // Type widening on write (the Iceberg ALTER COLUMN TYPE / Delta
    // type-widening surface): a producer's qty outgrows INT and its
    // score precision doubles; mergeSchema promotes the stored types in
    // one metadata commit and the pre-widening files read through the
    // parquet reader's type promotion — no rewrite. score values are
    // quarter-fractions (exact in float, double, and decimal) so sums
    // are order-independent across engines.
    Q("table_type_widening", fn = (s, dir) => {
      val qtySmall = pmod(xxhash64(col("transaction_id")), lit(1000))
      val seedDir = Pipeline.stagedInput("widen_seed", "parquet") {
        SampleData.transactions(s, 200, seed = 104L)
          .select(col("transaction_id"), col("region"),
            qtySmall.cast(IntegerType).as("qty"),
            (pmod(xxhash64(col("transaction_id")), lit(50)) + lit(0.25))
              .cast(FloatType).as("score"))
      }
      val batchDir = Pipeline.stagedInput("widen_batch", "parquet") {
        SampleData.transactions(s, 200, seed = 105L)
          .select(col("transaction_id"), col("region"),
            (qtySmall + lit(4000000000L)).as("qty"),
            (pmod(xxhash64(col("transaction_id")), lit(50)) + lit(0.75))
              .as("score"))
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("widen")))
      val t = cat.createTable("analytics", "txns_widen",
        s.read.parquet(seedDir).schema, Nil)
      t.append(s.read.parquet(seedDir))
      t.append(s.read.parquet(batchDir), mergeSchema = true)
      t.toDF.groupBy("region")
        .agg(count(lit(1)).as("n"),
          sum(col("qty")).as("total_qty"),
          sum(col("score")).as("total_score"))
        .orderBy("region")
    }, oracle = Some(s"""
      WITH fin AS (
        SELECT region, CAST(qty AS BIGINT) AS qty, CAST(score AS DOUBLE) AS score
        FROM read_parquet('$root/widen_seed/*.parquet')
        UNION ALL
        SELECT region, qty, score FROM read_parquet('$root/widen_batch/*.parquet'))
      SELECT region, count(*) AS n,
             CAST(sum(qty) AS BIGINT) AS total_qty,
             sum(score) AS total_score
      FROM fin GROUP BY region ORDER BY region""")),

    // ------------------------------------------------------------------
    // Idempotent bulk file ingest (the Delta COPY INTO surface): wave1
    // is copied twice (the replay is a tracked no-op), wave2 once —
    // every source file lands in the table exactly once, which is the
    // whole contract. The oracle reads each staged wave exactly once.
    Q("table_copy_into", fn = (s, dir) => {
      val w1 = Pipeline.stagedInput("copy_wave1", "parquet") {
        SampleData.transactions(s, 150, seed = 106L)
          .select(col("transaction_id"), col("region"), col("amount"))
      }
      val w2 = Pipeline.stagedInput("copy_wave2", "parquet") {
        SampleData.transactions(s, 150, seed = 107L)
          .select(col("transaction_id"), col("region"), col("amount"))
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("copyinto")))
      val t = cat.createTable("analytics", "txns_copy",
        s.read.parquet(w1).schema, Nil)
      t.copyInto(w1)
      t.copyInto(w1)   // replay: loads nothing
      t.copyInto(w2)
      t.toDF.groupBy("region")
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("region")
    }, oracle = Some(s"""
      WITH fin AS (
        SELECT region, amount FROM read_parquet('$root/copy_wave1/*.parquet')
        UNION ALL
        SELECT region, amount FROM read_parquet('$root/copy_wave2/*.parquet'))
      SELECT region, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY region ORDER BY region""")),

    // ------------------------------------------------------------------
    // DEFAULT column values (the Delta/Iceberg default-value surface):
    // inserts that omit a defaulted column take its CURRENT DEFAULT;
    // a column added WITH a default is metadata-only — rows written
    // before it existed report the EXISTS default through Spark's
    // parquet readers, no rewrite. The oracle replays the same
    // semantics over the staged seed with explicit literals.
    Q("table_column_defaults", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("defaults_seed", "parquet") {
        SampleData.transactions(s, 200, seed = 110L)
          .select(col("transaction_id"), col("region"), col("amount"),
            pmod(xxhash64(col("transaction_id")), lit(2)).as("wave"))
      }
      val wh = Pipeline.scratch("defaults")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("defaults_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
      s.sql("""CREATE TABLE graft.dv.txns (
               transaction_id STRING, region STRING, amount STRING,
               channel STRING DEFAULT 'WEB')""")
      // wave 0 omits channel -> current default 'WEB'
      s.sql("""INSERT INTO graft.dv.txns (transaction_id, region, amount)
               SELECT transaction_id, region, amount FROM defaults_seed
               WHERE wave = 0""")
      // priority added AFTER wave 0 with default 3: wave-0 rows report 3
      s.sql("ALTER TABLE graft.dv.txns ADD COLUMN priority INT DEFAULT 3")
      // future default changes don't rewrite what existing rows report
      s.sql("ALTER TABLE graft.dv.txns ALTER COLUMN channel SET DEFAULT 'MOBILE'")
      s.sql("""INSERT INTO graft.dv.txns (transaction_id, region, amount)
               SELECT transaction_id, region, amount FROM defaults_seed
               WHERE wave = 1""")
      s.sql("""
        SELECT region, channel, priority, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.dv.txns
        GROUP BY region, channel, priority
        ORDER BY region, channel, priority""")
    }, oracle = Some(s"""
      WITH fin AS (
        SELECT region, amount,
               CASE WHEN wave = 0 THEN 'WEB' ELSE 'MOBILE' END AS channel,
               3 AS priority
        FROM read_parquet('$root/defaults_seed/*.parquet'))
      SELECT region, channel, priority, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY region, channel, priority
      ORDER BY region, channel, priority""")),

    // ------------------------------------------------------------------
    // Atomic REPLACE TABLE AS SELECT (the StagingTableCatalog surface):
    // the AS-SELECT writes into a hidden staging table and publication
    // is one CAS commit swapping schema + file list — readers see the
    // old shape or the new one, never a mix, and the pre-replace version
    // stays time-travelable. The final SELECT reads the replaced shape
    // (a per-region aggregate of the seed); the oracle recomputes it
    // from the staged seed directly.
    Q("catalog_v2_rtas", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("rtas_seed", "parquet") {
        SampleData.transactions(s, 250, seed = 109L)
      }
      val wh = Pipeline.scratch("rtas")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("rtas_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.shapes")
      s.sql("""CREATE TABLE graft.shapes.txns AS
               SELECT transaction_id, region, amount FROM rtas_seed""")
      s.sql("""REPLACE TABLE graft.shapes.txns AS
               SELECT region, count(*) AS n,
                      CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
               FROM graft.shapes.txns GROUP BY region""")
      // the replaced (aggregated) shape is the table now; the
      // pre-replace row-level version remains addressable as v1
      val rowLevel = s.sql("SELECT count(*) FROM graft.shapes.txns VERSION AS OF 1")
        .head().getLong(0)
      require(rowLevel == 250L, s"pre-replace version lost: $rowLevel")
      s.sql("SELECT region, n, total FROM graft.shapes.txns ORDER BY region")
    }, oracle = Some(s"""
      SELECT region, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/rtas_seed/*.parquet')
      GROUP BY region ORDER BY region""")),

    // ------------------------------------------------------------------
    // Native stored procedures (the Iceberg CALL surface): tag, rollback,
    // compact, snapshot expiration, and orphan-file removal all through
    // `CALL graft.system.<proc>(...)` — parsed by Spark's CALL statement,
    // bound via ProcedureCatalog, no SQL-text routing. Three insert waves
    // land as versions 1..3; rollback_to_version(2) rewinds to the first
    // two, and the maintenance procedures (rewrite_data_files,
    // expire_snapshots, remove_orphan_files) must preserve exactly that
    // state. The oracle recomputes from the staged seed's bucket column.
    Q("table_call_procedures", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("proc_seed", "parquet") {
        SampleData.transactions(s, 300, seed = 108L)
          .withColumn("bucket", pmod(xxhash64(col("transaction_id")), lit(3)))
      }
      val wh = Pipeline.scratch("callproc")
      s.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      s.read.parquet(seedDir).createOrReplaceTempView("proc_seed")
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
      s.sql("""CREATE TABLE graft.maint.txns (
               transaction_id STRING, region STRING, amount STRING, bucket BIGINT)""")
      (0 to 2).foreach(b => s.sql(
        s"""INSERT INTO graft.maint.txns
            SELECT transaction_id, region, amount, bucket
            FROM proc_seed WHERE bucket = $b"""))
      s.sql("CALL graft.system.create_tag(table => 'maint.txns', tag => 'all_waves')")
      s.sql("CALL graft.system.rollback_to_version('maint.txns', 2)")
      s.sql("CALL graft.system.rewrite_data_files('maint.txns')")
      s.sql("CALL graft.system.expire_snapshots(table => 'maint.txns', retain_last => 2)")
      s.sql("""CALL graft.system.remove_orphan_files(
               table => 'maint.txns', retain_versions => 1, grace_millis => 0)""")
      s.sql("""
        SELECT region, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft.maint.txns GROUP BY region ORDER BY region""")
    }, oracle = Some(s"""
      SELECT region, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/proc_seed/*.parquet')
      WHERE bucket IN (0, 1)
      GROUP BY region ORDER BY region""")),

    // ------------------------------------------------------------------
    // Persistent SQL views (the Athena CREATE VIEW surface): view
    // definitions are stored SQL text substituted PLAN-level at read —
    // never materialized — so a view over a view reflects current table
    // state. The oracle replays the nested view algebra from the seed.
    Q("table_sql_views", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("views_seed", "parquet") {
        SampleData.transactions(s, 250, seed = 99L)
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("views")))
      val t = cat.createTable("analytics", "txns_vw",
        Schemas.transactions, Seq("date"))
      t.append(s.read.parquet(seedDir))
      cat.sql("""CREATE VIEW analytics.risky AS
        SELECT region, status, amount FROM analytics.txns_vw
        WHERE risk_score = 'HIGH'""")
      cat.sql("""CREATE VIEW analytics.risk_summary AS
        SELECT region, count(*) AS n,
               CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM analytics.risky GROUP BY region""")
      cat.sql("SELECT * FROM analytics.risk_summary ORDER BY region")
    }, oracle = Some(s"""
      WITH risky AS (
        SELECT region, status, amount
        FROM read_parquet('$root/views_seed/*.parquet')
        WHERE risk_score = 'HIGH')
      SELECT region, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM risky GROUP BY region ORDER BY region""")),

    // ------------------------------------------------------------------
    // Okapi BM25 retrieval (Robertson TREC-3, Lucene-shape idf) over
    // the documents table: the "search the lake for these prompts"
    // pipeline op. Scores total as micro-unit INTEGERS (per-term
    // contribution rounded to 1e-6, exact integer sum), so float
    // association can never flip a rank and the oracle replays totals
    // bit-for-bit. The SQL mirrors the double arithmetic term by term —
    // constants written as the same expressions ((1.2 + 1.0), not 2.2)
    // so both engines parse and combine identical doubles.
    Q("text_bm25_search", fn = (s, dir) => {
      val docs = Td.documents(s, dir)
      graft.operators.Retrieval.bm25TopK(docs, Seq(
          0L -> "spark window agg",
          1L -> "customer query join",
          2L -> "fast hash scan",
          3L -> "stream batch merge"), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }, oracle = Some("""
      WITH qterms(query_id, term) AS (VALUES
        (0, 'spark'), (0, 'window'), (0, 'agg'),
        (1, 'customer'), (1, 'query'), (1, 'join'),
        (2, 'fast'), (2, 'hash'), (2, 'scan'),
        (3, 'stream'), (3, 'batch'), (3, 'merge')),
      toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 x -> x <> '')) AS term
        FROM documents),
      stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT count(*) FROM toks) AS total_toks),
      dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf
        FROM toks t JOIN (SELECT DISTINCT term FROM qterms) q USING (term)
        GROUP BY 1, 2),
      dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      contrib AS (
        SELECT q.query_id, tf.doc_id,
               CAST(round(
                 ln(1.0 + (CAST(s.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5))
                 * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dlen
                     / (CAST(s.total_toks AS DOUBLE) / s.n)))
                 * 1e6, 0) AS BIGINT) AS ci
        FROM tf
        JOIN dl USING (doc_id)
        JOIN dfs USING (term)
        JOIN qterms q USING (term)
        CROSS JOIN stats s),
      scored AS (
        SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS score_micro
        FROM contrib GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, doc_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score_micro DESC, doc_id ASC) AS rank
        FROM scored)
      SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
             doc_id, score_micro / 1e6 AS score
      FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""")),

    // ------------------------------------------------------------------
    // Hybrid retrieval via reciprocal-rank fusion (Cormack & Clarke,
    // SIGIR'09) — the sparse+dense combiner of production RAG stacks:
    // a BM25 top-20 run over `documents` fused with a dense cosine
    // top-20 run over `embeddings` (shared 0..499 id space) purely on
    // RANKS, 1/(60+rank) summed in micro-units. The oracle replays both
    // runs and the fusion; rank-only fusion keeps it calibration-free
    // and bit-stable.
    Q("retrieval_hybrid_rrf", fn = (s, dir) => {
      val docs = Td.documents(s, dir)
      val emb = Td.embeddings(s, dir)
      val sparse = graft.operators.Retrieval.bm25TopK(docs, Seq(
          0L -> "spark window agg",
          1L -> "customer query join",
          2L -> "fast hash scan",
          3L -> "stream batch merge"), k = 20)
      val qv = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val dense = graft.operators.Similarity.bruteForceTopK(emb, qv, k = 20)
        .withColumnRenamed("vec_id", "doc_id")
      graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }, oracle = Some("""
      WITH qterms(query_id, term) AS (VALUES
        (0, 'spark'), (0, 'window'), (0, 'agg'),
        (1, 'customer'), (1, 'query'), (1, 'join'),
        (2, 'fast'), (2, 'hash'), (2, 'scan'),
        (3, 'stream'), (3, 'batch'), (3, 'merge')),
      toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                 x -> x <> '')) AS term
        FROM documents),
      stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT count(*) FROM toks) AS total_toks),
      dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY 1),
      tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf
        FROM toks t JOIN (SELECT DISTINCT term FROM qterms) q USING (term)
        GROUP BY 1, 2),
      dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      bm AS (
        SELECT q.query_id, tf.doc_id,
               CAST(round(
                 ln(1.0 + (CAST(s.n AS DOUBLE) - dfs.df + 0.5) / (dfs.df + 0.5))
                 * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dlen
                     / (CAST(s.total_toks AS DOUBLE) / s.n)))
                 * 1e6, 0) AS BIGINT) AS ci
        FROM tf
        JOIN dl USING (doc_id)
        JOIN dfs USING (term)
        JOIN qterms q USING (term)
        CROSS JOIN stats s),
      sparse AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sum(ci) DESC, doc_id ASC) AS rank
        FROM bm GROUP BY query_id, doc_id
        QUALIFY rank <= 20),
      qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id < 4),
      dense AS (
        SELECT query_id, vec_id AS doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.v)
                   DESC, vec_id ASC) AS rank
        FROM embeddings e CROSS JOIN qv q
        QUALIFY rank <= 20),
      runs AS (
        SELECT query_id, doc_id, CAST(round(1e6 / (60 + rank), 0) AS BIGINT) AS ci
        FROM sparse
        UNION ALL
        SELECT query_id, doc_id, CAST(round(1e6 / (60 + rank), 0) AS BIGINT) AS ci
        FROM dense),
      fused AS (
        SELECT query_id, doc_id, CAST(sum(ci) AS BIGINT) AS score_micro
        FROM runs GROUP BY 1, 2),
      franked AS (
        SELECT query_id, doc_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score_micro DESC, doc_id ASC) AS rank
        FROM fused)
      SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
             doc_id, round(score_micro / 1e6, 6) AS score
      FROM franked WHERE rank <= 10 ORDER BY query_id, rank""")),

    // ------------------------------------------------------------------
    // Generalized SQL MERGE (VERDICT r5 #4): differing column names in
    // ON (t.transaction_id = s.tid), MULTIPLE ordered WHEN MATCHED AND
    // branches (DELETE, assignment-UPDATE, unconditional UPDATE), and a
    // conditional WHEN NOT MATCHED THEN INSERT (cols) VALUES — the full
    // Iceberg/Delta/Athena statement shape behind the reference's
    // upsert contract (stack/firehose.py:155-161). Unmatched source
    // rows whose insert condition is false (op='D') are dropped, not
    // inserted. The oracle replays the branch algebra in SQL.
    Q("table_sql_merge_branches", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("mb_seed", "parquet") {
        SampleData.transactions(s, 200, seed = 37L)
      }
      val batchDir = Pipeline.stagedInput("mb_batch", "parquet") {
        val seed = s.read.parquet(seedDir)
        def slice(df: org.apache.spark.sql.DataFrame, op: String) =
          df.select(col("transaction_id").as("tid"), col("date"),
            (col("amount") + 7).cast(DecimalType(12, 2)).as("new_amount"),
            lit(op).as("op"))
        val ups = slice(seed.filter(col("risk_score") === "HIGH"), "U")
        val touches = slice(seed.filter(col("risk_score") === "MEDIUM" &&
          col("status") === "COMPLETED"), "T")
        val dels = slice(seed.filter(col("status") === "DECLINED" &&
          col("risk_score") =!= "HIGH" &&
          !(col("risk_score") === "MEDIUM" && col("status") === "COMPLETED")), "D")
        val gen230 = SampleData.transactions(s, 230, seed = 37L)
        val fresh = slice(gen230
          .join(seed.select("transaction_id"), Seq("transaction_id"), "left_anti"), "U")
        val freshDrop = slice(SampleData.transactions(s, 260, seed = 37L)
          .join(gen230.select("transaction_id"), Seq("transaction_id"), "left_anti"), "D")
        ups.unionByName(touches).unionByName(dels)
          .unionByName(fresh).unionByName(freshDrop)
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("mergebr")))
      val t = cat.createTable("analytics", "txns_mb",
        Schemas.transactions, Seq("date"))
      t.append(s.read.parquet(seedDir))
      s.read.parquet(batchDir).createOrReplaceTempView("mb_batch")
      cat.sql("""
        MERGE INTO analytics.txns_mb AS t USING mb_batch AS s
        ON t.transaction_id = s.tid
        WHEN MATCHED AND s.op = 'D' THEN DELETE
        WHEN MATCHED AND s.op = 'U' THEN UPDATE SET amount = s.new_amount, status = 'REVIEWED'
        WHEN MATCHED THEN UPDATE SET status = 'TOUCHED'
        WHEN NOT MATCHED AND s.op <> 'D' THEN
          INSERT (transaction_id, date, amount, status, risk_score)
          VALUES (s.tid, s.date, s.new_amount, 'NEW', 'LOW')""")
      t.toDF.select(col("transaction_id"),
          col("amount").cast(DoubleType).as("amount"),
          col("status"), col("risk_score"))
        .orderBy(col("transaction_id"))
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/mb_seed/*.parquet')),
      batch AS (SELECT * FROM read_parquet('$root/mb_batch/*.parquet')),
      m AS (SELECT se.*, b.op AS b_op, b.new_amount AS b_amt
            FROM seed se LEFT JOIN batch b ON se.transaction_id = b.tid),
      kept AS (
        SELECT transaction_id,
               CAST(CASE WHEN b_op = 'U' THEN b_amt ELSE amount END AS DOUBLE) AS amount,
               CASE WHEN b_op = 'U' THEN 'REVIEWED'
                    WHEN b_op = 'T' THEN 'TOUCHED' ELSE status END AS status,
               risk_score
        FROM m WHERE b_op IS DISTINCT FROM 'D'),
      ins AS (
        SELECT b.tid AS transaction_id, CAST(b.new_amount AS DOUBLE) AS amount,
               'NEW' AS status, 'LOW' AS risk_score
        FROM batch b
        WHERE b.op <> 'D' AND NOT EXISTS
          (SELECT 1 FROM seed se WHERE se.transaction_id = b.tid))
      SELECT * FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
      ORDER BY transaction_id""")),

    // ------------------------------------------------------------------
    // Branch write-audit-publish (the Iceberg branch / WAP surface):
    // fork a branch, run an audit-shaped UPDATE + DELETE + append ON
    // THE BRANCH (main never sees intermediate states — asserted
    // mid-flight), then publish with one fast-forward metadata commit.
    // The oracle replays the same update→delete→append algebra over the
    // staged inputs, so the published state is value-checked end to end.
    Q("table_branch_wap", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("wap_seed", "parquet") {
        SampleData.transactions(s, 220, seed = 121L)
      }
      val lateDir = Pipeline.stagedInput("wap_late", "parquet") {
        SampleData.transactions(s, 40, seed = 122L)
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("wap")))
      val t = cat.createTable("analytics", "txns_wap",
        Schemas.transactions, Seq("date"))
      t.append(s.read.parquet(seedDir))
      val mainBefore = t.currentVersion
      t.createBranch("audit")
      val b = t.branch("audit")
      b.update(col("risk_score") === "HIGH", Map("status" -> lit("AUDITED")))
      b.delete(col("status") === "DECLINED")
      b.append(s.read.parquet(lateDir))
      // the audit ran entirely on the branch: main is untouched
      require(t.currentVersion == mainBefore,
        "branch writes must not advance main before publish")
      t.fastForward("audit")
      t.toDF.groupBy("risk_score", "status")
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("risk_score", "status")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/wap_seed/*.parquet')),
      late AS (SELECT * FROM read_parquet('$root/wap_late/*.parquet')),
      after_upd AS (
        SELECT * REPLACE(
          CASE WHEN risk_score = 'HIGH' THEN 'AUDITED' ELSE status END AS status)
        FROM seed),
      after_del AS (SELECT * FROM after_upd WHERE status <> 'DECLINED'),
      fin AS (SELECT * FROM after_del UNION ALL SELECT * FROM late)
      SELECT risk_score, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY risk_score, status
      ORDER BY risk_score, status""")),

    // ------------------------------------------------------------------
    // Shallow clone (the Delta CREATE TABLE ... SHALLOW CLONE surface):
    // a metadata-only table copy referencing the source's data files by
    // absolute path — zero bytes of data moved at clone time (asserted:
    // the clone has no data dir until it writes). The clone then takes
    // an UPDATE and a DELETE of its own while the source must stay
    // byte-identical (asserted mid-flight). The oracle replays the
    // update→delete algebra over the staged seed.
    Q("table_shallow_clone", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("clone_seed", "parquet") {
        SampleData.transactions(s, 200, seed = 131L)
      }
      val wh = Pipeline.scratch("clone")
      val cat = new TableCatalog(s, new Path(wh))
      val src = cat.createTable("analytics", "txns_src",
        Schemas.transactions, Seq("date"))
      src.append(s.read.parquet(seedDir))
      graft.table.GraftSql.sql(cat,
        "CREATE TABLE analytics.txns_clone SHALLOW CLONE analytics.txns_src")
      val c = cat.getTable("analytics", "txns_clone")
      // the clone was metadata-only: no data directory of its own yet
      require(!new java.io.File(s"$wh/analytics/txns_clone/data").exists(),
        "shallow clone must not copy data files")
      c.update(col("risk_score") === "MEDIUM",
        Map("amount" -> round(col("amount") * 3, 2).cast(DecimalType(12, 2))))
      c.delete(col("status") === "FAILED")
      // source untouched by clone-side DML
      require(src.currentVersion == 1L && src.toDF.count() == 200L,
        "source table must be unaffected by clone writes")
      c.toDF.groupBy("risk_score", "status")
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("risk_score", "status")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/clone_seed/*.parquet')),
      after_upd AS (
        SELECT * REPLACE(
          CASE WHEN risk_score = 'MEDIUM'
               THEN CAST(round(amount * 3, 2) AS DECIMAL(12,2))
               ELSE amount END AS amount)
        FROM seed),
      fin AS (SELECT * FROM after_upd WHERE status <> 'FAILED')
      SELECT risk_score, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM fin GROUP BY risk_score, status
      ORDER BY risk_score, status""")),

    // ------------------------------------------------------------------
    // STORED Change Data Feed (the Delta CDF surface, round 7): DML
    // commits on a CDF-enabled table persist row-level change parquet
    // under _change_data/, and changeFeed replays the exact history in
    // O(changes) — appends synthesized from the commit's added files,
    // update pre/post images and delete pre-images read back from
    // storage. The oracle replays the same three commits from the
    // staged seed, so the stored images (not just counts) are under
    // the hash check.
    Q("table_cdf_stored", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("cdfs_seed", "parquet") {
        SampleData.transactions(s, 120, seed = 71L)
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("cdfs")))
      val t = cat.createTable("analytics", "txns_cdfs",
        Schemas.transactions, Seq("date"),
        properties = Map(graft.table.TxTable.ChangeFeedProperty -> "true"))
      t.append(s.read.parquet(seedDir))                                // v1
      t.update(col("risk_score") === "HIGH",
        Map("amount" -> (col("amount") + 50).cast(DecimalType(12, 2)))) // v2
      t.delete(col("status") === "FAILED")                             // v3
      t.changeFeed(0)
        .select(col("_commit_version").as("v"),
          col("_change_type").as("change_type"),
          col("transaction_id"),
          col("amount").cast(DoubleType).as("amount"))
        .orderBy("v", "change_type", "transaction_id")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/cdfs_seed/*.parquet')),
      ins AS (
        SELECT CAST(1 AS BIGINT) AS v, 'insert' AS change_type,
               transaction_id, CAST(amount AS DOUBLE) AS amount FROM seed),
      upd_pre AS (
        SELECT CAST(2 AS BIGINT) AS v, 'update_preimage' AS change_type,
               transaction_id, CAST(amount AS DOUBLE) AS amount
        FROM seed WHERE risk_score = 'HIGH'),
      upd_post AS (
        SELECT CAST(2 AS BIGINT) AS v, 'update_postimage' AS change_type,
               transaction_id,
               CAST(CAST(amount + 50 AS DECIMAL(12,2)) AS DOUBLE) AS amount
        FROM seed WHERE risk_score = 'HIGH'),
      del AS (
        SELECT CAST(3 AS BIGINT) AS v, 'delete' AS change_type,
               transaction_id,
               CAST(CASE WHEN risk_score = 'HIGH'
                         THEN CAST(amount + 50 AS DECIMAL(12,2))
                         ELSE amount END AS DOUBLE) AS amount
        FROM seed WHERE status = 'FAILED')
      SELECT * FROM ins UNION ALL SELECT * FROM upd_pre
      UNION ALL SELECT * FROM upd_post UNION ALL SELECT * FROM del
      ORDER BY v, change_type, transaction_id""")),

    // ------------------------------------------------------------------
    // Materialized view with INCREMENTAL refresh (round 7): REFRESH
    // folds ONLY the stored change feed — signed contributions per
    // group, O(changes since last refresh) source-side — never a
    // source re-scan (the mode is pinned with a require below). The
    // oracle recomputes the final aggregate from the staged inputs with
    // the same update/append/delete history applied, so the folded
    // values themselves are under the hash check.
    Q("mv_refresh_incremental", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("mvr_seed", "parquet") {
        SampleData.transactions(s, 150, seed = 72L)
      }
      val extraDir = Pipeline.stagedInput("mvr_extra", "parquet") {
        SampleData.transactions(s, 200, seed = 72L)
          .join(s.read.parquet(seedDir).select("transaction_id"),
            Seq("transaction_id"), "left_anti")
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("mvr")))
      val t = cat.createTable("analytics", "txns_mvr",
        Schemas.transactions, Seq("date"),
        properties = Map(graft.table.TxTable.ChangeFeedProperty -> "true"))
      t.append(s.read.parquet(seedDir))
      cat.sql("""CREATE MATERIALIZED VIEW analytics.mv_risk AS
        SELECT risk_score, COUNT(*) AS n, SUM(amount) AS total
        FROM analytics.txns_mvr WHERE status <> 'FAILED'
        GROUP BY risk_score""")
      t.update(col("risk_score") === "HIGH",
        Map("amount" -> (col("amount") + 25).cast(DecimalType(12, 2))))
      t.append(s.read.parquet(extraDir))
      t.delete(col("status") === "PENDING")
      val res = cat.sql("REFRESH MATERIALIZED VIEW analytics.mv_risk")
        .collect()(0).getString(0)
      require(res.contains("incremental"),
        s"refresh must fold the change feed, got: $res")
      cat.getTable("analytics", "mv_risk").toDF
        .select(col("risk_score"), col("n"),
          col("total").cast(DoubleType).as("total"))
        .orderBy("risk_score")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/mvr_seed/*.parquet')),
      extra AS (SELECT * FROM read_parquet('$root/mvr_extra/*.parquet')),
      upd AS (
        SELECT * REPLACE(
          CASE WHEN risk_score = 'HIGH'
               THEN CAST(amount + 25 AS DECIMAL(12,2)) ELSE amount END
          AS amount)
        FROM seed),
      fin AS (
        SELECT * FROM upd WHERE status <> 'PENDING'
        UNION ALL
        SELECT * FROM extra WHERE status <> 'PENDING')
      SELECT risk_score, count(*) AS n,
             CAST(sum(amount) AS DOUBLE) AS total
      FROM fin WHERE status <> 'FAILED'
      GROUP BY risk_score ORDER BY risk_score""")),

    // ------------------------------------------------------------------
    // Deletion vectors (round 7): positional merge-on-read delete — no
    // key column, no data rewrite, one sorted-positions sidecar per
    // affected file (require() pins that the data files are untouched).
    // Two stacked deletePos calls exercise per-file vector MERGING; the
    // aggregate read goes through the DV-applying scan, and the oracle
    // recomputes from the staged seed with both predicates applied.
    Q("table_dv_delete", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("dv_seed", "parquet") {
        SampleData.transactions(s, 180, seed = 73L)
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("dvq")))
      val t = cat.createTable("analytics", "txns_dv",
        Schemas.transactions, Seq("date"))
      t.append(s.read.parquet(seedDir))
      val filesBefore = t.snapshot.files.map(_.path).toSet
      t.deletePos(col("status") === "FAILED")
      t.deletePos(col("risk_score") === "HIGH")
      require(t.snapshot.files.map(_.path).toSet == filesBefore,
        "positional delete must not rewrite data files")
      require(t.snapshot.deletionVectors.nonEmpty, "vectors must be recorded")
      t.toDF.groupBy("risk_score", "status")
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("risk_score", "status")
    }, oracle = Some(s"""
      SELECT risk_score, status, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM read_parquet('$root/dv_seed/*.parquet')
      WHERE status <> 'FAILED' AND risk_score <> 'HIGH'
      GROUP BY risk_score, status
      ORDER BY risk_score, status""")),

    // ------------------------------------------------------------------
    // Merge-on-read MERGE (round 7): the CDC upsert with ZERO rewrite —
    // matched keys' old rows go into per-file deletion vectors, winners
    // append (require() pins that no original file was touched). The
    // oracle replays the same upsert in SQL from the staged seed+batch,
    // so the DV-applying read path itself is under the hash check.
    Q("table_mor_merge", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("morm_seed", "parquet") {
        SampleData.transactions(s, 160, seed = 74L)
      }
      val batchDir = Pipeline.stagedInput("morm_batch", "parquet") {
        val seed = s.read.parquet(seedDir)
        val mods = seed.orderBy("transaction_id").limit(40)
          .withColumn("amount",
            (col("amount") + 7).cast(DecimalType(12, 2)))
          .withColumn("processing_timestamp",
            col("processing_timestamp") + 1L)
        val inserts = SampleData.transactions(s, 200, seed = 74L)
          .join(seed.select("transaction_id"), Seq("transaction_id"), "left_anti")
        mods.unionByName(inserts.select(mods.columns.map(col): _*))
      }
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("morm")))
      val t = cat.createTable("analytics", "txns_morm",
        Schemas.transactions, Seq("date"),
        properties = Map(
          graft.table.TxTable.MergeModeProperty -> "merge-on-read"))
      t.append(s.read.parquet(seedDir))
      val filesBefore = t.snapshot.files.map(_.path).toSet
      t.merge(s.read.parquet(batchDir),
        key = "transaction_id", orderCol = "processing_timestamp")
      require(t.snapshot.operation == "MERGE_MOR" &&
        t.snapshot.files.map(_.path).toSet.intersect(filesBefore) == filesBefore,
        "merge must be merge-on-read: no original file rewritten")
      require(t.snapshot.deletionVectors.nonEmpty, "vectors must be recorded")
      t.toDF.groupBy("risk_score")
        .agg(count(lit(1)).as("n"),
          sum(col("amount").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy("risk_score")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/morm_seed/*.parquet')),
      batch AS (SELECT * FROM read_parquet('$root/morm_batch/*.parquet')),
      merged AS (
        SELECT * FROM batch
        UNION ALL
        SELECT s.* FROM seed s WHERE NOT EXISTS
          (SELECT 1 FROM batch b WHERE b.transaction_id = s.transaction_id))
      SELECT risk_score, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM merged GROUP BY risk_score ORDER BY risk_score""")),

    // ------------------------------------------------------------------
    // Multi-table transaction (round 8): two copy-on-write deletes over
    // two tables become visible through ONE atomic marker commit — the
    // all-or-nothing surface the reference's per-table versionToken CAS
    // (update_metadata.py:135-141) cannot express. require() pins that
    // both tables committed under the SAME transaction and that the
    // published versions match the returned map; the oracle recomputes
    // both tables' post-txn state from the staged seed.
    Q("multi_table_txn", fn = (s, dir) => {
      val seedDir = Pipeline.stagedInput("mtxn_seed", "parquet") {
        SampleData.transactions(s, 300, seed = 81L)
      }
      val seed = s.read.parquet(seedDir)
      val cat = new TableCatalog(s, new Path(Pipeline.scratch("mtxn")))
      val hi = cat.createTable("analytics", "txns_hi",
        Schemas.transactions, Seq("date"))
      val lo = cat.createTable("analytics", "txns_lo",
        Schemas.transactions, Seq("date"))
      hi.append(seed); lo.append(seed)
      val versions = cat.beginTransaction()
        .delete(hi, col("risk_score") =!= "HIGH")
        .delete(lo, col("risk_score") === "HIGH")
        .commit()
      require(versions == Map("analytics.txns_hi" -> 2L,
        "analytics.txns_lo" -> 2L), s"unexpected txn versions $versions")
      require(hi.snapshot.operation == "DELETE" &&
        lo.snapshot.operation == "DELETE", "txn commits must resolve live")
      def slice(t: graft.table.TxTable, tag: String) =
        t.toDF.groupBy(lit(tag).as("src"), col("risk_score"))
          .agg(count(lit(1)).as("n"),
            sum(col("amount").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("total"))
      slice(hi, "hi").unionByName(slice(lo, "lo"))
        .orderBy("src", "risk_score")
    }, oracle = Some(s"""
      WITH seed AS (SELECT * FROM read_parquet('$root/mtxn_seed/*.parquet'))
      SELECT 'hi' AS src, risk_score, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM seed WHERE risk_score = 'HIGH' GROUP BY risk_score
      UNION ALL
      SELECT 'lo' AS src, risk_score, count(*) AS n,
             CAST(sum(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM seed WHERE risk_score <> 'HIGH' GROUP BY risk_score
      ORDER BY src, risk_score""")),
  )
}
