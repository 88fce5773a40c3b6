package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The similarity top-k paths aggregate with a bounded-heap
      // TypedImperativeAggregate (ScoreTopK): each hash-map entry is a
      // ≤k-element heap, so memory per task is |query batch| × k × ~16 B
      // — raising the ObjectHashAggregate fallback threshold from its
      // default 128 keys means a >128-query batch no longer falls back
      // to SORT-based aggregation (which would sort the full scored
      // stream per task). Scale-safe: the bound is per-DISTINCT-KEY
      // buffer size, which is k-bounded by construction, and the
      // value is a session conf a deployment sizes to its query-batch
      // cardinality (env override below for the driver's lower-core
      // runs to stay comparable).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("SPARK_GRAFT_OBJ_AGG_FALLBACK", "65536"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.benchNames
    val fns = SparkEntry.queries
    // fixed-cost contention sentinels (r13 VERDICT task 3, r14 task 5):
    // a pure-JVM loop of CONSTANT work timed between sections makes an
    // external-contention window attributable from the JSON alone.
    // Declared FIRST so the streaming and headline-query sections —
    // which run before the table-layer sections — are bracketed too
    // (r14's 1.03-1.34× headline drift was adjudicated noise only by
    // precedent because the query loop ran before the first sentinel).
    val sentinels = scala.collection.mutable.LinkedHashMap[String, Double]()
    sentinels("start") = sentinelMs()
    sentinels("start_par") = sentinelParMs()
    // STREAMING FIRST (r10 VERDICT item 2): the ingest-throughput bars
    // (median ≥ 8k rows/s, spread ≤ 1.5) kept missing in driver
    // artifacts recorded AFTER the query workload — tens of GB of
    // young-gen garbage and a hot JIT queue from the pipeline heavies
    // leak into the streaming windows. Run it before anything else;
    // one small untimed run absorbs first-touch JIT.
    val streamingJsonFirst = streamingBench(spark)
    // rerun-on-miss rule (r11 VERDICT item 8): the streaming median is
    // the one BARRED key (≥8k rows/s) that has missed in driver
    // artifacts while clearing in quiet windows — when the first
    // attempt misses the bar, re-run the whole section once
    // immediately and record BOTH, so a contended-window miss is
    // machine-distinguishable from an engine miss in the artifact
    // itself instead of needing a side-channel quiet run.
    def medianOf(json: String): Double =
      """"rows_per_sec_median":([0-9.eE+\-]+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toDouble).getOrElse(-1.0)
    val (streamingJson, streamingRerun) =
      if (medianOf(streamingJsonFirst) >= 8000.0) (streamingJsonFirst, None)
      else {
        val second = streamingBench(spark)
        if (medianOf(second) > medianOf(streamingJsonFirst))
          (second, Some(streamingJsonFirst))
        else (streamingJsonFirst, Some(second))
      }
    // warm the JVM/codegen once on the smallest SF so measured numbers
    // are steady-state, not first-query JIT noise
    names.foreach { n =>
      try fns(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    // two timed runs per query: run 1 is the cold number (first touch
    // of the target-SF data after JIT warm-up — comparable to r1's
    // single-run timing), min-of-2 is the steady-state number. BOTH are
    // reported so round-over-round comparisons stay honest about which
    // methodology they use; `queries`/`value` keep the warm (min-of-2)
    // semantics the driver has parsed since r2.
    def timedRun(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // spread-triggered retries: a contended sandbox window can inflate
    // one run several-fold (the r7 artifact recorded unexplained 2.8-3×
    // ANN regressions with unchanged code). When the recorded runs
    // disagree by more than 1.5×, the number is NOISE, not signal — so
    // keep measuring (bounded) until two runs agree within 1.5× and
    // report their min. All runs stay visible to keep the artifact
    // honest about how it was obtained.
    def stableMin(maxRuns: Int)(body: => Unit): (Seq[Double], Double) = {
      var runs = Vector(timedRun(body), timedRun(body))
      def ok(s: Seq[Double]): Boolean = {
        val sorted = s.filter(_ > 0).sorted
        sorted.size >= 2 && sorted(1) / sorted(0) <= 1.5
      }
      while (!ok(runs) && runs.size < maxRuns) runs :+= timedRun(body)
      (runs, if (runs.forall(_ <= 0)) -1.0 else runs.filter(_ > 0).min)
    }
    sentinels("before_queries") = sentinelMs()
    sentinels("before_queries_par") = sentinelParMs()
    val results = names.map { name =>
      // guide §1.5: label every timed key so the SQL/stages UI (and
      // event logs, when enabled) map back to bench keys by name
      spark.sparkContext.setJobDescription(s"bench:query:$name")
      val (runs, best) = stableMin(4)(fns(name)(spark, sfDir).count())
      spark.sparkContext.setJobDescription(null)
      (name, runs, best)
    }
    def jmap(f: ((String, Seq[Double], Double)) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val warmMap = jmap(_._3)
    val coldMap = jmap(_._2.head)
    // every recorded run per headline key (r12 VERDICT task 8: any key
    // with a bar carries its runs, so a contended-window outlier shows
    // its immediate rerun in the artifact itself)
    val runsMap = results.map { case (n, runs, _) =>
      "\"" + n + "\":[" + runs.map(r => f"$r%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._3).sum
    val coldTotal = results.map(_._2.head).sum
    // supplementary: training-pipeline heavies, timed once each AFTER
    // the headline set (extra keys — the headline `queries`/`value`
    // stay comparable to every earlier round's bench)
    val pipelineNames = Seq("dedup_embedding_cosine", "dedup_semantic",
      "ann_ivfpq", "decontaminate_bloom", "chunk_documents",
      "curation_pipeline", "text_tfidf_topterms", "dedup_lines_global",
      "text_lm_score", "dedup_substring")
    sentinels("before_pipeline") = sentinelMs()
    sentinels("before_pipeline_par") = sentinelParMs()
    val pipeline = pipelineNames.flatMap { name =>
      fns.get(name).map { fn =>
        // GC barrier between keys: the heavies before this key (e.g.
        // dedup_embedding_cosine, ann_ivfpq) leave tens of GB of young-
        // gen garbage; without a collection here the NEXT key pays
        // their GC debt inside its own timed window (the r8 artifact
        // recorded decontaminate_bloom at 4.01 s — 2.8× its quiet-
        // window 1.11 s — with both stable-min runs slowed the same
        // way). Unreferenced cached blocks drop with the same sweep.
        System.gc()
        Thread.sleep(200)
        // same stable-min discipline as the headline set: run 1 absorbs
        // staged-input (re)generation and JIT; retries continue until
        // two runs agree within 1.5× (bounded at 4). A failed query is
        // VISIBLE as -1, never a fast-looking time-to-failure. Text-
        // rebuilding dedup keys run under the checksum action so their
        // reassembly stage is inside the timed plan (see
        // [[checksumTextKeys]]).
        spark.sparkContext.setJobDescription(s"bench:pipeline:$name")
        val (runs, best) = stableMin(4)(timedAction(name, fn(spark, sfDir)))
        spark.sparkContext.setJobDescription(null)
        name -> (if (runs.exists(_ <= 0)) -1.0 else best)
      }
    }
    val pipelineMap = pipeline.map { case (n, s) => "\"" + n + "\":" + s }
      .mkString("{", ",", "}")
    // sections bracketed by inflated sentinels were contended; a slow
    // section between quiet sentinels is the code's own time
    def sectioned(name: String)(body: => String): String = {
      // sections must not inherit the PREVIOUS sections' state: cached
      // blocks left by earlier workloads (each section manages its own
      // caches internally) plus accumulated garbage otherwise land in
      // this section's timed windows — measured on the r14 local run:
      // ann_recall_clustered's 504-query batch read 93 s inside the
      // full bench vs 17-21 s isolated OR behind this barrier, with
      // QUIET sentinels both times (in-process debt, not contention)
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(100)
      sentinels(s"before_$name") = sentinelMs()
      sentinels(s"before_${name}_par") = sentinelParMs()
      spark.sparkContext.setJobDescription(s"bench:section:$name")
      try body finally spark.sparkContext.setJobDescription(null)
    }
    val metadataJson = sectioned("metadata")(metadataShakeout(spark))
    val meta100kJson = sectioned("metadata_100k")(metadata100k(spark))
    val planning1mJson = sectioned("planning_1m")(planning1m(spark))
    val cdfJson = sectioned("cdf")(cdfShakeout(spark))
    val txnJson = sectioned("txn")(txnShakeout(spark))
    val sustainJson = sectioned("sustain")(sustainShakeout(spark))
    val morSidecarsJson = sectioned("mor_sidecars")(morSidecars(spark))
    val commitLagJson = sectioned("commit_lag")(commitLag(spark))
    val queryLagJson = sectioned("query_lag")(queryLag(spark))
    val annClusteredJson = sectioned("ann_clustered")(annClustered(spark))
    val sf1Json = sectioned("pipeline_sf1")(pipelineSf1(spark, sfDir, fns))
    val headline10xJson = sectioned("headline_10x")(headline10x(spark, sfDir, fns))
    sentinels("end") = sentinelMs()
    sentinels("end_par") = sentinelParMs()
    val sentinelJson = sentinels.map { case (k, v) =>
      "\"" + k + "\":" + f"$v%.1f" }.mkString("{", ",", "}")
    val rerunKey = streamingRerun
      .map(j => s""""streaming_other_attempt":$j,""").getOrElse("")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$warmMap,"cold":$coldMap,"warm":$warmMap,"runs":$runsMap,"cold_total":$coldTotal,"pipeline":$pipelineMap,"streaming":$streamingJson,$rerunKey"metadata":$metadataJson,"metadata_100k":$meta100kJson,"planning_1m":$planning1mJson,"cdf":$cdfJson,"txn":$txnJson,"sustain":$sustainJson,"mor_sidecars":$morSidecarsJson,"commit_lag":$commitLagJson,"query_lag":$queryLagJson,"ann_recall_clustered":$annClusteredJson,"pipeline_sf1":$sf1Json,"headline_10x":$headline10xJson,"sentinel_ms":$sentinelJson,"sf":"$sfDir"}"""
    println(fullJson)
    // the driver's stdout capture keeps only a 2,000-char tail (the r11
    // artifact lost the warm/cold totals and sf0.1 pipeline keys to
    // truncation — VERDICT r11 item 2): ALSO write the full JSON to a
    // repo-tracked file so the round's record is complete and
    // machine-parseable regardless of how the tail capture behaves.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_full.json"),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Exception => () }
    spark.stop()
  }

  /** The contention sentinel: a CONSTANT amount of single-threaded
    * pure-JVM work (LCG + xor-shift over a register — no Spark, no
    * I/O, no allocation, unaffected by heap or page-cache state). Its
    * quiet-window time is a machine constant (~0.2 s here), so an
    * inflated reading directly measures external CPU contention during
    * that instant — the self-exoneration the r13 artifact's 4-11×
    * table-layer band lacked. */
  private def sentinelMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= (x >>> 33)
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) Console.err.println("sentinel")   // defeat DCE
    ms
  }

  /** The ALL-CORES sentinel: the same constant work on every available
    * processor at once. A cgroup CPU quota or a many-core co-tenant
    * throttles 32-thread Spark stages several-fold while leaving the
    * single-core probe untouched (observed r14: clustered batch keys
    * 4× slower between two quiet-single-sentinel windows) — the PAIR
    * separates three causes: both quiet = the code; single quiet +
    * parallel slow = multi-core contention/quota; both slow = machine
    * contention. Reported per section next to the single-core value. */
  private def sentinelParMs(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 100000000) {
          x = x * 6364136223846793005L + 1442695040888963407L
          x ^= (x >>> 33)
          i += 1
        }
        if (x == 42L) Console.err.println("sentinel")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Section-key run recording (r13 VERDICT task 3: the runs-array rule
    * extended from barred keys to the table-layer sections): execute at
    * least `n` runs, keep sampling (bounded) while the two best
    * disagree >1.5×, and return EVERY run plus the min — the artifact
    * shows a contended outlier next to its quiet rerun instead of
    * presenting one poisoned sample as the measurement. */
  private def runsOf(n: Int = 2, maxRuns: Int = 4)(
      run: () => Double): (Seq[Double], Double) = {
    var runs = Vector.fill(n)(run())
    while ({
      val s = runs.filter(_ > 0).sorted
      (s.size < 2 || s(1) / s(0) > 1.5) && runs.size < maxRuns
    }) runs :+= run()
    val pos = runs.filter(_ > 0)
    (runs, if (pos.isEmpty) -1.0 else pos.min)
  }

  private def runsJson(runs: Seq[Double]): String =
    "[" + runs.map(r => f"$r%.3f").mkString(",") + "]"

  /** Keys whose output is a rebuilt TEXT column: time them with a
    * checksum aggregate over that column instead of `count()` —
    * ColumnPruning would otherwise elide the reassembly aggregate
    * (`collect_list` + `array_sort` + `concat_ws` over every surviving
    * token/line) from the timed plan entirely, under-stating the
    * operator's dominant stage (r10 VERDICT item 3: dedup_substring
    * recorded 0.14 s with its rebuild stage pruned away). The checksum
    * (bit_xor of xxhash64(text) — a SUM would overflow long under ANSI
    * mode) forces the rebuilt text while staying collect-free; rows
    * ride along in the same action. */
  private val checksumTextKeys: Map[String, String] = Map(
    "dedup_substring" -> "text",
    "dedup_substring_boiler" -> "text",
    "dedup_lines_global" -> "text",
    "dedup_paragraphs_global" -> "text")

  private def timedAction(name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    checksumTextKeys.get(name).filter(df.columns.contains) match {
      case Some(c) =>
        val r = df.agg(count(lit(1)).as("n"),
          bit_xor(xxhash64(col(c))).as("checksum")).collect()(0)
        r.getLong(0)
      case None => df.count()
    }
  }

  /**
   * Streaming ingest throughput — the reference's operative metric
   * (its 60 s Firehose buffer is a latency floor, not a rate; the
   * rate is how fast the delivery loop merges micro-batches). Staged
   * envelope files drain through StreamingIngest.start with
   * AvailableNow in 4 micro-batches of ~10k rows (multiple real
   * foreachBatch MERGE commits, like the buffered delivery loop).
   * Fresh table + checkpoint per run so txn fencing can't skip work.
   * Runs FIRST in the bench (before any query workload) with one
   * small untimed warm-up run for JIT; the spread bar (all recorded
   * runs within 1.5×) keeps sampling bounded at 8, and the artifact
   * carries an explicit `converged` flag so a contended window that
   * exhausts the bound is machine-distinguishable (r10 VERDICT item 2).
   */
  private def streamingBench(spark: SparkSession): String = try {
    val streamRows = 40000L
    val envDir = new java.io.File("target/qwork/bench_stream_env").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(envDir))
    graft.ingest.SampleData.toCdcEnvelopes(
        graft.ingest.SampleData.transactions(spark, streamRows, seed = 11L))
      .toJSON.repartition(32).write.text(envDir)
    def streamRunWith(tag: String, r: Int, src: String, rows: Long,
        props: Map[String, String]): Double = {
      val work = new java.io.File(s"target/qwork/bench_stream_$tag$r").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      val t = graft.table.TxTable.create(spark,
        new org.apache.hadoop.fs.Path(s"$work/table"), "txns",
        graft.model.Schemas.transactions, Seq("date"), properties = props)
      val t0 = System.nanoTime()
      try {
        val q = graft.ingest.StreamingIngest.start(spark, src, t,
          checkpointDir = s"$work/ckpt", errorsDir = s"$work/errors",
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          maxFilesPerTrigger = 8)
        q.awaitTermination(600000)
        val secs = (System.nanoTime() - t0) / 1e9
        if (t.toDF.count() == rows) secs else -1.0
      } catch { case _: Throwable => -1.0 }
    }
    // untimed warm-up: a quarter-size pass plus TWO full-size passes
    // through the whole path (decode → unmarshal → LWW → MERGE
    // commit). Streaming now runs before the query workload, so the
    // recorded runs no longer inherit 15 minutes of C2-compiled
    // engine from earlier sections — without the full-size passes the
    // steady state only arrived around run 3 and every recorded run
    // sat ~25% over it (measured 7.4k rows/s vs 9.5k warm).
    val warmDir = new java.io.File("target/qwork/bench_stream_warm_env")
      .getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warmDir))
    graft.ingest.SampleData.toCdcEnvelopes(
        graft.ingest.SampleData.transactions(spark, 10000L, seed = 5L))
      .toJSON.repartition(8).write.text(warmDir)
    streamRunWith("warm", 0, warmDir, 10000L, Map.empty)
    streamRunWith("warm", 1, envDir, streamRows, Map.empty)
    streamRunWith("warm", 2, envDir, streamRows, Map.empty)
    // stability contract (r9 VERDICT item 3): the spread bar holds on
    // ALL runs, not a best-of subset — keep sampling (bounded at 8)
    // until every recorded run agrees within 1.5×, and report BOTH the
    // best rate (round-over-round comparability with r2-r9) and the
    // MEDIAN over all runs, which a single lucky window cannot inflate.
    def streamRun(r: Int): Double =
      streamRunWith("run", r, envDir, streamRows, Map.empty)
    var streamAll = (1 to 3).map(streamRun).toVector
    def spreadOk(s: Seq[Double]): Boolean = {
      val p = s.filter(_ > 0)
      p.size >= 3 && p.max / p.min <= 1.5
    }
    while (!spreadOk(streamAll) && streamAll.size < 8)
      streamAll :+= streamRun(streamAll.size + 1)
    val converged = spreadOk(streamAll)
    val positives = streamAll.filter(_ > 0).sorted
    val streamRate =
      if (positives.isEmpty) -1.0
      else math.round(streamRows / positives.head).toDouble
    val streamMedianRate =
      if (positives.isEmpty) -1.0
      else math.round(streamRows / positives(positives.size / 2)).toDouble
    // SUPPLEMENTARY variant, same shape: merge-on-read ingest — the
    // CDC fast path the reference's Firehose upsert maps to at scale
    // (no touched-partition rewrite; matched keys vector, winners
    // append; auto-compaction retires the file accumulation). The
    // headline rows_per_sec stays the COW table for round-over-round
    // comparability.
    val morProps = Map(
      graft.table.TxTable.MergeModeProperty -> "merge-on-read",
      "graft.autoCompact.enabled" -> "true")
    val morRuns = (1 to 2)
      .map(r => streamRunWith("mor", r, envDir, streamRows, morProps))
    val morBest = morRuns.filter(_ > 0)
    val morRate =
      if (morBest.isEmpty) -1.0
      else math.round(streamRows / morBest.min).toDouble
    // 10× scale point (r9 VERDICT item 7): the same MOR ingest over
    // 400k rows in one pass — per-batch merge cost must stay flat as
    // the table grows (the commit-index / O(batch + matched) claim
    // applied to ingest), so the 10× rate should hold within ~1.5× of
    // the 40k rate. Staged once. r12 VERDICT task 2: the r12 artifact
    // recorded a single unrepeated 8,806 vs 51,734 quiet on this key —
    // record ≥2 runs (retrying while they disagree >1.5×, bounded) so a
    // contended window is machine-distinguishable from a regression.
    val stream10xRows = streamRows * 10
    val env10xDir = new java.io.File("target/qwork/bench_stream_env10x")
      .getAbsolutePath
    if (!new java.io.File(env10xDir, "_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(env10xDir))
      graft.ingest.SampleData.toCdcEnvelopes(
          graft.ingest.SampleData.transactions(spark, stream10xRows, seed = 17L))
        .toJSON.repartition(32).write.text(env10xDir)
    }
    def run10x(r: Int): Double =
      streamRunWith("mor10x", r, env10xDir, stream10xRows, morProps)
    var runs10x = Vector(run10x(0), run10x(1))
    while ({
      val p = runs10x.filter(_ > 0).sorted
      (p.size < 2 || p(1) / p(0) > 1.5) && runs10x.size < 4
    }) runs10x :+= run10x(runs10x.size)
    val best10x = runs10x.filter(_ > 0)
    val rate10x =
      if (best10x.isEmpty) -1.0
      else math.round(stream10xRows / best10x.min).toDouble
    val rates10x = runs10x.map(s =>
      if (s <= 0) -1.0 else math.round(stream10xRows / s).toDouble)
    s"""{"rows":$streamRows,"runs":[${positives.mkString(",")}],""" +
      s""""runs_all":[${streamAll.mkString(",")}],"rows_per_sec":$streamRate,""" +
      s""""rows_per_sec_median":$streamMedianRate,""" +
      s""""converged":$converged,""" +
      s""""mor_rows_per_sec":$morRate,""" +
      s""""mor_runs_sec":[${morRuns.mkString(",")}],""" +
      s""""rows_10x":$stream10xRows,"rows_10x_per_sec":$rate10x,""" +
      s""""rows_10x_runs":[${rates10x.mkString(",")}]}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * Scale-up evidence for the text AND vector flagships: five queries
   * (line dedup, MinHash-LSH, Bloom decontamination, embedding-cosine
   * near-dup, IVF-PQ ANN) on a 10× staged corpus — documents replicated
   * with distinct per-replica letter rotations, embeddings with
   * independent per-dimension sign patterns — so replicas are neither
   * exact nor near duplicates of their source and the workload grows
   * 10× wide without manufactured dup clusters. An O(candidates)-shaped
   * operator should scale ≈linearly here; anything quadratic in corpus
   * size shows up as >>10× the sf0.1 time. (Pair OUTPUT may still grow
   * super-linearly when the similarity threshold sits in the data's
   * bulk band — that is organic workload, reported via `rows`.)
   */
  private def pipelineSf1(spark: SparkSession, sfDir: String,
      fns: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame]): String = try {
    import org.apache.spark.sql.functions._
    val replicas = 10
    // staged corpus is KEYED on the source sf dir — a bench run at a
    // different scale must regenerate, not silently reuse a stale 10x
    val bigDir = new java.io.File(
      s"target/qwork/bench_docs10x_${new java.io.File(sfDir).getName}")
      .getAbsolutePath
    // regenerate unless BOTH staged tables are complete (the marker
    // set grew when the embeddings corpus was added)
    val marker = new java.io.File(bigDir, "documents.parquet/_SUCCESS")
    val markerE = new java.io.File(bigDir, "embeddings.parquet/_SUCCESS")
    if (!marker.exists() || !markerE.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bigDir))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n = docs.agg(max(col("doc_id"))).collect()(0).getLong(0) + 1
      // per-replica letter rotation (10 DISTINCT mappings): changes
      // most words, so a replica shares almost no shingles/minhashes
      // with its source or any other replica — the corpus grows 10×
      // without manufacturing 10× near-dup clusters
      val alpha = "aeiounsrhl"
      val big = (0 until replicas).map { i =>
        val rot = alpha.drop(i) + alpha.take(i)
        docs.select(
          (col("doc_id") + lit(i.toLong * n)).as("doc_id"),
          (if (i == 0) col("text")
           else translate(col("text"), alpha, rot)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
      big.repartition(32).write.parquet(s"$bigDir/documents.parquet")
      // 10x embeddings for the vector flagships: each replica applies
      // its own per-dimension SIGN pattern — an isometry, so every
      // replica's INTERNAL near-dup structure survives intact, while
      // cross-replica cosines decorrelate (independent sign patterns
      // cancel in expectation). A plain rotation failed here: it is a
      // SHARED isometry, so cross-replica pairs stayed similar and the
      // 10x corpus manufactured ~1500x the dup pairs.
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val m = emb.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1
      // size the sign patterns from the DATA's dimensionality — a
      // short literal array would zip_with-pad replicas with nulls
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      val bigE = (0 until replicas).map { i =>
        val flipped =
          if (i == 0) col("embedding")
          else {
            val signs = (0 until dim).map { d =>
              // a FINALIZED hash, not a seeded Random's first draw
              // (sequential seeds correlate and the patterns collapse)
              val h = scala.util.hashing.MurmurHash3.productHash((i, d))
              if ((h & 1) == 0) 1.0f else -1.0f
            }
            zip_with(col("embedding"), typedlit(signs), (v, sg) => v * sg)
          }
        emb.select((col("vec_id") + lit(i.toLong * m)).as("vec_id"),
          flipped.as("embedding"), col("label"))
      }.reduce(_ unionByName _)
      bigE.repartition(16).write.parquet(s"$bigDir/embeddings.parquet")
    }
    val nDocs = spark.read.parquet(s"$bigDir/documents.parquet").count()
    // boilerplate-injected variant for the substring-dedup stress point
    // (r10 VERDICT item 4): the sf1 corpus has near-zero duplicated
    // ≥8-token windows, so the loser/covered path — the part that
    // exists for mega-duplicated boilerplate — was barely exercised at
    // scale. ~30% of docs get a shared 40-token boilerplate prefix:
    // every window inside it duplicates ~15k× corpus-wide, driving the
    // winner aggregate's mega-groups and the covered-position explode
    // at realistic web-scrape shape.
    val boilerMarker = new java.io.File(bigDir,
      "documents_boiler.parquet/_SUCCESS")
    if (!boilerMarker.exists()) {
      val boiler = (1 to 40).map(i => s"tok$i").mkString(" ")
      spark.read.parquet(s"$bigDir/documents.parquet")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(10)) < 3,
            concat(lit(boiler + " "), col("text")))
            .otherwise(col("text")))
        .repartition(32)
        .write.parquet(s"$bigDir/documents_boiler.parquet")
    }
    val keys = Seq("dedup_lines_global", "dedup_minhash_lsh",
      "decontaminate_bloom", "dedup_embedding_cosine", "dedup_semantic",
      "ann_ivfpq", "dedup_substring")
    def timeKey(k: String, mk: () => org.apache.spark.sql.DataFrame)
        : (String, (Seq[Double], Long)) = {
      // GC barrier BETWEEN the warm run and every timed run, not just
      // before the key: the warm pass leaves tens of GB of young-gen
      // garbage whose collection otherwise lands inside the first
      // timed window (measured on decontaminate_bloom sf1: 6.9 s with
      // the debt vs 3.6 s behind a barrier — the whole r10 "drift" was
      // this plus contention). Then the stable-min discipline of the
      // sf0.1 pipeline section: two timed runs, retries (bounded at 4)
      // while they disagree >1.5×, min reported, ALL runs visible.
      System.gc(); Thread.sleep(200)
      var rows = timedAction(k, mk())        // warm: staging + JIT
      def one(): Double = {
        System.gc(); Thread.sleep(200)
        val t0 = System.nanoTime()
        rows = timedAction(k, mk())
        (System.nanoTime() - t0) / 1e9
      }
      var runs = Vector(one(), one())
      while ({ val s = runs.sorted; s(1) / s(0) > 1.5 && runs.size < 4 })
        runs :+= one()
      k -> ((runs, rows))
    }
    val timedKeys = keys.flatMap { k =>
      fns.get(k).map(fn => timeKey(k, () => fn(spark, bigDir)))
    } :+ timeKey("dedup_substring_boiler", () =>
      // same operator and window width as the oracle-checked
      // dedup_substring key, over the boilerplate-injected corpus
      graft.operators.Dedup.substringDedup(
        spark.read.parquet(s"$bigDir/documents_boiler.parquet"),
        minMatchTokens = 8))
    val body = timedKeys.map { case (k, (runs, rows)) =>
      s""""$k":{"sec":${f"${runs.min}%.3f"},""" +
        s""""runs":[${runs.map(r => f"$r%.3f").mkString(",")}],"rows":$rows}"""
    }.mkString(",")
    // recall AT SCALE (r11 VERDICT task 5): the floors were pinned by
    // spec at sf0.01; capacities and probe counts DERIVE from n, so
    // until now recall at the 10× corpus was asserted by formula, not
    // measured. 65 queries spread across all replicas, ground truth
    // from the exact brute-force scorer, recall@10 for the TRAINED +
    // exactly-re-ranked ivfpq across a probe sweep (the recall/cost
    // curve), plus the derived-point ivf and lsh. This corpus is
    // adversarial for IVF — 10 sign-flip replicas make cluster
    // structure 10× weaker than one real embedding corpus — so the
    // artifact records the OPERATING POINT that clears 0.9 and what it
    // scans, not just the derived point's number.
    val annRecall = try {
      import graft.operators.Similarity
      val emb = spark.read.parquet(s"$bigDir/embeddings.parquet").cache()
      val queries = emb.filter(pmod(col("vec_id"), lit(311)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        .cache()
      val nQ = queries.count()
      val ground = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("vec_id")).cache()
      val nGround = ground.count()
      def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
        ground.join(approx.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi").count().toDouble / nGround
      def timedRecall(mk: => org.apache.spark.sql.DataFrame): (Double, Double) = {
        val t0 = System.nanoTime()
        val r = recallOf(mk)
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (bruteR, bruteSec) = timedRecall(
        Similarity.bruteForceTopK(emb, queries, k = 10))
      val cells = 142   // autoCells(20k); recorded for the sweep's math
      // library defaults (m=8, kCodes=256 one-byte PQ, 3 Lloyd rounds)
      // + a 300-candidate exact re-rank. nprobe = -1 is the SHIPPED
      // DEFAULT — since r13 the measured operating point (train,
      // encode once, calibrate to 0.9 held-out recall), not the
      // √nCells heuristic (which recorded 0.475 here in r12); the
      // explicit points keep the recall/cost curve comparable.
      // In-call timings INCLUDE training + calibration — the
      // once-per-corpus cost; the persisted-index block below records
      // what a deployment's QUERIES actually pay after it.
      val sweep = Seq(-1, 36, 72, 108).map { np =>
        val label = if (np <= 0) "default_calibrated" else np.toString
        if (np <= 0) {
          // the shipped default is the BARRED key — record a runs
          // array like every other timing key so a window-position
          // outlier is attributable (r17 VERDICT observation 5: one
          // driver rerun read 31.99 s against 7.61 committed with
          // nothing to attribute it to)
          var recall = -1.0
          val (runs, sec) = runsOf()(() => {
            val (r, s0) = timedRecall(Similarity.ivfPqTopK(emb, queries,
              k = 10, dim = 64, nCells = -1, nprobe = np,
              iters = 3, rerankTo = 300))
            recall = r
            s0
          })
          s""""nprobe_$label":{"recall":${f"$recall%.4f"},""" +
            s""""sec":${f"$sec%.3f"},"runs":${runsJson(runs)}}"""
        } else {
          val (r, sec) = timedRecall(Similarity.ivfPqTopK(emb, queries,
            k = 10, dim = 64, nCells = -1, nprobe = np,
            iters = 3, rerankTo = 300))
          s""""nprobe_$label":{"recall":${f"$r%.4f"},"sec":${f"$sec%.3f"}}"""
        }
      }
      // the persisted-index regime (r12 VERDICT task 1): train +
      // encode + calibrate ONCE (build_sec), then time SEARCH ONLY
      // against the cached encoding — the per-query-batch cost a
      // deployment pays, which must beat the brute-force pass
      val tB0 = System.nanoTime()
      val model = Similarity.buildIndexModel(emb, dim = 64, k = 10,
        recallTarget = 0.9, sampleQueries = 32)
      val indexed = Similarity.encodeIvfPq(emb, model).cache()
      indexed.count()
      val idxBuildSec = (System.nanoTime() - tB0) / 1e9
      val (rIdx, idxQuerySec) = timedRecall(
        Similarity.searchIndexed(indexed, emb, queries, model, k = 10))
      val (rIdx2, idxQuerySec2) = timedRecall(
        Similarity.searchIndexed(indexed, emb, queries, model, k = 10))
      indexed.unpersist()
      val (rIvf, _) = timedRecall(Similarity.ivfTopK(emb, queries, k = 10,
        dim = 64, nCells = -1, nprobe = -1))
      val (rLsh, _) = timedRecall(Similarity.lshTopK(emb, queries, k = 10,
        dim = 64, nBits = 8, probeDepth = 2))
      queries.unpersist(); ground.unpersist(); emb.unpersist()
      s""""ann_recall":{"queries":$nQ,"k":10,"cells":$cells,""" +
        s""""brute_sec":${f"$bruteSec%.3f"},""" +
        s""""ivfpq_trained_rerank":{${sweep.mkString(",")}},""" +
        s""""index_build_sec":${f"$idxBuildSec%.3f"},""" +
        s""""index_nprobe":${model.nprobe},""" +
        s""""index_recall":${f"$rIdx%.4f"},""" +
        s""""index_query_sec":[${f"$idxQuerySec%.3f"},${f"$idxQuerySec2%.3f"}],""" +
        s""""ivf_default_calibrated":${f"$rIvf%.4f"},""" +
        s""""lsh_depth2":${f"$rLsh%.4f"}}"""
    } catch {
      case e: Throwable =>
        s""""ann_recall":{"error":"${e.getClass.getSimpleName}"}"""
    }
    s"""{"docs":$nDocs,$body,$annRecall}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * ANN recall on a CLUSTERABLE corpus (r12 VERDICT task 7): the 10×
   * bench corpus is deliberately IVF-adversarial (sign-flip replicas
   * decorrelate cluster structure), so its recall curve cannot
   * distinguish "index works, corpus is adversarial" from "index
   * under-probes everywhere". 200k synthetic vectors in 20,000 planted
   * clusters of 10 (hash-derived centers ±1.0, per-point noise ±0.25 —
   * deterministic, no RNG state; a query's true top-10 ≈ its
   * cluster-mates, separated from every other cluster by a large
   * margin — the shape of a near-dup-rich embedding corpus) give the
   * fair target: the DERIVED √nCells heuristic vs the CALIBRATED
   * default, recall@10 each, plus the calibrated probe count — on
   * clustered data the heuristic should already be close and
   * calibration should agree cheaply. (A first cut used 200 clusters
   * of 1,000: within-cluster ranking margins sit below PQ resolution
   * there — recall 0.33 even at FULL probing — which measures
   * quantization error, not probing. Measured here: heuristic 22
   * probes → 0.998; calibration lands at the same 22.)
   */
  private def annClustered(spark: SparkSession): String = try {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val nVec = 200000L
    val nClust = 20000
    val dim = 64
    val dir = new java.io.File("target/qwork/bench_ann_clustered")
      .getAbsolutePath
    if (!new java.io.File(s"$dir/emb.parquet/_SUCCESS").exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      // deterministic hash noise in [-0.5, 0.5): md5 of (salt, a, b)
      def h(salt: Int, a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (conv(substring(md5(concat_ws("_", lit(salt), a, b)), 1, 15), 16, 10)
          .cast("long") % 1000000L) / 1000000.0 - 0.5
      spark.range(nVec).select(col("id").as("vec_id"),
          pmod(col("id"), lit(nClust)).as("c"))
        .select(col("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            d => h(1, col("c"), d) * 2.0 + h(2, col("vec_id"), d) * 0.5)
            .as("embedding"))
        .repartition(32).write.parquet(s"$dir/emb.parquet")
    }
    val emb = spark.read.parquet(s"$dir/emb.parquet").cache()
    emb.count()
    val queries = emb.filter(pmod(col("vec_id"), lit(4001)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .cache()
    val nQ = queries.count()
    val ground = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select(col("query_id"), col("vec_id")).cache()
    val nGround = ground.count().toDouble
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      ground.join(df.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi").count() / nGround
    val cells = Similarity.autoCells(nVec)      // 448
    val heurProbes = Similarity.autoProbes(cells)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (rHeur, tHeur) = timed(recallOf(Similarity.ivfPqTopK(emb, queries,
      k = 10, dim = dim, nCells = cells, nprobe = heurProbes,
      iters = 3, rerankTo = 300)))
    // the calibrated default: train + encode once, measure, search
    val (model, buildSec) = timed(Similarity.buildIndexModel(emb, dim,
      k = 10, recallTarget = 0.9, sampleQueries = 32, nCells = cells))
    val indexed = Similarity.encodeIvfPq(emb, model).cache()
    indexed.count()
    val (rCal, tCal) = timed(recallOf(
      Similarity.searchIndexed(indexed, emb, queries, model, k = 10)))
    // index vs brute at an AMORTIZED query batch (~500): per-query the
    // index scans nprobe/nCells of the corpus reading 8 code bytes per
    // row vs a full pass of 64-dim cosines — the regime a deployment's
    // query traffic actually runs in (50 queries mostly measure fixed
    // per-job cost). The adversarial 10× corpus cannot show this:
    // calibration demands ~85% probing there, and an index that scans
    // 85% SHOULD lose to a clean scan — which the ann_recall section's
    // numbers record honestly.
    val batch = emb.filter(pmod(col("vec_id"), lit(397)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      .cache()
    val nBatch = batch.count()
    // ≥2 recorded runs: these two keys moved 4× between quiet windows
    // (multi-core throttling the parallel sentinel now exposes)
    val (bruteRuns, bruteBatchSec) = runsOf()(() => timed(
      Similarity.bruteForceTopK(emb, batch, k = 10).count())._2)
    val (idxRuns, idxBatchSec) = runsOf()(() => timed(
      Similarity.searchIndexed(indexed, emb, batch, model, k = 10)
        .count())._2)
    batch.unpersist()
    indexed.unpersist(); ground.unpersist(); queries.unpersist()
    emb.unpersist()
    s"""{"vectors":$nVec,"clusters":$nClust,"queries":$nQ,""" +
      s""""cells":$cells,"heuristic_nprobe":$heurProbes,""" +
      s""""heuristic_recall":${f"$rHeur%.4f"},""" +
      s""""heuristic_sec":${f"$tHeur%.3f"},""" +
      s""""calibrated_nprobe":${model.nprobe},""" +
      s""""calibrated_recall":${f"$rCal%.4f"},""" +
      s""""build_sec":${f"$buildSec%.3f"},""" +
      s""""query_sec":${f"$tCal%.3f"},""" +
      s""""batch_queries":$nBatch,""" +
      s""""brute_batch_sec":${f"$bruteBatchSec%.3f"},""" +
      s""""index_batch_sec":${f"$idxBatchSec%.3f"},""" +
      s""""runs":{"brute_batch":${runsJson(bruteRuns)},""" +
      s""""index_batch":${runsJson(idxRuns)}}}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * Stored-CDF tax and read rate: the SAME 20k-row CDC merge into a
   * 40k-row table with the feed off (baseline) and on (the classify +
   * change-parquet write ride-along), then one O(changes) feed read of
   * the merge commit. The delta between the merge numbers IS the cost
   * of enabling `graft.enableChangeDataFeed` on the ingest path; the
   * feed read shows the consumer side never rescans the table.
   */
  private def cdfShakeout(spark: SparkSession): String = try {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import graft.ingest.SampleData
    import graft.model.Schemas
    import graft.table.{TableCatalog, TxTable}
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val whF = new java.io.File("target/qwork/bench_cdf_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(whF)
    val cat = new TableCatalog(spark, new Path(whF.getAbsolutePath))
    val seed = SampleData.transactions(spark, 40000, seed = 9L).cache()
    seed.count()
    val batch = seed.orderBy("transaction_id").limit(20000)
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
      .cache()
    batch.count()
    var tableN = 0
    def seeded(props: Map[String, String]): TxTable = {
      tableN += 1
      val t = cat.createTable("bench", s"cdf_t$tableN", Schemas.transactions,
        Seq("date"), properties = props)
      t.append(seed)
      t
    }
    // ONE stable-min loop for everything this shakeout times: run
    // twice, keep sampling (bounded at 4) while the two best disagree
    // by >1.5×, report the min — the discipline the headline queries
    // adopted in r8 after a single contended-window run poisoned an
    // artifact (merge_mor_sec recorded 4.52 s for code that steadily
    // runs ≤1.6 s). EVERY run is recorded in the section's own "runs"
    // map (r13 task 3), so the artifact self-exonerates.
    val recorded = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def stableMin(key: String)(run: () => Double): Double = {
      val (runs, best) = runsOf()(run)
      recorded(key) = runs
      best
    }
    // a merge mutates its target, so each timed run merges into a
    // fresh seeded copy (seeding untimed); returns the LAST merged
    // table so the read benches below see the exact post-merge state
    def stableMerge(key: String, props: Map[String, String]): (TxTable, Double) = {
      var last: TxTable = null
      val best = stableMin(key) { () =>
        val t = seeded(props)
        val (_, sec) = timed(
          t.merge(batch, "transaction_id", "processing_timestamp"))
        last = t
        sec
      }
      (last, best)
    }
    // reads are side-effect-free: stable-min in place
    def stableRead(key: String)(body: => Unit): Double =
      stableMin(key)(() => { val (_, s) = timed(body); s })
    val (off, mergeOff) = stableMerge("merge_off", Map.empty)
    val (on, mergeOn) =
      stableMerge("merge_on", Map(TxTable.ChangeFeedProperty -> "true"))
    val v = on.currentVersion
    val feedRows = on.changeFeed(v, v).count()
    val feedSec = stableRead("feed_read")(on.changeFeed(v, v).count())
    // the no-rewrite path: same merge through deletion vectors
    val (mor, mergeMor) =
      stableMerge("merge_mor", Map(TxTable.MergeModeProperty -> "merge-on-read"))
    // READ-side MOR tax: a full scan of the table the merge just left
    // with ~50% of its original positions deleted (vectors applied by
    // the readers), vs the same scan of the rewritten (COW) table —
    // the pair that makes any future DV read-path regression visible
    require(mor.toDF.count() == 40000L, "MOR read row count")
    val dvRead = stableRead("dv_read")(mor.toDF.count())
    val cowRead = stableRead("cow_read")(off.toDF.count())
    // same scan through the V2 catalog: columnar batches filtered by
    // the surviving-row map (the vectorized DV read path) vs the V1
    // per-file anti-join above
    spark.conf.set("spark.sql.catalog.graftbench",
      "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftbench.warehouse",
      whF.getAbsolutePath)
    // sum(length(..)) is NOT an eligible pushed aggregate, so the scan
    // actually reads the column (count(*) alone would be answered from
    // snapshot metadata by the V2 aggregate pushdown)
    def v2Read(t: TxTable): Long =
      spark.sql(s"""SELECT count(*) AS n, sum(length(transaction_id)) AS s
                   FROM graftbench.${t.name}""")
        .collect()(0).getLong(0)
    require(v2Read(mor) == 40000L, "V2 MOR read row count")
    val dvReadV2 = stableRead("dv_read_v2")(v2Read(mor))
    // the fair baseline: the SAME V2 machinery over the vector-free
    // table — the difference to dv_read_v2_sec is the actual MOR tax
    val cowReadV2 = stableRead("cow_read_v2")(v2Read(off))
    // COMPACTED-shape pair: the tiny-file tables above carry ~64 files
    // for 60k rows, so their DV read tax is dominated by fixed per-task
    // and per-file-planning cost that real 128 MB files amortize away.
    // Bin-pack the seed BEFORE the MOR merge (vectors then land on the
    // few large files), compact the COW table AFTER its merge (clean
    // vector-free baseline at the same file count) — the ratio of this
    // pair is the actual per-ROW cost of reading through vectors.
    val morC = seeded(Map(TxTable.MergeModeProperty -> "merge-on-read"))
    morC.compactSmallFiles()
    morC.merge(batch, "transaction_id", "processing_timestamp")
    val cowC = seeded(Map.empty)
    cowC.merge(batch, "transaction_id", "processing_timestamp")
    cowC.compactSmallFiles()
    require(v2Read(morC) == 40000L, "compacted MOR read row count")
    val dvReadC = stableRead("dv_read_compact_v2")(v2Read(morC))
    val cowReadC = stableRead("cow_read_compact_v2")(v2Read(cowC))
    val morCFiles = morC.snapshot.files.size
    val cowCFiles = cowC.snapshot.files.size
    seed.unpersist(); batch.unpersist()
    val runsBody = recorded.map { case (k, rs) =>
      "\"" + k + "\":" + runsJson(rs) }.mkString("{", ",", "}")
    s"""{"merge_rows":20000,"merge_off_sec":${f"$mergeOff%.3f"},""" +
      s""""merge_on_sec":${f"$mergeOn%.3f"},""" +
      s""""merge_mor_sec":${f"$mergeMor%.3f"},""" +
      s""""dv_read_sec":${f"$dvRead%.3f"},""" +
      s""""dv_read_v2_sec":${f"$dvReadV2%.3f"},""" +
      s""""cow_read_sec":${f"$cowRead%.3f"},""" +
      s""""cow_read_v2_sec":${f"$cowReadV2%.3f"},""" +
      s""""dv_read_compact_v2_sec":${f"$dvReadC%.3f"},""" +
      s""""cow_read_compact_v2_sec":${f"$cowReadC%.3f"},""" +
      s""""compact_files_dv":$morCFiles,"compact_files_cow":$cowCFiles,""" +
      s""""feed_rows":$feedRows,"feed_read_sec":${f"$feedSec%.3f"},""" +
      s""""runs":$runsBody}"""
  } catch {
    case e: Throwable =>
      s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * Multi-table transaction shakeout: a 2-table atomic commit (20k-row
   * upsert + 20k-row audit append) timing the three phases separately.
   * The honest number is `publish_decide_sec` — the whole UNDECIDED
   * window other writers/readers can observe (pending headers exist,
   * marker absent): it must stay milliseconds however big the staged
   * batch is, because staging (the actual data write) happens before
   * any header is published. `vs_sequential_sec` is the same work as
   * two independent single-table commits, the non-atomic baseline.
   */
  private def txnShakeout(spark: SparkSession): String = try {
    import org.apache.spark.sql.functions._
    import graft.ingest.SampleData
    import graft.model.Schemas
    import graft.table.{GraftTxn, TableCatalog}
    import org.apache.hadoop.fs.Path
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val whF = new java.io.File("target/qwork/bench_txn_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(whF)
    val cat = new TableCatalog(spark, new Path(whF.getAbsolutePath))
    val seed = SampleData.transactions(spark, 40000, seed = 13L).cache()
    seed.count()
    val batch = seed.orderBy("transaction_id").limit(20000)
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
      .cache()
    batch.count()
    def freshPair(suffix: String) = {
      val m = cat.createTable("bench", s"txn_main_$suffix",
        Schemas.transactions, Seq("date"))
      m.append(seed)
      val a = cat.createTable("bench", s"txn_audit_$suffix",
        Schemas.transactions, Nil)
      (m, a)
    }
    // ≥2 full rounds with every run recorded (r13 task 3: this
    // section's stage_sec recorded an 11× contended outlier with no
    // in-artifact rerun to expose it); each round stages into FRESH
    // tables, so runs are identical work
    var round = 0
    def oneRound(): (Double, Double, Double) = {
      round += 1
      val (m1, a1) = freshPair(s"seq$round")
      val (_, seqSec) = timed {
        m1.merge(batch, "transaction_id", "processing_timestamp")
        a1.append(batch)
      }
      val (m2, a2) = freshPair(s"atomic$round")
      val txn = GraftTxn.begin(spark,
        new Path(whF.getAbsolutePath, "_txns"))
      val (_, stageSec) = timed {
        txn.merge(m2, batch, "transaction_id", "processing_timestamp")
        txn.append(a2, batch)
      }
      val (_, publishSec) = timed(txn.publishPending())
      val (_, decideSec) = timed(txn.decide())
      require(m2.toDF.count() == 40000L && a2.toDF.count() == 20000L,
        "atomic txn produced wrong row counts")
      (stageSec, publishSec + decideSec, seqSec)
    }
    var rounds = Vector(oneRound(), oneRound())
    while ({
      val s = rounds.map(_._1).sorted
      s(1) / s(0) > 1.5 && rounds.size < 4
    }) rounds :+= oneRound()
    seed.unpersist(); batch.unpersist()
    def minOf(f: ((Double, Double, Double)) => Double): Double =
      rounds.map(f).min
    def runs(f: ((Double, Double, Double)) => Double): String =
      runsJson(rounds.map(f))
    s"""{"tables":2,"rows_per_table":20000,""" +
      s""""stage_sec":${f"${minOf(_._1)}%.3f"},""" +
      s""""publish_decide_sec":${f"${minOf(_._2)}%.4f"},""" +
      s""""vs_sequential_sec":${f"${minOf(_._3)}%.3f"},""" +
      s""""runs":{"stage":${runs(_._1)},""" +
      s""""publish_decide":${runs(_._2)},""" +
      s""""vs_sequential":${runs(_._3)}}}"""
  } catch {
    case e: Throwable =>
      s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /** Build the synthetic N-commit / N-file header-only log (one file
    * appended per commit) the metadata shakeouts time against. Returns
    * true if it built, false if the head version already existed
    * (immutable once built — reused across bench runs). */
  private def buildSyntheticLog(spark: SparkSession,
      logDir: org.apache.hadoop.fs.Path, commits: Int): Boolean = {
    import graft.table.{DataFile, Snapshot, TxLog}
    val conf = spark.sessionState.newHadoopConf()
    val head = commits - 1L
    // reuse when the log reaches AT LEAST the wanted head — a longer
    // log left by an earlier build serves identically, because every
    // shakeout read below pins explicit versions ≤ head
    if (TxLog.currentVersion(logDir, conf).exists(_ >= head)) return false
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    var files = Vector.empty[DataFile]
    var expected: Option[Long] = None
    (0 until commits).foreach { i =>
      files = files :+ DataFile(f"f$i%06d.parquet",
        Map("date" -> f"2026-01-${i % 28 + 1}%02d"), 1000L, 1000000L)
      expected = Some(TxLog.commit(logDir, expected, Snapshot(
        version = expected.map(_ + 1).getOrElse(0L),
        timestampMs = 1700000000000L + i * 1000L,
        operation = if (i == 0) "CREATE" else "APPEND",
        schemaJson = schema.json,
        partitionColumns = Seq("date"), files = files), conf))
    }
    true
  }

  /**
   * The NEXT-decade metadata point (r10 VERDICT item 6): the same
   * header-only shape at 10⁵ commits / 10⁵ files, timing the four
   * operations whose complexity the checkpointed log design claims —
   * resolved snapshot read (O(files)), provenance added-walk and
   * streaming catch-up planning (both O(commits × changed) via the
   * commit index chunks), and `TIMESTAMP AS OF` (O(log commits)).
   * The log builds once and is reused across rounds; `build_sec` is
   * recorded honestly when this run had to build it. The bar: catchup
   * within ~10× the 10⁴ number (linear in commits, not quadratic).
   * The Bloom-index build is NOT repeated here: its 10⁴-file point
   * (real parquet, chunked passes) already proves the O(chunks) driver
   * bound, and its cost is real per-file IO that scales linearly by
   * construction.
   */
  private def metadata100k(spark: SparkSession): String = try {
    import graft.table.TxLog
    import org.apache.hadoop.fs.Path
    val commits = 100000
    val wh = new java.io.File("target/qwork/bench_metadata100k_wh")
      .getAbsolutePath
    val logDir = new Path(s"$wh/meta/big/_log")
    val conf = spark.sessionState.newHadoopConf()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val head = commits - 1L
    val (built, buildSecs) = timed(buildSyntheticLog(spark, logDir, commits))
    val (_, indexBackfill) = timed(TxLog.backfillIndex(logDir, head, conf))
    val (snap, snapshotRead) = timed(TxLog.read(logDir, head, conf))
    require(snap.files.size == commits, s"bad synthetic log: ${snap.files.size}")
    val (_, provenanceWalk) = timed(
      (0L to head).foreach(v => TxLog.readAdded(logDir, v, conf)))
    val (changedTotal, catchupPlan) = timed(
      (0L to head).map(v => TxLog.readChanged(logDir, v, conf).size).sum)
    require(changedTotal == commits, s"catch-up saw $changedTotal adds")
    spark.conf.set("spark.sql.catalog.graftbench100k",
      "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftbench100k.warehouse", wh)
    val cat = spark.sessionState.catalogManager.catalog("graftbench100k")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("meta"), "big")
    // split what `TIMESTAMP AS OF` pays into its two parts: version
    // RESOLUTION (the O(log commits) binary search, probing the cached
    // commit index — the part whose complexity the log design claims)
    // vs the full loadTable (resolution + materializing the historic
    // snapshot, which is O(files at that version) by design — the same
    // cost any read of that snapshot pays)
    def cutoffMs(k: Int): Long = 1700000000000L + k * (commits / 10) * 1000L - 500L
    // ≥2 recorded runs (r13 task 3: this key recorded a 4× contended
    // outlier — 2.05 s vs the quiet 0.49 — with nothing in the
    // artifact to attribute it)
    val (resolveRuns, tResolve) = runsOf()(() => timed {
      (1 to 10).foreach(k =>
        TxLog.versionAtOrBefore(logDir, head, cutoffMs(k), conf))
    }._2)
    val (asOfRuns, tAsOf) = runsOf()(() => timed {
      (1 to 10).foreach(k => cat.loadTable(ident, cutoffMs(k) * 1000L))
    }._2)
    // marginal-commit probe at the 10⁵-ENTRY head (r12 VERDICT task 5):
    // 1-file appends through the trusted DELTA path (the internal
    // streaming/append shape — commit CPU O(added + log files)) vs the
    // WALKING verify path (external callers: an O(files) reference-
    // equality walk). Appends land ABOVE the pinned head, so the
    // shakeout reads (all ≤ head) and the next round's reuse check
    // (currentVersion >= head) are unaffected.
    def marginal(tag: String, n: Int, delta: Boolean): Double = {
      val s0 = System.nanoTime()
      (0 until n).foreach { _ =>
        val base = TxLog.readCurrentTrusted(logDir, conf).get
        val v = base.version + 1
        val added = graft.table.DataFile(f"$tag-$v%08d.parquet",
          Map("date" -> "2026-01-01"), 10L, 100L)
        TxLog.commit(logDir, Some(base.version), base.copy(version = v,
          timestampMs = base.timestampMs + 1, operation = "APPEND",
          files = base.files :+ added, added = Nil,
          manifests = Nil, manifestList = None), conf,
          appendOf = if (delta) Some((base, Seq(added))) else None)
      }
      (System.nanoTime() - s0) / 1e9 / n
    }
    marginal("mwarm", 5, delta = true)
    // stable-min windows (the discipline every other key follows): the
    // log GROWS across rounds' probe commits, so a fixed 50-commit
    // window drifts across tier-merge cascades — a big merge landing
    // inside reads as a 10× "marginal" regression (measured 13 ms vs
    // the quiet 0.7-1.0 across five same-session runs) when the
    // amortized merge cost is already commit_lag's ledger, not this
    // key's. Runs recorded; min reported.
    val (marginalDeltaRuns, marginalDelta) =
      runsOf()(() => marginal("md", 50, delta = true))
    val (marginalWalkRuns, marginalWalk) =
      runsOf()(() => marginal("mw", 50, delta = false))
    s"""{"commits":$commits,"files":$commits,""" +
      s""""marginal_commit_delta_ms":${f"${marginalDelta * 1000}%.3f"},""" +
      s""""marginal_commit_walk_ms":${f"${marginalWalk * 1000}%.3f"},""" +
      s""""build_sec":${f"${if (built) buildSecs else 0.0}%.3f"},""" +
      s""""index_backfill_sec":${f"$indexBackfill%.3f"},""" +
      s""""snapshot_read_sec":${f"$snapshotRead%.3f"},""" +
      s""""provenance_walk_sec":${f"$provenanceWalk%.3f"},""" +
      s""""catchup_plan_sec":${f"$catchupPlan%.3f"},""" +
      s""""timestamp_resolve_10x_sec":${f"$tResolve%.4f"},""" +
      s""""timestamp_as_of_10x_sec":${f"$tAsOf%.3f"},""" +
      s""""runs":{"timestamp_resolve_10x":${runsJson(resolveRuns)},""" +
      s""""timestamp_as_of_10x":${runsJson(asOfRuns)},""" +
      s""""marginal_commit_delta_ms":${
        runsJson(marginalDeltaRuns.map(_ * 1000))},""" +
      s""""marginal_commit_walk_ms":${
        runsJson(marginalWalkRuns.map(_ * 1000))}}}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * 10× SCALE POINT for the relational headline keys (r19 VERDICT
   * next-round #8): at sf0.1 every headline key is 0.2-1 s and the
   * driver's 8→32-core ratios read ≈1 — not because the operators are
   * serial but because fixed per-job overhead dominates. This section
   * re-times the four sfDir-table headline queries (agg_pricing_summary,
   * join_star_revenue, join_range, hourly_pattern — the others read
   * staged generators or are 10×-covered by pipeline_sf1's
   * dedup/ANN keys) over a staged 10× relational corpus, where real
   * scan/shuffle work exists and a parallelism regression is visible.
   * ADDITIONS-ONLY: new top-level JSON section, the headline
   * `queries`/`value` contract is untouched; the staged corpus is
   * keyed on the source sf dir and rebuilt when absent. Scaling keeps
   * join semantics intact: orders/lineitem replicate with orderkeys
   * shifted by a common stride (each replica's fanout identical to the
   * source; dims stay unscaled, so the per-customer fact count grows
   * 10× — the scan/shuffle scale-up this section exists to measure);
   * events replicate with user_id shifted so distinct counts scale.
   */
  private def headline10x(spark: SparkSession, sfDir: String,
      fns: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame]): String = try {
    import org.apache.spark.sql.functions._
    val replicas = 10
    val relDir = new java.io.File(
      s"target/qwork/bench_rel10x_${new java.io.File(sfDir).getName}")
      .getAbsolutePath
    val markers = Seq("lineitem", "orders", "events", "customer", "nation")
      .map(t => new java.io.File(relDir, s"$t.parquet/_SUCCESS"))
    if (!markers.forall(_.exists())) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(relDir))
      val o = graft.queries.Td.orders(spark, sfDir)
      val li = graft.queries.Td.lineitem(spark, sfDir)
      val ev = graft.queries.Td.events(spark, sfDir)
      val kStride = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0) + 1
      (0 until replicas).map(j => o.withColumn("o_orderkey",
          col("o_orderkey") + lit(j.toLong * kStride)))
        .reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$relDir/orders.parquet")
      (0 until replicas).map(j => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(j.toLong * kStride)))
        .reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$relDir/lineitem.parquet")
      val uStride = ev.agg(max(col("user_id"))).collect()(0).getLong(0) + 1
      (0 until replicas).map(j => ev.withColumn("user_id",
          col("user_id") + lit(j.toLong * uStride)))
        .reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$relDir/events.parquet")
      // unscaled dims, copied so the staged dir is self-contained
      graft.queries.Td.customer(spark, sfDir)
        .write.parquet(s"$relDir/customer.parquet")
      graft.queries.Td.nation(spark, sfDir)
        .write.parquet(s"$relDir/nation.parquet")
    }
    val keys = Seq("agg_pricing_summary", "join_star_revenue",
      "join_range", "hourly_pattern")
    val body = keys.flatMap { k =>
      fns.get(k).map { fn =>
        System.gc(); Thread.sleep(200)
        spark.sparkContext.setJobDescription(s"bench:headline10x:$k")
        var rows = 0L
        val (runs, best) = runsOf()(() => {
          val t0 = System.nanoTime()
          rows = fn(spark, relDir).count()
          (System.nanoTime() - t0) / 1e9
        })
        spark.sparkContext.setJobDescription(null)
        s""""$k":{"sec":${f"$best%.3f"},"runs":${runsJson(runs)},""" +
          s""""rows":$rows}"""
      }
    }
    s"""{"replicas":$replicas,${body.mkString(",")}}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}: ${
      String.valueOf(e.getMessage).replace('"', ' ').take(120)}"}"""
  }

  /**
   * The 10⁶-FILE planning shape (r15 VERDICT task 6): metadata_100k
   * covers the COMMIT side; this times what a reader and the
   * maintenance trigger pay against a million-entry head —
   *  - resolved snapshot materialization (O(files) driver metadata);
   *  - partition-PRUNED scan planning through the V2 catalog,
   *    including SnapshotFileIndex construction and
   *    planInputPartitions. Planning must touch driver metadata ONLY:
   *    the synthetic files do not exist on disk, so an accidental
   *    LIST or footer read would fail loudly instead of hiding in the
   *    number; `pruned_files` records the sub-linear evidence
   *    (~1/84th of the million entries survive the date predicate);
   *  - maintain_table signal evaluation with every threshold quiet —
   *    the per-commit cost ceiling of the declarative post-commit
   *    trigger at this table size.
   * The log builds once (10 bursts of 100k entries; build_sec recorded
   * honestly when this run built it) and is reused across rounds.
   */
  private def planning1m(spark: SparkSession): String = try {
    import graft.table.{ColStats, DataFile, Snapshot, TxLog, TxTable}
    import org.apache.hadoop.fs.Path
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val totalFiles = 1000000
    // v2 layout (r17): dates are MONOTONE in file order — the real
    // ingest shape, where tier manifests cover contiguous date ranges
    // and the manifest-list summaries can skip (the v1 log cycled
    // dates every 84 files, putting every date in every manifest —
    // nothing to skip, and it predates counters + summaries). The v1
    // dir is deleted on sight to keep target/qwork bounded.
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/qwork/bench_planning1m_wh"))
    // v3 (r18): adds an AGE-based retention policy to the baked
    // properties — maintain_signal below then proves the O(1) age
    // gate (r17 answered "due" unconditionally whenever
    // maxSnapshotAgeMs was set, so this key would have read ~1.8 s
    // instead of µs). The v2 dir predates the property and is deleted
    // on sight like v1.
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/qwork/bench_planning1m_wh_v2"))
    // v4 (r19): bakes per-file footer stats for the MONOTONE id column
    // (file i covers ids [i*1000, i*1000+999] — the sort-clustered
    // layout shape), so the manifest-list data-column summaries exist
    // and `data_cold_pruned` below can prove NON-partition manifest
    // skipping at the 10⁶ scale point. snapshot_read now includes the
    // stats parse — PERF_NOTES carries the v3→v4 delta attribution.
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/qwork/bench_planning1m_wh_v3"))
    val wh = new java.io.File("target/qwork/bench_planning1m_wh_v4")
      .getAbsolutePath
    val logDir = new Path(s"$wh/meta/wide1m/_log")
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("date",
        org.apache.spark.sql.types.StringType)))
    val filesPerDay = totalFiles / 336        // 12 months × 28 days
    def dateOf(i: Int): String = {
      val d = math.min(335, i / filesPerDay)
      f"2026-${d / 28 + 1}%02d-${d % 28 + 1}%02d"
    }
    // quiet declarative-maintenance policy from the START, so every
    // commit stamps counters against it and the O(1) gate below has a
    // threshold to trust (synthetic 1 MB files are never "small" at a
    // 1-byte threshold; retention never fires at 10^6)
    val maintProps = Map(
      "graft.maintain.smallFileBytes" -> "1",
      "graft.maintain.retainSnapshots" -> "1000000",
      // age expiry CONFIGURED but never firing (10-year horizon; the
      // synthetic commit timestamps are ~2023): the admitted full
      // eval advances the cleared-through memo and every subsequent
      // gate read must stay O(1)
      "graft.maintain.maxSnapshotAgeMs" -> (10L * 365 * 24 * 3600 * 1000L).toString)
    val head = (totalFiles + 99999) / 100000 - 1L
    val (built, buildSecs) = timed {
      if (TxLog.currentVersion(logDir, conf).exists(_ >= head)) false
      else {
        var files = Vector.empty[DataFile]
        var expected: Option[Long] = None
        var next = 0
        while (next < totalFiles) {
          val n = math.min(100000, totalFiles - next)
          // Hive-style layout, like every real write: the file index
          // derives partition directories from parent paths
          files = files ++ (next until next + n).map(i => DataFile(
            f"date=${dateOf(i)}/w$i%08d.parquet",
            Map("date" -> dateOf(i)), 1000L, 1000000L,
            stats = Some(Map("id" -> ColStats("long",
              (i * 1000L).toString, (i * 1000L + 999L).toString, 0L)))))
          next += n
          val v = expected.map(_ + 1).getOrElse(0L)
          expected = Some(TxLog.commit(logDir, expected, Snapshot(v,
            1700000000000L + v * 1000L,
            if (v == 0) "CREATE" else "APPEND",
            schema.json, Seq("date"), files,
            properties = maintProps), conf))
        }
        true
      }
    }
    // COLD each run (headers AND manifest content purged): the number
    // is what a fresh driver pays to materialize the million-entry
    // head, not a cache hit
    val (readRuns, tRead) = runsOf()(() => timed {
      TxLog.purgeRawCache(logDir)
      TxLog.purgeManifestCache()
      require(TxLog.read(logDir, head, conf).files.size == totalFiles)
    }._2)
    spark.conf.set("spark.sql.catalog.graftbenchplan",
      "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftbenchplan.warehouse", wh)
    def planQuery(sql: String): Int = {
      val df = spark.sql(sql)
      val scan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }.head
      // driver-only: input partitions derive from the log's metadata
      scan.scan.toBatch.planInputPartitions().map {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.length
        case _ => 1
      }.sum
    }
    def planPruned(): Int = planQuery(
      "SELECT id FROM graftbenchplan.meta.wide1m WHERE date = '2026-03-03'")
    // COLD PRUNED planning (r16 VERDICT task 1 — the headline of the
    // manifest-skipping work): from a fresh-driver state (headers,
    // manifest content, AND layouts purged), a date-pruned plan must
    // parse only the manifests whose summary range can match — not
    // materialize the million-entry snapshot the way the v≤16 cold
    // path did (1.18 s in r16's snapshot_read before any pruning).
    var coldManifests = -1L
    var totalRefs = -1L
    val (coldPrunedRuns, tColdPruned) = runsOf()(() => timed {
      TxLog.purgeRawCache(logDir)
      TxLog.purgeManifestCache()
      org.apache.spark.sql.graft.SnapshotFileIndex.purgeLayoutCache()
      val before = TxLog.manifestResolutionCount
      require(planPruned() > 0)
      coldManifests = TxLog.manifestResolutionCount - before
      totalRefs = TxLog.readRaw(logDir,
        TxLog.currentVersion(logDir, conf).get, conf).manifests.size.toLong
    }._2)
    require(coldManifests >= 0 && coldManifests * 2 < totalRefs,
      s"manifest skipping did not skip: $coldManifests of $totalRefs " +
        "manifests resolved on a cold pruned plan")
    var prunedFiles = -1
    val (planRuns, tPlan) = runsOf()(() => timed {
      prunedFiles = planPruned()
    }._2)
    // ~files-per-day of the million survive the date predicate;
    // anything near the full count means the pruning never reached
    // the file index
    require(prunedFiles > 0 && prunedFiles < totalFiles / 50,
      s"partition pruning did not prune: $prunedFiles of $totalFiles")
    // DATA-COLUMN cold pruned planning (r18 VERDICT task 4): a
    // NON-partition range predicate on the monotone id column — no
    // date conjunct anywhere — must skip at the manifest level via
    // the r18 data-column summaries (the v4 log's files carry footer
    // stats, the sorted-layout shape a clustered rewrite produces),
    // then at the file level via the same stats. ~51 of 10⁶ files
    // match.
    var dataColdManifests = -1L
    var dataPrunedFiles = -1
    val (dataColdRuns, tDataCold) = runsOf()(() => timed {
      TxLog.purgeRawCache(logDir)
      TxLog.purgeManifestCache()
      org.apache.spark.sql.graft.SnapshotFileIndex.purgeLayoutCache()
      val before = TxLog.manifestResolutionCount
      dataPrunedFiles = planQuery(
        "SELECT date FROM graftbenchplan.meta.wide1m " +
          "WHERE id BETWEEN 500000000 AND 500050000")
      require(dataPrunedFiles > 0)
      dataColdManifests = TxLog.manifestResolutionCount - before
    }._2)
    require(dataColdManifests >= 0 && dataColdManifests * 2 < totalRefs,
      s"data-column manifest skipping did not skip: $dataColdManifests " +
        s"of $totalRefs manifests resolved on a cold id-range plan")
    require(dataPrunedFiles < totalFiles / 1000,
      s"data-column file skipping did not prune: $dataPrunedFiles files")
    // MOR COLD PRUNED planning (r17 VERDICT task 1 for r18): ONE
    // outstanding deletion vector routes the scan through
    // MorScanBuilder — which used to force the FULL resolved snapshot
    // at builder construction, losing the whole skipping win between
    // compactions. Group construction now defers into build(), so the
    // DV-bearing cold pruned plan must resolve O(matching manifests)
    // like the batch path. The DV is metadata-only here (positions
    // resolve executor-side, never at plan time) and is cleared right
    // after so every other key sees the plain table.
    val morBase = TxLog.readCurrentTrusted(logDir, conf).get
    val dvTarget = morBase.files
      .find(_.partitionValues.get("date").contains("2026-03-03")).get.path
    TxLog.commit(logDir, Some(morBase.version), morBase.copy(
      version = morBase.version + 1, timestampMs = morBase.timestampMs + 1,
      operation = "DELETE", added = Nil, manifests = Nil,
      manifestList = None,
      deletionVectors = Seq(graft.table.DeletionVector(
        dvTarget, "dv-bench.bin", 1L)), files = morBase.files), conf,
      appendOf = Some((morBase, Nil)))
    var morColdManifests = -1L
    val (morColdRuns, tMorCold) = runsOf()(() => timed {
      TxLog.purgeRawCache(logDir)
      TxLog.purgeManifestCache()
      org.apache.spark.sql.graft.SnapshotFileIndex.purgeLayoutCache()
      val before = TxLog.manifestResolutionCount
      require(planPruned() > 0)
      morColdManifests = TxLog.manifestResolutionCount - before
    }._2)
    require(morColdManifests >= 0 && morColdManifests * 2 < totalRefs,
      s"MOR manifest skipping did not skip: $morColdManifests of " +
        s"$totalRefs manifests resolved on a DV-bearing cold pruned plan")
    // ROW-LEVEL cold pruned planning (r18 VERDICT task 3): a
    // partition-scoped UPDATE/DELETE/MERGE scan — here the HARDEST
    // shape, group-based rewrite on a DV-bearing table — must also
    // resolve O(matching manifests). Until r19 the row-level paths
    // kept an eager supplier and parsed all 10⁶ entries before
    // grouping. Scan planning only: the rewrite COMMIT still
    // assembles kept ∪ new (inherently O(table), like any conflict-
    // checked commit).
    var rowlevelManifests = -1L
    val (rowlevelRuns, tRowlevel) = runsOf()(() => timed {
      TxLog.purgeRawCache(logDir)
      TxLog.purgeManifestCache()
      org.apache.spark.sql.graft.SnapshotFileIndex.purgeLayoutCache()
      val before = TxLog.manifestResolutionCount
      val v2t = new graft.catalog.GraftV2Table(
        TxTable.open(spark, new Path(s"$wh/meta/wide1m"), "wide1m"))
      val info = new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
        override def command() = org.apache.spark.sql.connector.write
          .RowLevelOperation.Command.UPDATE
        override def options() =
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      }
      val sb = v2t.newRowLevelOperationBuilder(info).build()
        .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      val pred = org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "date", org.apache.spark.sql.types.StringType)(),
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("2026-03-03"),
          org.apache.spark.sql.types.StringType))
      sb match {
        case m: org.apache.spark.sql.graft.MorScanBuilder =>
          m.pushFilters(Seq(pred))
        case c: org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters =>
          c.pushFilters(Seq(pred))
        case other => throw new IllegalStateException(
          s"unexpected row-level builder ${other.getClass}")
      }
      require(sb.build().toBatch.planInputPartitions().nonEmpty)
      rowlevelManifests = TxLog.manifestResolutionCount - before
    }._2)
    require(rowlevelManifests >= 0 && rowlevelManifests * 2 < totalRefs,
      s"row-level manifest skipping did not skip: $rowlevelManifests of " +
        s"$totalRefs manifests resolved planning a one-partition rewrite scan")
    locally {
      val b2 = TxLog.readCurrentTrusted(logDir, conf).get
      TxLog.commit(logDir, Some(b2.version), b2.copy(
        version = b2.version + 1, timestampMs = b2.timestampMs + 1,
        operation = "DELETE", added = Nil, manifests = Nil,
        manifestList = None, deletionVectors = Nil, files = b2.files),
        conf, appendOf = Some((b2, Nil)))
    }
    val t = TxTable.open(spark, new Path(s"$wh/meta/wide1m"), "wide1m")
    // ONE full signal evaluation (what an ADMITTED sweep pays —
    // recorded honestly as its own key) primes the gate's memo; the
    // per-commit cost is then the O(1) counters gate (r16 VERDICT
    // task 3), measured as maintain_signal_sec
    val (_, tFullEval) = timed {
      val acts = t.maintainTableConfigured(
        removeOrphans = Some(false), trigger = "auto")
      require(acts == Seq("noop" -> "all signals within thresholds"),
        s"quiet thresholds acted: $acts")
    }
    // the gate's input is the snapshot the committing thread already
    // holds (post-commit it IS the trusted head) — resolve once
    // outside the timing, exactly as maybeAutoMaintain sees it
    val curHead = TxLog.readCurrentTrusted(logDir, conf).get
    val (sigRuns, tSig) = runsOf()(() => timed {
      require(t.maintenanceQuiet(curHead),
        s"gate not quiet under the quiet policy: ${curHead.counters}")
    }._2)
    // O(delta) planning on a MOVED head: commit ONE file, then plan the
    // new version first-touch — the layout derives from the prior
    // version's by rel-identity reuse, so the cost must track the
    // DELTA (one Path parse + regrouping), not a million-parse rebuild.
    // Each run commits its own append: every sample is a genuine
    // fresh-version first plan.
    def planHead(): Int = {
      val df = spark.sql("SELECT id FROM graftbenchplan.meta.wide1m " +
        "WHERE date = '2026-03-03'")
      val scan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }.head
      scan.scan.toBatch.planInputPartitions().length
    }
    // the UNFILTERED plan forces the FULL layout — the structure task
    // 2's persistent regroup makes O(delta) per version. Split
    // generation over 10⁶ files rides inside the number (honest: it
    // is what a real unpruned first plan pays).
    def planFull(): Int = {
      val df = spark.sql("SELECT id FROM graftbenchplan.meta.wide1m")
      val scan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b
      }.head
      scan.scan.toBatch.planInputPartitions().length
    }
    require(planFull() > 0)   // warm the full layout for run 1's prior
    def commitOne(): Unit = {
      val base = TxLog.readCurrentTrusted(logDir, conf).get
      val v = base.version + 1
      val added = DataFile(f"date=2026-03-03/inc-$v%08d.parquet",
        Map("date" -> "2026-03-03"), 1000L, 1000000L)
      TxLog.commit(logDir, Some(base.version), base.copy(version = v,
        timestampMs = base.timestampMs + 1, operation = "APPEND",
        files = base.files :+ added, added = Nil,
        manifests = Nil, manifestList = None), conf,
        appendOf = Some((base, Seq(added))))
    }
    val planAfterRuns = (1 to 3).map { _ =>
      commitOne()
      timed(require(planHead() > 0))._2
    }
    // (first, second) full plans per fresh version: the first pays the
    // O(delta) layout derivation PLUS the inherent 10⁶-file listing/
    // split packing; the second pays listing/packing alone (layout
    // cache hit) — their difference isolates the per-version layout
    // cost task 2 made O(delta)
    val planAfterFullPairs = (1 to 3).map { _ =>
      commitOne()
      (timed(require(planFull() > 0))._2,
        timed(require(planFull() > 0))._2)
    }
    val planAfterFullRuns = planAfterFullPairs.map(_._1)
    val planFullWarmRuns = planAfterFullPairs.map(_._2)
    s"""{"files":$totalFiles,"commits":${head + 1},""" +
      s""""build_sec":${f"${if (built) buildSecs else 0.0}%.3f"},""" +
      s""""snapshot_read_sec":${f"$tRead%.3f"},""" +
      s""""cold_pruned_sec":${f"$tColdPruned%.3f"},""" +
      s""""cold_pruned_manifests":$coldManifests,""" +
      s""""mor_cold_pruned_sec":${f"$tMorCold%.3f"},""" +
      s""""mor_cold_pruned_manifests":$morColdManifests,""" +
      s""""data_cold_pruned_sec":${f"$tDataCold%.3f"},""" +
      s""""data_cold_pruned_manifests":$dataColdManifests,""" +
      s""""data_pruned_files":$dataPrunedFiles,""" +
      s""""rowlevel_cold_pruned_sec":${f"$tRowlevel%.3f"},""" +
      s""""rowlevel_cold_pruned_manifests":$rowlevelManifests,""" +
      s""""manifest_refs":$totalRefs,""" +
      s""""plan_pruned_sec":${f"$tPlan%.3f"},""" +
      s""""pruned_files":$prunedFiles,""" +
      s""""maintain_full_eval_sec":${f"$tFullEval%.3f"},""" +
      s""""maintain_signal_sec":${f"$tSig%.5f"},""" +
      s""""plan_after_commit_sec":${f"${planAfterRuns.min}%.3f"},""" +
      s""""plan_after_commit_full_sec":${f"${planAfterFullRuns.min}%.3f"},""" +
      s""""plan_full_warm_sec":${f"${planFullWarmRuns.min}%.3f"},""" +
      s""""runs":{"snapshot_read":${runsJson(readRuns)},""" +
      s""""cold_pruned":${runsJson(coldPrunedRuns)},""" +
      s""""mor_cold_pruned":${runsJson(morColdRuns)},""" +
      s""""data_cold_pruned":${runsJson(dataColdRuns)},""" +
      s""""rowlevel_cold_pruned":${runsJson(rowlevelRuns)},""" +
      s""""plan_pruned":${runsJson(planRuns)},""" +
      s""""maintain_signal":${runsJson(sigRuns)},""" +
      s""""plan_after_commit":${runsJson(planAfterRuns)},""" +
      s""""plan_after_commit_full":${runsJson(planAfterFullRuns)},""" +
      s""""plan_full_warm":${runsJson(planFullWarmRuns)}}}"""
  } catch {
    case e: Throwable =>
      s"""{"error":"${e.getClass.getSimpleName}: ${
        String.valueOf(e.getMessage).replace('"', ' ').take(120)}"}"""
  }

  /**
   * Sustained-ingest compaction evidence (r10 VERDICT item 7): the
   * SAME 50k rows stream-merged into a MOR table with
   * `graft.autoCompact` on, once as 10 micro-batches and once as 100 —
   * the 100-batch run commits 10× as often, so without a working
   * small-file control loop its table would accumulate ~10× the files
   * and its read latency would grow with batch count. The pair
   * (read_10b_sec vs read_100b_sec, files_10b vs files_100b) shows the
   * loop closing at realistic duration: read cost stays flat because
   * auto-compaction retires the accumulation as the stream runs.
   */
  /**
   * Merge-on-read at MANY delete sidecars (r11 VERDICT task 6): a
   * 100-partition / 1,000-file table accumulates a deletion vector on
   * EVERY file (one predicate MOR delete touching all partitions —
   * the worst accumulated-delete shape short of compaction), then:
   *  - `read_full_sec`: full scan under 1,000 sidecars;
   *  - `read_pruned_sec`: a one-partition read (10 files) under the
   *    SAME 1,000 sidecars — with the lazy per-file DV filter this
   *    pays for the ~10 sidecars its files own, NOT the delete state
   *    of the whole table;
   *  - `read_pruned_10dv_sec`: the control — the same one-partition
   *    read on an identical table carrying only 10 sidecars. Pruned
   *    latency under 1,000 total sidecars ≈ under 10 proves read cost
   *    scales with TOUCHED files, not total delete state.
   */
  private def morSidecars(spark: SparkSession): String = try {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import graft.table.TxTable
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val whF = new java.io.File("target/qwork/bench_morsc_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(whF)
    val wh = whF.getAbsolutePath
    val morProps = Map(TxTable.MergeModeProperty -> "merge-on-read")
    val rows = 200000
    def seed(nParts: Int, filesPerPart: Int, name: String): TxTable = {
      import org.apache.spark.sql.types._
      val df = spark.range(rows).select(
        col("id"),
        format_string("p%03d", pmod(col("id"), lit(nParts))).as("part"),
        pmod(col("id"), lit(nParts.toLong * filesPerPart)).as("fk"),
        rand(7).as("v"))
      val t = TxTable.create(spark, new Path(s"$wh/$name"), name,
        StructType(Seq(StructField("id", LongType),
          StructField("part", StringType), StructField("v", DoubleType))),
        Seq("part"), properties = morProps)
      // filesPerPart files per partition via the fk repartition column
      t.append(df.repartition(nParts * filesPerPart, col("fk")).drop("fk"))
      t
    }
    val big = seed(100, 10, "dv1000")       // 1,000 files
    // one MOR position-delete touching every file → one DV per file
    big.deletePos(pmod(col("id"), lit(3)) === 0)
    val nDv = big.snapshot.deletionVectors.size
    val small = seed(10, 1, "dv10")         // 10 files
    small.deletePos(pmod(col("id"), lit(3)) === 0)
    val nDvSmall = small.snapshot.deletionVectors.size
    def fullRead(t: TxTable): Long = t.toDF.count()
    def prunedRead(t: TxTable): Long =
      t.toDF.filter(col("part") === "p003").count()
    fullRead(big); prunedRead(big); fullRead(small); prunedRead(small) // warm
    // ≥2 recorded runs per key (r13 task 3: read_full recorded an 8.5×
    // contended outlier here with no rerun in the artifact)
    val (fullRuns, tFull) = runsOf()(() => timed(fullRead(big))._2)
    val (prunedRuns, tPruned) = runsOf()(() => timed(prunedRead(big))._2)
    val (smallRuns, tPrunedSmall) =
      runsOf()(() => timed(prunedRead(small))._2)
    s"""{"files":1000,"sidecars":$nDv,"sidecars_control":$nDvSmall,""" +
      s""""read_full_sec":${f"$tFull%.3f"},""" +
      s""""read_pruned_sec":${f"$tPruned%.3f"},""" +
      s""""read_pruned_10dv_sec":${f"$tPrunedSmall%.3f"},""" +
      s""""runs":{"read_full":${runsJson(fullRuns)},""" +
      s""""read_pruned":${runsJson(prunedRuns)},""" +
      s""""read_pruned_10dv":${runsJson(smallRuns)}}}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * Latency-injected commit-protocol budget (r11 VERDICT task 4): the
   * real-object-store gap is unexercisable offline, but its COST MODEL
   * is per-request latency — so run the single-writer commit loop
   * (head probe + cached header read + CAS + hint, the exact
   * per-micro-batch metadata path) over [[graft.table.LagFs]], which
   * counts every filesystem round-trip by category and injects a
   * configurable sleep per request. Reported: round-trips per
   * steady-state commit (by category), commit throughput under 25
   * ms/request, and the ratio of measured commit latency to the
   * round-trips × lag floor — ~1.0 proves the protocol serializes no
   * avoidable requests beyond the counted ones. Reference baseline:
   * two round-trips per metadata commit
   * (`update_metadata.py:64-70,135-141`).
   */
  private def commitLag(spark: SparkSession): String = try {
    import graft.table.{DataFile, LagFs, Snapshot, TxLog}
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.lagfs.impl", classOf[graft.table.LagFs].getName)
    val baseDir = new java.io.File("target/qwork/bench_lag_wh/t/_log")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("target/qwork/bench_lag_wh"))
    val logDir = new Path("lagfs:" + baseDir.getAbsolutePath)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // one writer-loop iteration, exactly the streaming micro-batch
    // metadata path (r12 task 4): the writer serves its own last
    // committed head from memory (zero round-trips — the CAS plus the
    // pre-CAS parent check arbitrate staleness), lays out the delta,
    // and commits. NOTE r13: LagFs now also counts exists() probes
    // (RawLocalFileSystem bypasses getFileStatus there), which earlier
    // rounds' ledgers MISSED — the r12 "5.14" was really ~6.1 on a
    // store that charges for HEAD requests.
    def writerStep(): Unit = {
      val snap = TxLog.readCurrentTrusted(logDir, conf)
      val cur = snap.map(_.version)
      val v = cur.map(_ + 1).getOrElse(0L)
      val added = DataFile(f"f$v%06d.parquet",
        Map("date" -> "2026-01-01"), 1000L, 1000000L)
      TxLog.commit(logDir, cur, Snapshot(version = v,
        timestampMs = 1700000000000L + v * 1000L,
        operation = if (v == 0L) "CREATE" else "APPEND",
        schemaJson = schema.json, partitionColumns = Seq("date"),
        files = snap.map(_.files).getOrElse(Vector.empty) :+ added), conf,
        appendOf = snap.map(s => (s, Seq(added))))
    }
    LagFs.lagMs = 0
    (0 until 120).foreach(_ => writerStep())   // past spills and merges
    LagFs.reset()
    val nCount = 50
    (0 until nCount).foreach(_ => writerStep())
    val byCat = LagFs.snapshot
    val opsPerCommit = LagFs.total.toDouble / nCount
    val lag = 25L
    LagFs.lagMs = lag
    val nLag = 20
    val t0 = System.nanoTime()
    (0 until nLag).foreach(_ => writerStep())
    val lagSec = (System.nanoTime() - t0) / 1e9
    LagFs.lagMs = 0
    val commitSec = lagSec / nLag
    val floorSec = opsPerCommit * lag / 1000.0
    val catJson = byCat.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + f"${v.toDouble / nCount}%.2f" }.mkString("{", ",", "}")
    s"""{"lag_ms":$lag,"roundtrips_per_commit":${f"$opsPerCommit%.2f"},""" +
      s""""by_category":$catJson,""" +
      s""""commit_sec_at_lag":${f"$commitSec%.3f"},""" +
      s""""commits_per_sec_at_lag":${f"${1.0 / commitSec}%.2f"},""" +
      s""""floor_sec":${f"$floorSec%.3f"},""" +
      s""""serialization_overhead_ratio":${f"${commitSec / floorSec}%.3f"}}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * Governed-read round-trip budget (r12 VERDICT task 6): the commit
   * path's LagFs ledger discipline applied to the READ path. A
   * governed SELECT loop (GraftSql: principal resolution + ACL check +
   * snapshot-pinned scan) over a cached table on LagFs, recording
   * metadata round-trips per statement at two points:
   *  - `plan_roundtrips_per_stmt`: statement → resolved DataFrame.
   *    Steady state pays the head freshness probe + the head
   *    verification (whose status doubles as the header read's cache
   *    validation) = 2; ACL stores are TTL-cached (AclFileCache), scan
   *    planning is zero-listing (SnapshotFileIndex pins the snapshot's
   *    file list — `list` must read 0).
   *  - `exec_roundtrips_per_stmt`: plan + collect — adds the data-file
   *    opens, which scale with files READ (real I/O), not metadata.
   */
  private def queryLag(spark: SparkSession): String = try {
    import graft.table.{GraftSql, LagFs, TableCatalog}
    import org.apache.hadoop.fs.Path
    spark.sparkContext.hadoopConfiguration
      .set("fs.lagfs.impl", classOf[graft.table.LagFs].getName)
    val baseDir = new java.io.File("target/qwork/bench_qlag_wh")
    org.apache.commons.io.FileUtils.deleteQuietly(baseDir)
    val cat = new TableCatalog(spark,
      new Path("lagfs:" + baseDir.getAbsolutePath))
    val t = cat.createTable("gov", "txns",
      graft.model.Schemas.transactions, Seq("date"))
    t.append(graft.ingest.SampleData.transactions(spark, 20000, seed = 31L))
    spark.conf.set("graft.sql.principal", "admin")
    try {
      GraftSql.sql(cat, "GRANT SELECT ON gov.txns TO admin")
      GraftSql.sql(cat, "GRANT INSERT ON gov.txns TO admin")
      val stmt = "SELECT region, count(*) AS n FROM gov.txns GROUP BY region"
      (0 until 3).foreach(_ => GraftSql.sql(cat, stmt).collect())   // warm
      val n = 20
      LagFs.reset()
      (0 until n).foreach(_ => GraftSql.sql(cat, stmt))
      val planCats = LagFs.snapshot
      val planPer = LagFs.total.toDouble / n
      LagFs.reset()
      (0 until n).foreach(_ => GraftSql.sql(cat, stmt).collect())
      val exeCats = LagFs.snapshot
      val exePer = LagFs.total.toDouble / n
      val nFiles = t.snapshot.files.size
      def catJson(m: Map[String, Long]): String = m.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f"${v.toDouble / n}%.2f" }
        .mkString("{", ",", "}")
      s"""{"statements":$n,"files":$nFiles,""" +
        s""""plan_roundtrips_per_stmt":${f"$planPer%.2f"},""" +
        s""""plan_by_category":${catJson(planCats)},""" +
        s""""exec_roundtrips_per_stmt":${f"$exePer%.2f"},""" +
        s""""exec_by_category":${catJson(exeCats)}}"""
    } finally spark.conf.unset("graft.sql.principal")
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  private def sustainShakeout(spark: SparkSession): String = try {
    import org.apache.hadoop.fs.Path
    val rows = 50000L
    val morProps = Map(
      graft.table.TxTable.MergeModeProperty -> "merge-on-read",
      "graft.autoCompact.enabled" -> "true")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def run(tag: String, nFiles: Int): (Double, Double, Int) = {
      val envDir = new java.io.File(s"target/qwork/bench_sustain_env$nFiles")
        .getAbsolutePath
      if (!new java.io.File(envDir, "_SUCCESS").exists()) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(envDir))
        graft.ingest.SampleData.toCdcEnvelopes(
            graft.ingest.SampleData.transactions(spark, rows, seed = 23L))
          .toJSON.repartition(nFiles).write.text(envDir)
      }
      val work = new java.io.File(s"target/qwork/bench_sustain_$tag")
        .getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
      val t = graft.table.TxTable.create(spark,
        new Path(s"$work/table"), "txns",
        graft.model.Schemas.transactions, Seq("date"), properties = morProps)
      val (_, ingestSec) = timed {
        val q = graft.ingest.StreamingIngest.start(spark, envDir, t,
          checkpointDir = s"$work/ckpt", errorsDir = s"$work/errors",
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          maxFilesPerTrigger = 1)           // one staged file per batch
        q.awaitTermination(600000)
      }
      require(t.toDF.count() == rows, s"sustain $tag row count")
      val (_, readSec) = timed(t.toDF.count())
      (ingestSec, readSec, t.snapshot.files.size)
    }
    // exactly 2 recorded runs per shape (r13 task 3): the ingest runs
    // are minutes each, so the retry-while-disagreeing loop is not
    // affordable here — two full runs still expose a contended window
    // (one quiet sample beats one poisoned sample presented alone)
    val a1 = run("b10", 10); val a2 = run("b10_r2", 10)
    val b1 = run("b100", 100); val b2 = run("b100_r2", 100)
    val (ingest10, read10) = (math.min(a1._1, a2._1), math.min(a1._2, a2._2))
    val (ingest100, read100) = (math.min(b1._1, b2._1), math.min(b1._2, b2._2))
    val (files10, files100) = (a1._3, b1._3)
    s"""{"rows":$rows,"batches_a":10,"batches_b":100,""" +
      s""""ingest_10b_sec":${f"$ingest10%.3f"},""" +
      s""""ingest_100b_sec":${f"$ingest100%.3f"},""" +
      s""""read_10b_sec":${f"$read10%.3f"},""" +
      s""""read_100b_sec":${f"$read100%.3f"},""" +
      s""""files_10b":$files10,"files_100b":$files100,""" +
      s""""runs":{"ingest_10b":${runsJson(Seq(a1._1, a2._1))},""" +
      s""""ingest_100b":${runsJson(Seq(b1._1, b2._1))},""" +
      s""""read_10b":${runsJson(Seq(a1._2, a2._2))},""" +
      s""""read_100b":${runsJson(Seq(b1._2, b2._2))}}}"""
  } catch {
    case e: Throwable => s"""{"error":"${e.getClass.getSimpleName}"}"""
  }

  /**
   * Metadata-scale shakeout: a synthetic 10⁴-commit / 10⁴-file log
   * (header-only — planning cost is pure metadata, no parquet needed)
   * timing the four operations whose complexity the checkpointed log
   * design claims: resolved snapshot read (O(files)), the provenance
   * added-walk (O(commits × changed)), `TIMESTAMP AS OF` resolution
   * (O(log commits) binary search), and streaming catch-up planning
   * over every commit (O(commits × changed) via readChanged). The log
   * is built once and reused across bench runs (immutable once the head
   * version exists).
   */
  private def metadataShakeout(spark: SparkSession): String = {
    import graft.table.{DataFile, Snapshot, TxLog}
    import org.apache.hadoop.fs.Path
    val commits = 10000
    val wh = new java.io.File("target/qwork/bench_metadata_wh").getAbsolutePath
    val logDir = new Path(s"$wh/meta/big/_log")
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val head = commits - 1L
      val preBuilt = TxLog.currentVersion(logDir, conf).contains(head)
      val buildSecs =
        if (preBuilt) 0.0
        else {
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$wh/meta/big"))
          val t0 = System.nanoTime()
          buildSyntheticLog(spark, logDir, commits)
          (System.nanoTime() - t0) / 1e9
        }
      // logs built before the commit index existed (cached warehouse)
      // get their chunks backfilled once; fresh builds wrote them at
      // commit time, so this is a no-op there
      val (_, indexBackfill) = timed(TxLog.backfillIndex(logDir, head, conf))
      val (snap, snapshotRead) = timed(TxLog.read(logDir, head, conf))
      require(snap.files.size == commits, s"bad synthetic log: ${snap.files.size}")
      val (_, provenanceWalk) = timed(
        (0L to head).foreach(v => TxLog.readAdded(logDir, v, conf)))
      val (changedTotal, catchupPlan) = timed(
        (0L to head).map(v => TxLog.readChanged(logDir, v, conf).size).sum)
      require(changedTotal == commits, s"catch-up saw $changedTotal adds")
      // TIMESTAMP AS OF through the real catalog path, 10 resolutions
      // at spread instants (each = tableExists + open + binary search)
      spark.conf.set("spark.sql.catalog.graftbench",
        "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftbench.warehouse", wh)
      val cat = spark.sessionState.catalogManager.catalog("graftbench")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(Array("meta"), "big")
      val (_, tAsOf) = timed {
        (1 to 10).foreach { k =>
          val cutoffMicros = (1700000000000L + k * (commits / 10) * 1000L - 500L) * 1000L
          cat.loadTable(ident, cutoffMicros)
        }
      }
      // branch fork and shallow clone are the two new O(file-metadata)
      // operations — time them on the same 10⁴-file table (both are
      // pure metadata: one manifest write each, main chain untouched)
      val tx = graft.table.TxTable.open(spark, new Path(s"$wh/meta/big"),
        "meta.big")
      if (tx.branches.contains("bench")) tx.dropBranch("bench")
      val (_, branchCreate) = timed(tx.createBranch("bench"))
      tx.dropBranch("bench")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$wh/meta/clone"))
      val (_, cloneSec) = timed(
        tx.cloneTo(new Path(s"$wh/meta/clone"), "meta.clone"))
      // Bloom index build at the 10⁴-FILE shape (r9 VERDICT item 5):
      // the chunked builder (1000 files per pass → 10 passes) bounds
      // driver memory to one group's filters; the cost below is what a
      // full-index rebuild on a 10⁴-file table actually pays. The table
      // (10⁴ real parquet files, 10 rows each — per-file planning cost
      // is the point) is built once and reused across bench runs.
      val bloomRoot = new Path(s"$wh/meta/bloomt")
      val bloomT =
        if (graft.table.TxTable.exists(spark, bloomRoot))
          graft.table.TxTable.open(spark, bloomRoot, "meta.bloomt")
        else {
          import spark.implicits._
          val t = graft.table.TxTable.create(spark, bloomRoot, "meta.bloomt",
            Seq((1L, "x")).toDF("id", "k").schema, Nil)
          t.append((0L until 100000L).map(i => (i, f"k$i%07d")).toDF("id", "k")
            .repartition(10000))
          t
        }
      val nBloomFiles = bloomT.snapshot.files.size
      spark.conf.set("spark.graft.bloomIndexFilesPerPass", "1000")
      val (bloomEntries, bloomBuild) =
        try timed(bloomT.buildBloomIndex("k"))
        finally spark.conf.unset("spark.graft.bloomIndexFilesPerPass")
      val (bloomCands, bloomProbe) = timed(
        bloomT.candidateFilesForEquals("k", "k0042123").size)
      // expected candidates = 1 true + ~fpp×files false positives
      // (≈11 at 10⁴ files, fpp 0.001); generous 5× headroom
      require(bloomEntries == nBloomFiles &&
        bloomCands <= 1 + (5 * 0.001 * nBloomFiles).toInt,
        s"bloom 10k-file shakeout: $bloomEntries entries, $bloomCands candidates")
      s"""{"commits":$commits,"files":$commits,"build_sec":${f"$buildSecs%.3f"},""" +
        s""""bloom_files":$nBloomFiles,""" +
        s""""bloom_build_10k_files_sec":${f"$bloomBuild%.3f"},""" +
        s""""bloom_probe_sec":${f"$bloomProbe%.4f"},""" +
        s""""index_backfill_sec":${f"$indexBackfill%.3f"},""" +
        s""""snapshot_read_sec":${f"$snapshotRead%.3f"},""" +
        s""""provenance_walk_sec":${f"$provenanceWalk%.3f"},""" +
        s""""catchup_plan_sec":${f"$catchupPlan%.3f"},""" +
        s""""timestamp_as_of_10x_sec":${f"$tAsOf%.3f"},""" +
        s""""branch_create_sec":${f"$branchCreate%.3f"},""" +
        s""""shallow_clone_sec":${f"$cloneSec%.3f"}}"""
    } catch {
      case e: Throwable =>
        s"""{"error":"${e.getClass.getSimpleName}"}"""
    }
  }
}
