package graft.table

import graft.SparkSpec
import graft.ingest.SampleData
import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.{CountDownLatch, TimeUnit}

/**
 * The executor-side write path ([[TableWriter]]): what a crash at any
 * file-system call leaves behind, empty writes, and the in-flight guard
 * that keeps a same-process vacuum off a write still running.
 */
class WriterSpec extends SparkSpec {

  spark.sparkContext.hadoopConfiguration
    .set("fs.crashfs.impl", classOf[CrashFs].getName)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Relative paths of every parquet file below `dir`. */
  private def parquetUnder(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, rel: String = ""): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSet.flatMap { (st: org.apache.hadoop.fs.FileStatus) =>
      val r = rel + st.getPath.getName
      if (st.isDirectory) parquetUnder(fs, st.getPath, r + "/")
      else if (r.endsWith(".parquet")) Set(r) else Set.empty[String]
    }

  /** The table state every crash point starts from: two appends (so
    * compaction has files to merge), change feed on. */
  private def template(wh: String): Unit = {
    val t = new TableCatalog(spark, new Path(wh)).createTable("c", "t",
      Schemas.transactions, Seq("date"),
      properties = Map(TxTable.ChangeFeedProperty -> "true"))
    t.append(SampleData.transactions(spark, 30, seed = 301L))
    t.append(SampleData.transactions(spark, 10, seed = 302L))
  }

  /** A keyed upsert over the template: 8 of its rows updated, 4 new. */
  private def upsert(t: TxTable): Unit = {
    val batch = SampleData.transactions(spark, 30, seed = 301L)
      .orderBy("transaction_id").limit(8)
      .withColumn("processing_timestamp", col("processing_timestamp") + 1L)
      .unionByName(SampleData.transactions(spark, 4, seed = 304L))
    t.merge(batch, "transaction_id", "processing_timestamp")
  }

  private val ops: Seq[(String, TxTable => Unit)] = Seq(
    "append" -> (_.append(SampleData.transactions(spark, 12, seed = 303L))),
    "cow merge" -> upsert,
    "overwrite" -> (_.overwrite(SampleData.transactions(spark, 9, seed = 305L))),
    "compact" -> (_.compact()))

  /** Run each op on a crashfs copy of the warehouse `tpl` (table
    * `c.<table>`): once to count its mutating calls and take `state`
    * before and after, then crashed at 5 points spread over those
    * calls. `check` gets each crash point's label, a way to reopen the
    * crashed copy through a fresh catalog, and the dry run's states. */
  private def crashSweep[S](tpl: String, table: String,
      ops: Seq[(String, TxTable => Unit)], state: TxTable => S)(
      check: (String, () => TxTable, S, S) => Unit): Unit =
    ops.foreach { case (name, op) =>
      var run = 0
      // a copy of the template on crashfs, opened through a fresh catalog
      def copy(): Path = {
        run += 1
        val dir = freshDir(s"crash_${name.replace(' ', '_')}_$run")
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(tpl), new java.io.File(dir))
        new Path(s"crashfs://$dir")
      }
      def open(wh: Path) = new TableCatalog(spark, wh).getTable("c", table)
      val dry = copy()
      val before = state(open(dry))
      CrashFs.reset()
      op(open(dry))
      val calls = CrashFs.count
      val after = state(open(dry))
      assert(calls > 0, s"$name: the dry run wrote nothing")
      val points = (0 until 5).map(i => 1 + i * (calls - 1) / 4).distinct
      info(s"$name: $calls mutating calls, crashed at ${points.mkString(", ")}")
      points.foreach { n =>
        val wh = copy()
        val t0 = open(wh)
        CrashFs.reset(n)
        try op(t0) catch { case scala.util.control.NonFatal(_) => () }
        finally CrashFs.reset()
        // the crashed process is gone, and its in-flight registrations
        // with it: from here on only the log says what is live
        TxLog.inFlightNames.clear()
        check(s"$name crashed at call $n of $calls", () => open(wh), before, after)
      }
    }

  test("crash-point sweep: append, COW merge with change feed, overwrite, compact") {
    val tpl = freshDir("crash_template")
    template(tpl)
    crashSweep(tpl, "t", ops, t => rowsOf(t.toDF)) { (label, open, before, after) =>
      val t = open()
      val rows = rowsOf(t.toDF)
      assert(rows == before || rows == after, s"$label: partial state")
      val fs = t.root.getFileSystem(spark.sessionState.newHadoopConf())
      val head = t.snapshot
      head.files.foreach(f => assert(
        fs.exists(new Path(t.root, s"data/${f.path}")),
        s"$label: live data file ${f.path} was deleted"))
      head.changeFiles.foreach(c => assert(
        fs.exists(new Path(t.root, s"_change_data/$c")),
        s"$label: live change file $c was deleted"))
      t.vacuum(retainVersions = 1, graceMillis = 0)
      assert(parquetUnder(fs, new Path(t.root, "data")) ===
        t.snapshot.files.map(_.path).toSet, s"$label: orphans survive vacuum")
      assert(parquetUnder(fs, new Path(t.root, "_change_data"))
        .subsetOf(t.snapshot.changeFiles.toSet),
        s"$label: orphan change files survive vacuum")
      assert(parquetUnder(fs, new Path(t.root, "_staging")).isEmpty,
        s"$label: staging leftovers survive vacuum")
      assert(rowsOf(open().toDF) === rows, s"$label: vacuum changed rows")
    }
  }

  test("crash-point sweep: merge-on-read MERGE lands all or nothing, and a retry lands") {
    val tpl = freshDir("crash_mor_template")
    val t = new TableCatalog(spark, new Path(tpl)).createTable("c", "m",
      Schemas.transactions, Seq("date"),
      properties = Map(TxTable.MergeModeProperty -> "merge-on-read"))
    t.append(SampleData.transactions(spark, 30, seed = 301L))
    t.append(SampleData.transactions(spark, 10, seed = 302L))
    crashSweep(tpl, "m", Seq("mor merge" -> upsert), t => rowsOf(t.toDF)) {
        (label, open, before, after) =>
      val t = open()
      val rows = rowsOf(t.toDF)
      assert(rows == before || rows == after, s"$label: partial state")
      val fs = t.root.getFileSystem(spark.sessionState.newHadoopConf())
      val head = t.snapshot
      head.files.foreach(f => assert(
        fs.exists(new Path(t.root, s"data/${f.path}")),
        s"$label: live data file ${f.path} was deleted"))
      head.deletionVectors.foreach(d => assert(
        fs.exists(new Path(t.root, s"deletes/${d.path}")),
        s"$label: live deletion vector ${d.path} was deleted"))
      // the merge is idempotent, so a retry from either state lands on
      // the state after it
      upsert(open())
      assert(rowsOf(open().toDF) == after, s"$label: the retry did not land")
      assert(open().snapshot.deletionVectors.nonEmpty, s"$label: no deletion vector after the retry")
    }
  }

  /** Tags, the vector index's published coverage and the Bloom
    * entries, as a fresh handle reads them. */
  private def sidecars(t: TxTable) = {
    val fs = t.root.getFileSystem(spark.sessionState.newHadoopConf())
    val vecDir = new Path(t.root, "_index/vector_embedding")
    val vector = t.vectorIndexMeta("embedding").map { m =>
      val covered = (m.coveredFilesFile.toSeq ++ m.coveredDeltaFiles).flatMap { n =>
        val in = fs.open(new Path(vecDir, n))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
      (m.builtAtVersion, m.codesDir, covered.toSet, m.codeRows)
    }
    (t.tags, vector, t.bloomEntries("vec_id").map { case (k, v) => k -> v.toSeq })
  }

  test("crash-point sweep: tag, vector and Bloom refresh publish all or nothing") {
    val tpl = freshDir("crash_sidecar_template")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val t = new TableCatalog(spark, new Path(tpl)).createTable("c", "v",
      emb.schema, Nil)
    t.append(emb.filter(col("vec_id") >= 8))
    t.buildVectorIndex("vec_id", "embedding", dim = 64, sampleQueries = 8,
      nCells = 8, iters = 1)
    t.buildBloomIndex("vec_id")
    t.tag("built")
    // rows neither index covers yet
    t.append(emb.filter(col("vec_id") < 8))
    val sidecarOps: Seq[(String, TxTable => Unit)] = Seq(
      "tag" -> (_.tag("refreshed")),
      "vector refresh" -> (_.refreshVectorIndex("embedding")),
      "bloom refresh" -> (_.refreshBloomIndex("vec_id")))
    crashSweep(tpl, "v", sidecarOps, sidecars) { (label, open, before, after) =>
      val got = sidecars(open())
      assert(got == before || got == after, s"$label: partial sidecar state")
      // nothing the crash left wedges the next attempt
      val op = sidecarOps.find(o => label.startsWith(o._1 + " ")).get._2
      op(open())
      assert(sidecars(open()) == after, s"$label: the retry did not land")
    }
  }

  test("empty frames: append and overwrite write no file and read back empty") {
    Seq(Nil, Seq("date")).foreach { parts =>
      val root = new Path(freshDir(s"empty_write_${parts.size}"))
      val t = TxTable.create(spark, root, "t", Schemas.transactions, parts)
      val seed = SampleData.transactions(spark, 20, seed = 310L)
      t.append(seed)
      val filesBefore = t.snapshot.files.toSet
      val schemaBefore = t.toDF.schema
      val empty = seed.limit(0)
      t.append(empty)
      assert(t.snapshot.files.toSet === filesBefore)
      assert(t.toDF.count() === 20 && t.count() === 20)
      assert(t.toDF.schema === schemaBefore)
      t.overwrite(empty)
      assert(t.snapshot.files.isEmpty)
      assert(t.toDF.count() === 0 && t.count() === 0)
      assert(t.toDF.schema === schemaBefore)
      assert(t.asOf(1).count() === 20)
    }
  }

  test("a failed write job deletes the files its finished tasks wrote") {
    val root = new Path(freshDir("failed_write_job"))
    val t = TxTable.create(spark, root, "t",
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
        .StructField("id", org.apache.spark.sql.types.LongType))), Nil)
    // the last of four tasks throws once the other three have written
    // their files and finished
    val lastThrows = udf { (id: Long) =>
      if (id == 399L) {
        Thread.sleep(1500)
        throw new IllegalStateException("last task fails")
      }
      id
    }
    val e = intercept[Exception](t.append(
      spark.range(0, 400, 1, 4).select(lastThrows(col("id")).as("id"))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("last task fails")), e)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(parquetUnder(fs, new Path(root, "data")).isEmpty)
    assert(t.snapshot.files.isEmpty && t.toDF.count() === 0)
  }

  test("a change-feed commit that changed no row still replays") {
    val t = TxTable.create(spark, new Path(freshDir("empty_change_data")), "t",
      Schemas.transactions, Seq("date"),
      properties = Map(TxTable.ChangeFeedProperty -> "true"))
    t.append(SampleData.transactions(spark, 10, seed = 311L))
    // deleting an absent key commits a MERGE with no change rows
    val ghost = SampleData.transactions(spark, 1, seed = 311L)
      .withColumn("transaction_id", lit("TXN_GHOST"))
      .withColumn("_deleted", lit(true))
    val v = t.merge(ghost, "transaction_id", "processing_timestamp",
      deleteCol = Some("_deleted"))
    assert(v === 2L && t.snapshot.changeFiles.size === 1)
    assert(t.changeFeed(v, v).count() === 0)
  }

  test("in-flight guard: a grace-0 vacuum racing a held-open write deletes none of its files") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = new Path(freshDir("inflight_guard"))
    val t = TxTable.create(spark, root, "t",
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"), Nil)
    t.append(spark.range(0, 5).select(col("id"), col("id").as("v")))
    WriterSpec.reached = new CountDownLatch(1)
    WriterSpec.release = new CountDownLatch(1)
    val hold = udf { (id: Long) =>
      if (id == 5L) {
        WriterSpec.reached.countDown()
        WriterSpec.release.await(60, TimeUnit.SECONDS)
      }
      id
    }
    // one task: rows 0..4 reach the open file before row 5 holds it
    val write = Future(t.append(spark.range(0, 10, 1, 1)
      .select(col("id"), hold(col("id")).as("v"))))
    try {
      assert(WriterSpec.reached.await(60, TimeUnit.SECONDS), "the write never started")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val data = new Path(root, "data")
      val inFlight = parquetUnder(fs, data) -- t.snapshot.files.map(_.path)
      assert(inFlight.nonEmpty, "the held task has not created its file")
      t.vacuum(retainVersions = 1, graceMillis = 0)
      inFlight.foreach(f =>
        assert(fs.exists(new Path(data, f)), s"vacuum deleted in-flight $f"))
    } finally WriterSpec.release.countDown()
    Await.result(write, 120.seconds)
    assert(t.toDF.count() === 15)
    assert(t.count() === 15)
  }
}

object WriterSpec {
  @volatile var reached: CountDownLatch = _
  @volatile var release: CountDownLatch = _
}
