package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkSpec
import graft.model.Schemas
import graft.table.{MockS3FileSystem, TxTable}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** [[LocalCheckpointFileManager]]'s contract, and streams that resume
  * across it and Spark's default manager. */
class CheckpointFileManagerSpec extends SparkSpec {

  private val sparkDefault = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileContextBasedCheckpointFileManager"

  private def manager(dir: String) =
    new LocalCheckpointFileManager(new Path(dir), new Configuration())

  private def write(m: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: Path) =
    new String(Files.readAllBytes(Paths.get(p.toUri.getPath)), UTF_8)

  private def names(dir: String) =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("checkpoint manager: a no-clobber publish onto an existing file throws, the file stays") {
    val dir = freshDir("ckfm_noclobber")
    val m = manager(dir)
    val p = new Path(dir, "0")
    write(m, p, "first")
    intercept[FileAlreadyExistsException](write(m, p, "second"))
    assert(read(p) === "first")
    // two writers racing for one batch file: the first close wins
    val a = m.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    val b = m.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    a.write("a".getBytes(UTF_8)); b.write("b".getBytes(UTF_8))
    a.close()
    intercept[FileAlreadyExistsException](b.close())
    b.cancel()
    assert(read(new Path(dir, "1")) === "a")
    assert(names(dir) === Set("0", "1"))
  }

  test("checkpoint manager: cancel leaves neither a temp file nor a target") {
    val dir = freshDir("ckfm_cancel")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size === 1) // the temp, until cancel
    out.cancel()
    assert(names(dir).isEmpty)
    assert(!m.exists(new Path(dir, "0")))
  }

  test("checkpoint manager: overwrite replaces the target and drops its stale .crc") {
    val dir = freshDir("ckfm_overwrite")
    val p = new Path(dir, "metadata")
    new java.io.File(dir).mkdirs()
    // a file Spark's checksummed manager wrote: target plus .metadata.crc
    val sparkManager = org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager.create(new Path(dir), new Configuration())
    val out = sparkManager.createAtomic(p, overwriteIfPossible = false)
    out.write("old".getBytes(UTF_8)); out.close()
    assert(names(dir).contains(".metadata.crc"))
    write(manager(dir), p, "new", overwrite = true)
    assert(read(p) === "new")
    assert(names(dir) === Set("metadata"))
    // Spark's manager reads the published file back
    val in = sparkManager.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) === "new") finally in.close()
  }

  test("checkpoint manager: list hides temp and checksum files") {
    val dir = freshDir("ckfm_list")
    val m = manager(dir)
    write(m, new Path(dir, "0"), "x")
    Files.write(Paths.get(dir, ".0.crc"), Array[Byte](1))
    val open = m.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    try {
      assert(names(dir).size === 3)
      assert(m.list(new Path(dir)).map(_.getPath.getName).toSeq === Seq("0"))
      assert(m.list(new Path(dir), (_: Path).getName != "0").isEmpty)
    } finally open.cancel()
  }

  test("checkpoint manager: a non-file: path is served by Spark's default manager") {
    val conf = new Configuration()
    conf.set("fs.s3mock.impl", classOf[MockS3FileSystem].getName)
    val dir = s"s3mock://${freshDir("ckfm_s3mock")}"
    val m = new LocalCheckpointFileManager(new Path(dir), conf)
    assert(m.underlying.getClass.getName.startsWith(
      "org.apache.spark.sql.execution.streaming.checkpointing."))
    val p = new Path(dir, "0")
    write(m, p, "remote")
    assert(MockS3FileSystem.creates.toArray.exists(_.toString.contains("ckfm_s3mock")))
    assert(m.exists(p))
    intercept[FileAlreadyExistsException](write(m, p, "again"))
  }

  // ---- streams ---------------------------------------------------------

  private val cols = Schemas.transactions.fieldNames.toSeq

  /** The keyed upsert fold of the events fed so far: the latest image
    * per transaction_id, and a later REMOVE deletes it. */
  private final class Fold {
    val rows = mutable.Map.empty[String, Row]
    private def key(r: Row) = r.getAs[String]("transaction_id")
    private def ts(r: Row) = r.getAs[Long]("processing_timestamp")
    def upsert(df: DataFrame): Unit = df.select(cols.map(col): _*).collect()
      .foreach(r => if (rows.get(key(r)).forall(ts(_) <= ts(r))) rows(key(r)) = r)
    def remove(df: DataFrame): Unit = df.collect()
      .foreach(r => if (rows.get(key(r)).exists(ts(_) <= ts(r))) rows -= key(r))
  }

  private def tableRows(t: TxTable) =
    t.toDF.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  test("streaming ingest resumes across checkpoint managers with nothing re-merged") {
    val work = freshDir("ckfm_resume")
    val in = new java.io.File(s"$work/in"); in.mkdirs()
    val ckpt = s"$work/ckpt"
    val t = TxTable.create(spark, new Path(s"$work/table"), "t",
      Schemas.transactions, Seq("date"))
    // the feed: inserts, then updates and REMOVEs of some of them, then
    // more inserts; each staged file is one trigger
    val w1 = SampleData.transactions(spark, 30, seed = 61L)
    val w2 = w1.orderBy("transaction_id").limit(10)
      .withColumn("amount", col("amount") + lit(1))
      .withColumn("processing_timestamp", col("processing_timestamp") + 1000L)
    val w3 = w1.filter(col("risk_score") === "HIGH")
      .withColumn("processing_timestamp", col("processing_timestamp") + 2000L)
    val w4 = SampleData.transactions(spark, 20, seed = 62L)
    var staged = 0
    def stage(envelopes: DataFrame, files: Int): Int = {
      val dir = s"$work/stage/$staged"
      envelopes.toJSON.repartition(files).write.text(dir)
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.foreach { f =>
        val to = new java.io.File(in, s"$staged-${f.getName}").toPath
        Files.copy(f.toPath, to)
        // the file source takes files oldest first
        Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - 600000L + staged * 1000L))
        staged += 1
      }
      parts.length
    }
    val fold = new Fold
    val defaultSession = org.apache.spark.sql.graft.ColumnBridge.cloneSession(spark)
    defaultSession.conf.set(LocalCheckpointFileManager.ConfKey, sparkDefault)
    def run(s: org.apache.spark.sql.SparkSession, newFiles: Int): Unit = {
      val before = t.currentVersion
      val q = StreamingIngest.start(s, in.getAbsolutePath, t, ckpt,
        s"$work/errors", trigger = Trigger.AvailableNow(),
        maxFilesPerTrigger = 1, propagateDeletes = true)
      assert(q.awaitTermination(120000))
      assert(q.exception.isEmpty)
      // one merge per new file; no file merged again
      assert(t.currentVersion === before + newFiles)
      assert(tableRows(t) ===
        fold.rows.values.map(_.toSeq).toSeq.sortBy(_.head.toString))
    }
    def crcs(log: String) = names(s"$ckpt/$log").filter(_.endsWith(".crc"))

    // Spark's default manager, then the engine's, then Spark's again
    val n1 = stage(SampleData.toCdcEnvelopes(w1), 3)
    fold.upsert(w1)
    run(defaultSession, n1)
    assert(crcs("offsets") === (0 until n1).map(i => s".$i.crc").toSet)
    val n2 = stage(SampleData.toCdcEnvelopes(w2, eventName = lit("MODIFY")), 1) +
      stage(SampleData.toCdcRemoveEnvelopes(w3), 1)
    fold.upsert(w2); fold.remove(w3)
    run(spark, n2)
    assert(crcs("offsets").size === n1)     // the engine manager wrote no .crc
    assert(crcs("commits").size === n1)
    val n3 = stage(SampleData.toCdcEnvelopes(w4), 2)
    fold.upsert(w4)
    run(defaultSession, n3)
    assert(crcs("offsets").size === n1 + n3)
    // resumes with no new input commit nothing, on either manager
    run(spark, 0)
    run(defaultSession, 0)
    val batches = names(s"$ckpt/offsets").filterNot(_.startsWith("."))
    assert(batches === (0 until n1 + n2 + n3).map(_.toString).toSet)
    val tree = Files.walk(Paths.get(ckpt))
    try assert(tree.noneMatch(_.getFileName.toString.endsWith(".tmp")))
    finally tree.close()
  }

  /** Streaming listener buses on the SparkContext's bus: one per
    * session whose `streams` was used. */
  private def streamBuses(): Int = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]]
      .toArray.count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
  }

  test("streaming ingest leaves the caller's session conf alone; its listeners see the query; its clone's listener bus goes") {
    val work = freshDir("ckfm_conf")
    SampleData.toCdcEnvelopes(SampleData.transactions(spark, 20, seed = 63L))
      .toJSON.repartition(2).write.text(s"$work/in")
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.id)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val buses = streamBuses()
    try {
      val main = TxTable.create(spark, new Path(s"$work/main"), "main",
        Schemas.transactions, Seq("date"))
      val q = StreamingIngest.start(spark, s"$work/in", main, s"$work/ckpt",
        s"$work/errors", trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1)
      assert(q.awaitTermination(120000))
      assert(main.toDF.count() === 20)
      val audit = TxTable.create(spark, new Path(s"$work/audit"), "audit",
        Schemas.transactions, Nil)
      val fan = StreamingIngest.startFanOut(spark, s"$work/in",
        main, audit,
        new Path(s"$work/markers"), s"$work/ckpt_fan", s"$work/errors_fan",
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1)
      assert(fan.awaitTermination(120000))
      assert(audit.toDF.count() === 20)
      assert(spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      assert(spark.conf.getOption("spark.sql.adaptive.enabled") === aqe)
      // the engine manager wrote both checkpoints: no .crc beside them
      Seq("ckpt", "ckpt_fan").foreach { c =>
        assert(names(s"$work/$c/offsets").nonEmpty)
        assert(!names(s"$work/$c/offsets").exists(_.endsWith(".crc")))
      }
      val deadline = System.currentTimeMillis() + 10000
      while (!(progress.contains(q.id) && progress.contains(fan.id)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(progress.contains(q.id) && progress.contains(fan.id))
      // each stream's session clone takes its listener bus away with it
      while (streamBuses() != buses && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(streamBuses() === buses)
    } finally spark.streams.removeListener(listener)
  }
}
