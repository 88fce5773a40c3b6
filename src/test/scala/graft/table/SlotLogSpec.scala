package graft.table

import graft.SparkSpec
import graft.ingest.SampleData
import graft.model.Schemas
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/**
 * The put-if-absent slot log that table sidecars publish through: a
 * torn newest slot reads as its predecessor and never wedges the next
 * writer, and racing read-modify-write publishes (tags) both land.
 */
class SlotLogSpec extends SparkSpec {

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    val out = hadoopFs(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def seqs(dir: Path, prefix: String): Seq[Long] =
    new SlotLog(hadoopFs(dir), dir, prefix).slots.map(_.seq)

  private def txTable(name: String): TxTable = {
    val t = TxTable.create(spark, new Path(freshDir(name)), "t",
      Schemas.transactions, Nil)
    t.append(SampleData.transactions(spark, 20, seed = 401L))
    t
  }

  test("slot log: next is one past the highest listed slot, latest falls back past torn ones") {
    val dir = new Path(freshDir("slotlog_unit"))
    val log = new SlotLog(hadoopFs(dir), dir, "x")
    val text = (b: Array[Byte]) => {
      val s = new String(b, "UTF-8"); require(s.endsWith("}")); s }
    assert(log.slots.isEmpty && log.next() === 0L)
    assert(log.latest(text) === SlotLog.Latest(-1L, None, 0L))
    assert(log.put(0L, "{0}".getBytes("UTF-8")))
    assert(!log.put(0L, "{again}".getBytes("UTF-8")), "a taken slot was put twice")
    write(new Path(dir, "x-000000001.json"), Array.emptyByteArray)
    write(new Path(dir, "x-000000002.json"), "{tor".getBytes("UTF-8"))
    assert(log.latest(text) === SlotLog.Latest(0L, Some("{0}"), 3L))
    assert(log.put(3L, "{3}".getBytes("UTF-8")))
    assert(log.latest(text) === SlotLog.Latest(3L, Some("{3}"), 4L))
    log.reap(2L)
    assert(log.slots.map(_.seq) === Seq(2L, 3L))
  }

  test("a torn newest meta slot leaves the index searchable and the next refresh steps over it") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val t = TxTable.create(spark, new Path(freshDir("slotlog_vec"), "t"),
      "vec.slotlog", emb.schema, Nil)
    t.append(emb)
    t.buildVectorIndex("vec_id", "embedding", dim = 64)
    val dir = new Path(t.root, "_index/vector_embedding")
    val queries = t.toDF.filter(col("vec_id") % 7 === 3).limit(4)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    Seq("empty" -> Array.emptyByteArray,
        "truncated" -> "{\"column\":\"embed".getBytes("UTF-8")).foreach {
      case (kind, bytes) =>
        val s = seqs(dir, "meta").max
        val live = t.vectorIndexMeta("embedding").get
        // the reservation a publisher that died mid-put leaves behind
        write(new Path(dir, f"meta-${s + 1}%09d.json"), bytes)
        val fresh = TxTable.open(spark, t.root, t.name)
        assert(fresh.vectorIndexMeta("embedding") === Some(live), kind)
        assert(fresh.vectorSearch(queries, k = 3).count() === 12L, kind)
        // new rows for the refresh to encode
        fresh.append(emb.filter(col("vec_id") < 3)
          .withColumn("vec_id", col("vec_id") + 900000L + s * 10))
        assert(fresh.refreshVectorIndex("embedding") === 3L, kind)
        assert(seqs(dir, "meta").max === s + 2, kind)
        val next = TxTable.open(spark, t.root, t.name)
          .vectorIndexMeta("embedding").get
        assert(next.nonce != live.nonce, kind)
        assert(next.builtAtVersion > live.builtAtVersion, kind)
    }
  }

  /** Two handles of `t` call `tag` at once, `rounds` times; every tag
    * must survive. */
  private def raceTags(t: TxTable, rounds: Int): Unit = {
    val a = TxTable.open(spark, t.root, t.name)
    val b = TxTable.open(spark, t.root, t.name)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (0 until rounds).foreach { i =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val fa = pool.submit(new Runnable {
        override def run(): Unit = { barrier.await(); a.tag(s"a$i") } }, true)
      val fb = pool.submit(new Runnable {
        override def run(): Unit = { barrier.await(); b.tag(s"b$i") } }, true)
      fa.get(); fb.get()
    } finally pool.shutdown()
    val names = (0 until rounds).flatMap(i => Seq(s"a$i", s"b$i")).toSet
    assert(TxTable.open(spark, t.root, t.name).tags.keySet === names)
  }

  test("two handles racing tag calls keep every tag") {
    raceTags(txTable("slotlog_tag_race"), rounds = 20)
  }

  test("racing tags keep every tag on a conditional-PUT store, where a slot's content lands after its claim") {
    val t = txTable("slotlog_tag_race_cas")
    val mock = new ConditionalPutMock
    TxLog.protocolOverride = Some(mock)
    try raceTags(t, rounds = 20)
    finally TxLog.protocolOverride = None
    assert(mock.puts.get() === 40)
  }

  test("a truncated newest tag slot reads as its predecessor: vacuum keeps its files, the next tag lands") {
    val t = txTable("slotlog_tag_torn")
    t.tag("keep")
    val kept = t.snapshot.files.map(_.path)
    t.overwrite(SampleData.transactions(spark, 10, seed = 402L))
    val tagDir = new Path(t.root, "_log/tags")
    val s = seqs(tagDir, "tag").max
    write(new Path(tagDir, f"tag-${s + 1}%09d.json"),
      """{"keep":1,"lat""".getBytes("UTF-8"))
    val fresh = TxTable.open(spark, t.root, t.name)
    assert(fresh.tags === Map("keep" -> 1L))
    fresh.vacuum(retainVersions = 1, graceMillis = 0)
    val fs = hadoopFs(t.root)
    kept.foreach(p => assert(fs.exists(new Path(t.root, s"data/$p")),
      s"vacuum deleted $p, which tag 'keep' still reads"))
    assert(fresh.asOfTag("keep").count() === 20L)
    fresh.tag("later")
    assert(TxTable.open(spark, t.root, t.name).tags ===
      Map("keep" -> 1L, "later" -> fresh.currentVersion))
  }

  test("tags from before tag slots are read and carried forward by the first tag") {
    val t = txTable("slotlog_tag_legacy")
    t.append(SampleData.transactions(spark, 5, seed = 403L))
    write(new Path(t.root, "_log/tags.json"), """{"old":1}""".getBytes("UTF-8"))
    val fresh = TxTable.open(spark, t.root, t.name)
    assert(fresh.tags === Map("old" -> 1L))
    fresh.tag("new")
    assert(seqs(new Path(t.root, "_log/tags"), "tag").nonEmpty)
    assert(TxTable.open(spark, t.root, t.name).tags ===
      Map("old" -> 1L, "new" -> 2L))
  }
}
