package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.SampleData
import graft.model.Schemas

/**
 * Seeded CDC traffic in the reference's Firehose shape: DynamoDB-typed
 * change envelopes staged as one JSON-lines file per delivery (~1 MB,
 * Firehose's buffer size). Each file mixes INSERTs of new keys, MODIFYs
 * and REMOVEs (with pre-images) of recently inserted keys, and exact
 * redeliveries of events of the same file. Per key, events are staged
 * in increasing `processing_timestamp` order, so last-writer-wins by that
 * column and delivery order agree. Row images come from
 * `SampleData.transactions`; the envelopes are formatted on the driver in
 * the wire shape `SampleData.toCdcEnvelopes` produces, so staging costs
 * no Spark jobs.
 */
object CdcGen {

  val RowsPerFile = 800
  val ModifyShare = 0.20
  val RemoveShare = 0.08
  val DupShare = 0.02
  /** Files whose inserts share one event date. */
  val FilesPerDay = 4
  /** MODIFY/REMOVE targets come from the keys inserted in this many
    * preceding files. */
  val RecentFiles = 4

  val DayMs: Long = 24L * 3600 * 1000
  val AnchorMs: Long = 1754988000000L

  private val statuses = Seq("APPROVED", "DECLINED", "PENDING_REVIEW", "FLAGGED")
  private val risks = Seq("LOW", "MEDIUM", "HIGH")

  private val fieldIdx: Map[String, Int] =
    Schemas.transactions.fieldNames.zipWithIndex.toMap

  private val dateIdx = fieldIdx("date")

  /** Generator state: the live image per key and the recent key pool. */
  final class State(val rnd: scala.util.Random) {
    val live = mutable.HashMap.empty[String, Array[Any]]
    val recent = mutable.Queue.empty[mutable.ArrayBuffer[String]]
  }

  def newState(seed: Long, preload: Seq[Row]): State = {
    val st = new State(new scala.util.Random(seed * 7919L + 17L))
    val pool = mutable.ArrayBuffer.empty[String]
    preload.foreach { r =>
      st.live(r.getString(0)) = r.toSeq.toArray[Any]
      pool += r.getString(0)
    }
    if (pool.nonEmpty) st.recent.enqueue(pool)
    st
  }

  /** Base rows for `files` deliveries starting at delivery `first`, from
    * one generator call; each delivery's rows move to its day's date. */
  private def insertRows(spark: SparkSession, seed: Long, first: Int,
      files: Int, perFile: Int): IndexedSeq[Array[Any]] = {
    val rows = SampleData.transactions(spark, files.toLong * perFile,
      seed = seed * 100000L + first, anchorMs = AnchorMs).collect()
    val ts = fieldIdx("timestamp")
    val pt = fieldIdx("processing_timestamp")
    rows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
      val shift = (first + i / perFile) / FilesPerDay
      val a = r.toSeq.toArray[Any]
      a(ts) = a(ts).asInstanceOf[Long] + shift * DayMs
      a(pt) = a(pt).asInstanceOf[Long] + shift * DayMs
      a(dateIdx) = java.sql.Date.valueOf(
        a(dateIdx).asInstanceOf[java.sql.Date].toLocalDate.plusDays(shift))
      a
    }
  }

  /** One staged change record: its delivery, kind and row image. */
  final case class Event(file: Int, kind: String, image: Array[Any])

  /** Plan `files` deliveries (driver side) continuing from `st`. */
  def plan(spark: SparkSession, seed: Long, st: State, first: Int,
      files: Int): Seq[Event] = {
    val nIns = math.round(RowsPerFile * (1 - ModifyShare - RemoveShare - DupShare)).toInt
    val base = insertRows(spark, seed, first, files, nIns)
    val ptIdx = fieldIdx("processing_timestamp")
    val out = mutable.ArrayBuffer.empty[Event]
    (0 until files).foreach { f =>
      val file = first + f
      val events = mutable.ArrayBuffer.empty[Event]
      val inserted = mutable.ArrayBuffer.empty[String]
      base.slice(f * nIns, (f + 1) * nIns).foreach { a =>
        val k = a(0).asInstanceOf[String]
        if (!st.live.contains(k)) {
          st.live(k) = a
          inserted += k
          events += Event(file, "INSERT", a)
        }
      }
      val pool = st.recent.flatten.filter(st.live.contains).distinct
      val shuffled = st.rnd.shuffle(pool)
      val nMod = math.min(shuffled.size, math.round(RowsPerFile * ModifyShare).toInt)
      val nRem = math.min(shuffled.size - nMod, math.round(RowsPerFile * RemoveShare).toInt)
      shuffled.take(nMod).foreach { k =>
        val a = st.live(k).clone()
        a(fieldIdx("status")) = statuses(st.rnd.nextInt(statuses.size))
        a(fieldIdx("risk_score")) = risks(st.rnd.nextInt(risks.size))
        a(fieldIdx("amount")) = java.math.BigDecimal.valueOf(
          1000L + st.rnd.nextInt(99001), 2)
        a(ptIdx) = a(ptIdx).asInstanceOf[Long] + 1000L + st.rnd.nextInt(60000)
        st.live(k) = a
        events += Event(file, "MODIFY", a)
      }
      shuffled.slice(nMod, nMod + nRem).foreach { k =>
        val a = st.live(k).clone()
        a(ptIdx) = a(ptIdx).asInstanceOf[Long] + 1000L + st.rnd.nextInt(60000)
        st.live.remove(k)
        events += Event(file, "REMOVE", a)
      }
      val nDup = math.round(RowsPerFile * DupShare).toInt
      val dups = (0 until nDup).map(_ => events(st.rnd.nextInt(events.size)))
      out ++= events ++ dups
      st.recent.enqueue(inserted)
      while (st.recent.size > RecentFiles) st.recent.dequeue()
    }
    out.toSeq
  }

  private val numeric = Set("timestamp", "amount", "processing_timestamp",
    "hour", "minute")

  private def attr(v: Any, n: Boolean): String =
    (if (n) "{\"N\":" else "{\"S\":") + Json.str(String.valueOf(v)) + "}"

  private def imageJson(a: Array[Any]): String =
    Schemas.transactions.fieldNames.zipWithIndex.collect {
      case (f, i) if a(i) != null => Json.str(f) + ":" + attr(a(i), numeric(f))
    }.mkString("{", ",", "}")

  /** One DynamoDB Streams change record: the post-image under NewImage,
    * or for a REMOVE the pre-image under OldImage. */
  def envelope(e: Event): String = {
    val key = e.image(0).asInstanceOf[String]
    val pt = e.image(fieldIdx("processing_timestamp")).asInstanceOf[Long]
    val remove = e.kind == "REMOVE"
    val created = if (remove) pt else e.image(fieldIdx("timestamp")).asInstanceOf[Long]
    val img = imageJson(e.image)
    s"""{"eventID":${Json.str((if (remove) "evt-rm-" else "evt-") + key)},""" +
      s""""eventName":${Json.str(e.kind)},"dynamodb":{""" +
      s""""ApproximateCreationDateTime":$created,""" +
      s""""Keys":{"transaction_id":${attr(key, n = false)}},""" +
      s""""NewImage":${if (remove) "{}" else img},""" +
      s""""OldImage":${if (remove) img else "{}"},""" +
      s""""SequenceNumber":"${f"$pt%020d"}"}}"""
  }

  /** Plan and write `files` deliveries as `<dir>/d<nnnnn>.json`. */
  def stage(spark: SparkSession, seed: Long, st: State, dir: java.io.File,
      first: Int, files: Int): Seq[java.io.File] = {
    dir.mkdirs()
    plan(spark, seed, st, first, files).groupBy(_.file).toSeq.sortBy(_._1).map {
      case (file, es) =>
        val f = new java.io.File(dir, f"d$file%05d.json")
        java.nio.file.Files.write(f.toPath,
          es.map(envelope).mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        f
    }
  }
}

/**
 * The expected table contents, rebuilt with plain Spark from the staged
 * envelope files alone: per key, the event with the greatest
 * `processing_timestamp` wins, and a winning REMOVE deletes the key.
 */
object LwwModel {

  private val attr = StructType(Seq(StructField("S", StringType),
    StructField("N", StringType)))
  private val image = MapType(StringType, attr)
  private val envelope = StructType(Seq(
    StructField("eventName", StringType),
    StructField("dynamodb", StructType(Seq(
      StructField("NewImage", image),
      StructField("OldImage", image))))))

  /** Rows of `schema` the envelopes in `files` leave behind, on top of
    * `base` (rows of `schema` present before the first envelope). */
  def expected(spark: SparkSession, schema: StructType, key: String,
      orderCol: String, files: Seq[String], base: Option[DataFrame]): DataFrame = {
    val events = spark.read.schema(envelope).json(files: _*)
    val img = when(col("eventName") === "REMOVE", col("dynamodb.OldImage"))
      .otherwise(col("dynamodb.NewImage"))
    def field(f: StructField) = {
      val a = img.getItem(f.name)
      coalesce(a.getField("S"), a.getField("N")).cast(f.dataType).as(f.name)
    }
    val changes = events.select((schema.fields.map(field) :+
      (col("eventName") === "REMOVE").as("__removed")).toIndexedSeq: _*)
    val all = base.map(_.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("__removed", lit(false)))
      .map(_.unionByName(changes)).getOrElse(changes)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
      .orderBy(col(orderCol).desc)
    all.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1 && !col("__removed"))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Order-independent (row count, content hash) of `df`'s `columns`. */
  def fingerprint(df: DataFrame, columns: Seq[String]): (Long, String) = {
    val rowHash = xxhash64(columns.map(c =>
      coalesce(col(c).cast(StringType), lit("\u0000null")))
      .toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast(DecimalType(20, 0))))
      .collect()(0)
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
