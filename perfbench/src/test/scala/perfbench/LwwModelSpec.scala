package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LwwModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("amount", DecimalType(12, 2)),
    StructField("processing_timestamp", LongType)))

  private def env(kind: String, id: String, amount: String, pt: Long): String = {
    val img = s"""{"transaction_id":{"S":"$id"},"amount":{"N":"$amount"},""" +
      s""""processing_timestamp":{"N":"$pt"}}"""
    val (newImg, oldImg) = if (kind == "REMOVE") ("{}", img) else (img, "{}")
    s"""{"eventName":"$kind","dynamodb":{"NewImage":$newImg,"OldImage":$oldImg}}"""
  }

  private def write(dir: java.io.File, name: String, lines: String*): String = {
    dir.mkdirs()
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
    f.getAbsolutePath
  }

  test("last writer wins per key; a winning REMOVE deletes; duplicates collapse") {
    val dir = new java.io.File("target/lww-spec")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val f1 = write(dir, "d1.json",
      env("INSERT", "a", "1.00", 10),
      env("INSERT", "b", "2.00", 11),
      env("INSERT", "c", "3.00", 12),
      env("INSERT", "c", "3.00", 12))            // redelivered duplicate
    val f2 = write(dir, "d2.json",
      env("MODIFY", "a", "1.50", 20),
      env("REMOVE", "b", "2.00", 21),
      env("MODIFY", "d", "4.00", 22))            // upsert of an unseen key
    val base = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row("e", new java.math.BigDecimal("5.00"), 1L),
      org.apache.spark.sql.Row("a", new java.math.BigDecimal("0.50"), 1L)), schema)
    val got = LwwModel.expected(spark, schema, "transaction_id",
      "processing_timestamp", Seq(f1, f2), Some(base))
      .collect().map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq(("a", "1.50", 20L), ("c", "3.00", 12L), ("d", "4.00", 22L),
      ("e", "5.00", 1L)))
  }

  test("fingerprint ignores row order and sees any changed value") {
    import spark.implicits._
    val a = Seq(("x", 1L), ("y", 2L)).toDF("k", "v")
    val b = Seq(("y", 2L), ("x", 1L)).toDF("k", "v")
    val c = Seq(("x", 1L), ("y", 3L)).toDF("k", "v")
    assert(LwwModel.fingerprint(a, Seq("k", "v")) === LwwModel.fingerprint(b, Seq("k", "v")))
    assert(LwwModel.fingerprint(a, Seq("k", "v")) !== LwwModel.fingerprint(c, Seq("k", "v")))
  }
}
