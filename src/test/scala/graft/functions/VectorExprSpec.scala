package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("native cosine/dot match the composed higher-order-function forms") {
    val a = emb.select(col("vec_id"), col("embedding")).limit(50)
    val pairs = a.crossJoin(a.select(col("vec_id").as("id2"),
        col("embedding").as("e2")).limit(10))
    val diffs = pairs.select(
      abs(VectorFunctions.cosine(col("embedding"), col("e2")) -
        VectorFunctions.cosineComposed(col("embedding"), col("e2"))).as("dc"),
      abs(VectorFunctions.dot(col("embedding"), col("e2")) -
        VectorFunctions.dotComposed(col("embedding"), col("e2"))).as("dd"))
      .agg(max("dc"), max("dd")).collect()(0)
    assert(diffs.getDouble(0) < 1e-12)
    assert(diffs.getDouble(1) < 1e-12)
  }

  test("native kernels survive both codegen and interpreted eval") {
    val df = Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f))).toDF("a", "b")
    // codegen path
    val r1 = df.select(VectorFunctions.cosine(col("a"), col("b"))).collect()
    assert(math.abs(r1(0).getDouble(0) - 1.0) < 1e-12)
    assert(r1(1).getDouble(0) === 0.0)
    // interpreted path (codegen off)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val r2 = df.select(VectorFunctions.dot(col("a"), col("b"))).collect()
      assert(r2(0).getDouble(0) === 25.0)
      assert(r2(1).getDouble(0) === 0.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null vector yields null, zero vector yields 0") {
    val df = Seq((Some(Array(1.0f)), None: Option[Array[Float]]),
      (Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 1.0f)))).toDF("a", "b")
    val rows = df.select(VectorFunctions.cosine(col("a"), col("b"))).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getDouble(0) === 0.0)
  }

  test("null ELEMENTS propagate to a null result (both eval paths)") {
    // Option[Float] elements → ArrayType(FloatType, containsNull=true)
    val df = Seq(
      (Array(Option(1.0f), None), Array(Option(1.0f), Option(2.0f))),
      (Array(Option(3.0f), Option(4.0f)), Array(Option(3.0f), Option(4.0f))))
      .toDF("a", "b")
    def checkAll(): Unit = {
      val rows = df.select(
        VectorFunctions.dot(col("a"), col("b")),
        VectorFunctions.cosine(col("a"), col("b")),
        VectorFunctions.l2Distance(col("a"), col("b"))).collect()
      (0 until 3).foreach(i => assert(rows(0).isNullAt(i), s"col $i"))
      assert(rows(1).getDouble(0) === 25.0)
      assert(math.abs(rows(1).getDouble(1) - 1.0) < 1e-12)
      assert(rows(1).getDouble(2) === 0.0)
    }
    checkAll() // codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try checkAll() // interpreted
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("SQL surface: vector_* functions registered and callable") {
    GraftFunctions.register(spark)
    emb.limit(5).createOrReplaceTempView("emb_v")
    val out = spark.sql(
      "SELECT vec_id, vector_cosine(embedding, embedding) AS c, " +
        "vector_dot(embedding, embedding) AS d, " +
        "vector_l2_distance(embedding, embedding) AS l FROM emb_v").collect()
    assert(out.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
    assert(out.forall(_.getDouble(3) === 0.0))
    // text-hash family is SQL-callable too
    val th = spark.sql(
      "SELECT size(hashed_shingles('a b c d', 3)) AS ns, " +
        "size(minhash_signature(hashed_shingles('a b c d', 3), 8)) AS k, " +
        "simhash64('a b c d') AS sig").collect()(0)
    assert(th.getInt(0) === 2)
    assert(th.getInt(1) === 8)
    assert(!th.isNullAt(2))
  }

  test("TopCosineCells equals the probe window: ties, zero/NaN/null vectors, nprobe >= nCells") {
    import graft.functions.expressions.TopCosineCells
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types._
    val dim = 6
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(8)(Seq.fill(dim)(rnd.nextGaussian()))
    // cells 8, 9 and 11 duplicate cells 2 and 5 (exact cosine ties);
    // cell 10 is a zero centroid, which scores 0.0 against everything
    val cents = base ++ Seq(base(2), base(5), Seq.fill(dim)(0.0), base(2))
    val nCells = cents.size
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c.toArray) }
      .toDF("cell", "cvec")
    val vecs = (0 until 24).map {
      case 0 => Seq.fill(dim)(0.0)
      case 1 => Seq.fill(dim)(rnd.nextGaussian()).updated(3, Double.NaN)
      case 2 => base(2)
      case 3 => base(2).map(_ * -1.0)
      case _ => Seq.fill(dim)(rnd.nextGaussian())
    }
    val dbl = (vecs.map(v => Option(v.toArray)) :+ None).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("q", "v")
    val flt = dbl.select(col("q"),
      col("v").cast(ArrayType(FloatType, containsNull = false)).as("v"))
    val nullElem = Seq((100L, Array(Option(1.0), None, Option(2.0),
      Option(0.5), Option(-1.0), Option(3.0)))).toDF("q", "v")

    def window(qs: DataFrame, n: Int): Map[Long, Seq[Int]] = {
      val w = Window.partitionBy(col("q"))
        .orderBy(col("sim").desc, col("cell").asc)
      qs.crossJoin(centDf)
        .select(col("q"), col("cell"),
          VectorFunctions.cosine(col("v"), col("cvec")).as("sim"))
        .withColumn("pr", row_number().over(w)).filter(col("pr") <= n)
        .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getInt(3)).map(_.getInt(1)).toSeq }
    }
    def kernel(qs: DataFrame, n: Int): Map[Long, Seq[Int]] =
      qs.select(col("q"), ColumnBridge.column(TopCosineCells(
          ColumnBridge.expression(col("v")), cents.flatten.toArray, nCells, n)))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // the same kernel evaluated on the driver, as the search operator
    // assigns the probes of a collected query batch
    def driver(qs: DataFrame, n: Int): Map[Long, Seq[Int]] = {
      val probe = TopCosineCells(BoundReference(0, qs.schema("v").dataType,
        nullable = true), cents.flatten.toArray, nCells, n)
      qs.collect().map(r => r.getLong(0) -> probe.cellsOf(
        if (r.isNullAt(1)) null else new GenericArrayData(r.getSeq[Any](1))).toSeq)
        .toMap
    }
    def checkAll(): Unit =
      for (qs <- Seq(dbl, flt, nullElem); n <- Seq(1, 3, nCells, nCells + 5)) {
        val expected = window(qs, n)
        assert(kernel(qs, n) === expected, s"kernel, nprobe $n")
        assert(driver(qs, n) === expected, s"driver, nprobe $n")
      }
    // the inputs reach every ordering rule the window applies
    val w = window(dbl, nCells)
    assert(w(2L).take(3) === Seq(2, 8, 11), "duplicated centroids tie, lowest first")
    assert(w(1L).take(nCells - 1).toSet === (0 until nCells).toSet - 10,
      "NaN sorts above every number")
    assert(w(0L) === (0 until nCells) && w(24L) === (0 until nCells),
      "zero vector (all 0.0) and null vector (all null) keep cell order")
    checkAll() // codegen
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try checkAll() // interpreted
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
