package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for dense-vector similarity over
 * `array<float>` / `array<double>` embedding columns.
 *
 * The composed alternative (`zip_with` + `aggregate`, see
 * [[graft.functions.VectorFunctions]]) allocates an intermediate array
 * and evaluates a lambda per element; at 100 TB that allocation is the
 * scan bottleneck. These expressions generate a single fused loop over
 * the two ArrayData buffers — one pass, zero allocation, stays inside
 * whole-stage codegen.
 */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // a null ELEMENT makes the whole result null (matching the zip_with/
  // aggregate fallback, which propagates null) — so the expression is
  // nullable whenever the array type admits null elements
  override def nullable: Boolean =
    left.nullable || right.nullable || anyElemNullable

  // inputs must be array<float> or array<double>; enforced by the typed
  // builders in graft.functions.VectorFunctions (AbstractDataType /
  // ExpectsInputTypes are sql-private, so analyzer-level type coercion
  // is not available to external expressions)
  protected def leftElemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }
  protected def rightElemIsFloat: Boolean = right.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }

  /** true when either input array may hold null elements; only then do
    * the fused loops pay a per-element isNullAt branch (for the common
    * containsNull=false embedding column the loop stays branch-free) */
  protected lazy val anyElemNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    }
  }

  @inline protected final def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** codegen: mark the result null and bail when element i is null —
    * empty when the types guarantee non-null elements (ev.isNull is a
    * real variable in the nullable case, so the assignment compiles) */
  protected def elemNullCheck(ev: ExprCode, a: String, b: String, i: String): String =
    if (anyElemNullable)
      s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
    else ""

  /** java accessor snippet for codegen */
  protected def getter(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** Σ aᵢ·bᵢ over the common prefix of the two vectors. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "vector_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (anyElemNullable && (a.isNullAt(i) || b.isNullAt(i))) return null
      sum += elem(a, i, leftElemIsFloat) * elem(b, i, rightElemIsFloat)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${elemNullCheck(ev, a, b, i)}
         |  $sum += ${getter(a, i, leftElemIsFloat)} * ${getter(b, i, rightElemIsFloat)};
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** cosine(a, b) in one fused pass (dot + both norms); 0.0 when either
  * vector has zero norm. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "vector_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (anyElemNullable && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = elem(a, i, leftElemIsFloat)
      val y = elem(b, i, rightElemIsFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${elemNullCheck(ev, a, b, i)}
         |  double $x = ${getter(a, i, leftElemIsFloat)};
         |  double $y = ${getter(b, i, rightElemIsFloat)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/**
 * All `nTables` sign-LSH bucket ids of one vector in a single fused
 * kernel: `hyperplanes` is the flattened `[table][bit][dim]` component
 * array (derived driver-side from the portable md5 scheme — see
 * [[graft.functions.VectorFunctions.hyperplaneValues]]), and the result
 * is `array<long>` with element t = Σ_p (v·hp[t][p] ≥ 0) << p.
 *
 * The composed form (one `when(dot(...))` term per (table, bit)) built
 * an expression tree of nTables×nBits dot products; fused into a join
 * stage, its generated method blew past janino's limits and the WHOLE
 * stage fell back to interpreted evaluation — the actual 10×
 * regression behind r9's `dedup_embedding_cosine` sf1 number (the
 * within-bucket pair volume was innocent: candidates measured ~1M).
 * This kernel is a constant-size triple loop regardless of nBits, so
 * the stage always stays inside whole-stage codegen.
 */
case class SignLshBuckets(child: Expression, hyperplanes: Array[Double],
    nBits: Int, nTables: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nBits > 0 && nBits <= 62 && nTables > 0 &&
    hyperplanes.length % (nBits * nTables) == 0,
    s"bad SignLshBuckets shape: ${hyperplanes.length} components for " +
      s"$nTables tables x $nBits bits")

  private val dim = hyperplanes.length / (nBits * nTables)

  override def prettyName: String = "sign_lsh_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }
  private lazy val elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  override def nullable: Boolean = child.nullable || elemNullable

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(dim, a.numElements())
    // buffer the vector ONCE: every element is otherwise re-read
    // through the ArrayData accessor nBits x nTables times (up to
    // 160x at the derived capacities) — same values in the same
    // arithmetic order, so results stay bit-identical
    val buf = new Array[Double](n)
    var j = 0
    while (j < n) {
      if (elemNullable && a.isNullAt(j)) return null
      buf(j) = if (elemIsFloat) a.getFloat(j).toDouble else a.getDouble(j)
      j += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nBits) {
        val base = (t * nBits + p) * dim
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += hyperplanes(base + i) * buf(i)
          i += 1
        }
        if (dot >= 0.0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val hp = ctx.addReferenceObj("hyperplanes", hyperplanes, "double[]")
      // per-operator mutable scratch (no per-row allocation): the
      // vector copies out of ArrayData once; every (table, bit) dot
      // then runs over a plain double[] instead of re-reading each
      // element through the accessor nBits x nTables times
      val buf = ctx.addMutableState("double[]", "lshBuf",
        v => s"$v = new double[$dim];")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val bucket = ctx.freshName("bucket")
      val copyLoop = ctx.freshName("lshCopy")
      val getter =
        if (elemIsFloat) s"(double) $a.getFloat($j)" else s"$a.getDouble($j)"
      // a null element bails during the copy pass and skips the whole
      // computation and result allocation
      val nullCheck =
        if (elemNullable)
          s"if ($a.isNullAt($j)) { ${ev.isNull} = true; break $copyLoop; }"
        else ""
      val compute =
        s"""
           |long[] $out = new long[$nTables];
           |for (int $t = 0; $t < $nTables; $t++) {
           |  long $bucket = 0L;
           |  for (int $p = 0; $p < $nBits; $p++) {
           |    double $dot = 0.0;
           |    for (int $i = 0; $i < $n; $i++) {
           |      $dot += $hp[($t * $nBits + $p) * $dim + $i] * $buf[$i];
           |    }
           |    if ($dot >= 0.0) $bucket |= (1L << $p);
           |  }
           |  $out[$t] = $bucket;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |$copyLoop:
         |for (int $j = 0; $j < $n; $j++) {
         |  $nullCheck
         |  $buf[$j] = $getter;
         |}
         |${if (elemNullable) s"if (!${ev.isNull}) { $compute }" else compute}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * The cosine arithmetic of the cell kernels ([[ArgMaxCosineCell]],
 * [[TopCosineCells]]), term for term that of [[CosineSimilarity]] with
 * the vector on the left and a centroid on the right: dot and squared
 * norms accumulated in index order, `dot / (sqrt(na) * sqrt(nb))`, and
 * 0.0 on a zero norm. Centroids are flattened `[cell][dim]`.
 */
private[expressions] object CellCosine {

  /** Copies the first `n` elements of `a` into `buf`; false when one of
    * them is null (only checked when the type admits null elements). */
  def load(a: ArrayData, n: Int, isFloat: Boolean, elemNullable: Boolean,
      buf: Array[Double]): Boolean = {
    var j = 0
    while (j < n) {
      if (elemNullable && a.isNullAt(j)) return false
      buf(j) = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      j += 1
    }
    true
  }

  /** Σ x² over `buf[0, n)`, in index order. */
  def sqNorm(buf: Array[Double], n: Int): Double = {
    var s = 0.0
    var j = 0
    while (j < n) { s += buf(j) * buf(j); j += 1 }
    s
  }

  /** Per-cell sqrt(Σ c²) over each centroid's first `n` components. */
  def norms(centroids: Array[Double], nCells: Int, dim: Int,
      n: Int): Array[Double] = Array.tabulate(nCells) { c =>
    var nb = 0.0
    var j = 0
    while (j < n) {
      val x = centroids(c * dim + j); nb += x * x; j += 1
    }
    math.sqrt(nb)
  }

  /** cosine(buf[0, n), cell `c`) given both norms, already square-rooted. */
  def cosine(centroids: Array[Double], dim: Int, c: Int, buf: Array[Double],
      n: Int, sqna: Double, sqnb: Double): Double = {
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += centroids(c * dim + i) * buf(i)
      i += 1
    }
    if (sqna == 0.0 || sqnb == 0.0) 0.0 else dot / (sqna * sqnb)
  }
}

/**
 * Argmax-cosine cell assignment against a FIXED centroid matrix
 * (flattened `[cell][dim]`, driver-derived): returns the cell index
 * with the greatest cosine(v, centroid), ties to the LOWEST cell — the
 * exact semantics of the former `greatest()` over per-centroid
 * (cosine, -cell) structs, whose expression tree grew linearly in the
 * cell count and at the derived capacities (hundreds of cells) made
 * stages codegen-hostile. Arithmetic replicates [[CosineSimilarity]]
 * term-for-term (dot and norms accumulated in index order,
 * `dot / (sqrt(na) * sqrt(nb))`, 0.0 on a zero norm) so assignments —
 * which the DuckDB oracle replays — are bit-identical to the composed
 * form.
 */
case class ArgMaxCosineCell(child: Expression, centroids: Array[Double],
    nCells: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nCells > 0 && centroids.length % nCells == 0,
    s"bad ArgMaxCosineCell shape: ${centroids.length} components for $nCells cells")

  private val dim = centroids.length / nCells

  /** per-cell sqrt(Σ c²), accumulated in index order like the kernel */
  private lazy val centroidNorms: Array[Double] =
    CellCosine.norms(centroids, nCells, dim, dim)

  override def prettyName: String = "argmax_cosine_cell"
  override def dataType: DataType = IntegerType

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }
  private lazy val elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  override def nullable: Boolean = child.nullable || elemNullable

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(dim, a.numElements())
    // buffer the vector once (each element is otherwise re-read
    // through the accessor nCells times; same values, same order —
    // bit-identical results)
    val buf = new Array[Double](n)
    if (!CellCosine.load(a, n, elemIsFloat, elemNullable, buf)) return null
    val sqna = math.sqrt(CellCosine.sqNorm(buf, n))
    var best = java.lang.Double.NEGATIVE_INFINITY
    var bestCell = 0
    var c = 0
    while (c < nCells) {
      val cos = CellCosine.cosine(centroids, dim, c, buf, n, sqna,
        centroidNorms(c))
      if (cos > best) { best = cos; bestCell = c }
      c += 1
    }
    bestCell
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[]")
      val norms = ctx.addReferenceObj("centroidNorms", centroidNorms, "double[]")
      // per-operator mutable scratch (no per-row allocation) — see
      // SignLshBuckets: the per-cell dot loops read a plain double[]
      val buf = ctx.addMutableState("double[]", "argmaxBuf",
        v => s"$v = new double[$dim];")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val sqna = ctx.freshName("sqna")
      val x = ctx.freshName("x")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos")
      val best = ctx.freshName("best")
      val bestCell = ctx.freshName("bestCell")
      def getter(idx: String) =
        if (elemIsFloat) s"(double) $a.getFloat($idx)" else s"$a.getDouble($idx)"
      val nullCheck =
        if (elemNullable)
          s"if ($a.isNullAt($j)) { ${ev.isNull} = true; break; }"
        else ""
      // the argmax sweep is dead work once a null element set isNull in
      // the norm loop — skip it entirely (the norm loop is the only
      // place a null can surface, so one guard covers the rest)
      val sweep =
        s"""
           |double $sqna = java.lang.Math.sqrt($na);
           |double $best = java.lang.Double.NEGATIVE_INFINITY;
           |int $bestCell = 0;
           |for (int $c = 0; $c < $nCells; $c++) {
           |  double $dot = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $dot += $cents[$c * $dim + $i] * $buf[$i];
           |  }
           |  double $cos = ($sqna == 0.0 || $norms[$c] == 0.0) ? 0.0
           |    : $dot / ($sqna * $norms[$c]);
           |  if ($cos > $best) { $best = $cos; $bestCell = $c; }
           |}
           |${ev.value} = $bestCell;
         """.stripMargin
      s"""
         |int $n = java.lang.Math.min($dim, $a.numElements());
         |double $na = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  $nullCheck
         |  double $x = ${getter(j)};
         |  $buf[$j] = $x;
         |  $na += $x * $x;
         |}
         |${if (elemNullable) s"if (!${ev.isNull}) { $sweep }" else sweep}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * The IVF probe list of one vector: its `nprobe` best cells against a
 * FIXED centroid matrix (flattened `[cell][dim]`), as `array<int>` in
 * exactly the order of the window form
 * `row_number() OVER (PARTITION BY q ORDER BY cosine DESC, cell ASC)`.
 * Cosine compares the way Spark sorts doubles (NaN is largest,
 * -0.0 == 0.0) and ties go to the lowest cell. A null vector or a null
 * element scores null against every cell, and the window sorts nulls
 * last, so it probes cells 0 until nprobe. The arithmetic is
 * [[CellCosine]]'s, over the common prefix of vector and centroid like
 * [[CosineSimilarity]], so a probe list replays bit for bit in SQL.
 *
 * Interpreted only: it runs once per QUERY row, never per corpus row.
 * [[cellsOf]] is the same kernel for a vector already on the driver.
 */
case class TopCosineCells(child: Expression, centroids: Array[Double],
    nCells: Int, nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(nCells > 0 && centroids.length % nCells == 0,
    s"bad TopCosineCells shape: ${centroids.length} components for $nCells cells")

  private val dim = centroids.length / nCells
  private val probes = math.max(0, math.min(nprobe, nCells))
  private lazy val centroidNorms: Array[Double] =
    CellCosine.norms(centroids, nCells, dim, dim)

  override def prettyName: String = "top_cosine_cells"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }
  private lazy val elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      cellsOf(child.eval(input).asInstanceOf[ArrayData]))

  /** The probe list of `a` (null: no vector). */
  def cellsOf(a: ArrayData): Array[Int] = {
    val out = new Array[Int](probes)
    if (probes == 0) return out
    val n = if (a == null) 0 else math.min(dim, a.numElements())
    val buf = new Array[Double](n)
    if (a == null || !CellCosine.load(a, n, elemIsFloat, elemNullable, buf)) {
      var c = 0
      while (c < probes) { out(c) = c; c += 1 }
      return out
    }
    val sqna = math.sqrt(CellCosine.sqNorm(buf, n))
    // a vector shorter than the centroids meets each on its prefix
    val norms =
      if (n == dim) centroidNorms else CellCosine.norms(centroids, nCells, dim, n)
    // insertion into the running top list, cells in ascending order: a
    // cell passes another only when STRICTLY greater, so ties keep the
    // lower cell first
    val best = new Array[Double](probes)
    var filled = 0
    var c = 0
    while (c < nCells) {
      val cos = CellCosine.cosine(centroids, dim, c, buf, n, sqna, norms(c))
      if (filled < probes ||
          SQLOrderingUtil.compareDoubles(cos, best(probes - 1)) > 0) {
        var i = math.min(filled, probes - 1)
        while (i > 0 && SQLOrderingUtil.compareDoubles(cos, best(i - 1)) > 0) {
          best(i) = best(i - 1); out(i) = out(i - 1); i -= 1
        }
        best(i) = cos; out(i) = c
        if (filled < probes) filled += 1
      }
      c += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * All `m` PQ codes of one vector in a single fused kernel: `codebooks`
 * is the flattened `[subspace][code][dim]` codeword array and the
 * result is `array<int>` where element mi = argmin over j of
 * ‖sub_mi(v) − codeword[mi][j]‖₂ (ties to the LOWEST code).
 *
 * Replaces the composed per-subspace encoding (`greatest()` over
 * (−l2Distance(slice(v), lit(codeword)), −code) structs): that form
 * built m×kCodes kernel calls PLUS m×kCodes slice allocations per row,
 * and as part of a fused stage pushed generated methods toward janino's
 * limits — the identical silent-interpreted-fallback cliff r10 fixed
 * for [[SignLshBuckets]]. Arithmetic replicates the composed form
 * term-for-term: per-subspace L2 accumulates (v_i − c_i)² in index
 * order over the present elements and compares the SQRT values (strict
 * less, ascending code order → same winner and tie-break as
 * max(−d, −code)), so codes — which the DuckDB oracle replays — are
 * bit-identical.
 */
case class PqCodes(child: Expression, codebooks: Array[Double],
    m: Int, kCodes: Int, dSub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m > 0 && kCodes > 0 && dSub > 0 &&
    codebooks.length == m * kCodes * dSub,
    s"bad PqCodes shape: ${codebooks.length} components for " +
      s"$m x $kCodes x $dSub")

  override def prettyName: String = "pq_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }
  private lazy val elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  override def nullable: Boolean = child.nullable || elemNullable

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val len = math.min(m * dSub, a.numElements())
    // buffer the vector once (each subspace element is otherwise
    // re-read kCodes times; same values, same order — bit-identical)
    val buf = new Array[Double](len)
    var q = 0
    while (q < len) {
      if (elemNullable && a.isNullAt(q)) return null
      buf(q) = if (elemIsFloat) a.getFloat(q).toDouble else a.getDouble(q)
      q += 1
    }
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var bestD = java.lang.Double.POSITIVE_INFINITY
      var bestCode = 0
      var j = 0
      while (j < kCodes) {
        var sum = 0.0
        var i = 0
        while (i < dSub && mi * dSub + i < len) {
          val d = buf(mi * dSub + i) - codebooks((mi * kCodes + j) * dSub + i)
          sum += d * d
          i += 1
        }
        val dist = math.sqrt(sum)
        if (dist < bestD) { bestD = dist; bestCode = j }
        j += 1
      }
      out(mi) = bestCode
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("codebooks", codebooks, "double[]")
      // per-operator mutable scratch (no per-row allocation) — see
      // SignLshBuckets: the per-codeword L2 loops read a plain double[]
      val buf = ctx.addMutableState("double[]", "pqBuf",
        v => s"$v = new double[${m * dSub}];")
      val len = ctx.freshName("len")
      val out = ctx.freshName("out")
      val mi = ctx.freshName("mi")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val q = ctx.freshName("q")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      val dist = ctx.freshName("dist")
      val bestD = ctx.freshName("bestD")
      val bestCode = ctx.freshName("bestCode")
      val copyLoop = ctx.freshName("pqCopy")
      val getter =
        if (elemIsFloat) s"(double) $a.getFloat($q)" else s"$a.getDouble($q)"
      val nullCheck =
        if (elemNullable)
          s"if ($a.isNullAt($q)) { ${ev.isNull} = true; break $copyLoop; }"
        else ""
      val compute =
        s"""
           |int[] $out = new int[$m];
           |for (int $mi = 0; $mi < $m; $mi++) {
           |  double $bestD = java.lang.Double.POSITIVE_INFINITY;
           |  int $bestCode = 0;
           |  for (int $j = 0; $j < $kCodes; $j++) {
           |    double $sum = 0.0;
           |    for (int $i = 0; $i < $dSub && $mi * $dSub + $i < $len; $i++) {
           |      double $d = $buf[$mi * $dSub + $i]
           |        - $cb[($mi * $kCodes + $j) * $dSub + $i];
           |      $sum += $d * $d;
           |    }
           |    double $dist = java.lang.Math.sqrt($sum);
           |    if ($dist < $bestD) { $bestD = $dist; $bestCode = $j; }
           |  }
           |  $out[$mi] = $bestCode;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      s"""
         |int $len = java.lang.Math.min(${m * dSub}, $a.numElements());
         |$copyLoop:
         |for (int $q = 0; $q < $len; $q++) {
         |  $nullCheck
         |  $buf[$q] = $getter;
         |}
         |${if (elemNullable) s"if (!${ev.isNull}) { $compute }" else compute}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Asymmetric-distance score (Jégou et al., PAMI'11 §IV-A) of one PQ-
 * coded corpus row against one query's lookup table: left is the
 * `array<int>` code vector, right the `array<array<double>>` LUT, and
 * the result is Σ_mi lut[mi][codes[mi]] accumulated in subspace order —
 * exactly the left fold the composed
 * `aggregate(zip_with(codes, sequence, ...), 0.0, +)` form computed,
 * so scores are bit-identical. The composed form is CodegenFallback
 * (higher-order functions evaluate their lambda interpreted, row by
 * row) — ON THE SCORED-PAIR PATH, the hottest loop in ANN search; this
 * kernel is m array reads inside whole-stage codegen.
 */
/**
 * The whole per-query ADC lookup table in ONE kernel:
 * lut[mi][j] = dot(query subvector mi, codeword j of subspace mi).
 * The composed form — `array(array(dot(slice(query, …), lit(cw))))` —
 * carried m·kCodes dot nodes plus as many literal arrays: 2,048
 * expression nodes at the PQ-256 default, costing SECONDS of
 * optimizer + janino work per plan (measured in the r13 bench: the
 * index query path spent 27-37 s on a 20k-row corpus whose data work
 * is milliseconds). Arithmetic is bit-identical to the composed form
 * (index-order multiply-add per codeword), so the oracle-checked ADC
 * scores are unchanged.
 */
case class AdcLut(child: Expression, codebooks: Array[Double],
    m: Int, kCodes: Int, dSub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(m > 0 && kCodes > 0 && dSub > 0 &&
    codebooks.length == m * kCodes * dSub,
    s"bad AdcLut shape: ${codebooks.length} components for " +
      s"$m x $kCodes x $dSub")

  override def prettyName: String = "adc_lut"
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false)

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got $t")
  }
  private lazy val elemNullable: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  override def nullable: Boolean = child.nullable || elemNullable

  override def nullSafeEval(input: Any): Any = {
    val table = tableOf(input.asInstanceOf[ArrayData])
    if (table == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(table.map(row =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(row): Any))
  }

  /** The table of a query vector already on the driver, indexed
    * [subspace][code] (null: a null element). */
  def tableOf(a: ArrayData): Array[Array[Double]] = {
    val len = math.min(m * dSub, a.numElements())
    val buf = new Array[Double](len)
    var q = 0
    while (q < len) {
      if (elemNullable && a.isNullAt(q)) return null
      buf(q) = if (elemIsFloat) a.getFloat(q).toDouble else a.getDouble(q)
      q += 1
    }
    val rows = new Array[Array[Double]](m)
    var mi = 0
    while (mi < m) {
      val row = new Array[Double](kCodes)
      var j = 0
      while (j < kCodes) {
        var sum = 0.0
        var i = 0
        while (i < dSub && mi * dSub + i < len) {
          sum += buf(mi * dSub + i) * codebooks((mi * kCodes + j) * dSub + i)
          i += 1
        }
        row(j) = sum
        j += 1
      }
      rows(mi) = row
      mi += 1
    }
    rows
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("codebooks", codebooks, "double[]")
      val buf = ctx.addMutableState("double[]", "adcLutBuf",
        v => s"$v = new double[${m * dSub}];")
      val len = ctx.freshName("len")
      val rows = ctx.freshName("rows")
      val row = ctx.freshName("row")
      val mi = ctx.freshName("mi")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val q = ctx.freshName("q")
      val sum = ctx.freshName("sum")
      val getter =
        if (elemIsFloat) s"(double) $a.getFloat($q)" else s"$a.getDouble($q)"
      val nullGuard =
        if (elemNullable)
          s"if ($a.isNullAt($q)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $len = java.lang.Math.min(${m * dSub}, $a.numElements());
         |for (int $q = 0; $q < $len; $q++) {
         |  $nullGuard
         |  $buf[$q] = $getter;
         |}
         |if (!${ev.isNull}) {
         |  Object[] $rows = new Object[$m];
         |  for (int $mi = 0; $mi < $m; $mi++) {
         |    double[] $row = new double[$kCodes];
         |    for (int $j = 0; $j < $kCodes; $j++) {
         |      double $sum = 0.0;
         |      for (int $i = 0; $i < $dSub && $mi * $dSub + $i < $len; $i++) {
         |        $sum += $buf[$mi * $dSub + $i] *
         |          $cb[($mi * $kCodes + $j) * $dSub + $i];
         |      }
         |      $row[$j] = $sum;
         |    }
         |    $rows[$mi] =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($row);
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class AdcScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "adc_score"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val lut = lutAny.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), lut.numElements())
    var sum = 0.0
    var mi = 0
    while (mi < m) {
      sum += lut.getArray(mi).getDouble(codes.getInt(mi))
      mi += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) => {
      val m = ctx.freshName("m")
      val mi = ctx.freshName("mi")
      val sum = ctx.freshName("sum")
      s"""
         |int $m = java.lang.Math.min($codes.numElements(), $lut.numElements());
         |double $sum = 0.0;
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  $sum += $lut.getArray($mi).getDouble($codes.getInt($mi));
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** ‖a − b‖₂ in one fused pass. */
case class L2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "vector_l2_distance"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (anyElemNullable && (a.isNullAt(i) || b.isNullAt(i))) return null
      val d = elem(a, i, leftElemIsFloat) - elem(b, i, rightElemIsFloat)
      sum += d * d; i += 1
    }
    math.sqrt(sum)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${elemNullCheck(ev, a, b, i)}
         |  double $d = ${getter(a, i, leftElemIsFloat)} - ${getter(b, i, rightElemIsFloat)};
         |  $sum += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($sum);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
