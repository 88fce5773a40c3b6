package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer

/**
 * EXACT bounded top-k by (score DESC, id ASC) as a
 * `TypedImperativeAggregate`: a k-entry binary heap whose root is the
 * least-preferred kept entry, so an input row costs one compare when it
 * loses (the overwhelmingly common case once the heap is warm) and
 * O(log k) when it displaces the root. Buffers MERGE by inserting one
 * heap's entries into the other — k entries per partial cross the
 * shuffle, never the scored stream itself.
 *
 * This replaces the `row_number() OVER (PARTITION BY query ORDER BY
 * score DESC, id ASC) <= k` plan on the similarity-search paths.
 * Spark 4's rank-limit pushdown (WindowGroupLimit) already kept that
 * plan's exchange small — but its partial mode requires a per-task
 * FULL SORT of the scored stream (|queries| × |probed corpus| rows,
 * O(n log n) compares and a complete materialization per task) before
 * it can emit the first k per group. The aggregate form sorts nothing:
 * partial heaps build where the scores are computed, and only the
 * final ≤k entries per (group, task) are ordered at eval. Selection is
 * bit-identical because the comparator is the window's exact ORDER BY:
 * higher score wins, ties to the SMALLEST id, and both forms see the
 * identical double values (no re-association — scores pass through
 * unchanged).
 *
 * Differences from the window form, by design (and irrelevant to the
 * similarity paths, whose kernels never produce them): rows with a NULL
 * score or NULL id are DROPPED rather than ranked last; the output is
 * the ordered `array<struct<id, score>>` (the caller derives rank from
 * the position), so a group yields one row pre-explode.
 *
 * Returns the kept entries ordered (score desc, id asc) as
 * `array<struct<id, score>>` — deterministic for any input order.
 */
case class ScoreTopK(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ScoreTopK.Buf] {

  require(k >= 1, "k must be >= 1")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def prettyName: String = "score_topk"

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", id.dataType),
    StructField("score", DoubleType))))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (score.dataType != DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"score must be DOUBLE, got ${score.dataType.simpleString}")
    else id.dataType match {
      case LongType | IntegerType | DoubleType | StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"id must be BIGINT/INT/DOUBLE/STRING, got ${other.simpleString}")
    }
  }

  type Buf = ScoreTopK.Buf

  @transient private lazy val idCmp: (Any, Any) => Int =
    ScoreTopK.idComparator(id.dataType)

  override def createAggregationBuffer(): Buf = new ScoreTopK.Buf(k)

  // --- bound-ordinal fast path for update() ------------------------------
  // At execution the aggregation iterator binds `score`/`id` to the input
  // schema; on every similarity path they bind to plain BoundReferences.
  // `Expression.eval` on a BoundReference allocates a boxed Double (and a
  // boxed id) PER SCORED ROW — the dominant per-row constant once the heap
  // is warm, where the row is rejected after one root compare (r19 VERDICT
  // "what's wrong" #3: ann_recall.brute_sec 0.26 → 0.70 s at 32 cores came
  // from exactly this interpreted, allocating update). Reading the score
  // primitively via the bound ordinal and deferring the id evaluation
  // until the row has already BEATEN the root makes the common reject path
  // allocation-free: isNullAt + getDouble + one compare. Selection is
  // unchanged — the slow path below remains for non-BoundReference
  // children (never produced by the similarity operators, but legal).
  @transient private lazy val scoreOrd: Int = score match {
    case b: BoundReference if b.dataType == DoubleType => b.ordinal
    case _ => -1
  }
  @transient private lazy val idOrd: Int = id match {
    case b: BoundReference => b.ordinal
    case _ => -1
  }
  /** Read the id at `idOrd` as the catalyst-internal value the heap
    * stores (UTF8String cloned out of the reusable unsafe-row buffer —
    * the collect_list contract; primitives box here, but only on the
    * rare insert/tie path, never per scored row). */
  @transient private lazy val idRead: InternalRow => Any =
    ScoreTopK.idReader(id.dataType, idOrd)

  override def update(buf: Buf, input: InternalRow): Buf = {
    if (scoreOrd >= 0 && idOrd >= 0) {
      if (!input.isNullAt(scoreOrd)) {
        val s = input.getDouble(scoreOrd)
        // reject with ZERO allocation: full heap and a strictly losing
        // score never needs the id (ties fall through to the exact
        // comparator below)
        if (buf.n == k && s < buf.scores(0)) return buf
        if (!input.isNullAt(idOrd)) buf.insert(s, idRead(input), idCmp)
      }
      return buf
    }
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) {
        // a UTF8String evaluated off an unsafe row may point into a
        // buffer the aggregation iterator reuses — copy before the
        // value outlives this input row (the collect_list contract);
        // primitives arrive boxed and immutable
        val owned = i match {
          case u: UTF8String => u.clone()
          case other => other
        }
        buf.insert(s.asInstanceOf[Double], owned, idCmp)
      }
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    var i = 0
    while (i < other.n) {
      buf.insert(other.scores(i), other.ids(i), idCmp)
      i += 1
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    new GenericArrayData(buf.order(idCmp).map { i =>
      new GenericInternalRow(Array[Any](buf.ids(i), buf.scores(i)))
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val idBytes: Int = id.dataType match {
      case LongType | DoubleType => 8
      case IntegerType => 4
      case StringType =>
        var b = 0; var i = 0
        while (i < buf.n) {
          b += 4 + buf.ids(i).asInstanceOf[UTF8String].numBytes(); i += 1
        }
        b
    }
    val bb = ByteBuffer.allocate(4 + buf.n * 8 +
      (if (id.dataType == StringType) idBytes else buf.n * idBytes))
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putDouble(buf.scores(i))
      id.dataType match {
        case LongType => bb.putLong(buf.ids(i).asInstanceOf[Long])
        case IntegerType => bb.putInt(buf.ids(i).asInstanceOf[Int])
        case DoubleType => bb.putDouble(buf.ids(i).asInstanceOf[Double])
        case StringType =>
          val b = buf.ids(i).asInstanceOf[UTF8String].getBytes
          bb.putInt(b.length); bb.put(b)
        case other => throw new IllegalStateException(s"unsupported id type $other")
      }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val s = bb.getDouble
      val idV: Any = id.dataType match {
        case LongType => bb.getLong
        case IntegerType => bb.getInt
        case DoubleType => bb.getDouble
        case StringType =>
          val len = bb.getInt
          val b = new Array[Byte](len)
          bb.get(b)
          UTF8String.fromBytes(b)
        case other => throw new IllegalStateException(s"unsupported id type $other")
      }
      buf.insert(s, idV, idCmp)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ScoreTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ScoreTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object ScoreTopK {
  /** The id comparator on catalyst-internal values (UTF8String for
    * StringType): the window ORDER BY's `id ASC` leg. */
  def idComparator(dt: DataType): (Any, Any) => Int = dt match {
    case LongType => (a, b) =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType => (a, b) =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleType => (a, b) =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case StringType => (a, b) =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case other => throw new IllegalStateException(s"unsupported id type $other")
  }

  /** Reads the id at `ord` as the catalyst-internal value a heap stores:
    * primitives boxed, a UTF8String cloned out of the row's reusable
    * buffer (the collect_list contract). */
  def idReader(dt: DataType, ord: Int): InternalRow => Any = dt match {
    case LongType => in => java.lang.Long.valueOf(in.getLong(ord))
    case IntegerType => in => java.lang.Integer.valueOf(in.getInt(ord))
    case DoubleType => in => java.lang.Double.valueOf(in.getDouble(ord))
    case StringType => in => in.getUTF8String(ord).clone()
    case other => throw new IllegalStateException(s"unsupported id type $other")
  }

  /**
   * Bounded binary min-heap over (score, id) where the ROOT is the
   * least-preferred kept entry — lowest score, ties to the LARGEST id —
   * so an incoming row that cannot enter the top-k is rejected with one
   * root compare.
   */
  final class Buf(k: Int) extends Serializable {
    var n: Int = 0
    val scores = new Array[Double](k)
    val ids = new Array[Any](k)
    /** id -> heap slot, kept only once [[insertDistinct]] is used;
      * rebuilt from the entries after deserialization. */
    @transient private var slots: java.util.HashMap[Any, Integer] = null

    /** entry a is WORSE-kept than entry b (a sorts toward the root). */
    private def worse(sa: Double, ia: Any, sb: Double, ib: Any,
        cmp: (Any, Any) => Int): Boolean =
      sa < sb || (sa == sb && cmp(ia, ib) > 0)

    /** Whether a score can still enter: false only when the heap is full
      * and `s` loses to the root outright (ties need the id). */
    def admits(s: Double): Boolean = n < k || s >= scores(0)

    def insert(s: Double, idV: Any, cmp: (Any, Any) => Int): Unit = {
      if (n < k) {
        // grow: place at the end, sift up toward the worst-first root
        scores(n) = s; ids(n) = idV; n += 1
        if (slots != null) slots.put(idV, n - 1)
        siftUp(n - 1, cmp)
      } else if (worse(scores(0), ids(0), s, idV, cmp)) {
        // the new entry is preferred over the current worst: replace
        // the root and sift down
        if (slots != null) { slots.remove(ids(0)); slots.put(idV, 0) }
        scores(0) = s; ids(0) = idV
        siftDown(0, cmp)
      }
    }

    /** [[insert]], keeping each id at most once at its best score: a
      * repeated id only raises its kept score. The kept set is then the
      * top k of the per-id maximum scores, so partial heaps merge
      * exactly. */
    def insertDistinct(s: Double, idV: Any, cmp: (Any, Any) => Int): Unit = {
      if (slots == null) {
        slots = new java.util.HashMap[Any, Integer]()
        var i = 0
        while (i < n) { slots.put(ids(i), i); i += 1 }
      }
      val at = slots.get(idV)
      if (at == null) insert(s, idV, cmp)
      else if (s > scores(at)) {
        // a better score moves the entry away from the worst-first root
        scores(at) = s
        siftDown(at, cmp)
      }
    }

    /** Slots of the kept entries, preferred first: score desc, id asc. */
    def order(cmp: (Any, Any) => Int): Array[Int] =
      (0 until n).sortWith { (a, b) =>
        scores(a) > scores(b) || (scores(a) == scores(b) && cmp(ids(a), ids(b)) < 0)
      }.toArray

    private def siftUp(from: Int, cmp: (Any, Any) => Int): Unit = {
      var i = from
      var sifting = true
      while (sifting && i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p), cmp)) {
          swap(i, p); i = p
        } else sifting = false
      }
    }

    private def siftDown(from: Int, cmp: (Any, Any) => Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w), cmp)) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w), cmp)) w = r
        if (w == i) done = true
        else { swap(i, w); i = w }
      }
    }

    private def swap(a: Int, b: Int): Unit = {
      val ts = scores(a); scores(a) = scores(b); scores(b) = ts
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
      if (slots != null) { slots.put(ids(a), a); slots.put(ids(b), b) }
    }
  }
}
