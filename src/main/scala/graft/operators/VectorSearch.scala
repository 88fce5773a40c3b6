package graft.operators

import graft.functions.expressions.{AdcLut, CosineSimilarity, ScoreTopK, TopCosineCells}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSeq, AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow, In, InterpretedUnsafeProjection, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Statistics, Union}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

import scala.collection.mutable
import scala.reflect.ClassTag

/** What a [[VectorSearch]] computes besides its inputs: the index
  * model, the result depth `k`, the probes per query, and the ADC
  * shortlist depth (0: the ADC scores are final, no exact re-rank).
  * `queries` is the batch size, for the size estimate. */
final case class VectorSearchParams(model: Similarity.VectorIndexModel,
    k: Int, nprobe: Int, depth: Int, queries: Int) {
  def pq: Boolean = model.codebooks.nonEmpty
  def adcFinal: Boolean = pq && depth <= 0
  def describe: String =
    s"k=$k, nprobe=$nprobe/${model.nCells}, " +
      (if (!pq) "ivf" else s"pq=${model.m}x${model.codebooks.head.size}") +
      (if (pq && depth > 0) s", rerank=$depth" else "") + s", queries=$queries"
}

/**
 * IVF / IVF-PQ top-k search as ONE logical operator (IVFADC+R, Jégou et
 * al., TPAMI 2011). Children:
 *  - `batch`: the query batch, collected into a local relation;
 *  - `codes`: the encoded corpus (id, cell[, codes]);
 *  - `corpus`: the rows that supply exact vectors (id, vector, delta
 *    flag); a delta row lies outside the index and is scored against
 *    every query.
 * The output is (query id, id, score, rank), at most k rows per query,
 * each id at most once, ranked by (score desc, id asc).
 */
case class VectorSearch(batch: LogicalPlan, codes: LogicalPlan,
    corpus: LogicalPlan, queryId: Attribute, queryVec: Attribute,
    codeId: Attribute, codeCell: Attribute, codeCodes: Option[Attribute],
    corpusId: Attribute, corpusVec: Attribute, corpusDelta: Attribute,
    params: VectorSearchParams, output: Seq[Attribute]) extends LogicalPlan {
  override def children: Seq[LogicalPlan] = Seq(batch, codes, corpus)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def stats: Statistics = Statistics(sizeInBytes =
    EstimationUtils.getSizePerRow(output) * math.max(1L, params.queries.toLong * params.k))
  override protected def stringArgs: Iterator[Any] = Iterator(params.describe)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): VectorSearch =
    copy(batch = newChildren(0), codes = newChildren(1), corpus = newChildren(2))
}

/**
 * The search in two passes over the data and nothing else:
 *  1. over the codes partitions: ADC-score each row against the queries
 *     that probe its cell and keep a per-query top-`depth` heap (plain
 *     IVF keeps every id of the probed cells); the driver merges the
 *     heaps into the shortlist;
 *  2. over the corpus partitions: exact cosine for shortlisted ids and
 *     every delta row into a per-query top-k heap, deduplicated by id;
 *     the driver merges the heaps into the result.
 * Probe lists, LUTs, query vectors and the shortlist travel as broadcast
 * variables. ADC-final searches stop after pass 1. Each heap is
 * [[ScoreTopK.Buf]] with its comparator, and every score comes from the
 * same kernel the column functions evaluate, so results equal the
 * join-and-window formulation bit for bit.
 */
case class VectorSearchExec(batch: SparkPlan, codes: SparkPlan,
    corpus: SparkPlan, queryId: Attribute, queryVec: Attribute,
    codeId: Attribute, codeCell: Attribute, codeCodes: Option[Attribute],
    corpusId: Attribute, corpusVec: Attribute, corpusDelta: Attribute,
    params: VectorSearchParams, searchOutput: Seq[Attribute],
    output: Seq[Attribute]) extends SparkPlan {
  import VectorSearch._

  override def children: Seq[SparkPlan] = Seq(batch, codes, corpus)
  override def producedAttributes: AttributeSet = AttributeSet(searchOutput)
  override protected def stringArgs: Iterator[Any] = Iterator(params.describe)

  // the result is merged on the driver, so a collect returns it as is
  override def executeCollect(): Array[InternalRow] = search()
  protected override def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(search().toSeq, 1)

  private def search(): Array[InternalRow] = {
    val qIdOrd = ordinal(batch.output, queryId)
    val qVecOrd = ordinal(batch.output, queryVec)
    // a query with a null id has no results, as under an equi-join on
    // the query id
    val qRows = batch.executeCollect().map(_.copy()).filterNot(_.isNullAt(qIdOrd))
    val qVecs = qRows.map(r => if (r.isNullAt(qVecOrd)) null else r.getArray(qVecOrd))
    val top =
      if (qRows.isEmpty) Array.empty[ScoreTopK.Buf]
      else shortlist(qVecs) match {
        case Left(heaps) if params.adcFinal => heaps
        case short => rerank(qVecs, short)
      }
    val cmp = ScoreTopK.idComparator(corpusId.dataType)
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(output, AttributeSeq(searchOutput)))
    top.indices.flatMap { q =>
      val h = top(q)
      h.order(cmp).zipWithIndex.map { case (slot, r) =>
        toUnsafe(new GenericInternalRow(Array[Any](qRows(q).get(qIdOrd, queryId.dataType),
          h.ids(slot), h.scores(slot), r + 1))).copy(): InternalRow
      }
    }.toArray
  }

  /** Pass 1. PQ: the per-query heaps of the best ADC scores (depth k
    * when those are final). Plain IVF: every id of each query's probed
    * cells. */
  private def shortlist(qVecs: Array[ArrayData])
      : Either[Array[ScoreTopK.Buf], Array[Array[Any]]] = {
    val model = params.model
    val probe = TopCosineCells(BoundReference(0, queryVec.dataType, nullable = true),
      model.centroids.flatten.toArray, model.nCells, params.nprobe)
    val byCell = new Array[Array[Int]](model.nCells)
    qVecs.map(probe.cellsOf).zipWithIndex
      .flatMap { case (cells, q) => cells.map(_ -> q) }
      .groupBy(_._1).foreach { case (c, qs) => byCell(c) = qs.map(_._2).sorted }
    val idOrd = ordinal(codes.output, codeId)
    val cellOrd = ordinal(codes.output, codeCell)
    codeCodes match {
      case Some(codesAttr) =>
        val lut = AdcLut(BoundReference(0, queryVec.dataType, nullable = true),
          model.codebooks.flatten.flatten.toArray, model.m,
          model.codebooks.head.size, model.dSub)
        val luts = qVecs.map(v => if (v == null) null else lut.tableOf(v))
        val depth = if (params.adcFinal) params.k else params.depth
        Left(mergeHeaps(run(codes, byCell -> luts)(bc => new AdcPass(bc, codeId.dataType,
          idOrd, cellOrd, ordinal(codes.output, codesAttr), depth)), qVecs.length, depth,
          codeId.dataType))
      case None =>
        val parts = run(codes, byCell)(bc =>
          new CellIdsPass(bc, qVecs.length, codeId.dataType, idOrd, cellOrd))
        Right(Array.tabulate(qVecs.length)(q => parts.flatMap(_(q))))
    }
  }

  /** Pass 2: exact cosine of the shortlisted ids and every delta row,
    * per-query top-k by id. */
  private def rerank(qVecs: Array[ArrayData],
      short: Either[Array[ScoreTopK.Buf], Array[Array[Any]]]): Array[ScoreTopK.Buf] = {
    // id -> the queries that shortlisted it, ascending
    val lists = new java.util.HashMap[Any, mutable.ArrayBuilder.ofInt]()
    def add(id: Any, q: Int): Unit = {
      var qs = lists.get(id)
      if (qs == null) { qs = new mutable.ArrayBuilder.ofInt; lists.put(id, qs) }
      qs += q
    }
    short match {
      case Left(heaps) => heaps.indices.foreach(q =>
        (0 until heaps(q).n).foreach(i => add(heaps(q).ids(i), q)))
      case Right(ids) => ids.indices.foreach(q => ids(q).foreach(add(_, q)))
    }
    val byId = new java.util.HashMap[Any, Array[Int]](lists.size * 2)
    lists.forEach((id, qs) => byId.put(id, qs.result().distinct))
    mergeHeaps(run(corpus, byId -> qVecs)(bc => new ExactPass(bc, corpusId.dataType,
      corpusVec.dataType, queryVec.dataType, ordinal(corpus.output, corpusId),
      ordinal(corpus.output, corpusVec), ordinal(corpus.output, corpusDelta), params.k)),
      qVecs.length, params.k, corpusId.dataType)
  }

  /** One job over `child`'s partitions running `pass` with `shared` as
    * a broadcast variable. The pass is a plain serializable class, not a
    * lambda, so Spark's closure cleaner has no bytecode to read. */
  private def run[B: ClassTag, U: ClassTag](child: SparkPlan, shared: B)(
      pass: Broadcast[B] => (TaskContext, Iterator[InternalRow]) => U): Array[U] = {
    val bc = sparkContext.broadcast(shared)
    try {
      val rdd = child.execute()
      sparkContext.runJob(rdd, pass(bc), rdd.partitions.indices)
    } finally bc.destroy()
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): VectorSearchExec =
    copy(batch = newChildren(0), codes = newChildren(1), corpus = newChildren(2))
}

/** Pass 1 over a codes partition (PQ): per-query heaps of the best
  * `depth` ADC scores. `shared` holds, per cell, the queries probing it
  * and, per query, its lookup table (null: no table). */
private final class AdcPass(shared: Broadcast[(Array[Array[Int]], Array[Array[Array[Double]]])],
    idType: DataType, idOrd: Int, cellOrd: Int, codesOrd: Int, depth: Int)
    extends ((TaskContext, Iterator[InternalRow]) => Array[ScoreTopK.Buf]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[ScoreTopK.Buf] = {
    val (cells, luts) = shared.value
    val cmp = ScoreTopK.idComparator(idType)
    val readId = ScoreTopK.idReader(idType, idOrd)
    val heaps = new Array[ScoreTopK.Buf](luts.length)
    rows.foreach { r =>
      val qs = VectorSearch.probedBy(cells, r, cellOrd)
      if (qs != null && !r.isNullAt(idOrd) && !r.isNullAt(codesOrd)) {
        val rowCodes = r.getArray(codesOrd)
        var id: Any = null
        var i = 0
        while (i < qs.length) {
          val q = qs(i)
          if (luts(q) != null) {
            val s = VectorSearch.adc(rowCodes, luts(q))
            if (heaps(q) == null) heaps(q) = new ScoreTopK.Buf(depth)
            if (heaps(q).admits(s)) {
              if (id == null) id = readId(r)
              heaps(q).insertDistinct(s, id, cmp)
            }
          }
          i += 1
        }
      }
    }
    heaps
  }
}

/** Pass 1 over a codes partition (plain IVF): every id of each query's
  * probed cells. */
private final class CellIdsPass(cells: Broadcast[Array[Array[Int]]], nQ: Int,
    idType: DataType, idOrd: Int, cellOrd: Int)
    extends ((TaskContext, Iterator[InternalRow]) => Array[Array[Any]]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Array[Any]] = {
    val byCell = cells.value
    val readId = ScoreTopK.idReader(idType, idOrd)
    val ids = Array.fill(nQ)(Array.newBuilder[Any])
    rows.foreach { r =>
      val qs = VectorSearch.probedBy(byCell, r, cellOrd)
      if (qs != null && !r.isNullAt(idOrd)) {
        val id = readId(r)
        qs.foreach(q => ids(q) += id)
      }
    }
    ids.map(_.result())
  }
}

/** Pass 2 over a corpus partition: per-query top-k exact cosine heaps
  * over the shortlisted ids and every delta row, one entry per id.
  * `shared` holds id -> shortlisting queries, and the query vectors. */
private final class ExactPass(shared: Broadcast[(java.util.HashMap[Any, Array[Int]], Array[ArrayData])],
    idType: DataType, vecType: DataType, qVecType: DataType, idOrd: Int, vecOrd: Int,
    deltaOrd: Int, k: Int)
    extends ((TaskContext, Iterator[InternalRow]) => Array[ScoreTopK.Buf]) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[ScoreTopK.Buf] = {
    val (byId, vecs) = shared.value
    val every = Array.range(0, vecs.length)
    val cosine = CosineSimilarity(BoundReference(0, vecType, nullable = true),
      BoundReference(1, qVecType, nullable = true))
    val cmp = ScoreTopK.idComparator(idType)
    val readId = ScoreTopK.idReader(idType, idOrd)
    val heaps = new Array[ScoreTopK.Buf](vecs.length)
    rows.foreach { r =>
      if (!r.isNullAt(idOrd) && !r.isNullAt(vecOrd)) {
        val id = readId(r)
        val qs = if (!r.isNullAt(deltaOrd) && r.getBoolean(deltaOrd)) every
          else byId.get(id)
        if (qs != null) {
          val v = r.getArray(vecOrd)
          var i = 0
          while (i < qs.length) {
            val q = qs(i)
            if (vecs(q) != null) {
              val s = cosine.nullSafeEval(v, vecs(q))
              if (s != null) {
                if (heaps(q) == null) heaps(q) = new ScoreTopK.Buf(k)
                heaps(q).insertDistinct(s.asInstanceOf[Double], id, cmp)
              }
            }
            i += 1
          }
        }
      }
    }
    heaps
  }
}

object VectorSearch {

  /**
   * The search as a DataFrame: collects `queries` (id, vector) into a
   * local relation and wraps one [[VectorSearch]] node over it, `codes`
   * (id, cell[, codes]) and `corpus` (id, vector) plus the optional
   * `delta` rows the index does not cover. `pruneCells` filters `codes`
   * to the probed cells by a literal `cell IN (…)`, which a parquet scan
   * turns into row-group pruning; an in-memory encoding would evaluate
   * its cell kernel twice under it, so it is for persisted codes only.
   */
  private[graft] def plan(queries: DataFrame, codes: DataFrame,
      corpus: DataFrame, delta: Option[DataFrame],
      model: Similarity.VectorIndexModel, k: Int, nprobe: Int, depth: Int,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      pruneCells: Boolean): DataFrame = {
    require(delta.isEmpty || model.codebooks.isEmpty || depth > 0,
      "rows outside the index are exact-scored, so they need an exact re-rank")
    val spark = codes.sparkSession
    org.apache.spark.sql.graft.GraftPlanner.install(spark)
    val batchDf = queries.select(col(queryId), col(queryVec))
    val batch = LocalRelation(DataTypeUtils.toAttributes(batchDf.schema),
      batchDf.queryExecution.optimizedPlan match {
        // a local batch is read off its plan; any other batch costs a job
        case local: LocalRelation => local.data
        case _ => LocalRelation.fromExternalRows(batchDf.queryExecution.analyzed.output,
          batchDf.collect().toSeq).data
      })
    val params = VectorSearchParams(model, k, nprobe, depth, batch.data.size)
    // the children are built as plain logical nodes and analyzed once,
    // with the node. Each projection aliases its columns afresh: `codes`
    // and `corpus` may read the same relation, and attributes shared
    // across children would make the node's references ambiguous once
    // analysis renews one side.
    val resolver = spark.sessionState.conf.resolver
    def column(plan: LogicalPlan, c: String): Expression = plan.resolve(Seq(c), resolver)
      .getOrElse(throw new IllegalArgumentException(s"no column $c in ${plan.output}"))
    def project(plan: LogicalPlan, cols: Seq[String], extra: Seq[NamedExpression] = Nil) =
      Project(cols.map(c => Alias(column(plan, c), c)()) ++ extra, plan)
    val codesIn = codes.queryExecution.analyzed
    val probed =
      if (!pruneCells) codesIn
      else {
        val probe = TopCosineCells(BoundReference(0, batch.output(1).dataType,
          nullable = true), model.centroids.flatten.toArray, model.nCells, nprobe)
        val cells = batch.data.flatMap(r =>
          probe.cellsOf(if (r.isNullAt(1)) null else r.getArray(1))).distinct.sorted
        // a batch probing most cells would prune nothing, and a long
        // IN list costs planning time
        if (cells.length * 2 >= model.nCells) codesIn
        else Filter(In(column(codesIn, "cell"), cells.map(Literal(_))), codesIn)
      }
    val codesPlan = project(probed,
      Seq(corpusId, "cell") ++ (if (params.pq) Seq("codes") else Nil))
    def flagged(df: DataFrame, isDelta: Boolean) = project(df.queryExecution.analyzed,
      Seq(corpusId, corpusVec), Seq(Alias(Literal(isDelta), "__delta")()))
    val corpusPlan = delta.foldLeft[LogicalPlan](flagged(corpus, isDelta = false))(
      (c, d) => Union(c, flagged(d, isDelta = true)))
    val Seq(qId, qVec) = batch.output
    val cOut = codesPlan.output
    val Seq(rId, rVec, rDelta) = corpusPlan.output
    val output = Seq(
      AttributeReference(queryId, qId.dataType, qId.nullable)(),
      AttributeReference(corpusId, cOut.head.dataType, cOut.head.nullable)(),
      AttributeReference("score", DoubleType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)())
    ColumnBridge.ofRows(spark, VectorSearch(batch, codesPlan, corpusPlan,
      qId, qVec, cOut(0), cOut(1), cOut.lift(2), rId, rVec, rDelta, params, output))
  }

  private[operators] def ordinal(attrs: Seq[Attribute], a: Attribute): Int = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"$a is not among $attrs")
    i
  }

  /** The cell's probing queries (null: no query probes it). */
  private[operators] def probedBy(cells: Array[Array[Int]], r: InternalRow,
      cellOrd: Int): Array[Int] =
    if (r.isNullAt(cellOrd)) null
    else {
      val c = r.getInt(cellOrd)
      if (c >= 0 && c < cells.length) cells(c) else null
    }

  /** [[graft.functions.expressions.AdcScore]]'s sum, in its order. */
  private[operators] def adc(codes: ArrayData, lut: Array[Array[Double]]): Double = {
    val m = math.min(codes.numElements(), lut.length)
    var sum = 0.0
    var mi = 0
    while (mi < m) {
      sum += lut(mi)(codes.getInt(mi))
      mi += 1
    }
    sum
  }

  /** The per-query heaps of all partitions, merged by id. */
  private[operators] def mergeHeaps(parts: Array[Array[ScoreTopK.Buf]], nQ: Int,
      size: Int, idType: DataType): Array[ScoreTopK.Buf] = {
    val cmp = ScoreTopK.idComparator(idType)
    val out = Array.fill(nQ)(new ScoreTopK.Buf(size))
    for (heaps <- parts; q <- out.indices if heaps(q) != null; i <- 0 until heaps(q).n)
      out(q).insertDistinct(heaps(q).scores(i), heaps(q).ids(i), cmp)
    out
  }
}

/** Plans [[VectorSearch]], absorbing a projection of its columns so a
  * `select` over the search still collects without a further job. */
object VectorSearchStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(list, v: VectorSearch) if list.forall(_.isInstanceOf[Attribute]) =>
      exec(v, list.map(_.asInstanceOf[Attribute])) :: Nil
    case v: VectorSearch => exec(v, v.output) :: Nil
    case _ => Nil
  }

  private def exec(v: VectorSearch, output: Seq[Attribute]): SparkPlan =
    VectorSearchExec(planLater(v.batch), planLater(v.codes), planLater(v.corpus),
      v.queryId, v.queryVec, v.codeId, v.codeCell, v.codeCodes, v.corpusId,
      v.corpusVec, v.corpusDelta, v.params, v.output, output)
}
