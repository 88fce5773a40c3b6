package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),       // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"),     // near dup of 0
    (3L, "completely different content about spark engines"),
    (4L, "")
  ).toDF("doc_id", "text")

  /** The portable id hash the quantizers' hash-min samples order by. */
  private def md5h(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** The argmax-cosine cell of `v`, ties to the lowest cell. */
  private def cellOf(v: Array[Double], cents: Seq[Array[Double]]): Int =
    -cents.zipWithIndex.map { case (c, i) => (cos(v, c), -i) }.max._2

  test("exact dedup groups identical documents") {
    val d = Dedup.exact(docs)
    assert(d.filter(col("n_dups") === 2).count() === 1)
    val drops = Dedup.exactDropIds(docs).as[Long].collect().toSet
    assert(drops === Set(1L))
  }

  test("incremental dedup: keep-first within batch, anti-join the store") {
    // pins the r19-opt min_by rewrite against the former keep-first
    // window: smallest id per fingerprint survives, anything whose
    // fingerprint is already in the store is dropped, and the returned
    // frame keeps the batch's columns with `fingerprint` appended
    val store = Dedup.exact(docs.filter(col("doc_id") === 3))
      .select(col("fingerprint"))
    val batch = docs.filter(col("doc_id") =!= 3)
    val out = Dedup.exactIncremental(batch, store)
    // the using-join leads with the join column, same as the pre-r19
    // window form (both shapes end in the identical anti-join)
    assert(out.columns.toSeq === Seq("fingerprint", "doc_id", "text"))
    // docs 0/1 are exact dups → min id 0 survives; 2 and 4 are unique
    // within the batch; nothing matches the store (doc 3's content)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(0L, 2L, 4L))
    // a batch whose fingerprints are all in the store yields nothing
    val storeAll = Dedup.exact(docs).select(col("fingerprint"))
    assert(Dedup.exactIncremental(batch, storeAll).count() === 0)
  }

  test("minhash-lsh finds near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.4, numHashes = 16,
      rowsPerBand = 2, shingleLen = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))     // exact dup always survives
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs collide, near dups within hamming bound") {
    val sigs = docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) === sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 16)
  }

  test("ngram jaccard candidate pairs include the near dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.3, shingleLen = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
  }

  test("native hashed shingles match the composed string-shingle sets") {
    // same tokenizer + same distinct-set semantics: per doc, the native
    // array<long> must be exactly as large as the string shingle set
    // (64-bit collisions within a doc are ~impossible at these sizes)
    val rows = docs.select(
      size(TextFunctions.shingles(col("text"), 3)).as("n_str"),
      coalesce(size(graft.functions.expressions.TextHashBuilders
        .hashedShingles(col("text"), 3)), lit(0)).as("n_hash")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), r.toString))
  }

  test("embedding near-dup: multi-table LSH finds planted duplicate") {
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (1L, Array.tabulate(8)(i => (i + 1).toFloat + 0.01f)), // near dup of 0
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs, dim = 8, threshold = 0.99,
      nBits = 2, nTables = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("semDedup drops exactly the later near-dups within a cluster") {
    // 0/1/2 mutually near (cosine ≈ 1): keep 0, drop 1 and 2 (both
    // dup_of 0). 3 is orthogonal-ish: kept. With nClusters = 1 the
    // cluster step cannot split pairs, so the drop rule is isolated.
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (1L, Array.tabulate(8)(i => (i + 1).toFloat + 0.01f)),
      (2L, Array.tabulate(8)(i => (i + 1).toFloat * 2f)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f)))
      .toDF("vec_id", "embedding")
    val drops = Dedup.semDedup(vecs, nClusters = 1, threshold = 0.99)
      .select("vec_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(drops === Set((1L, 0L), (2L, 0L)))
    // in a mutual near-dup clique the keeper is the one surviving
    // member (transitive chains may name a dropped doc as dup_of —
    // the paper's rule drops on ANY smaller-id neighbor)
    val dropped = drops.map(_._1)
    assert(drops.map(_._2).intersect(dropped).isEmpty)
    // a higher cluster count can only LOWER recall (cross-cell pairs
    // survive), never invent drops
    val drops16 = Dedup.semDedup(vecs, nClusters = 4, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(drops16.subsetOf(dropped))
  }

  test("cosine and dot products compute correctly") {
    val df = Seq((Array(1.0f, 0.0f, 1.0f), Array(1.0f, 0.0f, 1.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
    val out = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos")).collect()
    assert(out(0).getDouble(0) === 2.0)
    assert(math.abs(out(0).getDouble(1) - 1.0) < 1e-12)
    assert(out(1).getDouble(0) === 0.0)
    assert(out(1).getDouble(1) === 0.0)
  }

  test("brute-force top-k: self is always rank 1 with score 1") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val top = Similarity.bruteForceTopK(emb, queries, k = 5)
    val r1 = top.filter(col("rank") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(r1.forall { case (q, v) => q == v })
    assert(top.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
  }

  test("lsh top-k recalls most of brute-force top-k") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, k = 5, dim = 64, nBits = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // self-match always lands in its own bucket
    assert(queries.select("query_id").as[Long].collect()
      .forall(q => approx.contains((q, q))))
    // i.i.d.-random embeddings are LSH's worst case; recall bound is loose
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("ann recall floors: ivf / lsh / ivf-pq at the oracle-query configs") {
    // Pins minimum recall@10 vs brute force at EXACTLY the configs the
    // oracle-checked ann_* queries run, so future speed tuning cannot
    // silently trade recall away. Floors sit just under the measured
    // values on the i.i.d.-random test embeddings (ANN's worst case —
    // real embedding corpora cluster, which only raises recall).
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val approx = df.select("query_id", "vec_id").as[(Long, Long)]
        .collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val ivf = recallOf(Similarity.ivfTopK(emb, queries, k = 10, dim = 64,
      nCells = 16, nprobe = 4, iters = 0))
    val lsh = recallOf(Similarity.lshTopK(emb, queries, k = 10, dim = 64,
      nBits = 8))
    val ivfpq = recallOf(Similarity.ivfPqTopK(emb, queries, k = 10, dim = 64,
      nCells = 16, nprobe = 4, m = 8, kCodes = 16))
    val ivfFull = recallOf(Similarity.ivfTopK(emb, queries, k = 10, dim = 64,
      nCells = 16, nprobe = 14, iters = 0))
    val lshDeep = recallOf(Similarity.lshTopK(emb, queries, k = 10, dim = 64,
      nBits = 8, probeDepth = 5))
    info(s"recall@10: ivf=$ivf lsh=$lsh ivfpq=$ivfpq " +
      s"ivf(nprobe=14)=$ivfFull lsh(depth=5)=$lshDeep")
    // regression floors at the oracle configs (measured: 0.55 / 0.19 /
    // 0.25 — on random data recall is bounded by the probe ratio:
    // ivf scans 4/16 cells, lsh 9/256 buckets; a future change dropping
    // below these floors has broken candidate generation, not "tuned")
    assert(ivf >= 0.5, s"ivf recall@10 = $ivf")
    assert(lsh >= 0.15, s"lsh recall@10 = $lsh")
    assert(ivfpq >= 0.2, s"ivf-pq recall@10 = $ivfpq")
    // the recall/cost knob must reach >= 0.9: more probes -> more recall
    assert(ivfFull >= 0.9, s"ivf nprobe=14 recall@10 = $ivfFull")
    assert(lshDeep >= 0.9, s"lsh probeDepth=5 recall@10 = $lshDeep")
    // and the tradeoff is monotone in the right direction
    assert(ivfFull > ivf && lshDeep > lsh)
  }

  test("ivf-pq DEFAULT path delivers the recall contract (>= 0.9)") {
    // r12 VERDICT task 1: `nprobe <= 0` now means the MEASURED
    // operating point — the index trains, encodes once, calibrates to
    // recall@k >= 0.9 on a held-out sample, and searches there. The
    // √nCells heuristic it replaced measured ~0.33 on this i.i.d.
    // corpus; a user calling the defaults must get the contract.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 5 === 2).limit(8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfPqTopK(emb, queries, k = 10, dim = 64,
        rerankTo = 300)           // everything else: shipped defaults
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"default-path recall@10 = $recall")
    assert(recall >= 0.9, s"shipped-default recall@10 = $recall")
    // plain IVF defaults calibrate too
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, dim = 64)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    info(s"ivf default-path recall@10 = $ivfRecall")
    assert(ivfRecall >= 0.9, s"ivf shipped-default recall@10 = $ivfRecall")
  }

  test("calibration takes the first doubling probe count that meets the target, else nCells") {
    // the counts the DataFrame calibration sweep chose on these corpora
    // before calibration became a loop of searches
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    try {
      def calibrated(model: Similarity.VectorIndexModel, target: Double): Int =
        Similarity.calibrateIndexed(Similarity.encodeIvfPq(emb, model), emb, model,
          k = 10, recallTarget = target)
      // 32 cells try 6, 12 and 24 probes: 6 and 12 miss 0.9, 24 meets
      // it, and ⌈24 × 1.25⌉ = 30
      assert(calibrated(Similarity.trainIvfModel(emb, dim = 64, nCells = 32,
        iters = 0), 0.9) === 30)
      // 16 cells try 4 and 8: with a 40-deep ADC shortlist over 16
      // codes neither meets 0.99, so the count falls back to
      // min(16, 8 × 2) = 16
      assert(calibrated(Similarity.trainIvfPqModel(emb, dim = 64, nCells = 16,
        m = 8, kCodes = 16, iters = 0, rerankTo = 40), 0.99) === 16)
    } finally emb.unpersist()
  }

  test("calibrateProbes finds a probe count meeting the recall target") {
    // measurement-driven probe selection: a recall SLO instead of the
    // √nCells speed heuristic — the calibrated count must actually
    // DELIVER the target on a fresh (disjoint) query set
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val np = Similarity.calibrateProbes(emb, dim = 64, k = 10,
      recallTarget = 0.9, sampleQueries = 16, nCells = 16)
    assert(np >= 2 && np <= 16, s"calibrated nprobe $np out of range")
    val queries = emb.filter(col("vec_id") % 7 === 3).limit(8)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // evaluate at the SAME index configuration calibration measured
    // (trained, re-ranked) — the returned count is only meaningful for it
    val approx = Similarity.ivfPqTopK(emb, queries, k = 10, dim = 64,
        nCells = 16, nprobe = np, rerankTo = 300)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"calibrated nprobe=$np recall@10=$recall")
    // held-out queries differ from the calibration sample — allow the
    // sampling gap, but the calibrated point must sit FAR above the
    // derived point's measured ~0.33 on this data
    assert(recall >= 0.8, s"calibrated recall@10 = $recall at nprobe=$np")
  }

  test("bm25: full matches outrank partial, rare terms outweigh common") {
    val corpus = Seq(
      (0L, "spark window agg spark window agg"),   // all 3 terms, twice
      (1L, "spark window table table table"),      // 2 of 3
      (2L, "spark table table table table"),       // 1 of 3
      (3L, "table row column value key"),          // 0 of 3
      (4L, "agg agg agg agg agg")                  // rare term, high tf
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(corpus,
      Seq(0L -> "spark window agg"), k = 5).collect()
    val ranked = out.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    // doc 3 shares no terms: absent entirely
    assert(!ranked.contains(3L) && out.length === 4)
    // the full match wins; the 2-term match beats the 1-term match
    assert(ranked.head === 0L)
    assert(ranked.indexOf(1L) < ranked.indexOf(2L))
    // scores strictly ordered with rank, all positive
    val scores = out.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
    assert(scores === scores.sorted.reverse && scores.forall(_ > 0))
  }

  test("salted join matches plain join results on skewed data") {
    // 90% of rows share one hot key
    val skewed = spark.range(2000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    val plain = skewed.join(dim, "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    val salted = SkewJoin.saltedJoin(skewed, dim, "k", salt = 8)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").collect().toSeq
    assert(salted === plain)
  }

  test("kmv sketch: exact below k, within 15% above k, mergeable across partitions") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet").repartition(8)
    val row = li.agg(
      graft.functions.VectorFunctions.kmvDistinct(col("l_partkey"), k = 256).as("kmv"),
      countDistinct(col("l_partkey")).as("exact")).collect()(0)
    val (kmv, exact) = (row.getLong(0), row.getLong(1))
    if (exact <= 256) assert(kmv === exact)
    else assert(math.abs(kmv - exact).toDouble / exact < 0.15, s"kmv=$kmv exact=$exact")
    // small-cardinality exactness
    val small = li.filter(col("l_partkey") < 20).agg(
      graft.functions.VectorFunctions.kmvDistinct(col("l_partkey")).as("kmv"),
      countDistinct(col("l_partkey")).as("exact")).collect()(0)
    assert(small.getLong(0) === small.getLong(1))
  }

  test("topk sketch: exact without eviction, bounded error and true top-1 under eviction") {
    import spark.implicits._
    // zipf-ish stream: item i appears ~ 4000/i times, shuffled across 8
    // partitions so map-side partials merge through the shuffle
    val rows = (1 to 40).flatMap(i => Seq.fill(4000 / i)(s"item_$i"))
    val df = rows.toDF("t").repartition(8)
    // capacity >= distinct: exact counts, zero error
    val exact = df.agg(VectorFunctions.topkSketch(col("t"), k = 5,
        capacity = 64).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count_est"), col("e.err"))
      .as[(String, Long, Long)].collect()
    assert(exact.map(_._1).toSeq === Seq("item_1", "item_2", "item_3", "item_4", "item_5"))
    assert(exact.map(_._2).toSeq === Seq(4000L, 2000L, 1333L, 1000L, 800L))
    assert(exact.forall(_._3 === 0L))
    // capacity << distinct: eviction fires; count_est must stay an upper
    // bound within err of the truth, and the clear top-1 must survive
    val approx = df.agg(VectorFunctions.topkSketch(col("t"), k = 3,
        capacity = 8).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count_est"), col("e.err"))
      .as[(String, Long, Long)].collect()
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(approx.head._1 === "item_1")
    approx.foreach { case (item, est, err) =>
      val t = truth.getOrElse(item, 0L)
      assert(est >= t, s"$item est=$est true=$t")
      assert(est - err <= t, s"$item est=$est err=$err true=$t")
    }
  }

  test("pq Lloyd refinement reduces quantization error") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val e0 = Similarity.pqQuantizationError(emb, dim = 64, m = 8,
      kCodes = 16, iters = 0)
    val e2 = Similarity.pqQuantizationError(emb, dim = 64, m = 8,
      kCodes = 16, iters = 2)
    // k-means monotonically reduces within-cluster distortion; two
    // rounds over hash-min seeds must land strictly below the seeds
    assert(e2 < e0, s"iters=2 error $e2 !< iters=0 error $e0")
  }

  test("pq top-k: reconstruction search recalls a useful fraction of exact top-k") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val pq = Similarity.pqTopK(emb, queries, k = 10, dim = 64, m = 8, kCodes = 16)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      pq.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    // 16 codewords × 8 subspaces is a COARSE quantizer — demand a
    // useful signal, not perfection (exact recall is pinned by the
    // oracle-checked ann_pq query's full output equality)
    assert(mean >= 0.2, s"mean PQ recall@10 $mean")
  }

  test("ivf top-k: self found at rank 1; recall comparable to probing ratio") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, dim = 64,
      nCells = 8, nprobe = 3)
    val r1 = ivf.filter(col("rank") === 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
    assert(r1.forall { case (q, v) => q == v })
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = ivf.select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("ivf assign: broadcast-join fallback path matches the inlined-centroid path") {
    // 1500 distinct vectors: the corpus, its negation and its reversal
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val emb = base
      .unionByName(base.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
      .unionByName(base.select((col("vec_id") + 200000L).as("vec_id"),
        reverse(col("embedding")).as("embedding")))
      .cache()
    try {
      // 1100 cells × 64 dims is past the inline cap: the Lloyd round and
      // the encoding both assign through the broadcast join
      assert(1100L * 64 > Similarity.AssignInlineMaxComponents)
      val model = Similarity.trainIvfModel(emb, dim = 64, nCells = 1100, iters = 1)
      // the inlined kernel's spec, replayed on the driver: md5-ordered
      // seeds, argmax cosine with ties to the lowest cell, member means
      val rows = emb.collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      val seeds = rows.sortBy { case (id, _) => (md5h(id), id) }.take(1100).map(_._2).toSeq
      val members = rows.groupBy { case (_, v) => cellOf(v, seeds) }
      val lloyd = seeds.indices.map(c => members.get(c).fold(seeds(c)) { ms =>
        Array.tabulate(64)(p => ms.map(_._2(p)).sum / ms.length)
      })
      assert(model.centroids.size === 1100 && members.size > 1)
      model.centroids.zip(lloyd).foreach { case (got, want) =>
        got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) <= 1e-12, s"$g vs $w") }
      }
      val cents = model.centroids.map(_.toArray)
      assert(Similarity.encodeIvfPq(emb, model).as[(Long, Int)].collect().toMap ===
        rows.map { case (id, v) => id -> cellOf(v, cents) }.toMap)
    } finally emb.unpersist()
  }

  test("as-of join picks the latest earlier right row per key") {
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 90L, "x"), (1L, 150L, "y"), (2L, 60L, "z"))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("k", "t", "asof_v").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(out === Set((1L, 100L, Some("x")), (1L, 200L, Some("y")),
      (2L, 50L, None)))
  }

  test("as-of join: a matched right row with a NULL value yields NULL, not an older value") {
    val left = Seq((1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 50L, Some("old")), (1L, 90L, None: Option[String]))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .select("asof_v").as[Option[String]].collect()
    assert(out.toSeq === Seq(None)) // latest match (t=90) has v=null
  }

  test("frame sampling: sub-frame payloads yield an empty frames array") {
    val tiny = Seq((1L, "short")).toDF("doc_id", "text")
    val media = graft.multimodal.Multimodal.synthesizeImages(tiny)
    val out = graft.multimodal.Multimodal
      .sampleFrames(media, frameSize = 1024, stride = 1)
      .select("n_frames", "n_sampled").collect()(0)
    assert(out.getInt(0) === 0)
    assert(out.getInt(1) === 0)
  }

  test("ngram generator: fans out positions, empty for short/null docs") {
    import graft.functions.expressions.TextHashBuilders
    val docs = Seq((1L, Some("a b c")), (2L, Some("solo")), (3L, None))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextHashBuilders.ngramGenerate(col("text"), 2).as(Seq("pos", "ngram")))
      .as[(Long, Int, String)].collect().toSet
    assert(out === Set((1L, 0, "a b"), (1L, 1, "b c")))
    // the plan is a Generate node (distributed fan-out), not a UDF+explode
    val plan = docs.select(col("doc_id"),
      TextHashBuilders.ngramGenerate(col("text"), 2).as(Seq("pos", "ngram")))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Generate"), plan)
  }

  test("text functions: tokens, ngrams, language id, quality") {
    val t = Seq(("the cat and the dog sat in the house for a while",
      "x y z")).toDF("en", "short")
    val row = t.select(
      TextFunctions.tokenCount(col("en")).as("n"),
      TextFunctions.langId(col("en")).as("lang"),
      size(TextFunctions.shingles(col("en"), 3)).as("nsh"),
      TextFunctions.qualityScore(col("en")).as("q")).collect()(0)
    assert(row.getLong(0) === 12)
    assert(row.getString(1) === "en")
    assert(row.getInt(2) > 0)
    assert(row.getDouble(3) > 0.3)
    // empty text is safe everywhere
    val empty = Seq("").toDF("text").select(
      TextFunctions.tokenCount(col("text")),
      TextFunctions.qualityScore(col("text"))).collect()(0)
    assert(empty.getLong(0) === 0)
  }

  test("auto capacities derive from corpus size and keep population bounded") {
    // sign-LSH bits: expected bucket population n / 2^bits stays ≤ ~16
    // (up to the ceil), with the [4, 20] clamp at both ends
    assert(Dedup.autoSignBits(1) === 4)
    assert(Dedup.autoSignBits(500) === 5)         // the sf0.01 corpus
    assert(Dedup.autoSignBits(2000) === 7)        // sf0.1
    assert(Dedup.autoSignBits(20000) === 11)      // the 10x bench corpus
    assert(Dedup.autoSignBits(100000000L) === 20) // clamped
    for (n <- Seq(100L, 1000L, 50000L, 5000000L)) {
      val pop = n.toDouble / (1L << Dedup.autoSignBits(n))
      assert(pop <= 16.0 + 1e-9, s"n=$n pop=$pop")
    }
    // SemDeDup clusters: expected cluster population ~32
    assert(Dedup.autoClusters(500) === 16)        // matches the r9 oracle
    assert(Dedup.autoClusters(20000) === 625)
    assert(Dedup.autoClusters(10L * 1000 * 1000 * 1000) === 65536)
    // IVF cells: the √n rule with [16, 4096] clamps
    assert(Similarity.autoCells(500) === 23)
    assert(Similarity.autoCells(100) === 16)
    assert(Similarity.autoCells(100000000L) === 4096)
    // IVF probes: the √nCells rule with [2, 64] clamps — at the
    // oracle-checked config (16 cells) it derives the former fixed
    // default of 4, so checked outputs are unchanged
    assert(Similarity.autoProbes(16) === 4)
    assert(Similarity.autoProbes(1) === 2)
    assert(Similarity.autoProbes(625) === 25)
    assert(Similarity.autoProbes(4096) === 64)
    assert(Similarity.autoProbes(100000) === 64)
  }

  test("coarseCells: derived default and broadcast-join fallback are exact") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // nCells omitted → autoCells(500) = 23, identical to passing it
    val auto = Similarity.coarseCells(emb, "vec_id", "embedding")
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val explicit23 = Similarity.coarseCells(emb, "vec_id", "embedding", 23)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(auto === explicit23 && auto.values.toSet.size > 1)
    // 1100 cells × 64 dims = 70400 components > the inline limit → the
    // broadcast-join path engages. Replicate the exact assignment
    // driver-side (same md5 centroid order, argmax cosine, ties to the
    // lowest cell) and demand equality — the fallback must be
    // indistinguishable from the spec, not merely plausible.
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val centroids = rows.sortBy { case (id, _) => (md5h(id), id) }
      .map(_._2)   // k=1100 > n=500 → the sample is the whole corpus
    val expected = rows.map { case (id, v) =>
      val best = centroids.zipWithIndex
        .map { case (c, i) => (cos(v, c), -i) }.max
      id -> (-best._2)
    }.toMap
    val big = Similarity.coarseCells(emb, "vec_id", "embedding", 1100)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(big === expected)
  }

  test("minhash-lsh cache is dropped after the first action completes") {
    val sc = spark.sparkContext
    def shingleCacheBlocks: Int =
      sc.getRDDStorageInfo.count(i => i.numCachedPartitions > 0)
    val before = shingleCacheBlocks
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
    pairs.count()                       // first action: uses the cache
    // listener delivery is async — poll briefly
    val deadline = System.currentTimeMillis() + 10000
    var now = shingleCacheBlocks
    while (now > before && System.currentTimeMillis() < deadline) {
      Thread.sleep(100); now = shingleCacheBlocks
    }
    assert(now <= before,
      s"persisted shingle base leaked: $now cached RDDs (baseline $before)")
  }

  test("substring dedup: first occurrence survives, every later copy is cut") {
    val d = Seq(
      // doc 0 owns the shared 4-token run "alpha beta gamma delta"
      (0L, "alpha beta gamma delta tail0 x y z"),
      // doc 1 repeats it mid-document: exactly those 4 tokens go
      (1L, "pre1 alpha beta gamma delta post1 q r"),
      // doc 2 IS the run and nothing else: reduces to empty
      (2L, "alpha beta gamma delta"),
      // doc 3 shares no 4-window; stays byte-identical
      (3L, "one two three four five six"),
      // doc 4 is shorter than the window; untouched
      (4L, "tiny doc"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, minMatchTokens = 4)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) === ((0L, "alpha beta gamma delta tail0 x y z", 8L, 8L)))
    assert(out(1) === ((1L, "pre1 post1 q r", 8L, 4L)))
    assert(out(2) === ((2L, "", 4L, 0L)))
    assert(out(3) === ((3L, "one two three four five six", 6L, 6L)))
    assert(out(4) === ((4L, "tiny doc", 2L, 2L)))
    assert(out(5) === ((5L, "", 1L, 1L)))
  }

  test("null-text docs: lineDedup drops them; substringDedup coalesces to \"\"/0") {
    // the pre-fast-path contract (ADVICE r11): a null text explodes to
    // zero lines/tokens, so lineDedup's reassembly aggregate never
    // emitted the doc, and substringDedup's spine coalesced it to ""/0
    // — the untouched-doc fast path must preserve both behaviors
    val d = Seq((0L, Some("a\nb")), (1L, None), (2L, Some("a\nc")))
      .toDF("doc_id", "text")
    val ln = Dedup.lineDedup(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(ln.toSeq === Seq((0L, "a\nb"), (2L, "c")))
    val ds = Seq((0L, Some("a b")), (1L, None), (2L, Some("a c")))
      .toDF("doc_id", "text")
    val sub = Dedup.substringDedup(ds, minMatchTokens = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(sub.map(x => (x._1, x._2)).toSeq ===
      Seq((0L, "a b"), (1L, ""), (2L, "a c")))
    assert(sub(1)._3 === 0L)
  }

  test("substring dedup: overlapping duplicated windows cut the union of spans") {
    // docs 0 and 1 share a 6-token run; with k=4 the three overlapping
    // duplicated windows in doc 1 must remove the whole 6-token span,
    // not just one window's worth
    val d = Seq(
      (0L, "s1 s2 s3 s4 s5 s6 endA"),
      (1L, "lead s1 s2 s3 s4 s5 s6 endB")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, minMatchTokens = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out(0) === ((0L, "s1 s2 s3 s4 s5 s6 endA")))
    assert(out(1) === ((1L, "lead endB")))
  }

  test("substring dedup: within-document repetition loses to its own first copy") {
    val d = Seq(
      (0L, "r1 r2 r3 r4 mid r1 r2 r3 r4")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(d, minMatchTokens = 4).collect()
    assert(out(0).getString(1) === "r1 r2 r3 r4 mid")
  }

  test("substring dedup: shared boilerplate block is cut everywhere but its first host") {
    // the web-scrape shape the pass exists for (and the BENCH
    // dedup_substring_boiler stress point): ~30% of docs share a long
    // boilerplate prefix. Every k-window fully inside the block
    // duplicates across all hosts, so the block survives only in the
    // min-(doc, pos) host; the windows SPANNING block → body are
    // unique per doc (bodies differ), so each host keeps its own body
    // intact — the cut is exactly the boilerplate tokens.
    val bTok = 12
    val boiler = (1 to bTok).map(i => s"b$i").mkString(" ")
    val docs = (0L until 10L).map { i =>
      val body = (1 to 6).map(j => s"w${i}_$j").mkString(" ")
      (i, if (i % 3 == 0) s"$boiler $body" else body)
    }.toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, minMatchTokens = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.foreach { case (id, text, n, kept) =>
      val body = (1 to 6).map(j => s"w${id}_$j").mkString(" ")
      if (id == 0L) {          // first host: keeps boilerplate + body
        assert(text === s"$boiler $body" && n === bTok + 6L && kept === n)
      } else if (id % 3 == 0) { // later hosts: exactly the block is cut
        assert(text === body, s"doc $id: $text")
        assert(n === bTok + 6L && kept === 6L)
      } else {                  // no boilerplate: byte-identical
        assert(text === body && n === 6L && kept === 6L)
      }
    }
  }
}
