package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Plan-shape assertions (SURVEY §4): at 100 TB the *plan* is the
 * product — these tests pin the properties that keep the engine
 * scan-bound instead of shuffle-bound:
 *  - filters and projections reach the parquet scan (PushedFilters /
 *    ReadSchema);
 *  - small dimensions broadcast instead of shuffling the fact table;
 *  - narrow transforms stay inside whole-stage codegen.
 */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    import org.apache.spark.sql.execution.debug._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter + projection push down to the parquet scan") {
    val df = Td.lineitem(spark, sf0001)
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = formatted(df)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("LessThan(l_orderkey,100)"), plan)
    // column pruning: scan schema carries only the two needed columns
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("star join broadcasts the dimension tables") {
    val df = SparkEntryHelpers.joinStar(spark, sf0001)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the fact-fact join (lineitem x orders) is NOT broadcast both ways:
    // exactly the two dims (customer, nation) broadcast
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2, plan)
  }

  test("partition pruning on date predicate (flagship filter folds to literal)") {
    val df = Td.orders(spark, sf0001)
      .filter(col("o_orderdate") >= expr("DATE '1998-08-01' - INTERVAL '400' DAY"))
    val plan = formatted(df)
    // Catalyst constant-folds the interval arithmetic into a literal
    // pushed filter — no per-row date math at scan time
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("ingest transforms fuse into whole-stage codegen") {
    val txns = graft.ingest.SampleData.transactions(spark, 10)
    // "*(n)" prefixes mark whole-stage-codegen'd operators in toString
    val plan = planOf(txns)
    assert(plan.contains("*(1)"), plan)
  }

  test("semDedup pairs only within cells — equi-join, never a cross product") {
    import spark.implicits._
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = planOf(graft.operators.Dedup.semDedup(vecs, nClusters = 4,
      threshold = 0.9))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the pair join KEYS on the cell column: scope the check to the
    // join operator's own line, not any projection of `cell`
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(_.contains("cell")), plan)
  }

  test("dsirScore broadcasts the fixed-size bucket model, text never joins") {
    import spark.implicits._
    val docs = (0L until 30L).map(i => (i, s"tok$i word${i % 5} common"))
      .toDF("doc_id", "text")
    val plan = planOf(graft.operators.Curation.dsirScore(
      docs, docs.filter(col("doc_id") % 2 === 0)))
    // the per-bucket log-ratio table arrives by broadcast — scoring is
    // a narrow map + per-doc aggregate, no shuffle carries text
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("LWW batch dedup aggregates with map-side combine, not a window sort") {
    import spark.implicits._
    // the merge's dedup shape (TxTable.stageMerge): groupBy + max_by
    // over a struct ordering. The plan must show PARTIAL aggregation
    // before the exchange (hot CDC keys combine map-side) and no
    // WindowExec (the old row_number path sorted every partition)
    val batch = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "v")
    val deduped = batch.groupBy(col("k"))
      .agg(max_by(struct(col("ts"), col("v")), struct(col("ts"))).as("__w"))
      .select(col("k"), col("__w.ts"), col("__w.v"))
    val plan = planOf(deduped)
    assert(!plan.contains("Window"), plan)
    assert("partial_max_by|partial max_by|Partial".r.findFirstIn(plan).isDefined, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan)
  }

  test("as-of join plans exactly one shuffle (union-sort, not a quadratic join)") {
    import spark.implicits._
    val left = Seq((1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 50L, "x")).toDF("k", "rt", "v")
    val plan = planOf(graft.operators.AsOfJoin.asofJoin(
      left, right, Seq("k"), "t", "rt", Seq("v")))
    // one hash-partition exchange on the key; no Join operator at all
    assert("ShuffleExchange|Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ivf: no shuffle exchange ever carries an embedding array") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    // iters = 1 exercises the Lloyd-update stage too, not just search
    val df = graft.operators.Similarity.ivfTopK(emb, queries, k = 5, dim = 64,
      nCells = 4, nprobe = 2, iters = 1)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    // vectors only ever move via broadcast (probes) or stay in the scan;
    // every shuffled row is (id, cell/score) — scalars
    shuffles.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"embedding array shuffled: ${e.output.map(_.name)}")
    }
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[graft.operators.VectorSearchExec]), planOf(df))
  }

  test("ivf-pq: shuffles carry codes and scores, never full vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val df = graft.operators.Similarity.ivfPqTopK(emb, queries, k = 5,
      dim = 64, nCells = 4, nprobe = 2, m = 8, kCodes = 8)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    // the only array allowed through an exchange is the m-int CODES
    // array — a 64-double embedding crossing a shuffle would defeat
    // the compression
    shuffles.foreach { e =>
      e.output.foreach { a =>
        a.dataType match {
          case ArrayType(DoubleType, _) =>
            fail(s"double-array (vector) shuffled: ${a.name}")
          case _ =>
        }
      }
    }
  }

  test("pq: ADC scoring materializes no reconstruction column") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    val df = graft.operators.Similarity.pqTopK(emb, queries, k = 5,
      dim = 64, m = 8, kCodes = 8)
    val plan = df.queryExecution.executedPlan.toString
    // scoring is m lookups into the per-query LUT — a reconstructed
    // vector in the plan means we regressed to dim multiplies per pair
    assert(!plan.contains("__recon"), "reconstruction column in scored plan")
    // the LUT rides the query broadcast; no shuffle may carry vectors
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.foreach { e =>
      e.output.foreach { a =>
        a.dataType match {
          case ArrayType(DoubleType, _) =>
            fail(s"double-array shuffled: ${a.name}")
          case _ =>
        }
      }
    }
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[graft.operators.VectorSearchExec]), plan)
  }

  test("lsh: probes broadcast even without the auto-threshold") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val df = graft.operators.Similarity.lshTopK(emb, queries, k = 5,
        dim = 64, nBits = 8)
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"),
        "probe set must broadcast — a shuffled bucket join moves the corpus")
      // and the bucketed corpus never crosses an exchange with vectors
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        assert(!(e.output.exists(_.name == "bucket") &&
          e.output.exists(_.dataType.isInstanceOf[ArrayType])),
          s"bucketed corpus shuffled: ${e.output.map(_.name)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bloom prefilter probes inside codegen, not via a UDF") {
    val docs = Td.documents(spark, sf0001).limit(200)
    val bench = Td.documents(spark, sf0001).limit(20)
      .select(col("doc_id"), col("text"))
    val df = graft.operators.Curation.decontaminateBloom(docs, bench, n = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "prefilter should be Spark's native BloomFilterMightContain")
    assert(!plan.contains("UDF") && !plan.contains("BatchEvalPython"),
      "bloom probe must not be a UDF")
  }

  test("chunking is a narrow map + generate: no shuffle at all") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Td.documents(spark, sf0001)
    val df = graft.operators.Curation.chunkDocuments(docs, 64, 16)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"chunking should be embarrassingly parallel, found ${shuffles.size} exchanges")
  }

  test("registry integrity: every query has an oracle and a unique name") {
    val qs = graft.SparkEntry.queries
    val os = graft.SparkEntry.oracleSql
    assert(qs.size === graft.SparkEntry.registry.size) // no name collisions
    // the correctness gate is the product: every single operator query
    // must be DuckDB-checkable
    val missing = qs.keySet -- os.keySet
    assert(missing.isEmpty, s"queries without oracles: $missing")
  }

  test("embedding near-dup: the LSH candidate join shuffles ids only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val df = graft.operators.Dedup.embeddingNearDup(emb, dim = 64,
      threshold = 0.4, nBits = 8, nTables = 8)
    val shuffles = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    // a bucket-keyed shuffle carrying vectors = the r2 quadratic-payload
    // bug; vectors may only shuffle in the post-distinct fetch joins
    val bad = shuffles.filter(e => e.output.exists(_.name == "bucket") &&
      e.output.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(bad.isEmpty, bad.map(_.output.map(_.name)).toString)
  }

  test("weighted sample plans a TakeOrdered, not a global sort") {
    val docs = Td.documents(spark, sf0001)
    val sampled = graft.operators.Curation.weightedSample(docs,
      col("doc_id"), greatest(length(col("text")), lit(1)).cast("double"), k = 25)
    val plan = planOf(sampled)
    // per-partition top-k merged on the driver: O(k) memory, no
    // corpus-wide exchange-and-sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("aggregation plans partial (map-side) before the exchange") {
    val df = Td.lineitem(spark, sf0001)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    val plan = planOf(df)
    // two HashAggregate levels around one shuffle = map-side combine
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange"), plan)
  }

  test("vector kernels never drop out of whole-stage codegen (janino-cliff guard)") {
    // r10's headline fix: a composed LSH expression tree silently blew
    // janino's method limits and the WHOLE fused join stage fell back
    // to interpreted eval — a 14× slowdown with zero errors. This pin
    // makes the failure mode LOUD: every executed stage that evaluates
    // one of the native vector kernels must sit inside a
    // WholeStageCodegenExec span. If a future change regrows a
    // composed tree (or a kernel's doGenCode breaks and Spark falls
    // back), this test fails instead of the sf1 bench quietly 10×-ing.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import graft.functions.expressions._
    val fns = graft.SparkEntry.queries
    Seq("dedup_embedding_cosine", "dedup_semantic", "ann_ivfpq").foreach { name =>
      val df = fns(name)(spark, sf0001)
      // collect() executes THIS dataset's queryExecution (count() would
      // build a different one and leave this AQE plan un-finalized,
      // with no codegen wrapping to inspect)
      df.collect()
      def hasKernel(p: SparkPlan): Boolean = p.expressions.exists(_.exists {
        case _: SignLshBuckets | _: ArgMaxCosineCell | _: PqCodes |
            _: AdcScore => true
        case _ => false
      })
      var kernelStages = 0
      def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, false)
        case q: QueryStageExec        => walk(q.plan, false)
        case w: WholeStageCodegenExec => w.children.foreach(walk(_, true))
        case i: InputAdapter          => i.children.foreach(walk(_, false))
        case s: InMemoryTableScanExec =>
          // kernels inside a cached intermediate (semDedup's assigned
          // frame) evaluate when the cache builds — pin that plan too
          walk(s.relation.cachedPlan, false)
        case s: FileSourceScanExec if hasKernel(s) =>
          // a join-inferred isnotnull(kernel(...)) lands in the scan's
          // dataFilters LISTING but is not pushable to parquet (and so
          // not evaluated by the scan) — the real evaluation is the
          // FilterExec above, which the walk pins; just make sure the
          // scan didn't somehow claim it as a PUSHED filter
          assert(s.metadata.get("PushedFilters").forall(!_.contains("argmax")),
            s"$name: kernel filter pushed into the parquet reader:\n$s")
        case other =>
          if (hasKernel(other)) {
            kernelStages += 1
            assert(inCodegen,
              s"$name: kernel stage ${other.nodeName} is OUTSIDE " +
                s"whole-stage codegen:\n$other")
          }
          other.children.foreach(walk(_, inCodegen))
      }
      walk(df.queryExecution.executedPlan, inCodegen = false)
      assert(kernelStages > 0,
        s"$name: no kernel-bearing stage found — the pin went stale")
    }
  }
}

/** test-only access to query internals */
object SparkEntryHelpers {
  def joinStar(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.SparkEntry.queries("join_star_revenue")(spark, dir)
}
