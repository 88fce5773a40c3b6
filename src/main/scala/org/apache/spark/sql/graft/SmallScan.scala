package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command, Filter, Join, LeafNode, LocalRelation, LogicalPlan, Project, RebalancePartitions, Repartition, RepartitionOperation, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/**
 * Plans a small graft scan under a shuffling query as one task.
 *
 * On a small lake most of a grouped or sorted query's time goes to
 * Spark's fixed cost per exchange (one job per query stage, plus range
 * sampling for a global sort), not to reading. When every leaf of the
 * plan is a graft scan (or a local relation) and together they are
 * small after pruning, this rule puts `Repartition(1, shuffle = false)`
 * over each scan with its filters and projections. The resulting
 * `CoalesceExec(1)` reports `SinglePartition`, which satisfies every
 * distribution an aggregate, sort, window or join requires, so
 * `EnsureRequirements` inserts no exchange and the query runs as one job.
 *
 * It fires only when the plan needs an exchange (an aggregate, a global
 * sort, a window or a join): a filter-only plan has none to save and
 * would only lose its parallel read. It leaves alone plans that write
 * (commands), plans that choose their own partitioning (repartition,
 * rebalance), vector searches, streaming plans, and scans that report
 * key-grouped partitioning for a storage-partitioned join. A write
 * through [[_root_.graft.table.TableWriter]] plans its input with the
 * rule off ([[disabled]]), so its tasks, and the files they write,
 * stay as they were.
 *
 * The size of a scan is its pruned file list's bytes and exact rows
 * from commit metadata: the V2 scan's [[SnapshotScan.prunedSize]], or a
 * listing of a table-API relation under its filters. The rule runs in
 * the "User Provided Optimizers" batch, after V2 pushdown has built the
 * scans (see [[GraftPlanner.install]]).
 */
object SmallScan extends Rule[LogicalPlan] with PredicateHelper {

  /** A plan is small when its scans hold at most `MaxRows` rows in at
    * most `MaxBytes` bytes. Both come from a size sweep on a 4-vCPU VM
    * (`local[4]`, AQE on): the `lake_queries` table (30 dates, ~49
    * bytes a row) at 30k to 500k rows, each of its risk, hourly and
    * version templates run 15 times with and without a forced
    * coalesce, interleaved. The risk query (the heaviest aggregate, a
    * full scan) still won at 60k rows (209 vs 228 ms through
    * `spark.sql`; 2.95 MB, which `MaxBytes` rounds up to 3 MiB), lost
    * at 80k (258 vs 241 ms) and took half again as long at 250k (537
    * vs 358 ms); the lighter aggregates won further out (version up to
    * 125k scanned rows, hourly at every size swept). The bound is the
    * largest size at which no template lost. The keyed merge and the
    * copy-on-write rewrites of [[_root_.graft.table.TxTable]] use the
    * same bound to dedup a batch and write a rewrite in one task. */
  val MaxRows: Long = 60000L
  val MaxBytes: Long = 3L << 20

  def isSmall(bytes: Long, rows: Long): Boolean =
    bytes <= MaxBytes && rows <= MaxRows

  // a plain ThreadLocal: a pool thread started inside `disabled` must
  // not inherit the switch for good
  private val off = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Runs `body` with this rule off on the calling thread: plans
    * optimized inside keep their scans' partitioning. */
  def disabled[T](body: => T): T = {
    val was = off.get
    off.set(true)
    try body finally off.set(was)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (off.get || !plan.exists(isGraftLeaf) || plan.isStreaming ||
        !plan.exists(needsExchange) || plan.exists(keepsLayout)) plan
    else {
      val sizes = plan.collectLeaves().map(sizeOf(plan, _))
      if (sizes.exists(_.isEmpty)) plan
      else {
        val bytes = sizes.map(_.get._1).sum
        val rows = sizes.map(_.get._2).sum
        if (isSmall(bytes, rows)) coalesceScans(plan) else plan
      }
    }

  private def needsExchange(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Window | _: Join => true
    case s: Sort => s.global
    case _ => false
  }

  private def keepsLayout(p: LogicalPlan): Boolean = p match {
    case Repartition(1, false, child) => !isScan(child)
    case _: Command | _: RepartitionOperation | _: RebalancePartitions |
        _: _root_.graft.operators.VectorSearch => true
    case _ => false
  }

  private def isGraftLeaf(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2ScanRelation => r.scan.isInstanceOf[SnapshotScan]
    case l: LogicalRelation => snapshotIndex(l).isDefined
    case _ => false
  }

  private def snapshotIndex(l: LogicalRelation): Option[SnapshotFileIndex] =
    l.relation match {
      case h: HadoopFsRelation => h.location match {
        case i: SnapshotFileIndex => Some(i)
        case _ => None
      }
      case _ => None
    }

  /** A leaf with the projections and filters directly above it. */
  private def isScan(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => isScan(c)
    case Filter(_, c) => isScan(c)
    case l: LeafNode => isGraftLeaf(l)
    case _ => false
  }

  /** The conjuncts of the filters between `leaf` and the nearest
    * operator above it that is not a projection or a filter. */
  private def filtersAbove(plan: LogicalPlan, leaf: LogicalPlan): Seq[Expression] = {
    def walk(p: LogicalPlan): Option[Seq[Expression]] = p match {
      case _ if p eq leaf => Some(Nil)
      case Project(_, c) => walk(c)
      case Filter(cond, c) => walk(c).map(splitConjunctivePredicates(cond) ++ _)
      case _ => None
    }
    plan.collectFirst(Function.unlift(walk)).getOrElse(Nil)
  }

  /** (bytes, rows) a leaf reads, or None when it is no small-scan
    * candidate. */
  private def sizeOf(plan: LogicalPlan, leaf: LogicalPlan): Option[(Long, Long)] =
    leaf match {
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: SnapshotScan if r.keyGroupedPartitioning.isEmpty =>
          val (bytes, rows) = s.prunedSize
          rows.map(bytes -> _)
        case _ => None
      }
      case l: LogicalRelation => snapshotIndex(l).flatMap { index =>
        val resolver = conf.resolver
        val partCols = l.output.filter(a =>
          index.partitionSchema.fieldNames.exists(resolver(_, a.name)))
        val usable = filtersAbove(plan, l).filter(f => f.deterministic &&
          !SubqueryExpression.hasSubquery(f) && f.references.subsetOf(l.outputSet))
        val (partFilters, dataFilters) = usable.partition(f =>
          f.references.nonEmpty && f.references.forall(a => partCols.exists(_.semanticEquals(a))))
        val (bytes, rows) = index.listedSize(partFilters, dataFilters)
        rows.map(bytes -> _)
      }
      case l: LocalRelation => Some((l.stats.sizeInBytes.toLong, l.data.size.toLong))
      case _ => None
    }

  private def coalesceScans(p: LogicalPlan): LogicalPlan = p match {
    case r @ Repartition(1, false, c) if isScan(c) => r
    case _ if isScan(p) => Repartition(1, shuffle = false, p)
    case _ => p.withNewChildren(p.children.map(coalesceScans))
  }
}

/** Graft's additions to a session's planner. */
object GraftPlanner {

  /** Adds the [[_root_.graft.operators.VectorSearchStrategy]] strategy
    * and the [[SmallScan]] rule to `spark`, each once. Sessions cloned
    * from `spark` afterwards inherit both. The rule goes in
    * `extraOptimizations` because Spark runs that batch after scan
    * pushdown; the extension hooks for optimizer rules run before it. */
  def install(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      val strategy = _root_.graft.operators.VectorSearchStrategy
      if (!methods.extraStrategies.contains(strategy))
        methods.extraStrategies = strategy +: methods.extraStrategies
      if (!methods.extraOptimizations.contains(SmallScan))
        methods.extraOptimizations = methods.extraOptimizations :+ SmallScan
    }
  }
}
