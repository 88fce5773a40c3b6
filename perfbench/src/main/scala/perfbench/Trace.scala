package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds; `parent` is -1 for
  * an operation's root span. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def layer: String = name.takeWhile(_ != '.')
}

object Span {

  /** Union of `intervals` as sorted, disjoint intervals. */
  def union(intervals: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (out.nonEmpty && s <= out.last._2)
          out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
        else out += ((s, e))
    }
    out.toSeq
  }

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    union(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
      .map { case (s, e) => e - s }.sum

  /** The parts of `span` that none of its children cover. */
  def selfIntervals(span: Span, children: Seq[Span]): Seq[(Long, Long)] = {
    var cur = span.startNs
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    union(children.map(c => (math.max(c.startNs, span.startNs),
        math.min(c.endNs, span.endNs)))).foreach { case (s, e) =>
      if (s > cur) out += ((cur, s))
      cur = math.max(cur, e)
    }
    if (span.endNs > cur) out += ((cur, span.endNs))
    out.toSeq
  }

  /** Self time per layer for the spans of one operation. Concurrent
    * spans of one layer (Spark jobs running side by side) count once: a
    * layer is busy while any of its spans runs outside its children. */
  def layerTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> union(ss.flatMap(s => selfIntervals(s, kids.getOrElse(s.id, Nil))))
        .map { case (a, b) => b - a }.sum
    }
  }
}

/** Counters the engine exposes, sampled around each operation. */
object EngineCounters {
  def sample(): Map[String, Long] = {
    val fs = graft.table.LagFs.snapshot.map { case (k, v) => s"fs.$k" -> v }
    fs ++ Map(
      "header_reads" -> graft.table.TxLog.rawHeaderReadCount,
      "manifest_resolutions" -> graft.table.TxLog.manifestResolutionCount,
      "dv_loads" -> graft.table.DvStore.loadCount)
  }

  def delta(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    (after.keySet ++ before.keySet).map(k =>
      k -> (after.getOrElse(k, 0L) - before.getOrElse(k, 0L))).toMap

  def sum(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
}

/** What the Spark hooks saw of one job. */
final class JobRec(val jobId: Int, val opKey: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Planning phases and scan counts of one SQL execution; `atMs` is when
  * its planning ended (epoch ms), which places it inside an operation. */
final case class PlanRec(atMs: Long, analysisMs: Double,
    optimizationMs: Double, planningMs: Double, filesRead: Long,
    bytesRead: Long)

/** One streaming trigger as its progress event reported it. */
final case class TriggerRec(batchId: Long, startMs: Long, triggerMs: Long,
    addBatchMs: Long)

/**
 * Span recorder and Spark-hook collector for a traced run. Spans are
 * kept in memory and written out once at the end. Operations tag the
 * Spark jobs they launch through the job description
 * (`perfbench-op=<id>`); streaming micro-batches are tagged by Spark
 * itself (`batch = <id>`), and the trigger's progress event becomes the
 * operation's root span.
 */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false

  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + nanoBase

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val opNames = mutable.LinkedHashMap.empty[Int, String]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val triggers = new ConcurrentHashMap[Long, TriggerRec]()
  private val tracedBatches = ConcurrentHashMap.newKeySet[Long]()

  /** Streaming batches that ran while tracing was enabled. */
  def markBatches(ids: Seq[Long]): Unit = ids.foreach(tracedBatches.add)

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Run `body` as one operation: a root span, its Spark jobs tagged. */
  def op[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    synchronized { opNames(id) = name }
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"perfbench-op=$id $name")
    try timed(name, id, -1)(body)
    finally sc.setJobDescription(prevDesc)
  }

  /** A child span of the innermost open span on this thread. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    stack.get match {
      case parent :: _ => timed(name, parent.op, parent.id)(body)
      case Nil => body
    }
  }

  private def timed[T](name: String, op: Int, parent: Int)(body: => T): T = {
    val id = if (parent < 0) op else newId()
    val open = Span(id, name, op, parent, nowNs, -1L)
    stack.set(open :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      val done = open.copy(endNs = nowNs)
      synchronized { spans += done }
    }
  }

  private val OpTag = """perfbench-op=(\d+)""".r.unanchored
  private val BatchTag = """batch = (\d+)""".r.unanchored

  private def opKeyOf(desc: String): String = desc match {
    case null => ""
    case OpTag(id) => s"op:$id"
    case BatchTag(b) => s"batch:$b"
    case _ => ""
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val desc = props.map(_.getProperty("spark.job.description")).orNull
      jobs.put(e.jobId, new JobRec(e.jobId, opKeyOf(desc), e.time))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { r =>
          r.synchronized {
            r.tasks += 1
            if (m != null) {
              r.taskMs += m.executorRunTime
              r.cpuNs += m.executorCpuTime
              r.gcMs += m.jvmGCTime
              r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
              r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double =
        ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      var files = 0L
      var bytes = 0L
      foreach(qe.executedPlan) { (p: SparkPlan) =>
        p.metrics.get("numFiles").foreach(m => files += m.value)
        p.metrics.get("filesSize").foreach(m => bytes += m.value)
      }
      val at = ph.values.map(_.endTimeMs).foldLeft(0L)(math.max)
      if (at > 0) plans.add(PlanRec(at, ms("analysis"), ms("optimization"),
        ms("planning"), files, bytes))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      val trig = Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (trig > 0 && p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        triggers.put(p.batchId, TriggerRec(p.batchId, start, trig,
          Option(d.get("addBatch")).map(_.longValue).getOrElse(0L)))
      }
    }
  }

  /** Register the three Spark hooks; spans are recorded while
    * [[enabled]] is set. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregister the hooks once the asynchronous listener bus has
    * delivered the events of the last operations. */
  def stop(): Unit = {
    enabled = false
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() < deadline &&
      jobs.values.asScala.exists(_.endMs < 0)) Thread.sleep(20)
    Thread.sleep(300)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  // ---- results ---------------------------------------------------------

  /** Every operation: its spans (its Spark jobs as `exec.job` spans),
    * job records and plan records. */
  def operations: Seq[TracedOp] = synchronized {
    val byKey = jobs.values.asScala.toSeq.groupBy(_.opKey)
    val allPlans = plans.asScala.toSeq
    def plansIn(root: Span) = allPlans.filter(p =>
      p.atMs * 1000000L >= root.startNs && p.atMs * 1000000L <= root.endNs + 1000000L)
    def jobSpans(js: Seq[JobRec], op: Int, parentOf: Long => Int) =
      js.filter(_.endMs >= 0).map { j =>
        val s = j.startMs * 1000000L
        Span(100000000 + j.jobId, "exec.job", op, parentOf(s), s, j.endMs * 1000000L)
      }
    val called = opNames.toSeq.map { case (id, name) =>
      val own = spans.filter(_.op == id).toSeq
      val js = byKey.getOrElse(s"op:$id", Nil)
      // a job belongs to the innermost span of the op that contains its
      // start
      val parentOf = (s: Long) => own
        .filter(sp => sp.startNs <= s && s <= sp.endNs)
        .sortBy(_.durNs).headOption.map(_.id).getOrElse(id)
      val all = own ++ jobSpans(js, id, parentOf)
      TracedOp(name, all, js, plansIn(all.find(_.parent == -1).get), None)
    }
    val streamed = triggers.values.asScala.toSeq
      .filter(t => tracedBatches.contains(t.batchId)).sortBy(_.batchId).map { t =>
        val id = 200000000 + t.batchId.toInt
        val s = t.startMs * 1000000L
        val root = Span(id, "ingest.trigger", id, -1, s, s + t.triggerMs * 1000000L)
        val js = byKey.getOrElse(s"batch:${t.batchId}", Nil)
        TracedOp("ingest.trigger", root +: jobSpans(js, id, _ => id), js,
          plansIn(root), Some(t))
      }
    called ++ streamed
  }

  /** Every recorded span, one JSON object per line. */
  def dumpSpans(out: java.io.File): Unit = {
    val ops = operations
    val w = new java.io.PrintWriter(out, "UTF-8")
    try ops.foreach { o =>
      o.spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"op":${s.op},"op_name":"${o.name}","id":${s.id},""" +
          s""""parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
    } finally w.close()
  }
}

final case class TracedOp(name: String, spans: Seq[Span], jobs: Seq[JobRec],
    plans: Seq[PlanRec], trigger: Option[TriggerRec]) {
  def root: Span = spans.find(_.parent == -1).get
  def wallNs: Long = root.durNs
}
