package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What a block ran on the cluster (see [[SparkSpec.countingJobs]]):
  * its Spark jobs, the stages that completed and those among them that
  * read input records (scan stages), the tasks that ended and the bytes
  * their shuffles wrote. */
final case class JobCounts(jobs: Int, stages: Int, scanStages: Int,
    tasks: Int, shuffleWriteBytes: Long)

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  def freshDir(name: String): String = {
    val p = java.nio.file.Paths.get("target", "testwork", name)
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    p.toFile.getAbsolutePath
  }

  /** `body`'s result and the jobs, stages, tasks and shuffle-write bytes
    * it ran, counted by a SparkListener. A marker job after `body`
    * drains the listener bus: a listener gets events in order, so once
    * the marker's JobStart arrives every event of `body` has arrived. */
  def countingJobs[A](body: => A): (A, JobCounts) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
    val marker = "graft.test.drainListener"
    val jobs, stages, scans, tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null)
          drained.countDown()
        else if (drained.getCount > 0) jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (drained.getCount > 0) {
          stages.incrementAndGet()
          val m = e.stageInfo.taskMetrics
          if (m != null && m.inputMetrics.recordsRead > 0) scans.incrementAndGet()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (drained.getCount > 0) {
          tasks.incrementAndGet()
          if (e.taskMetrics != null)
            shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      (out, JobCounts(jobs.get(), stages.get(), scans.get(), tasks.get(),
        shuffleBytes.get()))
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` with the session confs `kv` set, then put each key back
    * as it was, unsetting the ones that were unset. (`conf.getOption`
    * reads Spark's default for an unset key; restoring that would leave
    * the key set for every later suite in the shared session.) */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.sessionState.conf
    val prior = kv.map { case (k, _) =>
      k -> (if (conf.contains(k)) Some(conf.getConfString(k)) else None) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
