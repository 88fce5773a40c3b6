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

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  def freshDir(name: String): String = {
    val p = java.nio.file.Paths.get("target", "testwork", name)
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    p.toFile.getAbsolutePath
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
