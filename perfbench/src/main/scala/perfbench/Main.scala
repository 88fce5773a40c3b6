package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Lake benchmark driver: one workload, one seed, one closed-loop client.
 *
 * {{{
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
 * }}}
 *
 * A run sets the workload up [[SetupReps]] times (the last set-up is the
 * one measured), warms up untimed, then runs steps until their timed
 * parts add up to `--seconds`, and finally checks the program's outputs.
 * The last line of stdout is the result JSON; the line before it stamps
 * the machine context. With `--trace 1` the first half of the window runs
 * untraced and the second half traced, and the result carries the
 * per-layer metrics instead of the end-to-end ones.
 */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: java.io.File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(
      s"missing $k; usage: --workload <name> --seed <n> --seconds <s> " +
        "--trace <0|1> --work <dir>"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new java.io.File(need("--work")))
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.hadoop.fs.lagfs.impl", classOf[graft.table.LagFs].getName)
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Live heap after a forced full collection, in MiB. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}; one of " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    org.apache.commons.io.FileUtils.deleteQuietly(a.work)
    a.work.mkdirs()
    val spark = session(cores)
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, a.seed, a.work, tracer)
    val out = try run(ctx, wl, a) finally {
      spark.stop()
    }
    val stamp = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed),
      "seconds" -> Json.num(a.seconds), "trace" -> Json.num(if (a.trace) 1 else 0),
      "nproc" -> Json.num(cores),
      "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "java" -> Json.str(System.getProperty("java.version")),
      "commit" -> Json.str(sys.props.getOrElse("perfbench.commit", "unknown")),
      "source_digest" -> Json.str(sys.props.getOrElse("perfbench.sourceDigest", "unknown"))
    ) ++ out.context)
    println("context " + stamp)
    out.checks.foreach(c => System.err.println(
      s"check ${c.name}: ${if (c.ok) "ok" else "FAILED"} - ${c.detail}"))
    println(Json.obj(Seq(
      "correct" -> Json.bool(out.correct),
      "attempted" -> Json.num(out.attempted),
      "failed" -> Json.num(out.failed),
      "metrics" -> Json.obj(out.metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    org.apache.commons.io.FileUtils.deleteQuietly(a.work)
    // no lingering non-daemon thread may hold the JVM past the result
    sys.exit(0)
  }

  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))], context: Seq[(String, String)],
      checks: Seq[Check])

  /** What a set of closed-loop steps did, and the engine counters they
    * moved (sampled for traced steps only). */
  final class Loop {
    val latencies = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var busyMs = 0.0
    var counters: Map[String, Long] = Map.empty
    def add(st: Step): Unit = {
      latencies ++= st.latenciesMs
      attempted += st.attempted
      failed += st.failed
      busyMs += st.busyMs
    }
  }

  def run(ctx: Ctx, wl: Workload, a: Args): Outcome = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    val inputs = phase("prepare")(wl.prepare(ctx))
    val setupS = mutable.ArrayBuffer.empty[Double]
    var state: Option[wl.State] = None
    (0 until SetupReps).foreach { r =>
      val dir = new java.io.File(a.work, s"setup$r")
      val t0 = System.nanoTime()
      val s = wl.setup(ctx, inputs, dir)
      setupS += (System.nanoTime() - t0) / 1e9
      // earlier set-ups only time the set-up; their files go
      if (r < SetupReps - 1) org.apache.commons.io.FileUtils.deleteQuietly(dir)
      state = Some(s)
    }
    val s = state.get
    phase("warmup")(wl.warmup(ctx, s))
    val windowMs = a.seconds * 1000.0
    val plain = new Loop
    val traced = new Loop
    phase("loop") {
      if (a.trace) {
        // steps alternate untraced / traced, half the window each, so the
        // difference between the two sets is the tracing overhead
        ctx.tracer.start()
        val half = windowMs / 2
        var i = 0
        while (plain.busyMs < half || traced.busyMs < half) {
          val on = if (plain.busyMs >= half) true
            else if (traced.busyMs >= half) false
            else i % 2 == 1
          ctx.tracer.enabled = on
          if (on) {
            val before = EngineCounters.sample()
            traced.add(wl.step(ctx, s, half - traced.busyMs))
            traced.counters = EngineCounters.sum(traced.counters,
              EngineCounters.delta(EngineCounters.sample(), before))
          } else plain.add(wl.step(ctx, s, half - plain.busyMs))
          i += 1
        }
        ctx.tracer.stop()
      } else while (plain.busyMs < windowMs)
        plain.add(wl.step(ctx, s, windowMs - plain.busyMs))
    }
    val heapMb = liveHeapMb()
    val checks = phase("check")(wl.check(ctx, s))
    val attempted = plain.attempted + traced.attempted + checks.size
    val failed = plain.failed + traced.failed + checks.count(!_.ok)
    val lat = plain.latencies.toSeq
    val (tail, tailQ) = if (lat.isEmpty) (0.0, 0.0) else Stats.tail(lat)
    val context = Seq(
      "ops" -> Json.num(lat.size), "tail_ms" -> Json.num(tail),
      "tail_percentile" -> Json.num(tailQ),
      "setup_s_reps" -> Json.arr(setupS.toSeq.map(x => Json.num(x))),
      "phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.arr(checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> Json.bool(c.ok), "detail" -> Json.str(c.detail))))))
    val metrics =
      if (!a.trace) Seq(
        "setup_s" -> (Stats.median(setupS.toSeq), "s"),
        "latency_ms" -> (if (lat.isEmpty) 0.0 else wl.latencyMs(s, lat), "ms"),
        "ops_per_s" -> (lat.size / (plain.busyMs / 1000.0), "1/s"),
        "heap_live_mb" -> (heapMb, "MiB"))
      else Layers.metrics(ctx, wl)(s, plain, traced)
    if (a.trace) {
      val spans = new java.io.File(a.work.getParentFile,
        s"spans-${a.workload}-${a.seed}.jsonl")
      ctx.tracer.dumpSpans(spans)
      System.err.println(s"spans written to $spans")
    }
    Outcome(failed == 0 && checks.forall(_.ok), attempted, failed, metrics,
      context, checks)
  }
}

/** Minimal JSON rendering. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
