package perfbench

/**
 * Per-layer metrics of a traced run, from the spans, the Spark hooks and
 * the engine's counters over the traced half of the window. Every name
 * in [[Names]] is always emitted; a layer the workload does not exercise
 * reads 0 (the work it did there).
 */
object Layers {

  val FsOps = Seq("status", "open", "create", "list", "delete", "rename", "mkdirs")
  val SelfLayers = Seq("exec", "plan", "ingest")

  /** (name, unit) of every per-layer metric. */
  val Names: Seq[(String, String)] = Seq(
    "ingest.trigger_ms" -> "ms", "ingest.add_batch_ms" -> "ms",
    "ingest.stream_overhead_ms" -> "ms", "ingest.rows_in" -> "count",
    "ingest.rows_committed" -> "count", "ingest.dlq_batches" -> "count",
    "table.merge_ms" -> "ms", "table.merge_jobs" -> "count",
    "table.merge_driver_ms" -> "ms", "table.header_reads" -> "count",
    "table.manifest_resolutions" -> "count") ++
    FsOps.map(o => s"table.fs_requests.$o" -> "count") ++ Seq(
    "table.dv_loads" -> "count", "table.files_live" -> "count",
    "table.files_added_per_commit" -> "count",
    "table.bytes_added_per_commit" -> "bytes", "table.compactions" -> "count",
    "table.write_amp" -> "ratio",
    "plan.front_door_ms" -> "ms", "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "scan.files_read" -> "count", "scan.bytes_read" -> "bytes",
    "scan.files_read_ratio" -> "ratio",
    "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_ms" -> "ms",
    "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "ann.nprobe" -> "count", "ann.build_s" -> "s", "ann.recall_at_10" -> "ratio",
    "lake.risk_ms" -> "ms", "lake.hourly_ms" -> "ms", "lake.point_ms" -> "ms",
    "lake.version_ms" -> "ms", "lake.ann_ms" -> "ms") ++
    (SelfLayers :+ "other").map(l => s"selftime.${l}_ms" -> "ms") ++ Seq(
    "trace.overhead_pct" -> "%", "trace.selftime_bad_ops" -> "count",
    "trace.selftime_max_residual" -> "ratio")

  /** Largest tolerated gap between an op's wall time and the sum of its
    * layers' self times, as a share of the wall time. */
  val SelfTimeTolerance = 0.10

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ms(ns: Long): Double = ns / 1e6

  def metrics(ctx: Ctx, wl: Workload)(s: wl.State, plain: Main.Loop,
      traced: Main.Loop): Seq[(String, (Double, String))] = {
    val ops = ctx.tracer.operations
    val nOps = math.max(1, ops.size).toDouble
    def perOp(f: TracedOp => Double): Double = ops.map(f).sum / nOps
    def counterPerOp(k: String) = traced.counters.getOrElse(k, 0L) / nOps

    // merges run inside the streaming trigger's addBatch; their driver
    // time is addBatch minus the time the trigger's jobs cover
    val merges: Seq[(Double, Int, Double)] = ops.flatMap(o => o.trigger.map { t =>
      val root = o.root
      val cover = Span.coveredNs(o.jobs.map(j =>
        (j.startMs * 1000000L, j.endMs * 1000000L)), root.startNs, root.endNs)
      (t.addBatchMs.toDouble, o.jobs.size, math.max(0.0, t.addBatchMs - ms(cover)))
    })

    val triggers = ops.flatMap(_.trigger)
    val plans = ops.flatMap(_.plans)
    val extras = wl.layerExtras(ctx, s)
    val filesLive = extras.getOrElse("table.files_live", 0.0)
    val filesRead = perOp(_.plans.map(_.filesRead).sum.toDouble)

    // layer split and the self-time check
    val layerSplit = ops.map(o => Span.layerTimes(o.spans))
    val residuals = ops.zip(layerSplit).map { case (o, l) =>
      math.abs(l.values.sum - o.wallNs).toDouble / math.max(1L, o.wallNs) }
    def selfOf(l: String): Double = layerSplit.map(m =>
      if (l == "other") ms(m.filter { case (k, _) => !SelfLayers.contains(k) }.values.sum)
      else ms(m.getOrElse(l, 0L))).sum / nOps

    val plainMed = med(plain.latencies.toSeq)
    val tracedMed = med(traced.latencies.toSeq)

    val values: Map[String, Double] = Map(
      "ingest.trigger_ms" -> med(triggers.map(_.triggerMs.toDouble)),
      "ingest.add_batch_ms" -> med(triggers.map(_.addBatchMs.toDouble)),
      "ingest.stream_overhead_ms" -> med(triggers.map(t => (t.triggerMs - t.addBatchMs).toDouble)),
      "table.merge_ms" -> med(merges.map(_._1)),
      "table.merge_jobs" -> med(merges.map(_._2.toDouble)),
      "table.merge_driver_ms" -> med(merges.map(_._3)),
      "table.header_reads" -> counterPerOp("header_reads"),
      "table.manifest_resolutions" -> counterPerOp("manifest_resolutions"),
      "table.dv_loads" -> counterPerOp("dv_loads"),
      "plan.front_door_ms" -> med(ops.flatMap(_.spans.filter(_.name == "plan.front_door"))
        .map(sp => ms(sp.durNs))),
      "plan.analysis_ms" -> med(plans.map(_.analysisMs)),
      "plan.optimization_ms" -> med(plans.map(_.optimizationMs)),
      "plan.planning_ms" -> med(plans.map(_.planningMs)),
      "scan.files_read" -> filesRead,
      "scan.bytes_read" -> perOp(_.plans.map(_.bytesRead).sum.toDouble),
      "scan.files_read_ratio" -> (if (filesLive > 0) filesRead / filesLive else 0.0),
      "exec.jobs" -> perOp(_.jobs.size.toDouble),
      "exec.tasks" -> perOp(_.jobs.map(_.tasks).sum.toDouble),
      "exec.task_ms" -> perOp(_.jobs.map(_.taskMs).sum.toDouble),
      "exec.cpu_ms" -> perOp(_.jobs.map(_.cpuNs).sum / 1e6),
      "exec.gc_ms" -> perOp(_.jobs.map(_.gcMs).sum.toDouble),
      "exec.shuffle_write_bytes" -> perOp(_.jobs.map(_.shuffleWriteBytes).sum.toDouble),
      "exec.spill_bytes" -> perOp(_.jobs.map(_.spillBytes).sum.toDouble),
      "trace.overhead_pct" -> (if (plainMed > 0) 100.0 * (tracedMed / plainMed - 1) else 0.0),
      "trace.selftime_bad_ops" -> residuals.count(_ > SelfTimeTolerance).toDouble,
      "trace.selftime_max_residual" -> (if (residuals.isEmpty) 0.0 else residuals.max)) ++
      FsOps.map(o => s"table.fs_requests.$o" -> counterPerOp(s"fs.$o")) ++
      (SelfLayers :+ "other").map(l => s"selftime.${l}_ms" -> selfOf(l)) ++
      extras
    System.err.println(s"traced ${ops.size} ops; self-time residual > " +
      s"${SelfTimeTolerance * 100}% on ${residuals.count(_ > SelfTimeTolerance)} ops")
    Names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }
  }
}
