package perfbench

import Stats.median

/** Turns a run's samples into the reported metrics. Every metric is
  * printed on every workload; a per-layer figure a workload does not
  * exercise reads 0. */
object Report {
  type Metric = (String, Double, String)

  /** End-to-end metrics, from the untraced samples. `op_geomean_s` is
    * the geometric mean over the workload's op kinds (one per query, or
    * the single refresh kind) of each kind's median latency. */
  def endToEnd(rec: Record): Seq[Metric] = {
    val byKind = rec.ops.filterNot(_._3).groupBy(_._1).values
      .map(xs => median(xs.map(_._2).toSeq)).toSeq
    val geomean =
      if (byKind.isEmpty) 0.0 else math.exp(byKind.map(math.log).sum / byKind.size)
    Seq(
      ("setup_s", median(rec.setupS.toSeq), "s"),
      ("op_geomean_s", geomean, "s"),
      ("pass_s", median(rec.passes.collect { case (s, false) => s }.toSeq), "s"),
      ("core_s_per_op", rec.cpuNs / 1e9 / math.max(1, rec.ops.size), "s"))
  }

  /** Names of the per-layer metrics, in BENCHMARK.json order. */
  def perLayerNames: Seq[(String, String)] = {
    val fixed = Seq(
      "exec.core_s" -> "s", "exec.gc_s" -> "s",
      "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
      "exec.spill_mb" -> "MB", "exec.write_mb" -> "MB",
      "exec.busy_cores" -> "cores", "exec.task_skew" -> "ratio",
      "exec.scan_mb" -> "MB", "exec.scan_rows" -> "count",
      "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.driver_gap_s" -> "s", "exec.cache_mb" -> "MB",
      "planning.analysis_ms" -> "ms", "planning.optimization_ms" -> "ms",
      "planning.physical_ms" -> "ms",
      "query.build_ms" -> "ms", "query.action_ms" -> "ms",
      "sources.snapshot_ms" -> "ms",
      "streaming.latest_offset_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.trigger_ms" -> "ms",
      "pipeline.lake_space_amp" -> "ratio")
    val pipeline = Medallion.PipelineStages.map(s => s"pipeline.${s}_ms" -> "ms")
    val self = SelfLayers.map(l => s"self.${l}_ms" -> "ms")
    val rest = Seq("trace.overhead_s" -> "s", "bench.start_s" -> "s",
      "bench.warmup_s" -> "s",
      "bench.failed_ops_pct" -> "%",
      "host.effective_cores" -> "cores", "host.cpu_probe_s" -> "s",
      "host.io_probe_s" -> "s")
    val perQuery = Workloads.RegistryQueries
      .map(q => s"query.${q.takeWhile(_ != '_')}_s" -> "s")
    fixed ++ pipeline ++ self ++ rest ++ perQuery
  }

  /** Layers whose self time the traced run reports: the benchmark's own
    * op spans, the engine modules it calls, and `exec` (time with a
    * Spark job running). `action` is the driver side of a full-result
    * action outside any job: planning, codegen, scheduling. */
  val SelfLayers: Seq[String] = Seq("bench", "pipeline", "gold",
    "ops", "ext", "sources", "streaming", "action", "exec")

  def perLayer(rec: Record, tracer: Option[Tracer],
               host: Calibration.Host, cacheMb: Double): Seq[Metric] = {
    val t = tracer.get
    val traced = rec.ops.filter(_._3).map(_._2)
    val nOps = math.max(1, traced.size).toDouble
    val tracedWall = traced.sum
    def per(x: Double) = x / nOps
    def ex(k: String) = median(rec.extra.get(k).map(_.toSeq).getOrElse(Nil))
    val spans = t.allSpans
    def spanMs(name: String) = median(spans.filter(_.name == name)
      .map(s => (s.end - s.start) / 1000.0))
    val selfs = t.selfTimes
    val progressN = math.max(1L, t.triggers.get).toDouble
    def prog(k: String) = t.progress.synchronized(t.progress(k)) / progressN
    val plan = t.planning.synchronized(t.planning.toMap.withDefaultValue(0.0))
    val perQuery = rec.ops.filter(_._1.startsWith("q")).groupBy(_._1)
      .map { case (q, xs) => q -> median(xs.filterNot(_._3).map(_._2).toSeq) }
    val values: Map[String, Double] = Map(
      "exec.core_s" -> per(t.cpuNs.get / 1e9),
      "exec.gc_s" -> per(t.gcMs.get / 1e3),
      "exec.shuffle_write_mb" -> per(t.shuffleWrite.get / 1e6),
      "exec.shuffle_read_mb" -> per(t.shuffleRead.get / 1e6),
      "exec.spill_mb" -> per(t.spill.get / 1e6),
      "exec.write_mb" -> per(t.written.get / 1e6),
      "exec.busy_cores" -> (if (tracedWall > 0) t.cpuNs.get / 1e9 / tracedWall else 0.0),
      "exec.task_skew" -> t.taskSkew,
      "exec.scan_mb" -> per(t.scanBytes.get / 1e6),
      "exec.scan_rows" -> per(t.scanRows.get.toDouble),
      "exec.jobs" -> per(t.jobs.get.toDouble),
      "exec.stages" -> per(t.stages.get.toDouble),
      "exec.tasks" -> per(t.tasks.get.toDouble),
      "exec.driver_gap_s" -> per(t.driverGap / 1e6),
      "exec.cache_mb" -> cacheMb,
      "planning.analysis_ms" -> per(plan("analysis")),
      "planning.optimization_ms" -> per(plan("optimization")),
      "planning.physical_ms" -> per(plan("planning")),
      "query.build_ms" -> ex("query.build_ms"),
      "query.action_ms" -> ex("query.action_ms"),
      "sources.snapshot_ms" -> spanMs("Snapshots.read"),
      "streaming.latest_offset_ms" -> prog("latestOffset"),
      "streaming.add_batch_ms" -> prog("addBatch"),
      "streaming.wal_commit_ms" -> prog("walCommit"),
      "streaming.trigger_ms" -> prog("triggerExecution"),
      "pipeline.lake_space_amp" -> ex("pipeline.lake_space_amp"),
      "trace.overhead_s" -> (median(rec.passes.filter(_._2).map(_._1).toSeq) -
        median(rec.passes.filterNot(_._2).map(_._1).toSeq)),
      "bench.start_s" -> ex("bench.start_s"),
      "bench.warmup_s" -> ex("bench.warmup_s"),
      "bench.failed_ops_pct" -> 100.0 * rec.failedOps / rec.attempted,
      "host.effective_cores" -> host.effectiveCores,
      "host.cpu_probe_s" -> host.singleS,
      "host.io_probe_s" -> host.ioS
    ) ++ Medallion.PipelineStages.map(s => s"pipeline.${s}_ms" -> ex(s"pipeline.${s}_ms")) ++
      SelfLayers.map(l => s"self.${l}_ms" -> per(selfs.getOrElse(l, 0.0) / 1000)) ++
      perQuery.map { case (q, s) => s"query.${q.takeWhile(_ != '_')}_s" -> s }
    perLayerNames.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
