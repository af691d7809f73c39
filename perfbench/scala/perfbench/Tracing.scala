package perfbench

/** Turns the spans and counters of a traced window into per-layer metrics,
  * each a total over the window divided by the ops completed in it.
  */
object Tracing {
  /** Seconds of each span not covered by its direct children. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childNs = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    spans.map(s => s.id -> (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  /** Self time per `layer.name` and per layer. */
  def layerSelf(spans: Seq[Span]): Map[String, Double] = {
    val self = selfSeconds(spans)
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val byName = spans.groupBy(s => s"${s.layer}.${s.name}")
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    byLayer ++ byName
  }

  /** Per-op layer metrics for a window. `roots` are the spans that make up
    * an op's busy time (an op, or a stream epoch); Spark time outside any
    * job is measured inside them.
    */
  def summary(probe: Probe, before: Map[String, Double], after: Map[String, Double],
      t0Ms: Long, t1Ms: Long, ops: Int, roots: Seq[Span]): Map[String, Any] = {
    def d(k: String): Double = after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)
    val n = math.max(ops, 1).toDouble
    val spans = probe.allSpans
    val self = layerSelf(spans)
    val spanSelf = selfSeconds(spans)
    def s(k: String): Double = self.getOrElse(k, 0.0)
    val jobs = probe.jobIntervals.toArray(new Array[(Long, Long)](0)).toSeq
      .filter { case (a, b) => b >= t0Ms && a <= t1Ms }
    // nanoTime span bounds mapped onto the listener's wall clock
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    val busyMs = roots.map(r => (r.end - r.start) / 1000000L).sum
    val inJobsMs = roots.map { r =>
      Probe.coveredMs(jobs, r.start / 1000000L + offsetMs, r.end / 1000000L + offsetMs)
    }.sum
    val taskCpu = d("spark.task_cpu_ns") / 1e9
    val metrics = Map[String, Double](
      "lake.commit_s" -> s("lake.commit"),
      "lake.read_s" -> s("lake.read"),
      "lake.maintenance_s" -> s("lake.maintenance"),
      "catalog.analysis_s" -> d("catalog.analysis_ms") / 1e3,
      "catalog.optimization_s" -> d("catalog.optimization_ms") / 1e3,
      "catalog.planning_s" -> d("catalog.planning_ms") / 1e3,
      "catalog.sql_s" -> s("catalog"),
      "queries.call_s" -> s("queries"),
      "warehouse.merge_s" -> s("warehouse.merge"),
      "warehouse.mv_refresh_s" -> s("warehouse.mv_refresh"),
      "streaming.epochs" -> d("streaming.epochs"),
      "streaming.add_batch_s" -> d("streaming.add_batch_ms") / 1e3,
      "streaming.epoch_overhead_s" -> (d("streaming.trigger_ms") - d("streaming.add_batch_ms")) / 1e3,
      "streaming.input_rows" -> d("streaming.input_rows"),
      "ext.call_s" -> s("ext"),
      "spark.jobs" -> d("spark.jobs"),
      "spark.stages" -> d("spark.stages"),
      "spark.tasks" -> d("spark.tasks"),
      "spark.outside_job_s" -> (busyMs - inJobsMs) / 1e3,
      "spark.driver_cpu_s" -> (d("process_cpu_s") - taskCpu),
      "spark.codegen_compile_s" -> d("spark.codegen_compile_ns") / 1e9,
      "spark.materialize_s" -> s("spark"),
      "spark.task_cpu_s" -> taskCpu,
      "spark.executor_run_s" -> d("spark.executor_run_ms") / 1e3,
      "spark.gc_s" -> d("spark.gc_ms") / 1e3,
      "spark.scheduler_delay_s" -> d("spark.scheduler_delay_ms") / 1e3,
      "spark.shuffle_write_bytes" -> d("spark.shuffle_write_bytes"),
      "spark.shuffle_fetch_wait_s" -> d("spark.shuffle_fetch_wait_ms") / 1e3,
      "spark.spill_bytes" -> d("spark.spill_bytes"),
      "driver_other_s" -> roots.map(r => spanSelf.getOrElse(r.id, 0.0)).sum
    ) ++ Main.ExactCounts.filter(_.startsWith("lake.")).map(k => k -> d(k)) ++
      Seq("lake.bytes_written").map(k => k -> d(k))
    metrics.map { case (k, v) => k -> v / n }
  }

  def spansJson(spans: Seq[Span]): Seq[Map[String, Any]] = {
    val self = selfSeconds(spans)
    spans.map(s => Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name, "op" -> s.op,
      "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> self(s.id)))
  }
}
