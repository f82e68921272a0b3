package perfbench

/** The per-layer metrics every traced run reports, with units. A layer
  * a workload does not exercise reports 0. */
object Layers {
  private def ops(prefix: String): Seq[(String, String)] = Seq(
    "construct_s" -> "s", "construct_jobs" -> "count", "plan_s" -> "s",
    "plan_phases_s" -> "s", "exec_s" -> "s", "exec_jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "tasks_per_stage_p50" -> "count",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "executor_cpu_ms" -> "ms", "gc_ms" -> "ms", "cached_left" -> "count",
    "persisted_rdds_left" -> "count").map { case (n, u) => s"$prefix.$n" -> u }

  /** Span layers whose self time is reported. */
  val SpanLayers: Seq[String] = Seq("GraftJob.trigger", "GraftJob.latest_offset",
    "GraftJob.wal_commit", "GraftJob.get_batch", "GraftJob.query_planning",
    "GraftJob.add_batch", "GraftJob.commit_offsets", "spark.job", "streaming.put",
    "operators", "operators.construct", "operators.plan", "operators.execute", "Tables")

  val All: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms", "sources.read_ms_per_1k" -> "ms",
    "sources.lag_changes" -> "count", "sources.changes_per_trigger" -> "count",
    "sources.acks" -> "count", "sources.unacked_after_idle_changes" -> "count",
    "sources.put_to_ack_p50_ms" -> "ms",
    "GraftJob.triggers" -> "count", "GraftJob.trigger_ms" -> "ms",
    "GraftJob.query_planning_ms" -> "ms", "GraftJob.wal_commit_ms" -> "ms",
    "GraftJob.commit_offsets_ms" -> "ms", "GraftJob.add_batch_ms" -> "ms",
    "GraftJob.tasks_per_stage_p50" -> "count", "GraftJob.executor_cpu_ms" -> "ms",
    "functions.Cdc.parse_format_ms_per_1k" -> "ms", "functions.Cdc.rows_out_per_in" -> "ratio",
    "functions.Cdc.gated_share" -> "ratio", "catalog.build_ms" -> "ms",
    "streaming.write_batch_ms_per_1k" -> "ms", "streaming.kpl_encode_ms_per_1k" -> "ms",
    "streaming.put_busy_ms" -> "ms", "streaming.puts" -> "count",
    "streaming.put_attempts" -> "count", "streaming.throttles" -> "count",
    "streaming.put_bytes" -> "bytes", "streaming.records_per_put" -> "count",
    "replay.changes" -> "count", "replay.add_batch_ms" -> "ms",
    "replay.parse_format_ms" -> "ms", "replay.write_batch_ms" -> "ms",
    "Tables.read_ms" -> "ms", "Tables.read_jobs" -> "count") ++
    ops("operators") ++ ops("operators.iterative") ++ ops("operators.oneshot") ++
    SpanLayers.map(l => s"selftime.${l}_ms" -> "ms") ++ Seq(
    "trace.window_s" -> "s", "trace.throughput_per_s" -> "1/s",
    "trace.latency_p50_ms" -> "ms")

  /** `reported` in the canonical order, every missing metric as 0. A
    * name outside the list is a harness bug. */
  def complete(reported: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = reported.map(r => r._1 -> r).toMap
    val unknown = byName.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics outside Layers.All: ${unknown.mkString(", ")}")
    All.map { case (n, u) => byName.get(n).map(r => (n, r._2, u)).getOrElse((n, 0.0, u)) }
  }

  /** Self time per span layer, in the canonical layer list. */
  def selfTimes(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val self = Spans.selfMsByLayer(spans)
    SpanLayers.map(l => (s"selftime.${l}_ms", self.getOrElse(l, 0.0), "ms"))
  }
}
