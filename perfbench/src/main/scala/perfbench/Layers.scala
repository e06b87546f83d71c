package perfbench

/** Per-layer metrics every traced run reports, read from the listeners and
  * the optimizer's rule metering. Workload-specific layer numbers come from
  * the workloads themselves (`Outcome.layer`). */
object Layers {

  /** Total time and effective runs of the engine's own optimizer rules
    * (those in package `graft`), read from Catalyst's global rule metering. */
  def graftRules(): (Double, Double) = {
    val rows = org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
      .split("\n").map(_.trim.split("\\s+")).filter(r => r.length >= 7 && r(0).startsWith("graft."))
    (rows.map(_(3).toDouble).sum / 1e9, rows.map(_(4).toDouble).sum)
  }

  def common(t: Trace, out: Outcome, cores: Int): Map[String, (Double, String)] = {
    val (t0, t1) = out.window
    val wallMs = math.max(1L, t1 - t0).toDouble
    val s = t.sums
    val mb = 1048576.0
    val streamPlanMs = t.progress.map(p => Option(p.durationMs.get("queryPlanning")).fold(0L)(_.longValue)).sum
    val batches = t.progress.filter(_.numInputRows > 0)
    val state = batches.flatMap(_.stateOperators.headOption)
    Map(
      // micro-batches seen by the StreamingQueryListener (zero in a closed loop)
      "streaming.batches" -> (batches.size.toDouble, "count"),
      "streaming.rows_per_batch" ->
        (if (batches.isEmpty) 0.0 else batches.map(_.numInputRows).sum.toDouble / batches.size, "rows"),
      "streaming.state_rows" -> (state.map(_.numRowsTotal).maxOption.getOrElse(0L).toDouble, "rows"),
      "streaming.state_mb" -> (state.map(_.memoryUsedBytes).maxOption.getOrElse(0L) / mb, "MB"),
      // PPJoin counts come from the mining stage split; zero where it does not run
      "operators.ppjoin_candidates" -> (0.0, "count"),
      "operators.ppjoin_pairs" -> (0.0, "count"),
      "operators.ppjoin_yield" -> (0.0, "ratio"),
      "registry.executions" -> (s("executions"), "count"),
      "plans.catalyst_s" -> ((s("catalyst_ms") + streamPlanMs) / 1e3, "s"),
      "plans.graft_rule_s" -> (t.ruleDelta._1, "s"),
      "plans.graft_rule_hits" -> (t.ruleDelta._2, "count"),
      "engine.jobs" -> (t.jobIntervals.count { case (a, _) => a >= t0 && a <= t1 }.toDouble, "count"),
      "engine.stages" -> (t.stages.toDouble, "count"),
      "engine.tasks" -> (t.tasks.toDouble, "count"),
      "engine.driver_s" -> (t.idleMs(t0, t1) / 1e3, "s"),
      "engine.sched_delay_s" -> (s("sched_delay_ms") / 1e3, "s"),
      "engine.core_busy" -> (s("task_ms") / (wallMs * cores), "ratio"),
      "sources.read_mb" -> (s("input_b") / mb, "MB"),
      "sources.read_rows" -> (s("input_rows"), "rows"),
      "operators.task_s" -> (s("task_ms") / 1e3, "s"),
      "operators.cpu_s" -> (s("cpu_ns") / 1e9, "s"),
      "operators.gc_s" -> (t.gcDeltaMs / 1e3, "s"),
      "operators.shuffle_write_mb" -> (s("shuffle_write_b") / mb, "MB"),
      "operators.shuffle_read_mb" -> (s("shuffle_read_b") / mb, "MB"),
      "operators.fetch_wait_s" -> (s("fetch_wait_ms") / 1e3, "s"),
      "operators.spill_mb" -> (s("spill_b") / mb, "MB"),
      "operators.skew_max" -> (t.skewMax, "ratio"),
      "trace.overhead" -> (t.callbackSeconds / (wallMs / 1e3), "ratio"))
  }
}
