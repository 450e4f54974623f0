package perfbench

/** Names and units of every metric the benchmark prints, and the per-layer
  * metrics every workload shares: Spark's runtime (from the listener), the
  * driver, graft's optimizer rules, and each layer's self time.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "suite_s" -> "s", "query_ms_p50" -> "ms", "query_ms_p90" -> "ms")

  val tracedRules: Seq[String] = Seq("FoldSingleRowJoin", "PushNanosTimestampFilters")

  private val fams = Family.all.map(_.name)

  val perLayer: Seq[(String, String)] =
    fams.map(f => s"core.build_ns_per_key.$f" -> "ns/key") ++
    fams.map(f => s"core.probe_ns_per_key.$f" -> "ns/key") ++
    Seq("core.hash_ns_per_key" -> "ns/key") ++
    fams.map(f => s"core.bits_per_key.$f" -> "bits/key") ++
    fams.map(f => s"core.fp_rate.$f" -> "ratio") ++
    fams.map(f => s"functions.probe_ns_per_row.$f" -> "ns/row") ++
    Seq("functions.scan_ns_per_row" -> "ns/row") ++
    fams.map(f => s"functions.agg_buffer_bytes_per_key.$f" -> "B/key") ++
    fams.map(f => s"functions.agg_final_ms.$f" -> "ms") ++
    Seq("functions.agg_partial_ms" -> "ms",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.peak_execution_memory_bytes" -> "B",
      "spark.scheduler_delay_ms" -> "ms",
      "driver.plan_ms" -> "ms", "driver.idle_ms" -> "ms",
      "plans.optimizer_ms" -> "ms") ++
    tracedRules.map(r => s"plans.rule_ms.$r" -> "ms") ++
    Seq("plans.rule_effective_ratio" -> "ratio",
      "streaming.operator_ms" -> "ms", "streaming.harness_ms" -> "ms") ++
    GateMix.gates.flatMap(g => Seq(s"gate.$g.wall_ms" -> "ms", s"gate.$g.driver_ms" -> "ms")) ++
    Seq("self_ms.driver" -> "ms", "self_ms.spark_job" -> "ms", "self_ms.spark_stage" -> "ms",
      "self_ms.core" -> "ms", "trace.overhead_pct" -> "%")

  /** Jobs, stages and the driver-side remainder of one operation. */
  final case class OpSpark(jobs: Seq[(Int, Double, Double)], stages: Seq[StageStats], idleMs: Double) {
    def runMs: Double = stages.map(_.runMs).sum.toDouble
  }

  def opSpark(col: SparkCollector, s: Sample): OpSpark = {
    val jobs = col.jobsIn(s.startMs, s.endMs)
    val covered = Tracer.coveredMs(jobs.map(j => (j._2 max s.startMs, j._3 min s.endMs)))
    OpSpark(jobs, col.stagesOf(jobs.map(_._1).toSet), s.ms - covered)
  }

  /** Per-operation means over a traced window; also records the op, job and
    * stage spans so each layer's self time can be derived.
    */
  def sparkLayers(w: Window, col: SparkCollector, tr: Tracer, rules: RuleMeter.Snap,
      planMs: Double): Map[String, Double] = {
    val n = math.max(1, w.samples.size).toDouble
    var selfDriver, selfJob, selfStage = 0.0
    val per = w.samples.zipWithIndex.map { case (s, i) =>
      val o = opSpark(col, s)
      val opId = i + 1L
      val opSpan = tr.record(0, opId, "op", s.op, s.startMs, s.endMs)
      selfDriver += o.idleMs
      o.jobs.foreach { case (jobId, js, je) =>
        val jobSpan = tr.record(opSpan, opId, "spark.job", s"job $jobId", js, je)
        val st = o.stages.filter(_.jobId == jobId)
        st.foreach(x => tr.record(jobSpan, opId, "spark.stage", s"stage ${x.stageId}", x.startMs, x.endMs))
        selfJob += (je - js) - Tracer.coveredMs(st.map(x => (x.startMs max js, x.endMs min je)))
        selfStage += st.map(x => x.endMs - x.startMs).sum
      }
      o
    }
    def sum(f: StageStats => Long): Double = per.map(_.stages.map(f).sum).sum.toDouble
    val runs = rules.runs.toDouble
    Map(
      "spark.jobs" -> per.map(_.jobs.size).sum / n,
      "spark.stages" -> per.map(_.stages.size).sum / n,
      "spark.tasks" -> sum(_.tasks) / n,
      "spark.executor_run_ms" -> sum(_.runMs) / n,
      "spark.executor_cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
      "spark.gc_ms" -> sum(_.gcMs) / n,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
      "spark.spill_bytes" -> sum(_.spill) / n,
      "spark.peak_execution_memory_bytes" ->
        per.flatMap(_.stages.map(_.peakExecMem)).maxOption.getOrElse(0L).toDouble,
      "spark.scheduler_delay_ms" -> sum(_.schedulerDelayMs) / n,
      "driver.plan_ms" -> planMs / n,
      "driver.idle_ms" -> selfDriver / n,
      "plans.optimizer_ms" -> rules.totalNs / 1e6 / n,
      "plans.rule_effective_ratio" -> (if (runs > 0) rules.effective / runs else 0.0),
      "self_ms.driver" -> selfDriver / n,
      "self_ms.spark_job" -> selfJob / n,
      "self_ms.spark_stage" -> selfStage / n
    ) ++ tracedRules.map(r => s"plans.rule_ms.$r" -> rules.perRuleNs(r) / 1e6 / n)
  }
}
