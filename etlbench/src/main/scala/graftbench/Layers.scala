package graftbench

/** The per-layer ledger: one op's spans, counts and listener record turned
  * into named metrics, and the medians a traced run reports.
  */
object Layers {

  /** Span names and the metric each one's self time is reported as. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "io.read_sql" -> "io.read_sql_ms",
    "io.write_sql" -> "io.write_sql_ms",
    "io.stage" -> "io.stage_ms",
    "io.parquet_write" -> "io.parquet_write_ms",
    "ops.recode" -> "ops.recode_ms",
    "ops.rename" -> "ops.rename_ms",
    "ops.matchmerge" -> "ops.matchmerge_ms",
    "ops.locf" -> "ops.locf_ms",
    "functions.text" -> "functions.text_ms",
    "ext.pack" -> "ext.pack_ms",
    "streaming.call" -> "streaming.call_ms")

  /** Every per-layer metric and its unit, in report order. */
  val Units: Seq[(String, String)] = SpanMetrics.map(_._2 -> "ms") ++ Seq(
    "io.jdbc_rows" -> "count",
    "io.rows_written" -> "count",
    "io.write_jobs" -> "count",
    "io.source_passes" -> "count",
    "ops.matchmerge_jobs" -> "count",
    "ext.dedup.drop_share" -> "share",
    "streaming.batches" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.outside_trigger_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "spark.catalyst.analysis_ms" -> "ms",
    "spark.catalyst.optimization_ms" -> "ms",
    "spark.catalyst.planning_ms" -> "ms",
    "spark.catalyst.queries" -> "count",
    "spark.scheduler.jobs" -> "count",
    "spark.scheduler.stages" -> "count",
    "spark.scheduler.tasks" -> "count",
    "spark.scheduler.sched_delay_ms" -> "ms",
    "spark.scheduler.driver_gap_ms" -> "ms",
    "spark.scheduler.task_run_ms" -> "ms",
    "spark.scheduler.task_cpu_ms" -> "ms",
    "spark.scheduler.busy_share" -> "share",
    "spark.shuffle.write_bytes" -> "bytes",
    "spark.shuffle.read_bytes" -> "bytes",
    "spark.shuffle.spill_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms",
    "jvm.heap_after_op_mb" -> "MB",
    "trace.op_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** Metrics of one op from its listener record and, when it was traced,
    * its spans and boundary counts.
    */
  def of(rec: Ledger.OpRecord, t: Tracer, w: Workload, wallMs: Double, k: Int): Map[String, Double] = {
    val self = Stats.selfTimes(t.spanList).map { case (n, ns) => n -> ns / 1e6 }
    val spans = SpanMetrics.map { case (s, m) => m -> self.getOrElse(s, 0.0) }.toMap
    val counts = t.counts
    def jobsIn(span: String) = rec.jobs.count(_.span.contains(span)).toDouble
    val batches = rec.batches.size
    def batchSum(key: String) = rec.batches.map(_.getOrElse(key, 0L)).sum.toDouble
    val trigger = batchSum("triggerExecution")
    val callMs = t.spanList.filter(_.name == "streaming.call").map(_.length / 1e6).sum
    val taskRun = rec.tasks.map(_.runMs).sum.toDouble
    spans ++ Map(
      "io.jdbc_rows" -> counts.getOrElse("io.jdbc_rows", 0L).toDouble,
      "io.rows_written" -> counts.getOrElse("io.rows_written", 0L).toDouble,
      "io.write_jobs" -> jobsIn("io.write_sql"),
      "io.source_passes" -> rec.stages.count(_.readsJdbc).toDouble,
      "ops.matchmerge_jobs" -> jobsIn("ops.matchmerge"),
      "ext.dedup.drop_share" -> 0.0,
      "streaming.batches" -> batches.toDouble,
      "streaming.add_batch_ms" -> batchSum("addBatch"),
      "streaming.query_planning_ms" -> batchSum("queryPlanning"),
      "streaming.wal_commit_ms" -> batchSum("walCommit"),
      "streaming.trigger_ms" -> trigger,
      "streaming.outside_trigger_ms" -> (if (batches > 0) callMs - trigger else 0.0),
      "streaming.jobs_per_batch" -> (if (batches > 0) jobsIn("streaming.call") / batches else 0.0),
      "spark.catalyst.analysis_ms" -> rec.queries.map(_.analysisMs).sum.toDouble,
      "spark.catalyst.optimization_ms" -> rec.queries.map(_.optimizationMs).sum.toDouble,
      "spark.catalyst.planning_ms" -> rec.queries.map(_.planningMs).sum.toDouble,
      "spark.catalyst.queries" -> rec.queries.size.toDouble,
      "spark.scheduler.jobs" -> rec.jobs.size.toDouble,
      "spark.scheduler.stages" -> rec.stages.size.toDouble,
      "spark.scheduler.tasks" -> rec.tasks.size.toDouble,
      "spark.scheduler.sched_delay_ms" -> rec.tasks.map(_.delayMs).sum.toDouble,
      "spark.scheduler.driver_gap_ms" -> Stats.driverGap(rec.jobIntervals,
        rec.window._1, rec.window._2).toDouble,
      "spark.scheduler.task_run_ms" -> taskRun,
      "spark.scheduler.task_cpu_ms" -> rec.tasks.map(_.cpuMs).sum,
      "spark.scheduler.busy_share" -> taskRun / (wallMs * k),
      "spark.shuffle.write_bytes" -> rec.tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle.read_bytes" -> rec.tasks.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle.spill_bytes" -> rec.tasks.map(_.spill).sum.toDouble,
      "trace.op_ms" -> wallMs) ++ w.layerCounts(t)
  }

  /** Per-layer medians over the traced ops. `io.source_passes` comes from
    * the plain ops, because a traced op's boundary persist of the read
    * hides any re-scan; `trace.overhead_ms` is the traced minus the plain
    * median op time.
    */
  def summarize(ops: Seq[Main.OpResult]): Seq[(String, Double, String)] = {
    val (traced, plain) = ops.partition(_.traced)
    def med(xs: Seq[Main.OpResult], m: String) = Stats.median(xs.map(_.layers.getOrElse(m, 0.0)))
    Units.map {
      case ("io.source_passes", u) => ("io.source_passes", med(plain, "io.source_passes"), u)
      case ("trace.overhead_ms", u) =>
        ("trace.overhead_ms", Stats.median(traced.map(_.wallMs)) - Stats.median(plain.map(_.wallMs)), u)
      case (m, u) => (m, med(traced, m), u)
    }
  }
}
