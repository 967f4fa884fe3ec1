package perfbench

import scala.collection.mutable

/**
 * The per-layer metrics of a traced run. Every workload reports every
 * name; a layer the workload does not use reads 0. Per-operation figures
 * are medians over operations: a request (`serve`, `retrieve`), a reader
 * request or micro-batch (`live`), a full pass (`curate`).
 */
final class LayerReport {
  val values: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(LayerReport.Units.keys.toSeq.map(_ -> 0.0): _*)

  def set(name: String, v: Double): Unit = {
    require(values.contains(name), s"unknown per-layer metric $name")
    values(name) = if (v.isNaN || v.isInfinite) 0.0 else v
  }

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Per-layer figures from in-process samples, their spans and the
    * scheduler counters of their operations. */
  def fromSamples(samples: Seq[LayerSample], tracer: Tracer, exec: ExecListener): Unit = {
    val ops = samples.map(_.op).toSet
    val spans = tracer.all.filter(s => ops(s.op))
    def spanMs(name: String) = {
      // per operation: the sum of that layer's spans within it
      med(spans.filter(_.name == name).groupBy(_.op).values.map(_.map(_.ms).sum))
    }
    set("geo.cover_ms", spanMs("geo.cover"))
    set("geo.cover_prefixes", med(spans.filter(_.name == "geo.cover").flatMap(_.attrs.get("prefixes"))))
    set("operators.build_ms", spanMs("operators.build"))
    set("sources.listing_ms", spanMs("sources.listing"))
    set("plans.analysis_ms", med(samples.map(_.phases.analysisMs)))
    set("plans.optimization_ms", med(samples.map(_.phases.optimizationMs)))
    set("plans.planning_ms", med(samples.map(_.phases.planningMs)))
    set("plans.nodes", med(samples.map(_.nodes.toDouble)))
    set("sources.files_read", med(samples.map(_.scans.files)))
    set("sources.bytes_read", med(samples.map(_.scans.bytes)))
    set("sources.rows_read_per_result_row",
      med(samples.map(s => s.scans.rows / math.max(1, s.resultRows))))
    execFrom(samples.map(_.op), exec)
  }

  /** exec.* as medians over the given operations' counters. */
  def execFrom(ops: Seq[String], exec: ExecListener): Unit = {
    val cs = ops.flatMap(exec.get)
    if (cs.nonEmpty) {
      set("exec.ms", med(cs.map(_.jobMs)))
      set("exec.jobs", med(cs.map(_.jobs.toDouble)))
      set("exec.stages", med(cs.map(_.stages.toDouble)))
      set("exec.tasks", med(cs.map(_.tasks.toDouble)))
      set("exec.task_run_ms", med(cs.map(_.taskRunMs)))
      set("exec.task_cpu_ms", med(cs.map(_.taskCpuMs)))
      set("exec.gc_ms", med(cs.map(_.gcMs)))
      set("exec.shuffle_write_bytes", med(cs.map(_.shuffleWrite)))
      set("exec.shuffle_read_bytes", med(cs.map(_.shuffleRead)))
      set("exec.spill_bytes", med(cs.map(_.spill)))
      set("exec.task_skew", med(cs.map(_.skew)))
    }
  }

  def toReport(r: Report): Unit =
    values.foreach { case (k, v) => r.metric(k, v, LayerReport.Units(k)) }
}

object LayerReport {
  /** Every per-layer metric and its unit, in BENCHMARK.json order. */
  val Units: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap(
    "serving.service_ms" -> "ms", "serving.http_overhead_ms" -> "ms",
    "serving.queue_ms" -> "ms", "serving.response_bytes" -> "bytes",
    "geo.cover_ms" -> "ms", "geo.cover_prefixes" -> "count",
    "operators.build_ms" -> "ms",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms", "plans.nodes" -> "count",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.task_skew" -> "ratio",
    "sources.listing_ms" -> "ms", "sources.files_read" -> "count",
    "sources.bytes_read" -> "bytes", "sources.rows_read_per_result_row" -> "ratio",
    "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.input_rows_per_batch" -> "count", "streaming.busy_share" -> "ratio",
    "streaming.backlog_events" -> "count", "streaming.state_rows" -> "count",
    "streaming.state_rows_updated" -> "count", "streaming.state_memory_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms", "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.table_files" -> "count",
    "gen.lag_ms" -> "ms", "trace.overhead_ms" -> "ms")
}
