package graftbench

import scala.collection.mutable

/** Timings and counters one run accumulates, and their summaries. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }
}

/** Per-layer metric values of a traced run, named as in BENCHMARK.json.
  * Every name is always present; a layer the workload does not run
  * reports 0.
  */
final class LayerMetrics {
  private val values = mutable.LinkedHashMap[String, (Double, String)]()
  LayerMetrics.names.foreach { case (n, u) => values(n) = (0.0, u) }

  def update(name: String, v: Double): Unit = {
    require(values.contains(name), s"unknown per-layer metric $name")
    values(name) = (v, values(name)._2)
  }
  def toSeq: Seq[(String, Double, String)] = values.toSeq.map { case (n, (v, u)) => (n, v, u) }
}

object LayerMetrics {
  val names: Seq[(String, String)] = Seq(
    "streaming.trigger_s" -> "s", "streaming.overhead_s" -> "s",
    "streaming.planning_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.commit_p50_s" -> "s", "streaming.commit_p90_s" -> "s",
    "sources.parse_s" -> "s", "sources.rows_in" -> "count",
    "sources.rows_out" -> "count", "sources.ok_ratio" -> "ratio",
    "storage.add_batch_s" -> "s", "storage.flushes" -> "count",
    "storage.snapshot_s" -> "s", "storage.log_versions" -> "count",
    "storage.live_parts" -> "count", "storage.read_setup_s" -> "s",
    "storage.read_p50_s" -> "s", "storage.read_p90_s" -> "s",
    "storage.parts_kept_ratio" -> "ratio", "storage.bytes_written" -> "bytes",
    "storage.write_amp" -> "ratio", "storage.stored_bytes_per_input_byte" -> "ratio",
    "storage.fs_list_calls" -> "count", "storage.fs_create_calls" -> "count",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "operators.build_share" -> "ratio",
    "plans.plan_s" -> "s", "plans.plan_share" -> "ratio",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.executor_run_s" -> "s", "exec.core_util" -> "ratio",
    "exec.shuffle_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB", "trace.overhead_s" -> "s")
}

/** What a workload's measured phase hands back.
  *
  * @param opSeconds latencies of the untraced ops
  * @param extra     further lines to print: (name, value, unit, samples)
  */
final case class RunResult(attempted: Long, failed: Long, elapsedS: Double,
    opSeconds: Seq[Double], extra: Seq[(String, Double, String, Int)],
    layers: LayerMetrics)

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
}
