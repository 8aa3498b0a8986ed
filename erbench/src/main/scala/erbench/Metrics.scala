package erbench

/** Every metric the benchmark prints, by name and unit. BENCHMARK.json at
  * the repository root declares the same list (the benchmark's tests hold
  * the two equal). */
object Metrics {

  final case class Metric(name: String, unit: String, better: String)

  /** Printed with `--trace 0`: measured with tracing off. */
  val endToEnd: Seq[Metric] = Seq(
    Metric("run_s", "s", "lower"),
    Metric("turns_per_s", "1/s", "higher"),
    Metric("setup_s", "s", "lower"),
    Metric("checkpoint_mb", "MB", "lower"))

  /** Per-span metrics, one set per traced stage. */
  val perSpan: Seq[Metric] = Seq(
    Metric("wall_s", "s", "lower"),
    Metric("rows", "count", "lower"),
    Metric("resumed", "flag", "higher"),
    Metric("jobs", "count", "lower"),
    Metric("tasks", "count", "lower"),
    Metric("task_s", "s", "lower"),
    Metric("no_task_s", "s", "lower"),
    Metric("skew", "ratio", "lower"),
    Metric("shuffle_read_mb", "MB", "lower"),
    Metric("shuffle_write_mb", "MB", "lower"),
    Metric("spill_mb", "MB", "lower"),
    Metric("peak_exec_mem_mb", "MB", "lower"),
    Metric("gc_s", "s", "lower"))

  /** Printed with `--trace 1`: from the traced run. */
  val perLayer: Seq[Metric] =
    TracedChain.stages.flatMap(s => perSpan.map(m => m.copy(name = s"$s.${m.name}"))) ++
      TracedChain.greedyPhases.map(p => Metric(s"assignments.phase.${p}_s", "s", "lower")) ++
      Seq(
        Metric("candidates.pairs_per_mention", "ratio", "lower"),
        Metric("trace.span_sum_s", "s", "lower"),
        Metric("trace.total_s", "s", "lower"))
}

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
