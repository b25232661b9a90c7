package perfbench

import Stats.Metric

/** Per-layer metrics every workload reports the same way. Values are per
  * pass (a block of ten requests, or one pass over the query list) unless
  * the name says otherwise.
  */
object Common {
  val Layers: Seq[String] = Seq("streaming", "jobs", "sources", "entry", "spark", "bench")

  def sparkLayer(t: SparkCounters.Totals, passes: Int, wallPerPassS: Double, cpus: Int): Seq[Metric] = Seq(
    Metric("spark.jobs_per_pass", t.jobs.toDouble / passes, "count"),
    Metric("spark.executor_cpu_s", t.executorCpuS / passes, "s"),
    Metric("spark.gc_s", t.gcS / passes, "s"),
    Metric("spark.shuffle_write_mb", t.shuffleWriteMb / passes, "MB"),
    Metric("spark.spill_mb", t.spillMb / passes, "MB"),
    Metric("spark.core_util", if (wallPerPassS > 0) t.executorCpuS / passes / (wallPerPassS * cpus) else 0.0, "ratio"))

  /** Self time per layer per pass; `bench` is the harness around the calls. */
  def selfTimes(self: Map[String, Long], passes: Int): Seq[Metric] =
    Layers.map(l => Metric(s"self.${l}_s", self.getOrElse(l, 0L) / 1e9 / passes, "s"))

  /** Wall-clock figures from the untraced passes: the median pass time and
    * the geometric mean over operation kinds of each kind's median latency.
    * They are per-layer, not end-to-end, because CPU steal on a shared
    * host moves them by more than any bound the benchmark may set.
    */
  def wallLayer(runS: Double, opGmeanS: Double): Seq[Metric] = Seq(
    Metric("wall.run_s", runS, "s"),
    Metric("wall.op_gmean_s", opGmeanS, "s"))

  /** Host noise, failures, and the traced passes' cost over untraced ones. */
  def hostLayer(stealPct: Double, jvmGcS: Double, failedFrac: Double,
      tracedPassS: Double, untracedPassS: Double): Seq[Metric] = Seq(
    Metric("host.steal_pct", stealPct, "%"),
    Metric("jvm.gc_s", jvmGcS, "s"),
    Metric("failed_frac", failedFrac, "ratio"),
    Metric("trace.overhead_pct", 100.0 * (tracedPassS / untracedPassS - 1), "%"))
}
