package perfbench

import Stats.Metric

/** Every metric the benchmark reports, with its unit, in report order.
  * BENCHMARK.json lists the same names (a spec keeps the two in step).
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cpu_s" -> "s", "op_cpu_s" -> "s", "retained_heap_mb" -> "MB")

  val EtlLayer: Seq[(String, String)] = Seq(
    "etl.request_p50_s" -> "s", "etl.requests_per_s" -> "1/s", "etl.requests_measured" -> "count") ++
    Etl.Shapes.map(k => s"etl.${k}_p50_s" -> "s") ++ Seq(
    "jobs.spark_jobs_per_request" -> "count", "jobs.tasks_per_request" -> "count") ++
    Etl.Shapes.map(k => s"jobs.$k.call_p50_s" -> "s") ++ Seq(
    "jobs.index.cached_ratio" -> "ratio",
    "streaming.batch_p50_s" -> "s", "streaming.queue_wait_p50_s" -> "s",
    "streaming.wal_commit_p50_s" -> "s", "streaming.query_planning_p50_s" -> "s",
    "sources.store_read_p50_s" -> "s", "sources.upsert_p50_s" -> "s", "sources.upsert_rows" -> "count",
    "ops.historical.useful_fetch_ratio" -> "ratio")

  val CurationLayer: Seq[(String, String)] = CurationWorkload.Queries.flatMap(q => Seq(
    s"entry.$q.build_s" -> "s", s"entry.$q.exec_s" -> "s",
    s"entry.$q.spark_jobs" -> "count", s"entry.$q.executor_cpu_s" -> "s")) ++ Seq(
    "functions.docs_per_cpu_s" -> "1/s", "curation.passes_measured" -> "count")

  val Shared: Seq[(String, String)] = Seq(
    "spark.plan_s" -> "s", "spark.jobs_per_pass" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.core_util" -> "ratio") ++ Common.Layers.map(l => s"self.${l}_s" -> "s") ++ Seq(
    "host.steal_pct" -> "%", "jvm.gc_s" -> "s", "failed_frac" -> "ratio", "trace.overhead_pct" -> "%",
    "wall.run_s" -> "s", "wall.op_gmean_s" -> "s")

  val PerLayer: Seq[(String, String)] = EtlLayer ++ CurationLayer ++ Shared

  /** The reported metrics in declared order. A per-layer metric that a
    * workload does not exercise reads 0; an undeclared name, a wrong unit,
    * or a missing end-to-end metric is a bug in the benchmark.
    */
  def complete(reported: Seq[Metric], declared: Seq[(String, String)], fillZero: Boolean): Seq[Metric] = {
    val byName = reported.map(m => m.name -> m).toMap
    val unknown = reported.filterNot(m => declared.contains(m.name -> m.unit))
    require(unknown.isEmpty, s"undeclared metrics or units: ${unknown.map(m => m.name -> m.unit)}")
    declared.map { case (n, u) =>
      byName.getOrElse(n, if (fillZero) Metric(n, 0.0, u) else throw new IllegalStateException(s"metric $n not measured"))
    }
  }
}
