package graft.perfbench

/** Every metric the benchmark reports, with its unit. `BENCHMARK.json`
  * at the repository root declares the same names (a test keeps the
  * two in step). */
object Metrics {
  final case class Def(name: String, unit: String)

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("sweep_s", "s"),
    Def("op_p50_s", "s"))

  /** The `chart_queries` workload: SparkEntry's reference surface. */
  val ChartQueries: Seq[String] = Seq(
    "q_rank_delta", "q_rank_delta_between", "q_string_agg",
    "q_upsert_returning", "q_keep_best_row", "q_join_update",
    "q_full_outer_merge", "q_orphan_gc", "q_semi_join", "q_retention",
    "q_point_filter", "q_topk", "q_union_tagged", "q_rollup",
    "q_pricing_summary", "q_ordered_agg_struct", "q_scalar_funcs",
    "q_date_funcs", "q_delta_glyph", "q_rolling_window",
    "q_positional_rank", "q_explode_normalize", "q_nested_projection",
    "q_count_guard", "q_scalar_lookup", "q_view_projection",
    "q_positional_split")

  val StageNames: Seq[String] = Seq("graph", "dedup", "lm", "vector")

  val PerLayer: Seq[Def] = Seq(
    Def("io.table_ms", "ms"),
    Def("queries.build_ms", "ms"),
    Def("queries.build_jobs", "count"),
    Def("plans.plan_ms", "ms"),
    Def("exec.ms", "ms"),
    Def("exec.jobs", "count"),
    Def("exec.stages", "count"),
    Def("exec.tasks", "count"),
    Def("exec.floor_ms", "ms"),
    Def("exec.task_ms", "ms"),
    Def("exec.shuffle_write_bytes", "bytes"),
    Def("exec.input_bytes", "bytes"),
    Def("exec.rows_read_per_row_out", "ratio"),
    Def("exec.failed_tasks", "count")) ++
    ChartQueries.map(q => Def(s"q.$q.s", "s")) ++
    StageNames.map(s => Def(s"stages.build_s.$s", "s")) ++ Seq(
    Def("stages.builds", "count"),
    Def("ingest.fetch_ms", "ms"),
    Def("ingest.fetches", "count"),
    Def("etl.read_ms", "ms"),
    Def("etl.version_ms", "ms"),
    Def("etl.commit_ms", "ms"),
    Def("etl.calls", "count"),
    Def("etl.bytes_written", "bytes"),
    Def("etl.write_amp", "ratio"),
    Def("etl.store_bytes_per_day", "bytes"),
    Def("daily.day_s", "s"),
    Def("daily.self_ms", "ms"),
    Def("daily.jobs", "count"),
    Def("daily.task_ms", "ms"),
    Def("fold.day_s", "s"),
    Def("fold.self_ms", "ms"),
    Def("fold.jobs", "count"),
    Def("fold.task_ms", "ms"),
    Def("fold.docs_per_s", "1/s"),
    Def("jvm.gc_ms", "ms"),
    Def("jvm.heap_peak_mb", "MB"),
    Def("trace.overhead_pct", "%"))

  def unitOf(name: String): String =
    (EndToEnd ++ PerLayer).find(_.name == name).map(_.unit)
      .getOrElse(throw new NoSuchElementException(name))
}

/** The result object: the last line of the benchmark's output. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double)]) {
  def json: String = {
    val ms = metrics.map { case (n, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": ${BigDecimal(x).bigDecimal.toPlainString}, "unit": "${Metrics.unitOf(n)}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
