package perfbench

/** Every per-layer metric a traced run reports, with its unit and which
  * direction is better; BENCHMARK.json's `per_layer` lists the same names.
  * A metric whose layer a workload does not exercise reads 0, and the run
  * says why. */
object Layers {

  val Phases: Seq[String] =
    Seq("TableStructure", "TableData", "Sequence", "Index", "ForeignKey", "View", "Trigger")

  /** The parity subset: q01-q15 and q36-q39. */
  val ParityNames: Seq[String] = Seq(
    "q01_agg", "q02_deferred_join_page", "q03_exclusion_filter", "q04_group_concat",
    "q05_typemap", "q06_value_transforms", "q07_count_compare", "q08_page_plan",
    "q09_schema_probe", "q10_join_agg", "q11_sort_limit", "q12_scalar_funcs",
    "q13_window_topk", "q14_event_window", "q15_json_extract", "q36_ddl_index",
    "q37_ddl_fk", "q38_ddl_sequence", "q39_ddl_view_trigger")

  val All: Seq[(String, String, String)] = Seq(
    ("catalog.pages", "count", "lower"),
    ("catalog.page_ms_p50", "ms", "lower"),
    ("catalog.page_ms_max", "ms", "lower"),
    ("catalog.page_growth", "ratio", "lower"),
    ("io.read_s", "s", "lower"),
    ("io.read_rows", "rows", "higher"),
    ("transform.s", "s", "lower"),
    ("transform.nul_values", "count", "lower"),
    ("io.encode_s", "s", "lower"),
    ("io.encode_bytes", "bytes", "lower"),
    ("io.encode_bytes_per_row", "bytes", "lower"),
    ("io.copy_s", "s", "lower"),
    ("io.copy_transports", "count", "lower"),
    ("io.copy_flushes", "count", "lower"),
    ("io.copy_flush_kb_mean", "KB", "higher")) ++
    Phases.map(p => (s"cli.phase_s.$p", "s", "lower")) ++ Seq(
    ("cli.migrate_s", "s", "lower"),
    ("cli.ddl_s", "s", "lower"),
    ("cli.rows_per_s", "rows/s", "higher"),
    ("cli.failed_share", "ratio", "lower"),
    ("cli.table_ms_p50", "ms", "lower"),
    ("cli.table_ms_p95", "ms", "lower"),
    ("cli.in_flight_mean", "tables", "higher"),
    ("cli.catalog_calls", "count", "lower"),
    ("cli.columns_calls_per_table", "count", "lower"),
    ("cli.probe_ms_p50", "ms", "lower"),
    ("spark.jobs_per_table", "count", "lower"),
    ("io.insert_s", "s", "lower"),
    ("io.insert_jobs_per_table", "count", "lower"),
    ("io.ddl_statements", "count", "lower"),
    ("io.ddl_failed", "count", "lower"),
    ("io.ddl_stmt_ms_p50", "ms", "lower"),
    ("io.ddl_stmt_ms_p95", "ms", "lower"),
    ("ddlgen.s", "s", "lower"),
    ("ddlgen.statements", "count", "lower"),
    ("verify.compare_s", "s", "lower"),
    ("verify.jobs", "count", "lower"),
    ("verify.records_read", "rows", "lower"),
    ("operators.queries_s", "s", "lower")) ++
    ParityNames.map(q => (s"operators.query_s.$q", "s", "lower")) ++ Seq(
    ("spark.task_s", "s", "lower"),
    ("spark.cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.records_read", "rows", "lower"),
    ("trace.jobs_repeat", "bool", "higher"),
    ("trace.overhead_share", "ratio", "lower"))

  /** All metrics in canonical order, 0 where `got` has none; empty when
    * the run was not traced. */
  def complete(got: Map[String, Double]): Seq[M] =
    if (got.isEmpty) Nil
    else {
      val unknown = got.keySet -- All.map(_._1)
      require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
      All.map { case (n, u, _) => M(n, got.getOrElse(n, 0.0), u) }
    }
}
