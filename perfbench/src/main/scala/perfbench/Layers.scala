package perfbench

/** Names and units of the per-layer metrics. Every name is printed by
  * every traced run; a layer a workload does not exercise reads 0. */
object Layers {
  val sourceFormats = Seq("csv", "csv_gz", "csv_bz2", "csv_xz", "csv_zst", "tsv", "ltsv", "jsonl",
    "xlsx", "parquet")
  val sinkFormats = Seq("csv", "csv_zst", "tsv", "ltsv", "jsonl", "xlsx", "parquet")
  val selectClasses = Seq("point", "join_agg", "window", "cte", "shim", "meta")
  val gates = Seq("t35_ngram_decontam", "e15_streaming_bloom_screen")

  val sourceSteps = Seq("collect", "header", "newline_scan", "decompress", "infer", "xlsx_parse",
    "raw_scan", "typed_scan")

  val engine = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes")

  val all: Seq[String] =
    sourceSteps.map(s => s"sources.${s}_s") ++
      sourceFormats.map(f => s"sources.$f.rows_per_s") ++
      sinkFormats.map(f => s"sinks.$f.rows_per_s") ++
      sinkFormats.map(f => s"sinks.bytes_per_row.$f") ++
      Seq("session.open_s", "session.sql_call_s", "session.plan_s", "session.exec_s",
        "session.txn_s") ++
      selectClasses.map(c => s"session.query.${c}_p50_s") ++
      Seq("mutate.insert_s", "mutate.update_s", "mutate.delete_s", "mutate.read_after_write_s",
        "mutate.checkpoint_stmt_s") ++
      gates.map(g => s"queries.${g}_s") ++
      Seq("streaming.batches", "streaming.batch_p50_s", "streaming.addBatch_s",
        "streaming.queryPlanning_s", "streaming.walCommit_s") ++
      engine ++
      Seq("host.calib_s", "jvm.peak_heap_mb", "jvm.heap_after_gc_mb") ++
      Seq("bench.inputs_s", "bench.process_start_s", "bench.warmup_s", "bench.first_op_s",
        "bench.trace_overhead", "bench.span_coverage")

  def unit(k: String): String =
    if (k.endsWith("rows_per_s")) "rows/s"
    else if (k.startsWith("sinks.bytes_per_row")) "B/row"
    else if (k.endsWith("_bytes")) "B"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_s")) "s"
    else if (k == "bench.trace_overhead" || k == "bench.span_coverage") "ratio"
    else "count"
}
