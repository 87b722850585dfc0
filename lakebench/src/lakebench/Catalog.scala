package lakebench

/** A reported metric. `moves`/`on` name the end-to-end metric a
  * per-layer metric should move and the workload where it does;
  * `measuredOn` lists the workloads that measure it (empty: all).
  */
final case class MetricDef(name: String, unit: String, better: String,
    moves: String = "", on: String = "", measuredOn: Seq[String] = Nil) {
  def appliesTo(workload: String): Boolean =
    measuredOn.isEmpty || measuredOn.contains(workload)
}

/** Every metric the benchmark reports. BENCHMARK.json lists the same
  * names and units; the self-test checks that the two agree.
  */
object Catalog {
  /** A lower-is-better per-layer metric measured on `on` and `also`. */
  private def lower(n: String, u: String, moves: String, on: String, also: String*) =
    MetricDef(n, u, "lower", moves, on, on +: also)
  /** A lower-is-better per-layer metric every workload measures. */
  private def everywhere(n: String, u: String, moves: String, on: String) =
    MetricDef(n, u, "lower", moves, on)

  val endToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s", "lower"),
    MetricDef("op_p50_ms", "ms", "lower"),
    MetricDef("ops_per_s", "1/s", "higher"))

  /** The ops that launch Spark jobs, with the workload that runs each. */
  val sparkOps: Seq[(String, String)] =
    Seq("read_ref", "read_scan", "read_dv", "read_big", "read_pruned").map(_ -> "mor_read") ++
      Seq("cdc_batch", "read_after_write", "compact").map(_ -> "cdc_ingest") ++
      Seq("text_quality", "dedup_exact", "dedup_minhash_lsh", "pipe_decontaminate",
        "ann_ivfpq").map(_ -> "llm_curate")

  /** The ops whose `Mor.read`/`readAt` call is timed apart from its action. */
  val morReads: Seq[(String, String)] =
    sparkOps.filter { case (op, _) => op.startsWith("read_") }

  /** The end-to-end metric an op's figures move: the headline latency
    * for the ops behind `op_p50_ms`, else the throughput.
    */
  private def movedBy(op: String, workload: String): String =
    if (workload == "llm_curate" ||
        Set("read_ref", "read_big", "cdc_batch", "read_after_write")(op)) "op_p50_ms"
    else "ops_per_s"

  val perLayer: Seq[MetricDef] = Seq(
    lower("tableio.commit_ms", "ms", "op_p50_ms", "cdc_ingest"),
    lower("tableio.commit_tail_ms", "ms", "op_p50_ms", "cdc_ingest"),
    lower("tableio.manifest_bytes_per_commit", "bytes", "op_p50_ms", "cdc_ingest"),
    lower("tableio.manifest_entries", "count", "op_p50_ms", "cdc_ingest"),
    lower("tableio.read_manifest_ms", "ms", "op_p50_ms", "cdc_ingest"),
    lower("tableio.current_version_ms", "ms", "op_p50_ms", "cdc_ingest"),
    lower("tableio.count_from_metadata_ms", "ms", "op_p50_ms", "cdc_ingest"),
    lower("tableio.write_deletes_ms", "ms", "setup_s", "mor_read"),
    lower("mor.ref_ms", "ms", "op_p50_ms", "mor_read"),
    lower("mor.big_ms", "ms", "op_p50_ms", "mor_read"),
    lower("mor.scan_ms", "ms", "op_p50_ms", "mor_read"),
    lower("mor.dv_ms", "ms", "op_p50_ms", "mor_read"),
    lower("mor.eq_join_ms", "ms", "op_p50_ms", "mor_read"),
    lower("mor.pruned_ms", "ms", "ops_per_s", "mor_read"),
    lower("mor.data_files", "count", "op_p50_ms", "mor_read"),
    lower("mor.delete_files", "count", "op_p50_ms", "mor_read"),
    lower("mor.read_after_write.delete_files", "count", "op_p50_ms", "cdc_ingest")) ++
    morReads.map { case (op, w) => lower(s"mor.$op.plan_ms", "ms", movedBy(op, w), w) } ++
    Seq(
      lower("replication.apply_ms", "ms", "op_p50_ms", "cdc_ingest"),
      lower("replication.rows_in", "count", "op_p50_ms", "cdc_ingest"),
      lower("maintenance.compact_ms", "ms", "ops_per_s", "cdc_ingest"),
      lower("maintenance.bytes_rewritten", "bytes", "ops_per_s", "cdc_ingest"),
      lower("maintenance.files_before", "count", "op_p50_ms", "cdc_ingest"),
      lower("maintenance.files_after", "count", "op_p50_ms", "cdc_ingest"),
      lower("pipeline.prepare_data_ms", "ms", "setup_s", "mor_read"),
      lower("pipeline.prepare_deletes_ms", "ms", "setup_s", "mor_read"),
      lower("pipeline.prepare_bulk_ms", "ms", "setup_s", "mor_read", "cdc_ingest"),
      lower("sources.generate_ms", "ms", "setup_s", "llm_curate"),
      everywhere("sources.rows_generated", "count", "setup_s", "mor_read")) ++
    sparkOps.collect { case (op, w) if w == "llm_curate" =>
      lower(s"op.${op}_ms", "ms", "op_p50_ms", w)
    } ++
    sparkOps.flatMap { case (op, w) =>
      Seq("jobs" -> "count", "tasks" -> "count", "task_cpu_ms" -> "ms",
        "driver_gap_ms" -> "ms", "plan_ms" -> "ms").map { case (k, u) =>
        lower(s"spark.$op.$k", u, movedBy(op, w), w)
      }
    } ++
    Seq(
      everywhere("jvm.heap_peak_mb", "MB", "setup_s", "mor_read"),
      everywhere("jvm.gc_ms", "ms", "ops_per_s", "cdc_ingest"),
      everywhere("host.cpu_steal_pct", "%", "op_p50_ms", "mor_read"),
      everywhere("trace.spans", "count", "ops_per_s", "mor_read"),
      everywhere("trace.listener_wait_ms", "ms", "ops_per_s", "mor_read"))

  val all: Seq[MetricDef] = endToEnd ++ perLayer
  lazy val byName: Map[String, MetricDef] = all.map(m => m.name -> m).toMap
}
