package perfbench

/** Folds the traced spans into per-layer metrics, each per traced round
  * unless it is a ratio or a peak. Span layers are the benchmark's call
  * sites: `op` (one workload operation), `sinks.prepare`,
  * `sources.write|meta|scan|maint`, `llm.*` (one per maintained-index
  * verb) and `ops` (one registry entry). */
object Layers {

  def unit(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("bytes") || n.endsWith("bytes_peak") || n.endsWith("_rewritten") => "bytes"
    case n if n.endsWith("_frac") || n.endsWith("_amp") || n.endsWith("overhead") ||
      n.endsWith("_per_row_out") || n.endsWith("recall_at_3") => "ratio"
    case _ => "count"
  }

  def fold(done: Seq[Trace.Done], run: Run, rounds: Int, cores: Int): Map[String, Double] = {
    val per = math.max(1, rounds).toDouble
    val byLayer = done.groupBy(_.span.layer).withDefaultValue(Seq.empty)
    val byId = done.map(d => d.span.id -> d).toMap
    // Benchmark-side counts land on the op span; credit them to the
    // layers the op called into.
    val opLayers = done.filter(_.span.parent != 0).groupBy(d => rootOf(d, byId))
      .map { case (root, cs) => root -> cs.map(_.span.layer).toSet }
    def c(ds: Seq[Trace.Done], k: String): Double = ds.map(_.counters.getOrElse(k, 0.0)).sum
    def busy(l: String): Double = byLayer(l).map(_.span.durMs).sum
    def calls(l: String): Double = byLayer(l).size
    def opsInto(l: String): Seq[Trace.Done] =
      done.filter(d => d.span.parent == 0 && opLayers.getOrElse(d.span.id, Set.empty).contains(l))
    val w = byLayer("sources.write")
    val scanSpans = byLayer("sources.scan")
    val readSpans = scanSpans ++ byLayer("sources.meta")
    def perCall(l: String): Double = if (calls(l) > 0) busy(l) / calls(l) else 0.0
    // The exchange is fed by the operators and the LLM verbs; the
    // benchmark's own checksums are not counted.
    val fed = done.filter(d => d.span.layer == "ops" || d.span.layer.startsWith("llm."))
    val ops = byLayer("ops")
    val rowsOut = c(done, "rows_out")
    val userBytes = c(done, "user_bytes")
    Map(
      "sinks.prepare_ms" -> busy("sinks.prepare") / per,
      "sources.write.calls" -> calls("sources.write") / per,
      "sources.write.busy_ms" -> busy("sources.write") / per,
      "sources.write.task_ms" -> c(w, "task_ms") / per,
      "sources.write.driver_ms" -> (busy("sources.write") - c(w, "job_ms")) / per,
      "sources.write.rows" -> c(opsInto("sources.write"), "rows") / per,
      "sources.write.bytes" -> c(opsInto("sources.write"), "bytes_written") / per,
      "sources.write.files" -> c(opsInto("sources.write"), "files_written") / per,
      "sources.commit.manifest_bytes" -> c(opsInto("sources.write"), "manifest_bytes") / per,
      "sources.meta.calls" -> calls("sources.meta") / per,
      "sources.meta.busy_ms" -> busy("sources.meta") / per,
      "sources.meta.plan_ms" -> readSpans.flatMap(d =>
        d.counters.get("first_job_ms").map(_ - d.span.startMs)).sum / per,
      "sources.meta.manifests_live" -> run.manifestsLive.toDouble,
      "scan.files_read" -> c(done, "files_read") / per,
      "scan.files_pruned" -> c(done, "files_pruned") / per,
      "scan.dv_rows_skipped" -> c(done, "dv_rows_skipped") / per,
      "scan.rows_out" -> rowsOut / per,
      "scan.rows_read_per_row_out" ->
        (if (rowsOut > 0) (rowsOut + c(done, "dv_rows_skipped")) / rowsOut else 0.0),
      "scan.task_ms" -> c(scanSpans, "task_ms") / per,
      "sources.maint.busy_ms" -> busy("sources.maint") / per,
      "storage.bytes_rewritten" -> c(done, "bytes_rewritten") / per,
      "storage.write_amp" -> (if (userBytes > 0) c(done, "bytes_written") / userBytes else 0.0),
      "storage.bytes_peak" -> run.bytesPeak.toDouble,
      "llm.text.serve_ms" -> perCall("llm.text.serve"),
      "llm.vec.serve_ms" -> perCall("llm.vec.serve"),
      "llm.vec.ingest_ms" -> perCall("llm.vec.ingest"),
      "llm.delete_ms" -> perCall("llm.delete"),
      "llm.purge_ms" -> perCall("llm.purge"),
      "llm.retrain_ms" -> perCall("llm.retrain"),
      "llm.text.files_per_serve" ->
        (if (calls("llm.text.serve") > 0) c(byLayer("llm.text.serve"), "files_read") / calls("llm.text.serve") else 0.0),
      "llm.vec.recall_at_3" -> (if (run.recalls.isEmpty) 0.0 else run.recalls.sum / run.recalls.size),
      "exchange.shuffle_write_bytes" -> c(fed, "shuffle_write_bytes") / per,
      "exchange.shuffle_read_bytes" -> c(fed, "shuffle_read_bytes") / per,
      "exchange.records" -> c(fed, "shuffle_records") / per,
      "exchange.fetch_wait_ms" -> c(fed, "fetch_wait_ms") / per,
      "exchange.spill_bytes" -> c(fed, "spill_bytes") / per,
      "exchange.stages" -> c(fed, "stages") / per,
      "exchange.tasks" -> c(fed, "tasks") / per,
      "exchange.broadcast_bytes" -> c(fed, "broadcast_bytes") / per,
      "ops.task_ms" -> c(ops, "task_ms") / per,
      "ops.cpu_ms" -> c(ops, "cpu_ms") / per,
      "ops.jobs" -> c(ops, "jobs") / per,
      "spark.task_busy_frac" ->
        (if (busy("ops") > 0) c(ops, "task_ms") / (busy("ops") * cores) else 0.0),
      "plans.analysis_ms" -> c(done, "phase_analysis") / per,
      "plans.optimization_ms" -> c(done, "phase_optimization") / per,
      "plans.planning_ms" -> c(done, "phase_planning") / per,
      "trace.spans" -> done.size / per,
      "trace.self_op_ms" -> byLayer("op").map(_.selfMs).sum / per)
  }

  private def rootOf(d: Trace.Done, byId: Map[Int, Trace.Done]): Int = {
    var cur = d
    while (cur.span.parent != 0 && byId.contains(cur.span.parent)) cur = byId(cur.span.parent)
    cur.span.id
  }
}
