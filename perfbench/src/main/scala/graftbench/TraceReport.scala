package graftbench

/** The traced run's one artifact: every span with its self time, every
  * attributed Spark job and stage, the per-layer metrics and the
  * per-gate / per-batch breakdowns. Times are milliseconds from the
  * start of the workload span. */
object TraceReport {
  def render(t: Tracer, root: Span, res: Main.Result): String = t.synchronized {
    def ms(ns: Long) = (ns - root.start) / 1e6
    val spans = t.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> ms(s.start), "dur_ms" -> (s.end - s.start) / 1e6,
        "self_ms" -> t.selfNs(s) / 1e6, "attrs" -> s.attrs)
    }
    val jobs = t.jobs.values.map { j =>
      Map("job" -> j.jobId, "span" -> j.span, "span_property" -> j.propSpan,
        "start_ms" -> ms(j.start), "dur_ms" -> (j.end - j.start) / 1e6,
        "stages" -> j.stageIds)
    }
    val stages = t.stages.values.map { s =>
      Map("stage" -> s.stageId, "job" -> s.jobId, "name" -> s.name, "tasks" -> s.tasks,
        "wall_ms" -> s.wallMs, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6,
        "deser_ms" -> s.deserMs, "gc_ms" -> s.gcMs, "sched_delay_ms" -> s.schedDelayMs,
        "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_bytes" -> s.spill,
        "bytes_read" -> s.bytesRead, "records_read" -> s.recordsRead,
        "bytes_written" -> s.bytesWritten, "records_written" -> s.recordsWritten,
        "files_written" -> s.filesWritten)
    }
    // wall-time accounting: the workload span's direct children (set-up
    // and phases) and what is left over in the workload span itself
    val phases = t.spans.filter(_.parent == root.id)
      .map(s => Map("phase" -> s.name, "s" -> (s.end - s.start) / 1e9))
    val accounting = Map(
      "wall_s" -> (root.end - root.start) / 1e9,
      "setup_s" -> res.metrics.get("setup_s"),
      "phases_s" -> phases,
      "unaccounted_s" -> t.selfNs(root) / 1e9)
    Json.render(Map("per_layer" -> res.perLayer, "end_to_end" -> res.metrics,
      "setup" -> res.setup, "accounting" -> accounting, "info" -> res.info,
      "spans" -> spans, "jobs" -> jobs, "stages" -> stages))
  }
}
