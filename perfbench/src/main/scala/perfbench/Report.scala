package perfbench

import Stats.{median, percentile}

/** Turns a run's passes into the metrics the benchmark reports. */
object Report {

  /** End-to-end metrics (untraced passes): name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "pipeline_s" -> "s",
    "dump_records_per_s" -> "records/s",
    "reload_records_per_s" -> "records/s",
    "compact_records_per_s" -> "records/s",
    "hot_reload_p50_ms" -> "ms",
    "dump_bytes_per_record" -> "bytes",
    "peak_heap_mb" -> "MB")

  /** Percentile reported for the hot decisions. Every run makes enough
    * decisions for [[Stats.samplesFor]] of it. No tail is reported: a
    * run has too few decisions for p99, and p90 followed the host's
    * speed drift past any usable bound.
    */
  val DecisionPercentile = 50.0

  /** Per-layer metrics (traced passes): name → unit. A layer a
    * workload does not exercise reports 0.
    */
  val PerLayer: Seq[(String, String)] = {
    val dump = Seq("s" -> "s", "jobs" -> "count", "shuffle_write_bytes" -> "bytes",
      "executor_cpu_s" -> "s", "spill_bytes" -> "bytes", "driver_tail_s" -> "s",
      "files_out" -> "count", "bytes_out" -> "bytes").map { case (k, u) => s"dumper.dump.$k" -> u }
    val compact = Seq("s" -> "s", "shuffle_write_bytes" -> "bytes", "executor_cpu_s" -> "s",
      "files_in" -> "count", "files_out" -> "count", "driver_tail_s" -> "s")
      .map { case (k, u) => s"dumper.compact.$k" -> u }
    val reload = Seq("s" -> "s", "shuffle_write_bytes" -> "bytes", "executor_cpu_s" -> "s",
      "spill_bytes" -> "bytes").map { case (k, u) => s"reloader.reload.$k" -> u }
    val sink = Seq("sink.end_offsets.s" -> "s", "sink.end_offsets.calls" -> "count", "sink.write.s" -> "s")
    val state = Seq("state.states.ms" -> "ms", "state.states.lines" -> "count", "state.save.ms" -> "ms",
      "catalog.latest.ms" -> "ms", "catalog.dump_ids" -> "count", "group_reset.ms" -> "ms")
    val stream = Seq("stream.batches" -> "count", "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
      "stream.wal_commit_ms" -> "ms", "stream.latest_offset_ms" -> "ms", "stream.query_planning_ms" -> "ms")
    val queries = CorpusCuration.Queries.flatMap { q =>
      Seq("s" -> "s", "analysis_ms" -> "ms", "optimization_ms" -> "ms", "planning_ms" -> "ms",
        "executor_cpu_s" -> "s", "shuffle_write_bytes" -> "bytes").map { case (k, u) => s"query.$q.$k" -> u }
    }
    dump ++ compact ++ reload ++ sink ++ state ++ stream ++ Seq("codec.decode.s" -> "s") ++ queries ++
      Seq("jvm.gc_s" -> "s", "trace.overhead_s" -> "s")
  }

  private def metric(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)

  def apply(workload: String, seed: Long, trace: Boolean, ctx: Ctx, passes: Seq[Iteration],
            setupS: Seq[Double], sessionS: Double, w: Workload, cpus: Int): Map[String, Any] = {
    val untraced = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    def med(f: Iteration => Double) = median(untraced.map(f))
    // each step's median over the passes; their sum is a typical pass
    val stepS = untraced.head.steps.keys.map(k => k -> med(_.steps(k))).toMap
    // one call of a step: median over every call in the untraced passes
    def call(k: String) = median(untraced.flatMap(_.calls.getOrElse(k, Nil)))
    val first = untraced.head
    val decisions = untraced.flatMap(_.decisionsMs)
    val e2e = Map(
      "setup_s" -> median(setupS),
      "pipeline_s" -> stepS.values.sum,
      "dump_records_per_s" -> first.dumpRecords / call(if (first.calls.contains("dump")) "dump" else "stream"),
      "reload_records_per_s" -> first.reloadRecords / call("reload"),
      "compact_records_per_s" -> first.compactRecords / call("compact"),
      "hot_reload_p50_ms" -> percentile(decisions, DecisionPercentile),
      "dump_bytes_per_record" -> med(it => it.dumpBytes.toDouble / it.dumpRecords),
      "peak_heap_mb" -> HeapWatch.peakMb)
    val batches = untraced.flatMap(_.batchMs)
    val extra = Map.newBuilder[String, Any]
    extra += "error_rate" -> (if (ctx.attempted == 0) 1.0 else ctx.failedOps.toDouble / ctx.attempted)
    extra += "session_s" -> sessionS
    extra += "peak_rss_mb" -> Main.peakRssMb()
    extra += "explicit_gc_s" -> HeapWatch.explicitGcMs / 1e3
    extra += "passes" -> untraced.size
    extra += "traced_passes" -> traced.size
    extra += "decision_samples" -> decisions.size
    extra += "call_samples_s" -> untraced.map(_.calls)
    extra += "setup_samples_s" -> setupS
    extra += "pipeline_samples_s" -> untraced.map(_.pipelineS)
    extra += "steps_median_s" -> stepS
    if (batches.nonEmpty) {
      extra += "stream_batch_p50_ms" -> median(batches)
    }
    if (untraced.exists(_.querySeconds > 0)) extra += "query_s" -> med(_.querySeconds)

    val metrics: Map[String, Any] =
      if (!trace) EndToEnd.map { case (k, u) => k -> metric(e2e(k), u) }.toMap
      else {
        val overhead = median(traced.map(_.pipelineS)) - stepS.values.sum
        PerLayer.map { case (k, u) =>
          val v = if (k == "trace.overhead_s") overhead
                  else ctx.probe.samples.get(k).filter(_.nonEmpty).map(median).getOrElse(0.0)
          k -> metric(v, u)
        }.toMap
      }

    Map(
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> (if (trace) 1 else 0),
      "correct" -> (ctx.failedOps == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failedOps,
      "metrics" -> metrics,
      "end_to_end_untraced" -> e2e,
      "extra" -> extra.result(),
      "failures" -> ctx.failures.take(50),
      "config" -> Map(
        "cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> ctx.spark.version,
        "java_version" -> System.getProperty("java.version"),
        "spark_graft_cache" -> sys.env.getOrElse("SPARK_GRAFT_CACHE", "(unset)"),
        "inputs" -> w.sizes,
        "warmup" -> (s"${Main.SetupRounds} set-ups (median reported), one untimed warm-up pass " +
          "(one round; bulk_tail and microbatch_stream on a part of their input), " +
          "then passes until --seconds elapse and the untraced passes hold enough hot decisions " +
          "for their median; a full collection before every timed call" +
          (if (trace) "; passes alternate untraced and traced" else ""))))
  }
}
