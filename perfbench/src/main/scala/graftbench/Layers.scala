package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, derived from the probes, the
  * listeners and the spans. A layer a workload does not exercise reads
  * as zero. */
object Layers {

  /** Span names whose self time is reported as `self.<name>_s`. */
  val SelfSpans: Seq[String] = Seq(
    "runner.batch", "runner.tip_probe", "runner.resume", "runner.materialize",
    "runner.sequencer_wait", "sql.transform_plan", "sql.commit", "spark.job",
    "sink.read", "sink.read_plan", "sink.compact", "operators.lsh_pairs",
    "operators.winnow_pairs", "operators.index_build", "operators.index_probe",
    "operators.index_append")

  val RpcMethods: Seq[String] = Seq("eth_getBlockByNumber", "eth_getBlockReceipts")

  /** Every metric of a traced run's summary line, with its unit. */
  val names: Seq[(String, String)] = Seq(
    "runner.batches" -> "count", "runner.tip_probes" -> "count",
    "runner.tip_probe_s" -> "s", "runner.resume_s" -> "s",
    "runner.materialize_s" -> "s", "runner.sequencer_wait_s" -> "s",
    "runner.driver_only_s" -> "s", "runner.jobs_per_batch" -> "count",
    "runner.tasks_per_batch" -> "count", "runner.retries" -> "count",
    "sql.transform_plan_s" -> "s", "sql.commit_s" -> "s") ++
    RpcMethods.map(m => s"rpc.calls.$m" -> "count") ++ Seq(
    "rpc.s" -> "s", "rpc.bytes" -> "B", "functions.decode_cpu_s" -> "s",
    "sink.write_s" -> "s", "sink.files_written" -> "count", "sink.bytes_written" -> "B",
    "sink.files_live" -> "count", "sink.superseded_ratio" -> "ratio",
    "sink.read_plan_s" -> "s", "sink.files_scanned_per_query" -> "count",
    "sink.bytes_scanned_per_query" -> "B", "sink.compact_bytes_rewritten" -> "B",
    "operators.lsh_pairs_s" -> "s", "operators.winnow_pairs_s" -> "s",
    "operators.index_build_s" -> "s", "operators.index_probe_s" -> "s",
    "operators.index_append_s" -> "s", "operators.pairs_out" -> "count",
    "operators.exchanges" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_skew" -> "ratio",
    "jvm.heap_peak_mb" -> "MB", "jvm.persistent_rdds_end" -> "count",
    "jvm.temp_views_end" -> "count") ++
    SelfSpans.map(n => s"self.${n}_s" -> "s") ++ Seq(
    "trace.spans" -> "count", "trace.items_per_s" -> "items/s",
    "trace.latency_p50_ms" -> "ms")

  def fill(b: Bench): Unit = {
    val listener = b.jobs.get
    val jobs = listener.jobs.asScala.toSeq
    val jobsOf = jobs.groupBy(_.trace)
    val batches = b.defs.toSeq.flatMap(_.batches.asScala)
    val tracer = b.tracer

    // runner: split each batch at the jobs of its group
    var materializeNs, waitNs, driverOnlyNs, transformCpuNs = 0L
    var jobCount, taskCount = 0L
    batches.foreach { t =>
      val js = jobsOf.getOrElse(t.trace, Nil)
      val before = js.filter(_.startNs < t.commitIn)
      val matEnd = math.min(t.commitIn,
        math.max(t.transformOut, before.map(_.endNs).maxOption.getOrElse(t.transformOut)))
      materializeNs += matEnd - t.transformOut
      waitNs += t.commitIn - matEnd
      driverOnlyNs += (t.commitOut - t.transformIn) -
        Spans.covered(t.transformIn, t.commitOut, js.map(j => (j.startNs, j.endNs)))
      transformCpuNs += before.map(_.sums.cpuNs).sum
      jobCount += js.size
      taskCount += js.map(_.sums.tasks).sum
      tracer.record(Span(tracer.nextId(), t.spanId, t.trace, "runner.materialize",
        t.transformOut, matEnd))
      tracer.record(Span(tracer.nextId(), t.spanId, t.trace, "runner.sequencer_wait",
        matEnd, t.commitIn))
    }
    val n = math.max(1, batches.size).toDouble
    b.put("runner.batches", batches.size, "count")
    b.put("runner.tip_probes", b.defs.map(_.tipProbes.sum()).sum, "count")
    b.put("runner.tip_probe_s", b.defs.map(_.tipProbeNs.sum()).sum / 1e9, "s")
    b.put("runner.resume_s", b.defs.map(_.resumeNs.sum()).sum / 1e9, "s")
    b.put("runner.materialize_s", materializeNs / 1e9, "s")
    b.put("runner.sequencer_wait_s", waitNs / 1e9, "s")
    b.put("runner.driver_only_s", driverOnlyNs / 1e9, "s")
    b.put("runner.jobs_per_batch", jobCount / n, "count")
    b.put("runner.tasks_per_batch", taskCount / n, "count")
    b.put("runner.retries", b.defs.map(d => math.max(0L, d.resumes.sum() - 1)).sum, "count")
    b.put("sql.transform_plan_s", batches.map(t => t.transformOut - t.transformIn).sum / 1e9, "s")
    b.put("sql.commit_s", batches.map(t => t.commitOut - t.commitIn).sum / 1e9, "s")

    // rpc and decode
    RpcMethods.foreach { m =>
      b.put(s"rpc.calls.$m", b.rpc.map(t => Option(t.calls.get(m)).map(_.sum()).getOrElse(0L)).sum,
        "count")
    }
    val rpcS = b.rpc.map(_.nanos.sum()).sum / 1e9
    b.put("rpc.s", rpcS, "s")
    b.put("rpc.bytes", b.rpc.map(_.bytes.sum()).sum, "B")
    if (batches.nonEmpty)
      b.put("functions.decode_cpu_s", math.max(0.0, transformCpuNs / 1e9 - rpcS), "s")

    // sink writes made inside pipeline commits and compaction
    b.put("sink.write_s", b.writes.writeNs.sum() / 1e9, "s")
    b.put("sink.files_written", b.writes.filesWritten.sum(), "count")
    b.put("sink.bytes_written", b.writes.bytesWritten.sum(), "B")

    // engine
    val w = listener.window
    b.put("spark.jobs", jobs.size, "count")
    b.put("spark.stages", listener.stages, "count")
    b.put("spark.tasks", w.tasks, "count")
    b.put("spark.executor_cpu_s", w.cpuNs / 1e9, "s")
    b.put("spark.executor_run_s", w.runMs / 1e3, "s")
    b.put("spark.gc_s", w.gcMs / 1e3, "s")
    b.put("spark.shuffle_write_bytes", w.shuffleWrite, "B")
    b.put("spark.shuffle_read_bytes", w.shuffleRead, "B")
    b.put("spark.spill_bytes", w.spill, "B")
    b.put("spark.task_skew", listener.taskSkew, "ratio")

    // spans: jobs join the span tree under the innermost span containing them
    jobs.foreach(j => tracer.record(Span(tracer.nextId(), 0L, j.trace, "spark.job",
      j.startNs, j.endNs)))
    val spans = Spans.adopt(tracer.all, _ == "spark.job")
    tracer.replace(spans)
    val self = Spans.selfSecondsByName(spans)
    SelfSpans.foreach(s => b.put(s"self.${s}_s", self.getOrElse(s, 0.0), "s"))
    b.put("trace.spans", spans.size, "count")
    b.metrics.get("items_per_s").foreach(v => b.put("trace.items_per_s", v._1, "items/s"))
    b.metrics.get("latency_p50_ms").foreach(v => b.put("trace.latency_p50_ms", v._1, "ms"))
  }
}
