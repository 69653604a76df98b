package graft.perfbench

/** The per-layer metrics, by layer. A traced run prints every one on
  * every workload; a layer the workload leaves idle reads 0 (no calls,
  * no samples), which is itself the prediction the workload makes. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    // streamlog.publish
    "publish.calls" -> "count", "publish.service_ms_p50" -> "ms", "publish.service_ms_p99" -> "ms",
    "gen.late_ms_p99" -> "ms",
    // streamlog.meta
    "meta.reads" -> "count", "meta.read_bytes" -> "bytes", "meta.read_ms_p50" -> "ms",
    "meta.appends" -> "count", "meta.append_ms_p50" -> "ms", "meta.cas_conflicts" -> "count",
    "meta.probes" -> "count", "meta.log_bytes_end" -> "bytes",
    // streamlog.segments
    "segments.puts" -> "count", "segments.put_bytes" -> "bytes", "segments.put_ms_p50" -> "ms",
    "segments.reads" -> "count", "segments.read_bytes" -> "bytes", "segments.live_end" -> "count",
    "storage.bytes_per_user_byte" -> "ratio",
    // wire (S3 simulator)
    "wire.gets" -> "count", "wire.range_gets" -> "count", "wire.puts" -> "count",
    "wire.heads" -> "count", "wire.posts" -> "count", "wire.deletes" -> "count",
    "wire.ops_per_record" -> "ratio", "wire.retries" -> "count",
    // streamlog.read
    "consume.calls" -> "count", "consume.records" -> "count", "consume.segments_opened" -> "count",
    "poll.calls" -> "count", "poll.probes" -> "count", "poll.refreshes" -> "count",
    "poll.useful_probe_ratio" -> "ratio",
    // streamlog.maintain
    "maintain.passes" -> "count", "maintain.busy_s" -> "s", "maintain.windows" -> "count",
    "maintain.records_rewritten" -> "count", "maintain.bytes_rewritten" -> "bytes",
    "maintain.jobs" -> "count", "maintain.tasks" -> "count", "maintain.task_s" -> "s",
    "maintain.rewrite_records_per_s" -> "1/s",
    // sources.microbatch
    "microbatch.batches" -> "count", "microbatch.rows_p50" -> "count",
    "microbatch.trigger_ms_p50" -> "ms", "microbatch.latest_offset_ms_p50" -> "ms",
    "microbatch.query_planning_ms_p50" -> "ms", "microbatch.add_batch_ms_p50" -> "ms",
    "microbatch.wal_commit_ms_p50" -> "ms", "microbatch.commit_offsets_ms_p50" -> "ms",
    // sources.scan
    "scan.calls" -> "count", "scan.ms_p50" -> "ms", "scan.tasks" -> "count", "scan.task_s" -> "s",
    // registry (graft.operators and graft.functions, through SparkEntry.queries)
    "registry.build_s" -> "s", "registry.analysis_s" -> "s", "registry.optimization_s" -> "s",
    "registry.planning_s" -> "s", "registry.exec_s" -> "s", "registry.jobs" -> "count",
    "registry.tasks" -> "count", "registry.executor_run_s" -> "s", "registry.executor_cpu_s" -> "s",
    "registry.shuffle_write_bytes" -> "bytes", "registry.shuffle_read_bytes" -> "bytes",
    "registry.fetch_wait_s" -> "s", "registry.spill_bytes" -> "bytes", "registry.occupancy" -> "ratio",
    "registry.codegen_compiles" -> "count") ++
    Registry.Queries.map(q => s"registry.${q}_s" -> "s") ++ Seq(
    // jvm
    "jvm.gc_s" -> "s", "jvm.process_cpu_s" -> "s", "jvm.heap_peak_bytes" -> "bytes",
    // the trace itself
    "trace.spans" -> "count", "trace.bookkeeping_ms" -> "ms")

  /** The registry layer, per warm pass (the window runs whole passes,
    * and how many fit depends on the host): planning phases and run
    * times summed over the pass's queries, the task metrics of their
    * job group, and codegen compiles. */
  def registry(ctx: Ctx, w: Host.Window, compiles: Long, passes: Int): Map[String, Double] = {
    val r = ctx.rec
    ctx.drainListeners()
    val n = math.max(1, passes).toDouble
    def s(m: String) = s"registry.${m}_s" -> r.samplesOf(s"registry.$m").sum / 1e3 / n
    val t = ctx.tasks.map(_.of(SparkProbe.Registry))
    def tally(f: TaskTally.Tally => Long) = t.map(x => f(x).toDouble / n).getOrElse(0.0)
    Map(s("build"), s("analysis"), s("optimization"), s("planning"), s("exec"),
      "registry.jobs" -> tally(_.jobs.sum()), "registry.tasks" -> tally(_.tasks.sum()),
      "registry.executor_run_s" -> tally(_.runMs.sum()) / 1e3,
      "registry.executor_cpu_s" -> tally(_.cpuNs.sum()) / 1e9,
      "registry.shuffle_write_bytes" -> tally(_.shuffleWriteBytes.sum()),
      "registry.shuffle_read_bytes" -> tally(_.shuffleReadBytes.sum()),
      "registry.fetch_wait_s" -> tally(_.fetchWaitMs.sum()) / 1e3,
      "registry.spill_bytes" -> tally(_.spillBytes.sum()),
      // task time over the window's core time
      "registry.occupancy" -> (if (w.wallS > 0) tally(_.runMs.sum()) * n / 1e3 / (w.wallS * Host.cores) else 0.0),
      "registry.codegen_compiles" -> compiles / n)
  }

  def complete(m: Map[String, Double]): Seq[Metric] = {
    val unknown = m.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics not in the list: $unknown")
    All.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) }
  }

  /** The metrics every workload derives the same way from the recorder,
    * the task tally and the measured window. */
  def common(ctx: Ctx, w: Host.Window): Map[String, Double] = {
    val r = ctx.rec
    def c(n: String) = n -> r.counter(n).toDouble
    def p(n: String, sample: String, pct: Double) = n -> Pct.of(r.samplesOf(sample), pct)
    ctx.drainListeners()
    val maint = ctx.tasks.map(_.of(SparkProbe.Maintain))
    val scan = ctx.tasks.map(_.of(SparkProbe.Scan))
    Map(
      c("publish.calls"), p("publish.service_ms_p50", "publish", 50), p("publish.service_ms_p99", "publish", 99),
      c("meta.reads"), c("meta.read_bytes"), p("meta.read_ms_p50", "meta.read", 50),
      c("meta.appends"), p("meta.append_ms_p50", "meta.append", 50), c("meta.cas_conflicts"),
      c("meta.probes"),
      c("segments.puts"), c("segments.put_bytes"), p("segments.put_ms_p50", "segments.put", 50),
      c("segments.reads"), c("segments.read_bytes"),
      c("consume.calls"), c("consume.records"), c("consume.segments_opened"),
      c("poll.calls"), c("poll.probes"), c("poll.refreshes"),
      c("maintain.passes"), "maintain.busy_s" -> r.samplesOf("maintain").sum / 1e3,
      c("maintain.windows"), c("maintain.records_rewritten"), c("maintain.bytes_rewritten"),
      "maintain.jobs" -> maint.map(_.jobs.sum().toDouble).getOrElse(0.0),
      "maintain.tasks" -> maint.map(_.tasks.sum().toDouble).getOrElse(0.0),
      "maintain.task_s" -> maint.map(_.runMs.sum() / 1e3).getOrElse(0.0),
      c("microbatch.batches"), p("microbatch.rows_p50", "microbatch.rows", 50),
      p("microbatch.trigger_ms_p50", "microbatch.trigger", 50),
      p("microbatch.latest_offset_ms_p50", "microbatch.latest_offset", 50),
      p("microbatch.query_planning_ms_p50", "microbatch.query_planning", 50),
      p("microbatch.add_batch_ms_p50", "microbatch.add_batch", 50),
      p("microbatch.wal_commit_ms_p50", "microbatch.wal_commit", 50),
      p("microbatch.commit_offsets_ms_p50", "microbatch.commit_offsets", 50),
      c("scan.calls"), p("scan.ms_p50", "scan", 50),
      "scan.tasks" -> scan.map(_.tasks.sum().toDouble).getOrElse(0.0),
      "scan.task_s" -> scan.map(_.runMs.sum() / 1e3).getOrElse(0.0),
      "jvm.gc_s" -> w.gcS, "jvm.process_cpu_s" -> w.cpuS, "jvm.heap_peak_bytes" -> w.heapPeak.toDouble,
      "trace.spans" -> r.spanCount.toDouble, "trace.bookkeeping_ms" -> r.costMs)
  }
}
