package perfbench

/** Per-layer metrics of a traced run, computed from the spans of its traced
  * cycles. Operation-level metrics are means per operation of a kind;
  * engine-layer metrics are means per call of the spans the benchmark
  * wrapped around that layer's public functions; `self_ms.<layer>` is the
  * span time of a layer not covered by its child spans, per cycle. A
  * layer a workload does not exercise reports 0.
  *
  * `spark.job_ms` sums the durations the listener reports for the jobs
  * started in an operation; `spark.driver_gap_ms` is the operation's time
  * with no job running. Their sum over the operation's wall time,
  * `spark.accounted_ratio`, is 1 only when the operation's jobs ran one at
  * a time and inside it: overlapping jobs, and jobs that outlive the
  * operation, push it above 1.
  */
object Layers {

  val OpKinds: Seq[String] = Seq("write", "read")
  val SelfLayers: Seq[String] =
    Seq("op", "migrate", "compact", "reconcile", "snapshots", "source", "mv", "mvroute", "docstreams")

  def metrics(tracer: Tracer, ledger: JobLedger, cycles: Seq[Main.Cycle],
      sessionS: Double): Seq[(String, Double, String)] = {
    val spans = tracer.spans.filter(s => s.traced && s.cycle >= 0).toSeq
    val tracedCycles = cycles.filter(_.traced)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
    def named(n: String) = spans.filter(s => s.name == n && !s.failed)
    def callMs(n: String) = mean(named(n).map(_.ms))
    def attr(n: String, a: String) = mean(named(n).flatMap(_.attrs.get(a)))
    def attrSum(ns: Seq[String], a: String) = ns.flatMap(named).flatMap(_.attrs.get(a)).sum

    val opMetrics = OpKinds.flatMap { kind =>
      val ops = named(s"op.$kind")
      val jobs = ops.map(o => ledger.jobsIn(o.startMs, o.endMs))
      val jobMs = ops.map(o => ledger.jobMs(o.startMs, o.endMs).toDouble)
      val gap = ops.map(o => (o.endMs - o.startMs) - ledger.busyMs(o.startMs, o.endMs).toDouble)
      def jobSum(k: Int) = mean(jobs.map(js => js.map(_.m.get(k)).sum.toDouble))
      Seq(
        (s"$kind.spark.jobs", mean(jobs.map(_.size.toDouble)), "count"),
        (s"$kind.spark.stages", jobSum(JobLedger.Stages), "count"),
        (s"$kind.spark.tasks", jobSum(JobLedger.Tasks), "count"),
        (s"$kind.spark.executor_run_ms", jobSum(JobLedger.RunMs), "ms"),
        (s"$kind.spark.job_ms", mean(jobMs), "ms"),
        (s"$kind.spark.driver_gap_ms", mean(gap), "ms"),
        (s"$kind.spark.accounted_ratio",
          ratio(jobMs.sum + gap.sum, ops.map(_.ms).sum), "ratio"),
        (s"$kind.spark.input_bytes", jobSum(JobLedger.InBytes), "bytes"),
        (s"$kind.spark.shuffle_write_bytes", jobSum(JobLedger.ShWrite), "bytes"),
        (s"$kind.spark.shuffle_read_bytes", jobSum(JobLedger.ShRead), "bytes"),
        (s"$kind.spark.output_bytes", jobSum(JobLedger.OutBytes), "bytes"),
        (s"$kind.spark.output_rows", jobSum(JobLedger.OutRows), "rows")) ++
        CountingFs.Kinds.zipWithIndex.map { case (fk, i) =>
          (s"$kind.fs.$fk", mean(ops.map(_.fsDelta(i).toDouble)), "count")
        }
    }

    val skipRuns = named("migrate.call").filter(_.attrs.contains("skip_run"))
    val commits = Seq("snapshots.merge", "snapshots.delete", "snapshots.update")
    val refreshes = named("mv.refresh")
    val layerMetrics = Seq(
      ("migrate.call_ms", callMs("migrate.call"), "ms"),
      ("migrate.partitions_written", attr("migrate.call", "partitions_written"), "count"),
      ("migrate.skip_ratio", ratio(skipRuns.flatMap(_.attrs.get("partitions_skipped")).sum,
        skipRuns.map(s => s.attrs.getOrElse("partitions_skipped", 0.0) +
          s.attrs.getOrElse("partitions_written", 0.0)).sum), "ratio"),
      ("migrate.files_out", attr("migrate.call", "files_out"), "count"),
      ("compact.call_ms", callMs("compact.call"), "ms"),
      ("compact.files_in", attr("compact.call", "files_in"), "count"),
      ("compact.files_out", attr("compact.call", "files_out"), "count"),
      ("compact.bytes_out", attr("compact.call", "bytes_out"), "bytes"),
      ("reconcile.call_ms", callMs("reconcile.call"), "ms"),
      ("snapshots.merge_ms", callMs("snapshots.merge"), "ms"),
      ("snapshots.delete_ms", callMs("snapshots.delete"), "ms"),
      ("snapshots.update_ms", callMs("snapshots.update"), "ms"),
      ("snapshots.compact_ms", callMs("snapshots.compact"), "ms"),
      ("snapshots.maint_ms", callMs("snapshots.maint"), "ms"),
      ("snapshots.files_added", mean(commits.flatMap(named).flatMap(_.attrs.get("files_added"))), "count"),
      ("snapshots.files_removed", mean(commits.flatMap(named).flatMap(_.attrs.get("files_removed"))), "count"),
      ("snapshots.rewrite_amp", ratio(attrSum(commits, "rows_written"), attrSum(commits, "rows_changed")), "ratio"),
      ("source.plan_ms", callMs("source.plan"), "ms"),
      ("source.exec_ms", callMs("source.exec"), "ms"),
      ("source.prune_ratio", ratio(attrSum(Seq("source.exec"), "files_scanned"),
        attrSum(Seq("source.exec"), "live_files")), "ratio"),
      ("source.rows_scanned_per_row", ratio(attrSum(Seq("source.exec"), "rows_scanned"),
        named("source.exec").flatMap(_.attrs.get("result_rows")).map(math.max(1.0, _)).sum), "ratio"),
      ("mv.base_merge_ms", callMs("mv.base_merge"), "ms"),
      ("mv.refresh_ms", callMs("mv.refresh"), "ms"),
      ("mv.incremental_ratio", mean(refreshes.flatMap(_.attrs.get("incremental"))), "ratio"),
      ("mv.files_added", attr("mv.refresh", "files_added"), "count"),
      ("mvroute.plan_ms", callMs("mvroute.plan"), "ms"),
      ("mvroute.hit_ratio", attr("mvroute.plan", "hit"), "ratio"),
      ("docstreams.batch_ms", callMs("docstreams.batch"), "ms"),
      ("docstreams.pairs_out", attr("docstreams.batch", "pairs_out"), "count"),
      ("docstreams.state_files", attr("docstreams.batch", "state_files"), "count"))

    val perCycle = math.max(1, tracedCycles.size).toDouble
    val selfMetrics = SelfLayers.map { l =>
      (s"self_ms.$l", spans.filter(_.layer == l).map(tracer.selfMs).sum / perCycle, "ms")
    }

    def medianWall(xs: Seq[Main.Cycle]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.wallS))
    val tracedWall = medianWall(tracedCycles)
    // the untraced cycles after the traced ones: the first untraced pass
    // warms the JVM and would charge its warm-up to the untraced side
    val lastTraced = tracedCycles.lastOption.fold(-1)(_.index)
    val untracedWall = medianWall(cycles.filter(c => !c.traced && c.index > lastTraced))
    val traceMetrics = Seq(
      ("trace.traced_wall_s", tracedWall, "s"),
      ("trace.untraced_wall_s", untracedWall, "s"),
      ("trace.overhead_s", tracedWall - untracedWall, "s"),
      ("setup.session_s", sessionS, "s"))

    opMetrics ++ layerMetrics ++ selfMetrics ++ traceMetrics
  }
}
