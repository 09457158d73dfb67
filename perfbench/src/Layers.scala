package perfbench

/** Per-layer metrics of a traced run, computed from the tracer's spans and
  * jobs. Counters (jobs, bytes, tasks, files) are averaged over the first
  * `tracedWanted` traced rounds only, so two traced runs on one seed see
  * the same operations and must report the same counts; times are medians
  * over every traced round. Every traced run reports every name below; a
  * layer the workload never calls reads 0. */
object Layers {

  /** name -> unit, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "ingest.input_bytes" -> "B", "ingest.jobs" -> "count", "ingest.shuffle_bytes" -> "B",
    "ingest.output_bytes" -> "B", "ingest.driver_ms" -> "ms",
    "analysis.driver_ms" -> "ms", "analysis.jobs" -> "count", "analysis.input_bytes" -> "B",
    "analysis.series_ms" -> "ms", "analysis.before_after_ms" -> "ms",
    "analysis.antigens_ms" -> "ms", "analysis.kpis_ms" -> "ms", "analysis.index_ms" -> "ms",
    "analysis.overview_input_bytes" -> "B",
    "report.png_ms" -> "ms", "report.pdf_ms" -> "ms",
    "streaming.batch_ms" -> "ms", "streaming.driver_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "txtable.cow.commit_jobs" -> "count", "txtable.mor.commit_jobs" -> "count",
    "txtable.cow.commit_input_bytes" -> "B", "txtable.mor.commit_input_bytes" -> "B",
    "txtable.cow.commit_output_bytes" -> "B", "txtable.mor.commit_output_bytes" -> "B",
    "txtable.cow.log_bytes_per_commit" -> "B", "txtable.mor.log_bytes_per_commit" -> "B",
    "txtable.read_jobs" -> "count", "txtable.read_input_bytes" -> "B",
    "txtable.read_driver_ms" -> "ms", "txtable.dv_files_live" -> "count",
    "txtable.dv_rows_live" -> "count", "txtable.compact_bytes_rewritten" -> "B",
    "txtable.files_live" -> "count",
    "spark.tasks" -> "count", "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "B",
    "trace.overhead_pct" -> "%")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private final class View(ctx: Ctx) {
    val tr: Tracer = ctx.tracer
    val rounds: Set[Int] = ctx.tracedRounds.toSet
    def all(name: String): Seq[tr.Span] = tr.spans.filter(_.name == name).toSeq
    def counted(name: String): Seq[tr.Span] = all(name).filter(s => rounds(s.round))
    def jobs(s: tr.Span, layer: Option[String] = None): Seq[tr.Job] =
      tr.jobsUnder(s).filter(j => layer.forall(l => j.layer.contains(l)))
    /** Mean over spans of a per-span job total. */
    def perSpan(spans: Seq[tr.Span], layer: Option[String] = None)(f: tr.Job => Long): Double =
      mean(spans.map(s => jobs(s, layer).map(f).sum.toDouble))
    def jobCount(spans: Seq[tr.Span], layer: Option[String] = None): Double =
      mean(spans.map(s => jobs(s, layer).size.toDouble))
    def ms(name: String): Double = median(all(name).map(_.ms))
    def driverMs(name: String): Double = median(all(name).map(tr.driverMs))
  }

  private def finish(ctx: Ctx, v: View, ops: Int): Unit = {
    val top = v.tr.spans.filter(s => s.parent == Tracer.NoSpan && v.rounds(s.round)).toSeq
    val jobs = top.flatMap(s => v.jobs(s))
    val per = math.max(1, ops).toDouble
    ctx.layer("spark.tasks") = jobs.map(_.tasks).sum / per
    ctx.layer("spark.gc_ms") = jobs.map(_.gcMs).sum / per
    ctx.layer("spark.spill_bytes") = jobs.map(_.spillBytes).sum / per
    // traced against untraced rounds of the same run, per kind of write
    val ratios = ctx.samples.keys.filter(k => k.startsWith("op") && !k.endsWith("@traced"))
      .flatMap(k => ctx.samples.get(s"$k@traced").map(t => median(t.toSeq) / median(ctx.samples(k).toSeq)))
    ctx.layer("trace.overhead_pct") = if (ratios.isEmpty) 0.0 else (mean(ratios.toSeq) - 1) * 100
    Units.foreach { case (k, _) => if (!ctx.layer.contains(k)) ctx.layer(k) = 0.0 }
  }

  def etl(ctx: Ctx): Unit = {
    val v = new View(ctx)
    val refresh = v.counted("ingest.refresh")
    val ingest = Some("ingest")
    ctx.layer("ingest.input_bytes") = v.perSpan(refresh, ingest)(_.inputBytes)
    ctx.layer("ingest.jobs") = v.jobCount(refresh, ingest)
    ctx.layer("ingest.shuffle_bytes") = v.perSpan(refresh, ingest)(_.shuffleBytes)
    ctx.layer("ingest.output_bytes") = v.perSpan(refresh, ingest)(_.outputBytes)
    ctx.layer("ingest.driver_ms") = v.driverMs("ingest.refresh")
    ctx.layer("report.png_ms") = v.ms("report.png")
    ctx.layer("report.pdf_ms") = v.ms("report.pdf")
    val req = v.counted("analysis.request")
    ctx.layer("analysis.driver_ms") = v.driverMs("analysis.request")
    ctx.layer("analysis.jobs") = v.jobCount(req)
    ctx.layer("analysis.input_bytes") = v.perSpan(req)(_.inputBytes)
    ctx.layer("analysis.series_ms") = v.ms("analysis.series")
    ctx.layer("analysis.before_after_ms") = v.ms("analysis.before_after")
    ctx.layer("analysis.antigens_ms") = v.ms("analysis.antigens")
    ctx.layer("analysis.kpis_ms") = v.ms("analysis.kpis")
    ctx.layer("analysis.index_ms") = v.ms("analysis.index")
    ctx.layer("analysis.overview_input_bytes") = v.perSpan(v.counted("analysis.overview"))(_.inputBytes)
    finish(ctx, v, refresh.size)
  }

  def tx(ctx: Ctx, t: Workloads.TxRun): Unit = {
    val v = new View(ctx)
    val batches = v.counted("streaming.batch")
    ctx.layer("streaming.batch_ms") = v.ms("streaming.batch")
    ctx.layer("streaming.driver_ms") = v.driverMs("streaming.batch")
    ctx.layer("streaming.jobs_per_batch") = v.jobCount(batches)
    // A streaming query's jobs all carry the call site of its start(), so
    // the call site cannot split a batch; every job of a batch is issued
    // by the TxTable merge its body calls (changeset materialization,
    // merge, commit statistics), so the batch span is the commit.
    for ((mode, moR) <- Seq("cow" -> false, "mor" -> true)) {
      val bs = batches.filter(_.tags("moR") == moR.toString)
      ctx.layer(s"txtable.$mode.commit_jobs") = v.jobCount(bs)
      ctx.layer(s"txtable.$mode.commit_input_bytes") = v.perSpan(bs)(_.inputBytes)
      ctx.layer(s"txtable.$mode.commit_output_bytes") = v.perSpan(bs)(_.outputBytes)
      ctx.layer(s"txtable.$mode.log_bytes_per_commit") = mean(t.logBytes.collect {
        case (b, m, n) if m == moR && v.rounds(b / Workloads.BatchesPerRound) => n.toDouble
      }.toSeq)
    }
    val reads = v.counted("txtable.read")
    ctx.layer("txtable.read_jobs") = v.jobCount(reads)
    ctx.layer("txtable.read_input_bytes") = v.perSpan(reads)(_.inputBytes)
    ctx.layer("txtable.read_driver_ms") = v.driverMs("txtable.read")
    val layouts = t.layouts.collect { case (r, m) if v.rounds(r) => m }.toSeq
    ctx.layer("txtable.dv_files_live") = mean(layouts.map(_.files.count(_.dvs.nonEmpty).toDouble))
    ctx.layer("txtable.dv_rows_live") = mean(layouts.map(_.files.map(_.dvs.map(_.rows).sum).sum.toDouble))
    ctx.layer("txtable.files_live") = mean(layouts.map(_.files.size.toDouble))
    ctx.layer("txtable.compact_bytes_rewritten") =
      mean(t.compactBytes.collect { case (r, n) if v.rounds(r) => n.toDouble }.toSeq)
    finish(ctx, v, batches.size)
  }
}
