package graft.perfbench

/** Folds traced spans into the per-layer metrics, each a total per traced
  * pass (shares are ratios over the same passes). */
object Layers {

  final case class Span(pipeline: String, module: String, phase: String, stats: SpanStats) {
    def wallS: Double = stats.wallNs / 1e9
  }

  def metrics(spans: Seq[Span], passes: Int, cores: Int): Seq[(String, Double, String)] = {
    val n = math.max(passes, 1).toDouble
    def total(ss: Seq[Span])(f: SpanStats => Double): Double = ss.map(s => f(s.stats)).sum / n
    def all(f: SpanStats => Double): Double = total(spans)(f)
    val mb = 1048576.0
    val build = spans.filter(_.phase == "build")
    val wallS = spans.map(_.wallS).sum / n
    val darkS = all(_.darkMs / 1e3)
    val execRunS = all(_.execRunMs / 1e3)

    val pipeline = Seq(
      ("pipeline.build_s", build.map(_.wallS).sum / n, "s"),
      ("pipeline.run_s", spans.filter(_.phase == "run").map(_.wallS).sum / n, "s"),
      ("pipeline.build_share", build.map(_.wallS).sum / n / wallS, "ratio"),
      ("scheduler.jobs", all(_.jobs.toDouble), "count"),
      ("scheduler.jobs_eager", total(build)(_.jobs.toDouble), "count"),
      ("scheduler.tasks", all(_.tasks.toDouble), "count"),
      ("scheduler.dark_s", darkS, "s"),
      ("scheduler.dark_share", darkS / wallS, "ratio"),
      ("scheduler.busy_share", execRunS / (wallS * cores), "ratio"))

    val modules = Workloads.Modules.flatMap { m =>
      val ss = spans.filter(_.module == m)
      Seq(
        (s"$m.wall_s", ss.map(_.wallS).sum / n, "s"),
        (s"$m.build_s", ss.filter(_.phase == "build").map(_.wallS).sum / n, "s"),
        (s"$m.jobs", total(ss)(_.jobs.toDouble), "count"),
        (s"$m.dark_s", total(ss)(_.darkMs / 1e3), "s"),
        (s"$m.cpu_s", total(ss)(_.processCpuNs / 1e9), "s"))
    }

    val executor = Seq(
      ("executor.run_s", execRunS, "s"),
      ("executor.cpu_s", all(_.execCpuNs / 1e9), "s"),
      ("executor.gc_s", all(_.execGcMs / 1e3), "s"),
      ("shuffle.write_mb", all(_.shuffleWrite / mb), "MB"),
      ("shuffle.read_mb", all(_.shuffleRead / mb), "MB"),
      ("shuffle.spill_mb", all(_.spill / mb), "MB"),
      ("scan.input_mb", all(_.input / mb), "MB"),
      ("write.output_mb", all(_.output / mb), "MB"))

    val streaming = Seq(
      ("streaming.wall_s", spans.filter(_.module == Workloads.Streaming).map(_.wallS).sum / n, "s"),
      ("streaming.batches", all(_.batches.toDouble), "count"),
      ("streaming.trigger_ms", all(_.triggerMs.toDouble), "ms"),
      ("streaming.add_batch_ms", all(_.addBatchMs.toDouble), "ms"),
      ("streaming.commit_ms", all(_.commitMs.toDouble), "ms"),
      ("streaming.planning_ms", all(_.streamPlanningMs.toDouble), "ms"),
      ("streaming.state_rows", all(_.stateRows.toDouble), "count"),
      ("streaming.state_commit_ms", all(_.stateCommitMs.toDouble), "ms"))

    val planning = Seq(
      ("catalyst.actions", all(_.actions.toDouble), "count"),
      ("catalyst.analysis_ms", all(_.analysisMs.toDouble), "ms"),
      ("catalyst.optimizer_ms", all(_.optimizerMs.toDouble), "ms"),
      ("catalyst.planning_ms", all(_.planningMs.toDouble), "ms"),
      ("codegen.compiles", all(_.codegenCompiles.toDouble), "count"),
      ("codegen.compile_ms", all(_.codegenNs / 1e6), "ms"),
      ("jvm.jit_ms", all(_.jitMs.toDouble), "ms"))

    val memory = Seq(
      ("cache.blocks_left", all(_.cacheBlocks.toDouble), "count"),
      ("cache.mb_left", all(_.cacheBytes / mb), "MB"),
      ("jvm.gc_ms", all(_.gcMs.toDouble), "ms"))

    pipeline ++ modules ++ executor ++ streaming ++ planning ++ memory
  }
}
