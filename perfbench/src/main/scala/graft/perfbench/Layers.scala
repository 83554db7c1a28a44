package graft.perfbench

/** Per-layer metrics of a traced run. Every workload reports the same
  * list (a layer the workload does not touch reads 0). Unless a name
  * says otherwise (`p50`, `_ms` medians, engine counts), a figure is per
  * unit of work: per request on `serve`, per batch on `ingest`; the
  * evaluation legs (traced `serve` runs only) per evaluation pass.
  */
object Layers {
  /** `GraftClient` routes: (kind, mode) plus the pinned and filtered
    * buckets, each reported as its median request latency.
    */
  val Routes: Seq[String] =
    (for (k <- Seq("keyword", "vector", "hybrid"); m <- Gen.Modes) yield s"GraftClient.$k.$m") ++
      Seq("GraftClient.asof", "GraftClient.filtered")

  /** Evaluation-pass legs, timed as seconds per pass (`<name>_s`). */
  val EvalLegs: Seq[String] = Seq(
    "KeywordSearch.exact", "ChampionIndex.pruned", "GoldenEval.refreshed",
    "VectorSearch.exact", "IvfIndex.ivf", "VectorRefresh.quantized",
    "HybridSearch.fused", "HybridSearch.alpha_sweep", "HybridSearch.depth_sweep",
    "MaxSimReranker.rerank", "RetrievalEval.metrics")

  /** Write-path layer spans, timed as seconds per batch (`<name>_s`). */
  val TimedSpans: Seq[String] = Seq(
    "IndexRefresh.refresh", "IndexRefresh.compact",
    "VectorRefresh.refresh", "VectorRefresh.compact",
    "TextAnalysis.quality", "Dedup.incremental", "Dedup.decontaminate",
    "Chunker.chunk_embed")

  /** Layer spans reported as median milliseconds. */
  val MedianSpans: Seq[String] = Seq(
    "IndexRefresh.cold_read", "IndexRefresh.warm_read",
    "VectorRefresh.cold_read", "VectorRefresh.warm_read")

  /** Figures only the workload itself knows (segment depth, bytes
    * written, gate outcomes), with their units.
    */
  val WorkloadOwned: Seq[(String, String)] = Seq(
    "IndexRefresh.segments" -> "count", "lsm.bytes_written_per_doc" -> "B",
    "lsm.compactions" -> "count", "ingest.kept_frac" -> "ratio")

  def derive(c: Ctx, w: Workload, o: Outcome, e: EngineListener,
             st: StreamListener, untracedP50: Double): Seq[(String, Double, String)] = {
    val spans = c.tracer.spans
    val ops = math.max(1, o.opLatMs.size).toDouble
    val evalReq = -2L
    val passes = spans.filter(_.name == "eval.pass")
    val nPass = math.max(1, passes.size).toDouble
    def phase(p: String): Double =
      spans.filter(x => x.name == p && x.req != evalReq).map(_.dur).sum / 1e9
    def total(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1e9
    def med(name: String): Double = Trace.median(spans.filter(_.name == name).map(_.dur / 1e6))
    val mb = 1024.0 * 1024.0
    val frames = math.max(1.0, c.census.frames.sum)
    val batches = st.batches.toArray(Array.empty[Map[String, Long]]).toSeq
    def stream(keys: String*): Double =
      Trace.median(batches.map(b => keys.map(k => b.getOrElse(k, 0L)).sum.toDouble))
    val owned = o.layers.map { case (n, v, _) => n -> v }.toMap

    Routes.map(r => (s"$r.p50_ms", med(r), "ms")) ++
      Seq(
        ("phase.build_s", phase("phase.build") / ops, "s"),
        ("phase.plan_s", phase("phase.plan") / ops, "s"),
        ("phase.exec_s", phase("phase.exec") / ops, "s"),
        ("spark.jobs", e.jobs.get.toDouble, "count"),
        ("spark.stages", e.stages.get.toDouble, "count"),
        ("spark.tasks", e.tasks.get.toDouble, "count"),
        ("spark.stages_per_req", e.stages.get / ops, "count"),
        ("spark.shuffle_read_mb", e.shuffleReadB.get / mb / ops, "MB"),
        ("spark.shuffle_write_mb", e.shuffleWriteB.get / mb / ops, "MB"),
        ("spark.spill_mb", e.spillB.get / mb / ops, "MB"),
        ("spark.task_cpu_s", e.cpuNs.get / 1e9 / ops, "s"),
        ("spark.task_run_s", e.runMs.get / 1e3 / ops, "s"),
        ("spark.sched_delay_s", e.schedMs.get / 1e3 / ops, "s"),
        ("spark.gc_s", e.gcMs.get / 1e3 / ops, "s"),
        ("plan.exchanges", c.census.exchanges.sum / frames, "count"),
        ("plan.bnlj", c.census.bnlj.sum / frames, "count"),
        ("plan.broadcasts", c.census.broadcasts.sum / frames, "count")) ++
      Seq(("eval.pass_s", Trace.median(passes.map(_.dur / 1e9)), "s"),
        ("eval.exec_frac", if (passes.isEmpty) 0.0 else spans.filter(x =>
          x.name == "phase.exec" && x.req == evalReq).map(_.dur).sum / 1e9 / total("eval.pass"),
          "ratio")) ++
      EvalLegs.map(n => (s"${n}_s", total(n) / nPass, "s")) ++
      TimedSpans.map(n => (s"${n}_s", total(n) / ops, "s")) ++
      MedianSpans.map(n => (s"${n}_ms", med(n), "ms")) ++
      WorkloadOwned.map { case (n, u) => (n, owned.getOrElse(n, 0.0), u) } ++
      Seq(
        ("stream.trigger_ms", stream("triggerExecution"), "ms"),
        ("stream.add_batch_ms", stream("addBatch"), "ms"),
        ("stream.planning_ms", stream("queryPlanning"), "ms"),
        ("stream.commit_ms", stream("walCommit", "commitOffsets"), "ms"),
        ("trace.overhead_frac",
          if (untracedP50 > 0) Trace.median(o.opLatMs) / untracedP50 - 1 else 0.0, "ratio"),
        ("trace.tail_ms", Trace.tail(o.opLatMs)._2, "ms"),
        ("trace.tail_pct", Trace.tail(o.opLatMs)._1.toDouble, "count"),
        ("trace.ops", o.opLatMs.size.toDouble, "count"))
  }
}
