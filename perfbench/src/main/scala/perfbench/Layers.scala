package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.perfbench.LayerListener

/** Reduces a traced run to per-layer metrics (each a mean per traced
  * iteration unless noted) and writes the full trace: every span with its
  * self time and job count, per-span-name totals, per-call-site counters. */
object Layers {

  /** Call-site files attributed to the `sources` layer. */
  val SourceFiles = Set("Q", "Sources")
  /** `ops` objects that launch jobs in the two workloads, reported by name;
    * every other call-site file appears in the trace file. */
  val OpsObjects = Seq("BinaryOperational", "Calibration", "Curves", "Dedup", "Graph",
    "MetricsOps", "RankTests", "SlidingWindows", "Stats", "Trend")
  val PipelineSpans = Seq("pipeline1", "pipeline2", "pipeline3a", "pipeline3b",
    "importance", "curate_construct", "curate_execute")
  val SpanLayers = Seq("sources", "queries", "pipelines", "model")

  def perLayer(iters: Seq[Run], listener: LayerListener,
      tracer: Tracer, failedFrac: Double, sessionS: Double, warmupS: Double,
      traceFile: Path): Seq[(String, Double, String)] = {
    val traced = iters.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val tracedIds = traced.map(_.iter).toSet
    val counters = listener.synchronized(
      tracedIds.toSeq.flatMap(i => listener.perIter.get(i)).map(_.byKey.toMap))
    def total(k: String): Double = counters.map(_.getOrElse(k, 0.0)).sum
    def per(k: String): Double = total(k) / n
    def site(files: Set[String], what: String): Double =
      files.toSeq.map(f => total(s"site.$f.$what")).sum / n

    val spans = tracer.spans.toSeq.filter(s => tracedIds(s.iter))
    val self = Trace.selfMs(spans)
    val kids = spans.groupBy(_.parent)
    val direct = listener.synchronized(listener.jobsPerSpan.toMap)
    def inclusiveJobs(id: Long): Int =
      direct.getOrElse(id, 0) + kids.getOrElse(id, Seq.empty).map(k => inclusiveJobs(k.id)).sum
    def spanMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum / n
    def spanJobs(name: String): Double =
      spans.filter(_.name == name).map(s => inclusiveJobs(s.id)).sum / n
    def layerSelf(prefix: String): Double =
      spans.filter(_.name.startsWith(prefix + ".")).map(s => self(s.id)).sum / n

    val stats = traced.map(_.result.stats)
    def statSamples(suffix: String): Seq[Double] =
      stats.flatMap(_.collect { case (k, v) if k.endsWith(suffix) => v })
    def statMedian(suffix: String): Double =
      if (statSamples(suffix).isEmpty) 0.0 else Main.median(statSamples(suffix))

    val constructMs = spanMs("queries.construct")
    val executeMs = spanMs("queries.execute")
    val planned = total("spark.stages_planned")
    val tracedIter = Main.median(traced.map(_.seconds))
    val plainIter = Main.median(iters.filterNot(_.traced).map(_.seconds))

    val metrics = Seq(
      ("sources.table_ms", site(Set("Q"), "job_ms"), "ms"),
      ("sources.table_jobs", site(SourceFiles, "jobs"), "count"),
      ("sources.write_ms", spanMs("sources.write"), "ms"),
      ("queries.construct_ms", constructMs, "ms"),
      ("queries.construct_jobs", spanJobs("queries.construct"), "count"),
      ("queries.construct_share",
        if (constructMs + executeMs > 0) constructMs / (constructMs + executeMs) else 0.0, "ratio"),
      ("catalyst.analysis_ms", per("catalyst.analysis_ms"), "ms"),
      ("catalyst.optimization_ms", per("catalyst.optimization_ms"), "ms"),
      ("catalyst.planning_ms", per("catalyst.planning_ms"), "ms"),
      ("catalyst.plans", per("catalyst.plans"), "count")) ++
      PipelineSpans.flatMap(p => Seq(
        (s"pipelines.${p}_ms", spanMs(s"pipelines.$p"), "ms"),
        (s"pipelines.${p}_jobs", spanJobs(s"pipelines.$p"), "count"))) ++
      Seq(
        ("model.fits", spans.count(_.name == "model.fit") / n, "count"),
        ("model.fit_ms", spanMs("model.fit"), "ms"),
        ("model.infer_ms", statSamples(".inference_s").sum * 1000 / n, "ms"),
        ("model.training_time_ms", statMedian(".training_time_s") * 1000, "ms"),
        ("model.infer_us_per_window",
          statMedian(".inference_s_per_window") * 1e6, "us")) ++
      OpsObjects.flatMap(o => Seq(
        (s"ops.$o.jobs", per(s"site.$o.jobs"), "count"),
        (s"ops.$o.task_ms", per(s"site.$o.task_ms"), "ms"))) ++
      Seq(
        ("pins.blocks", per("pins.blocks"), "count"),
        ("pins.peak_mb", counters.map(_.getOrElse("pins.peak_mb", 0.0)).foldLeft(0.0)(math.max), "MB"),
        ("spark.stage_skip_ratio",
          if (planned > 0) (planned - total("spark.stages")) / planned else 0.0, "ratio")) ++
      Seq("jobs", "stages", "tasks", "failed_tasks", "single_task_stage_rows").map(k =>
        (s"spark.$k", per(s"spark.$k"), if (k == "single_task_stage_rows") "rows" else "count")) ++
      Seq("task_ms", "task_cpu_ms", "gc_ms", "sched_wait_ms").map(k =>
        (s"spark.$k", per(s"spark.$k"), "ms")) ++
      Seq("shuffle_read_mb", "shuffle_write_mb", "spill_mb").map(k =>
        (s"spark.$k", per(s"spark.$k"), "MB")) ++
      SpanLayers.map(l => (s"$l.self_ms", layerSelf(l), "ms")) ++
      Seq(
        ("failed_frac", failedFrac, "ratio"),
        ("setup.session_s", sessionS, "s"),
        ("setup.warmup_s", warmupS, "s"),
        ("trace.traced_iter_s", tracedIter, "s"),
        ("trace.overhead_ratio", if (plainIter > 0) tracedIter / plainIter else 0.0, "ratio"))

    write(traceFile, traced.map(_.iter), spans, self, direct, inclusiveJobs, counters, metrics,
      listener.synchronized(listener.unattributed.toSeq))
    metrics
  }

  private def write(p: Path, iters: Seq[Int], spans: Seq[Span], self: Map[Long, Double],
      direct: Map[Long, Int], inclusive: Long => Int, counters: Seq[Map[String, Double]],
      metrics: Seq[(String, Double, String)], unattributed: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val spanJson = spans.sortBy(_.startNs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "iter": ${s.iter}, """ +
        s""""start_ms": ${Json.num((s.startNs - t0) / 1e6)}, "end_ms": ${Json.num((s.endNs - t0) / 1e6)}, """ +
        s""""self_ms": ${Json.num(self(s.id))}, "jobs": ${direct.getOrElse(s.id, 0)}, """ +
        s""""jobs_inclusive": ${inclusive(s.id)}}"""
    }
    val n = math.max(1, iters.size).toDouble
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      s"""${Json.str(name)}: {"count": ${Json.num(ss.size / n)}, "total_ms": ${Json.num(ss.map(_.ms).sum / n)}, """ +
        s""""self_ms": ${Json.num(ss.map(s => self(s.id)).sum / n)}, "jobs": ${Json.num(ss.map(s => direct.getOrElse(s.id, 0)).sum / n)}}"""
    }
    val siteKeys = counters.flatMap(_.keys).filter(_.startsWith("site.")).distinct.sorted
    val sites = siteKeys.map(k => s"${Json.str(k.stripPrefix("site."))}: " +
      Json.num(counters.map(_.getOrElse(k, 0.0)).sum / n))
    val ms = metrics.map { case (k, v, u) => s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": "$u"}""" }
    Files.writeString(p,
      s"""{"traced_iterations": [${iters.mkString(", ")}],
         |"per_layer": {${ms.mkString(",\n  ")}},
         |"span_totals_per_iteration": {${byName.mkString(",\n  ")}},
         |"call_sites_per_iteration": {${sites.mkString(",\n  ")}},
         |"unattributed_stage_names": [${unattributed.map(Json.str).mkString(", ")}],
         |"spans": [${spanJson.mkString(",\n  ")}]}
         |""".stripMargin)
  }
}
