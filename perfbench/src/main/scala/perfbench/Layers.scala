package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Per-layer metrics of the traced passes, each a per-pass mean. A layer
  * is the engine module whose public function a span wraps; its time is
  * the self time of its spans (span minus the time its child spans
  * cover). Layers a workload does not exercise read 0.
  */
object Layers {

  /** Steps whose per-step rows are reported (`queries.<qNN>.s|stages`). */
  val stepQueries: Seq[String] = (QueryWorkload.Delivery ++ QueryWorkload.Corpus).distinct

  def names: Seq[String] = Seq(
    "sources.index_s", "sources.hdr_s", "sources.roi_s", "sources.state_read_s",
    "sources.bytes_read",
    "features.kernel_s", "features.rois", "features.ms_per_roi", "features.task_skew",
    "agg.psd_s",
    "jobs.sink_s", "jobs.bytes_written", "jobs.rows_written", "jobs.spark_jobs",
    "streaming.overhead_s", "streaming.batches",
    "queries.plan_s", "queries.spark_jobs", "queries.stages", "queries.tasks",
    "queries.core_util", "queries.shuffle_bytes", "queries.spill_bytes",
    "queries.broadcast_bytes", "queries.task_skew", "queries.gc_s",
    "queries.failed_tasks", "queries.codegen_compiles") ++
    stepQueries.flatMap(q => Seq(s"queries.$q.s", s"queries.$q.stages"))

  /** `compiled`: classes Spark's code generator compiled during the
    * traced passes (each one a miss of its codegen cache).
    */
  def metrics(trace: Trace, wl: Main.Workload, passes: Seq[(Double, Seq[(String, Double)], Boolean)],
      cores: Int, compiled: Long): (Seq[(String, Double)], JsonNode, JsonNode) = {
    val n = passes.size.max(1).toDouble
    val r = trace.resolve()
    val byId = r.spans.map(s => s.id -> s).toMap
    def stepOf(s: Span): Option[Span] =
      if (s.layer == "step") Some(s) else byId.get(s.parent).flatMap(stepOf)
    val self = trace.selfTimes(r.spans)
    def secs(layer: String) = self.getOrElse(layer, 0L) / 1e9 / n

    val jobSpans = r.spans.filter(_.name.startsWith("job"))
    def jobs(pred: String => Boolean) = r.jobsByLayer.filter(kv => pred(kv._1)).values.flatten.toSeq
    val qJobs = jobs(_ == "queries")
    val qStages = trace.stagesOf(qJobs)
    val allStages = trace.stagesOf(jobs(_ => true))
    val sinkStages = trace.stagesOf(jobs(l => l == "jobs.sink" || l == "agg.psd"))
    val kernelStages = trace.stagesById(r.spans.filter(_.layer == "features.kernel")
      .map(_.name.stripPrefix("stage").toInt))
    val kernelS = secs("features.kernel")
    val rois = if (kernelStages.nonEmpty) wl.units.toDouble else 0.0
    val stepSpans = r.spans.filter(_.layer == "step")
    val qStepWall = jobSpans.filter(_.layer == "queries").flatMap(stepOf).distinct
      .map(s => s.end - s.start).sum / 1e9
    val (overhead, batches) = trace.streamOverhead

    val perStep = stepQueries.flatMap { q =>
      val mine = stepSpans.filter(_.name.startsWith(q + "_"))
      val ids = mine.map(_.id).toSet
      val stagesN = jobSpans.filter(j => stepOf(j).exists(s => ids(s.id)))
        .flatMap(j => trace.job(j.name.stripPrefix("job").toInt)).flatMap(_.stageIds)
        .distinct.size
      Seq(s"queries.$q.s" -> mine.map(s => s.end - s.start).sum / 1e9 / n,
        s"queries.$q.stages" -> stagesN / n)
    }

    val values = Seq(
      "sources.index_s" -> secs("sources.index"),
      "sources.hdr_s" -> secs("sources.hdr"),
      "sources.roi_s" -> secs("sources.roi"),
      "sources.state_read_s" -> secs("sources.state_read"),
      "sources.bytes_read" -> allStages.map(_.inBytes).sum / n,
      "features.kernel_s" -> kernelS,
      "features.rois" -> rois,
      "features.ms_per_roi" -> (if (rois > 0) kernelS * 1000 / rois else 0.0),
      "features.task_skew" -> (if (kernelStages.isEmpty) 0.0 else trace.skew(kernelStages)),
      "agg.psd_s" -> secs("agg.psd"),
      "jobs.sink_s" -> secs("jobs.sink"),
      "jobs.bytes_written" -> sinkStages.map(_.outBytes).sum / n,
      "jobs.rows_written" -> sinkStages.map(_.outRows).sum / n,
      "jobs.spark_jobs" -> jobs(l => l != "queries").size / n,
      "streaming.overhead_s" -> overhead / n,
      "streaming.batches" -> batches / n,
      "queries.plan_s" -> secs("queries.plan"),
      "queries.spark_jobs" -> qJobs.size / n,
      "queries.stages" -> qStages.size / n,
      "queries.tasks" -> qStages.map(_.tasks).sum / n,
      "queries.core_util" -> (if (qStepWall > 0) qStages.map(_.runMs).sum / 1000.0 /
        (qStepWall * cores) else 0.0),
      "queries.shuffle_bytes" -> qStages.map(_.shuffleWrite).sum / n,
      "queries.spill_bytes" -> qStages.map(_.spill).sum / n,
      "queries.broadcast_bytes" -> trace.execsOf(qJobs).map(_.broadcastBytes).sum / n,
      "queries.task_skew" -> (if (qStages.isEmpty) 0.0 else trace.skew(qStages)),
      "queries.gc_s" -> allStages.map(_.gcMs).sum / 1000.0 / n,
      "queries.failed_tasks" -> allStages.map(_.failedTasks).sum / n,
      "queries.codegen_compiles" -> compiled / n) ++ perStep
    require(values.map(_._1) == names, "per-layer metric list out of sync")

    val m = new ObjectMapper()
    // per-step breakdown of the final AQE plans' SQL metrics (not gated)
    val breakdown = m.createObjectNode()
    stepSpans.map(_.name).distinct.foreach { step =>
      val ids = stepSpans.filter(_.name == step).map(_.id).toSet
      val js = jobSpans.filter(j => stepOf(j).exists(s => ids(s.id)))
        .flatMap(j => trace.job(j.name.stripPrefix("job").toInt))
      val ex = trace.execsOf(js)
      val o = breakdown.putObject(step)
      o.put("exchange_bytes", ex.map(_.exchangeBytes).sum / n)
      o.put("broadcast_bytes", ex.map(_.broadcastBytes).sum / n)
      val k = o.putObject("nodes")
      ex.flatMap(_.kinds).groupMapReduce(_._1)(_._2) { case ((a, b), (c, d)) => (a + c, b + d) }
        .toSeq.sortBy(-_._2._1).foreach { case (kind, (ms, rows)) =>
          k.putObject(kind).put("time_ms", ms / n).put("rows", rows / n)
        }
    }
    val spans = m.createArrayNode()
    r.spans.sortBy(_.start).foreach { s =>
      spans.addObject().put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("start_ns", s.start).put("end_ns", s.end).put("parent", s.parent)
        .put("step", s.step).put("site", s.site)
    }
    (values, breakdown, spans)
  }
}
