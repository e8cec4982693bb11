package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch nanoseconds;
  * Spark's own events carry epoch milliseconds and are scaled up.
  */
final case class Span(id: Int, name: String, layer: String, start: Long,
    end: Long, parent: Int, step: Int, site: String = "")

final class StageAgg(val stageId: Int) {
  var submitted, completed = 0L
  var scopes: Seq[String] = Nil
  var accIds: Set[Long] = Set.empty
  var tasks, failedTasks = 0
  var runMs, gcMs, shuffleWrite, spill, inBytes, outBytes, outRows = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val jobId: Int, val start: Long, val callSite: String,
    val stageIds: Seq[Int]) {
  @volatile var end = 0L
}

/** One executed plan: planning-phase intervals, the path it wrote (if
  * any), node names by metric accumulator id, and (time ms, rows) per
  * node kind plus exchange and broadcast bytes.
  */
final case class Exec(id: Long, phases: Seq[(String, Long, Long)], output: Option[String],
    accNode: Map[Long, String], kinds: Map[String, (Long, Long)], exchangeBytes: Long,
    broadcastBytes: Long)

final case class Resolved(spans: Seq[Span], jobsByLayer: Map[String, Seq[JobRec]])

/** The traced run's recorder. It is registered only by the benchmark
  * (a `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener`), holds everything in memory and resolves
  * spans and per-layer metrics once, at the end.
  *
  * Benchmark spans wrap the benchmark's own calls into the engine's
  * public functions. Every Spark job becomes a child span of the
  * innermost benchmark span open when it started and takes that span's
  * layer, except inside the ingest stream and the SHARK step, where
  * [[jobLayer]] refines it. Inside ingest jobs, stages that run the
  * feature kernel (an RDD scope named `MapPartitions`) or scan
  * `.hdr`/`.adc`/`.roi` payloads (plan nodes whose metrics the stage
  * updated) become child spans of their job.
  */
final class Trace(spark: SparkSession) {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Long = epochMs0 * 1000000L + (System.nanoTime() - nano0)

  @volatile var recording = false

  // ---- benchmark spans ------------------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Long, Int)]
  private var nextId = 0
  var step = -1

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!recording) return body
    val id = { nextId += 1; nextId }
    val parent = open.headOption.map(_._1).getOrElse(0)
    open.push((id, name, layer, now(), parent))
    try body
    finally {
      val (_, n, l, s, p) = open.pop()
      spans.synchronized(spans += Span(id, n, l, s, now(), p, step))
    }
  }

  // ---- Spark listener ---------------------------------------------------
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  private val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      synchronized {
        jobs(e.jobId) = new JobRec(e.jobId, e.time * 1000000L, site, e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => j.end = e.time * 1000000L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) synchronized {
        val i = e.stageInfo
        val s = stage(i.stageId)
        s.submitted = i.submissionTime.getOrElse(0L) * 1000000L
        s.completed = i.completionTime.getOrElse(0L) * 1000000L
        s.scopes = i.rddInfos.flatMap(_.scope.map(scopeName))
        s.accIds = i.accumulables.keys.map(_.asInstanceOf[Long]).toSet
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      s.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** RDD scope names (the physical operator that created the RDD);
    * the scope class is Spark-internal, so its name is read reflectively.
    */
  private def scopeName(scope: AnyRef): String =
    scope.getClass.getMethod("name").invoke(scope).asInstanceOf[String]

  // ---- query executions (final AQE plans) ------------------------------
  private val execs = mutable.HashMap.empty[Long, Exec]

  private object Walk extends AdaptiveSparkPlanHelper

  private def describe(qe: QueryExecution): Exec = {
    val nodes = Walk.collectWithSubqueries(qe.executedPlan) { case n: SparkPlan => n }
    val output = nodes.collectFirst {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
        case _ => None
      }
    }.flatten
    val kinds = mutable.HashMap.empty[String, (Long, Long)]
    var exch, bcast = 0L
    nodes.foreach { n =>
      val kind = n.nodeName.takeWhile(_ != ' ')
      val ms = n.metrics.values.collect {
        case m if m.metricType == "timing" => m.value
        case m if m.metricType == "nsTiming" => m.value / 1000000L
      }.sum
      val rows = n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val (t0, r0) = kinds.getOrElse(kind, (0L, 0L))
      kinds(kind) = (t0 + ms, r0 + rows)
      if (n.nodeName.contains("BroadcastExchange"))
        bcast += n.metrics.get("dataSize").map(_.value).getOrElse(0L)
      else if (n.nodeName.contains("Exchange"))
        exch += n.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }
    val accNode = nodes.flatMap(n => n.metrics.values.map(_.id -> n.nodeName)).toMap
    val phases = qe.tracker.phases.toSeq.map { case (p, s) =>
      (p, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L) }
    Exec(qe.id, phases, output, accNode, kinds.toMap, exch, bcast)
  }

  private val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val e = scala.util.Try(describe(qe)).toOption
        synchronized(e.foreach(x => execs(x.id) = x))
      }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  // ---- streaming progress ----------------------------------------------
  private val triggers = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (end, trigger ms, addBatch ms)

  private val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val d = e.progress.durationMs.asScala
        val t = java.time.Instant.parse(e.progress.timestamp).toEpochMilli * 1000000L
        synchronized {
          triggers += ((t, d.get("triggerExecution").map(_.longValue).getOrElse(0L),
            d.get("addBatch").map(_.longValue).getOrElse(0L)))
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    sampler.start()
  }

  /** Waits until every event posted so far (job, stage and task ends,
    * execution ends, stream progress) has reached the recorder: listener
    * events arrive asynchronously, and an action can return before its
    * execution's end event is delivered.
    */
  def drain(timeoutMs: Long = 10000): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, timeoutMs)

  /** The execution whose plan-node metrics the job's stages updated. */
  private def execOf(j: JobRec): Option[Exec] = {
    val hits = j.stageIds.flatMap(stages.get).flatMap(_.accIds).flatMap(accExec.get)
    if (hits.isEmpty) None
    else execs.get(hits.groupBy(identity).maxBy(_._2.size)._1)
  }
  private lazy val accExec: Map[Long, Long] =
    execs.values.flatMap(e => e.accNode.keys.map(_ -> e.id)).toMap

  // ---- resolution --------------------------------------------------------

  // ---- stream-thread stack samples (streaming jobs) --------------------
  // Jobs launched inside a streaming query's foreachBatch all inherit the
  // call site of DataStreamWriter.start, so their own call site is read
  // from the stream thread's stack while they run: the thread is blocked
  // in the action that launched the job.
  private val samples = mutable.ArrayBuffer.empty[(Long, String)]

  private def stackLayer(st: Array[StackTraceElement]): Option[String] =
    st.iterator.filter(_.getClassName.startsWith("graft.")).map { f =>
      val (c, m) = (f.getClassName, f.getMethodName)
      if (c.startsWith("graft.jobs.IngestQc") && m.startsWith("existing")) Some("sources.state_read")
      else if (c.startsWith("graft.sources.FileIndex") || (c.startsWith("graft.jobs.IngestQc") &&
        Seq("binIndex", "sampleMetrics", "extractFeatures").exists(m.startsWith))) Some("sources.index")
      else if (c.startsWith("graft.sources.HdrSource")) Some("sources.hdr")
      else if (c.startsWith("graft.sources.Sinks") ||
        (c.startsWith("graft.jobs.IngestQc") && m == "write")) Some("jobs.sink")
      else None
    }.collectFirst { case Some(l) => l }

  private val sampler = new Thread(() => {
    var streams = Seq.empty[Thread]
    var listed = 0L
    while (true) {
      if (recording) {
        if (System.nanoTime() - listed > 100000000L) {
          val all = new Array[Thread](Thread.activeCount() * 2 + 16)
          val n = Thread.enumerate(all)
          streams = all.take(n).filter(_.getName.startsWith("stream execution thread")).toSeq
          listed = System.nanoTime()
        }
        streams.foreach { t =>
          stackLayer(t.getStackTrace).foreach(l => samples.synchronized(samples += ((now(), l))))
        }
      }
      Thread.sleep(2)
    }
  }, "perfbench-stack-sampler")
  sampler.setDaemon(true)

  /** Layer of one job. Inside the ingest stream: the sink it writes
    * (PSD tables are the PSD aggregate's output) or else the engine
    * function on the stream thread's stack while it ran; a write inside
    * the SHARK step is the sink; any other job belongs to the benchmark
    * span it ran under.
    */
  private def jobLayer(j: JobRec, enclosing: String): String = {
    val out = execOf(j).flatMap(_.output).map(p => p.split('/').last)
    enclosing match {
      case "jobs.ingest" =>
        if (out.exists(_.startsWith("psd_"))) "agg.psd"
        else if (out.isDefined) "jobs.sink"
        else {
          val votes = samples.synchronized(
            samples.filter { case (t, _) => t >= j.start && t <= j.end }.map(_._2).toSeq)
          if (votes.isEmpty) "streaming" else votes.groupBy(identity).maxBy(_._2.size)._1
        }
      case "jobs.shark" => if (out.isDefined) "jobs.sink" else enclosing
      case other => other
    }
  }

  /** Layer of a stage inside an ingest job, when it is one of the
    * stages the ingest layers own.
    */
  private def stageLayer(s: StageAgg, accNode: Map[Long, String]): Option[String] = {
    val nodes = s.accIds.flatMap(accNode.get)
    if (s.scopes.contains("MapPartitions")) Some("features.kernel")
    else if (nodes.exists(_.startsWith("Scan text"))) Some("sources.hdr")
    else if (nodes.exists(n => n.startsWith("Scan binaryFile") || n.startsWith("Scan csv")))
      Some("sources.roi")
    else None
  }

  /** Spark's event times have millisecond resolution: allow 1 ms. */
  private def within(t: Long, s: Span) = s.start - 1000000L <= t && t <= s.end + 1000000L

  def resolve(): Resolved = synchronized {
    val bench = spans.toSeq
    var id = nextId
    val out = mutable.ArrayBuffer.empty[Span] ++= bench
    val layers = mutable.HashMap.empty[Int, String]
    for (j <- jobs.values if j.end > 0) {
      // innermost benchmark span open at the job's start
      val enclosing = bench.filter(s => within(j.start, s))
        .sortBy(s => s.end - s.start).headOption
      enclosing.foreach { p =>
        val layer = jobLayer(j, p.layer)
        layers(j.jobId) = layer
        id += 1
        val jobSpan = Span(id, s"job${j.jobId}", layer, j.start, j.end, p.id, p.step,
          j.callSite.linesIterator.take(3).mkString(" | "))
        out += jobSpan
        val accNode = execOf(j).map(_.accNode).getOrElse(Map.empty)
        if (p.layer == "jobs.ingest") for {
          sid <- j.stageIds
          s <- stages.get(sid) if s.completed > 0
          l <- stageLayer(s, accNode)
        } {
          id += 1
          out += Span(id, s"stage$sid", l, s.submitted, s.completed, jobSpan.id, p.step)
        }
      }
    }
    // planning phases of each execution, under the query span they ran in
    for (e <- execs.values; (phase, s0, s1) <- e.phases) {
      bench.filter(s => within(s0, s) && within(s1, s) && s.layer == "queries")
        .sortBy(s => s.end - s.start).headOption.foreach { p =>
          id += 1
          out += Span(id, s"plan.$phase", "queries.plan", s0, s1, p.id, p.step)
        }
    }
    Resolved(out.toSeq,
      jobs.values.filter(j => layers.contains(j.jobId)).toSeq.groupBy(j => layers(j.jobId)))
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals (clipped to the span).
    */
  def selfTimes(all: Seq[Span]): Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end))
        .filter(t => t._2 > t._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (curE > curS) covered += curE - curS
      s.layer -> ((s.end - s.start) - covered).max(0L)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.tasks > 0)

  def skew(ss: Seq[StageAgg]): Double = ss.filter(_.durations.size >= 2).map { s =>
    val d = s.durations.sorted
    val med = d(d.size / 2).max(1L)
    d.last.toDouble / med
  }.foldLeft(1.0)(_ max _)

  def execsOf(js: Seq[JobRec]): Seq[Exec] = synchronized(js.flatMap(execOf).distinct)

  /** (Σ trigger time − foreachBatch time in seconds, triggers seen). */
  def streamOverhead: (Double, Int) = synchronized {
    (triggers.map { case (_, a, b) => (a - b).max(0L) }.sum / 1000.0, triggers.size)
  }

  def job(id: Int): Option[JobRec] = synchronized(jobs.get(id))
  def stagesById(ids: Seq[Int]): Seq[StageAgg] = synchronized(ids.flatMap(stages.get))
}
