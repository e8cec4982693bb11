package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline benchmark's JVM process: one `local[N]` session, one
  * client in a closed loop. It sets up (session, one untimed warm-up
  * pass that runs exactly what the timed passes run, then the capture
  * pass that keeps every output for the checks), runs timed passes for
  * the requested number of seconds and at least two, checks the outputs
  * the JVM can check itself, and writes one JSON result file for run.py.
  *
  * Usage: perfbench.Main <workload> <inputs> <work> <seconds> <trace 0|1>
  *        <cores> <result.json>
  */
object Main {

  /** One step of a pass: `land` runs untimed right before it (an ingest
    * day's files arriving), `run` is the timed part.
    */
  final case class Step(name: String, land: () => Unit, run: () => Unit)

  trait Workload {
    /** Work units (ROIs, lineitem rows, corpus rows) one pass processes. */
    def units: Long
    def unitName: String
    /** Steps of pass `p`; p = 0 is the warm-up pass. */
    def steps(p: Int): Seq[Step]
    /** Steps of the capture pass, the second pass of set-up: the same
      * steps, with each query's output kept for the checks (a plain
      * parquet write of the same plan, so the timed passes reuse its
      * generated code); empty when the timed passes leave their outputs
      * behind.
      */
    def captureSteps: Seq[Step]
    /** Output checks, run after the timed passes: (check, ok, detail). */
    def checks(): Seq[(String, Boolean, String)]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsS, traceS, coresS, resultPath) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val spark = graft.GraftSession.builder(
        master = s"local[$cores]", shufflePartitions = cores, appName = "perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark)
    if (traced) trace.register()

    val wl: Workload = workload match {
      case "ifcb-ingest" => new Ingest(spark, inputs, work, trace)
      case "ifcb-delivery" => new QueryWorkload(spark, inputs, work, trace, QueryWorkload.Delivery, shark = true)
      case "corpus-prep" => new QueryWorkload(spark, inputs, work, trace, QueryWorkload.Corpus, shark = false)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val heap = ManagementFactory.getMemoryMXBean
    var retainedMb = 0.0
    // the most RDDs a timed step left persisted, their size and the step
    var pinned = (0, 0.0, "")
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]

    /** Between steps, never inside a timed region. After a timed step
      * (`measure`): force a full GC and read the heap that survived it
      * while the step's cached frames, pinned RDDs and memos are still
      * held, so a leak shows; then note the RDDs still persisted. Always:
      * drop cached frames and pinned RDDs, so no step inherits another's.
      */
    def hygiene(step: String, measure: Boolean): Unit = {
      if (measure) {
        System.gc()
        retainedMb = retainedMb max (heap.getHeapMemoryUsage.getUsed / 1048576.0)
        val rdds = spark.sparkContext.getRDDStorageInfo
        if (rdds.length > pinned._1)
          pinned = (rdds.length, rdds.map(r => r.memSize + r.diskSize).sum / 1048576.0, step)
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Runs one pass; returns (pass seconds, per-step seconds). */
    def pass(steps: Seq[Step], p: Int, count: Boolean): (Double, Seq[(String, Double)]) = {
      val lat = steps.zipWithIndex.map { case (st, i) =>
        st.land()
        trace.step = i
        val t0 = System.nanoTime()
        val ok = try { trace.span(st.name, "step")(st.run()); true }
        catch {
          case NonFatal(e) =>
            failures += s"pass $p ${st.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if (count) { attempted += 1; if (!ok) failed += 1 }
        hygiene(st.name, measure = count)
        st.name -> dt
      }
      (lat.map(_._2).sum, lat)
    }

    // ---- set-up: session (above), warm-up pass, capture pass -------------
    // The capture pass is also a second warm-up execution of every step:
    // after one execution the JIT is still far from steady, and the first
    // timed pass after it ran 10-20 % slower than the next, by a margin
    // that itself varied from run to run.
    pass(wl.steps(0), 0, count = false)
    val warmupFailures = failures.size
    val tCapture = System.nanoTime()
    pass(wl.captureSteps, 0, count = false)
    val captureS = (System.nanoTime() - tCapture) / 1e9
    val captureFailures = failures.size - warmupFailures
    System.gc() // the first timed step starts from a clean heap, as every later one does
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiledInSetup = compiled

    // ---- timed passes ----------------------------------------------------
    // In the traced run every other pass records (untraced, traced,
    // untraced, ...), so the same run yields both the traced and the
    // untraced pass time: the tracing overhead. Untraced passes flank
    // every traced one, so a linear drift as the JVM warms cancels.
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[(String, Double)], Boolean)]
    var compiledTraced = 0L
    val t0 = System.nanoTime()
    var p = 1
    while (passes.size < (if (traced) 3 else 2) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val rec = traced && p % 2 == 0
      trace.recording = rec
      val c0 = compiled
      val (s, lat) = pass(wl.steps(p), p, count = true)
      if (rec) { trace.drain(); compiledTraced += compiled - c0 }
      trace.recording = false
      passes += ((s, lat, rec))
      p += 1
    }

    // ---- checks, untimed ----------------------------------------------------
    val compiledInTimed = compiled - compiledInSetup
    val tChecks = System.nanoTime()
    val checks = try wl.checks() catch {
      case NonFatal(e) => Seq(("checks", false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("setup_s", setupS)
    root.put("units_per_pass", wl.units)
    root.put("unit", wl.unitName)
    root.put("retained_heap_mb", retainedMb)
    root.put("attempted", attempted)
    root.put("failed", failed)
    root.put("warmup_failures", warmupFailures)
    root.put("capture_failures", captureFailures)
    root.put("timed_phase_s", (tChecks - t0) / 1e9)
    root.put("capture_phase_s", captureS)
    root.put("checks_phase_s", (System.nanoTime() - tChecks) / 1e9)
    root.put("codegen_compiled_setup", compiledInSetup)
    root.put("codegen_compiled_timed", compiledInTimed)
    root.put("pinned_rdds", pinned._1)
    root.put("pinned_rdds_mb", pinned._2)
    root.put("pinned_rdds_step", pinned._3)
    root.put("cores", cores)
    val fa = root.putArray("failures")
    failures.foreach(fa.add)
    val pa = root.putArray("passes")
    passes.foreach { case (s, lat, rec) =>
      val o = pa.addObject()
      o.put("s", s); o.put("traced", rec)
      val st = o.putArray("steps")
      lat.foreach { case (n, d) => st.addObject().put("name", n).put("s", d) }
    }
    val ca = root.putArray("checks")
    checks.foreach { case (n, ok, d) =>
      ca.addObject().put("name", n).put("ok", ok).put("detail", d) }
    if (traced) {
      val tracedPasses = passes.filter(_._3)
      val (layers, breakdown, spans) = Layers.metrics(trace, wl, tracedPasses.toSeq, cores,
        compiledTraced)
      val lo = root.putObject("per_layer")
      layers.foreach { case (k, v) => lo.put(k, v) }
      def med(xs: Seq[Double]) = {
        val s = xs.sorted
        if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
      }
      root.put("traced_run_s", med(tracedPasses.map(_._1).toSeq))
      root.put("untraced_run_s", med(passes.filterNot(_._3).map(_._1).toSeq))
      root.set[JsonNode]("plan_breakdown", breakdown)
      root.set[JsonNode]("spans", spans)
    }
    Files.writeString(Paths.get(resultPath), json.writeValueAsString(root))
    spark.stop()
  }

  /** Order-independent content hash of a frame: the sum of per-row
    * xxhash64 over every column rendered as a string, plus the row count.
    */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      .collect().head
    (Option(r.getDecimal(0)).map(_.longValue).getOrElse(0L), r.getLong(1))
  }

  def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.toSeq.sortBy(_.toString).foreach { f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(Paths.get(path).toFile)
}

/** `ifcb-delivery` and `corpus-prep`: named engine queries over the
  * seeded tables, each to the `noop` sink, plus (delivery) one SHARK TSV
  * write through `SharkExport.runOnSynthetic`.
  */
object QueryWorkload {
  val Delivery: Seq[String] = Seq("q37", "q40", "q73", "q88", "q90", "q96", "q97")
  val Corpus: Seq[String] = Seq("q95", "q42", "q75", "q91", "q99", "q101", "q103")
}

final class QueryWorkload(spark: SparkSession, inputs: String, work: String, trace: Trace,
    queries: Seq[String], shark: Boolean) extends Main.Workload {
  private val names: Seq[String] = queries.map { q =>
    graft.SparkEntry.queries.keys.find(_.startsWith(q + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query $q"))
  }
  private val counts = Main.readJson(s"$inputs/counts.json")

  val (units, unitName) =
    if (shark) (counts.get("lineitem").asLong, "lineitem rows")
    else (counts.get("documents").asLong + counts.get("embeddings").asLong,
      "document + embedding rows")

  // the frame the last SHARK step returned; its TSV is still on disk
  private var sharkFrame: Option[DataFrame] = None
  private def sharkOut = s"$work/shark_tsv"

  def steps(p: Int): Seq[Main.Step] = {
    val qs = names.map { n =>
      Main.Step(n, () => (), () => {
        val df = trace.span("SparkEntry.queries", "queries") {
          graft.SparkEntry.queries(n)(spark, inputs)
        }
        trace.span("execute", "queries") {
          df.write.mode("overwrite").format("noop").save()
        }
      })
    }
    val sh = if (!shark) Nil else Seq(Main.Step("shark_tsv", () => (), () => {
      sharkFrame = Some(trace.span("SharkExport.runOnSynthetic", "jobs.shark") {
        graft.jobs.SharkExport.runOnSynthetic(spark, inputs, sharkOut)
      })
    }))
    qs ++ sh
  }

  /** Writes every query's output to parquet, part files in the order the
    * query returns its rows; the SHARK step as in a timed pass.
    */
  def captureSteps: Seq[Main.Step] =
    names.map { n =>
      Main.Step(n, () => (), () => graft.SparkEntry.queries(n)(spark, inputs)
        .write.mode("overwrite").parquet(s"$work/results/$n"))
    } ++ steps(0).drop(names.size)

  /** Renders the oracle SQL on the same tables (run.py starts the DuckDB
    * oracles as soon as the file appears and compares the captured
    * outputs with them), then checks the SHARK TSV.
    */
  def checks(): Seq[(String, Boolean, String)] = {
    val rendered = graft.SparkEntry.oracleSqlRendered(spark, inputs, names.contains)
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    rendered.foreach { case (k, v) => o.put(k, v) }
    val dir = Files.createDirectories(Paths.get(s"$work/results"))
    val tmp = Files.writeString(dir.resolve("oracle_sql.json.tmp"), m.writeValueAsString(o))
    Files.move(tmp, dir.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    sharkFrame.toSeq.map { df =>
      // the TSV read back must equal the frame runOnSynthetic returned
      val back = spark.read.option("sep", "\t").option("header", "true")
        .schema(df.schema).csv(sharkOut)
      val (a, b) = (Main.contentHash(df), Main.contentHash(back))
      ("shark_tsv", a == b, s"frame ${a._2} rows, tsv ${b._2} rows, hash equal=${a._1 == b._1}")
    }
  }
}

/** `ifcb-ingest`: each step is one delivery day. The day's bin trios land
  * in the raw directory (untimed), then one scheduled `IngestQc.stream`
  * invocation (Trigger.AvailableNow) runs to termination against the
  * pass's persistent output directory and checkpoint.
  */
final class Ingest(spark: SparkSession, inputs: String, work: String, trace: Trace)
    extends Main.Workload {
  import spark.implicits._
  import graft.jobs.IngestQc

  private val man = Main.readJson(s"$inputs/manifest.json")
  private val days = man.get("days").elements().asScala.toSeq
  val units: Long = man.get("clean_rois").asLong
  val unitName = "ROIs"

  private val blacklist: DataFrame =
    man.get("blacklist").elements().asScala.map(_.asText).toSeq.toDF("sample")
  private val cruises: DataFrame = man.get("cruises").elements().asScala.map { c =>
    (c.get(0).asText, java.sql.Timestamp.valueOf(c.get(1).asText),
      java.sql.Timestamp.valueOf(c.get(2).asText))
  }.toSeq.toDF("cruise_no", "startdate", "stopdate")
  private val ferrybox: DataFrame = man.get("ferrybox").elements().asScala.map { f =>
    (java.sql.Timestamp.valueOf(f.get(0).asText), f.get(1).asDouble, f.get(2).asDouble)
  }.toSeq.toDF("timestamp", "latitude", "longitude")
  private val baltic: Seq[(Double, Double)] =
    man.get("baltic").elements().asScala.map(p => (p.get(0).asDouble, p.get(1).asDouble)).toSeq

  private def cfg(raw: String) = IngestQc.Config(
    rawDir = raw, maxBinBytes = man.get("max_bin_bytes").asLong, psdStartFitUm = 2.0)

  private var lastPass = 0
  private def dir(p: Int, kind: String) = s"$work/ingest/p$p/$kind"

  // the checks read the state the last timed pass left behind
  def captureSteps: Seq[Main.Step] = Nil

  def steps(p: Int): Seq[Main.Step] = {
    lastPass = p
    Files.createDirectories(Paths.get(dir(p, "raw")))
    days.map { d =>
      val name = d.get("dir").asText
      Main.Step(s"day_$name",
        () => Main.copyDir(Paths.get(s"$inputs/$name"), Paths.get(dir(p, "raw"))),
        () => trace.span("IngestQc.stream", "jobs.ingest") {
          val q = IngestQc.stream(spark, cfg(dir(p, "raw")), blacklist, cruises,
            ferrybox, baltic, dir(p, "out"), dir(p, "checkpoint"))
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        })
    }
  }

  def checks(): Seq[(String, Boolean, String)] = {
    val p = lastPass
    val incr = dir(p, "out")
    // one batch run over every delivered bin, written the same way
    val batchOut = s"$work/ingest/batch"
    val frames = IngestQc.run(spark, cfg(dir(p, "raw")), blacklist, cruises, ferrybox, baltic)
    IngestQc.write(frames, batchOut)
    def read(root: String, t: String) = spark.read.option("header", "true").csv(s"$root/$t")
    val tables = Seq("metadata", "features", "psd_data", "psd_fits", "psd_flags", "dead_letter")
    val stateChecks = tables.map { t =>
      val (a, b) = (Main.contentHash(read(incr, t)), Main.contentHash(read(batchOut, t)))
      (s"state_$t", a == b, s"incremental ${a._2} rows, batch ${b._2} rows, hash equal=${a._1 == b._1}")
    }
    val dead = read(incr, "dead_letter").groupBy("reason").count()
      .as[(String, Long)].collect().toMap
    val want = man.get("expected_dead").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    val skips = read(incr, "metadata").filter(col("skip") === "true").count()
    val wantSkips = man.get("expected_blacklisted").asLong + want.getOrElse("oversize", 0L)
    val rois = read(incr, "features").count()
    stateChecks ++ Seq(
      ("dead_letter_reasons", dead == want, s"got $dead, planted $want"),
      ("blacklist_skips", skips == wantSkips, s"got $skips skip rows, planted $wantSkips"),
      ("feature_rois", rois == units, s"got $rois feature rows, delivered $units clean ROIs"))
  }
}
