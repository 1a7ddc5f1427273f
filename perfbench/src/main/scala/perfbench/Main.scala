package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.BuildLedger

/** One benchmark run in one JVM: set the workload up once (`setup_s`,
  * timed from JVM start), measure it for `--seconds`, check its outputs,
  * and write everything to `--out` as JSON for `run.py` to report.
  *
  * With `--trace 1` the measured time is split into an untraced quarter,
  * a traced half (listeners and span recorder on) and another untraced
  * quarter. Per-layer numbers come from the traced half; its gap to the
  * mean of the untraced quarters, which cancels steady warm-up drift, is
  * the tracing overhead. */
object Main {
  val Cores = 4
  /** Micro-batches each EGV set-up pushes through. */
  val WarmBatches = 3
  /** Untimed seconds of the live stream between set-up and the timed
    * window, so the window starts JIT-warm (like a benchmark harness's
    * warm-up iterations): batches are small, so it takes a while to run
    * the per-batch path often enough. The ramp is the workload itself
    * and does no set-up work, so it is not in `setup_s`. */
  val LiveRampSecs = 12
  /** Untimed catalog passes at the target scale before the timed ones.
    * Passes keep getting faster for their first few repetitions at the
    * target scale (5.3, 4.9, 4.7 s, then about 4.5), and further warm-up
    * passes at the small scale did not change that. Like the live ramp,
    * this is the workload itself, so it is not in `setup_s`. */
  val CatalogRampPasses = 2

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val work = args("work")
    Files.createDirectories(Paths.get(work))
    val result = args("kind") match {
      case "live" => runEgv(args, work)
      case "catalog" => runCatalog(args, work)
      case k => sys.error(s"unknown workload kind $k")
    }
    result.write(args("out"))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since the JVM started: process start-up, class loading and
    * the first SparkSession count as set-up. */
  def secsSinceJvmStart(): Double = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (System.currentTimeMillis() - startMs) / 1e3
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---------------------------------------------------------------- EGV

  def runEgv(args: Args, work: String): Result = {
    val seed = args("seed").toLong
    val seconds = args.int("seconds")
    val trace = args("trace") == "1"
    val spans = new SpanRecorder(false)
    val probe = new LayerProbe
    val rate = args.int("rate")
    val spark = session(work)
    if (trace) probe.attach(spark)
    val inputs = EgvInputs.load(spark, args("events"), seed)
    val pipe = new EgvPipeline(spark, inputs, spans, s"$work/checkpoint")
    pipe.warmUp(seed, WarmBatches, rate / 4)
    val setupSecs = secsSinceJvmStart()

    def window(name: String, secs: Int, workloadSpan: Int = -1): EgvWindow =
      pipe.runLive(seed, name, secs, rate, workloadSpan)

    val res = new Result(args("workload"))
    res.layer("artifacts.build_s", BuildLedger.since(0).map(_._2).sum, "s")
    window("ramp", LiveRampSecs)
    val main =
      if (!trace) window("timed", seconds)
      else {
        val quarter = math.max(1, seconds / 4)
        val before = window("untraced-a", quarter)
        val firstBatch = Option(pipe.query.lastProgress).map(_.batchId + 1).getOrElse(0L)
        pipe.writeBatchMs.clear()
        probe.start(spark)
        spans.enabled = true
        val wid = spans.newId()
        val mark = BuildLedger.mark()
        val traced = window("traced", math.max(1, seconds - 2 * quarter), wid)
        probe.stop(spark)
        spans.add(wid, -1, "workload", traced.startNs, traced.endNs)
        val epochToNanoMs = System.currentTimeMillis() - System.nanoTime() / 1e6
        val batches = probe.batches.map(_.progress).filter(_.batchId >= firstBatch)
        batches.foreach { p =>
          val startNs = ((java.time.Instant.parse(p.timestamp).toEpochMilli - epochToNanoMs) * 1e6).toLong
          val durNs = p.durationMs.get("triggerExecution").longValue * 1000000L
          spans.add(spans.idFor(s"batch-${p.batchId}"), wid, "stream.batch", startNs, startNs + durNs)
        }
        spans.enabled = false
        val all = spans.all
        layerMetrics(res, probe, all, traced.wallSecs, BuildLedger.since(mark))
        val rows = batches.map(_.numInputRows.toDouble)
        res.layer("streaming.batches", batches.size, "count")
        res.layer("streaming.rows_per_batch_p50", Stats.median(rows), "count")
        for ((metric, phase) <- Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch",
            "query_planning" -> "queryPlanning", "wal_commit" -> "walCommit",
            "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset"))
          res.layer(s"streaming.${metric}_ms_p50", Stats.median(batches.map(b =>
            Option(b.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0))), "ms")
        res.layer("streaming.backlog_max_records", traced.backlogMax.toDouble, "count")
        res.layer("sink.write_batch_ms_p50",
          Stats.median(pipe.writeBatchMs.asScala.toSeq.map(_.doubleValue)), "ms")
        res.layer("sink.bulk_calls", traced.bulkCalls.toDouble, "count")
        res.layer("sink.docs_per_call",
          if (traced.bulkCalls > 0) traced.docsSent.toDouble / traced.bulkCalls else 0.0, "count")
        res.layer("sink.bulk_ms_total", traced.bulkMs, "ms")
        res.layer("sink.failed_batches", traced.failedBatches.toDouble, "count")
        res.layer("sink.useful_ratio",
          if (traced.docsSent > 0) traced.distinctDocs.toDouble / traced.docsSent else 0.0, "ratio")
        res.layer("generator.late_ms_p99", Stats.percentile(traced.lateMs, 99).value, "ms")
        res.layer("generator.late_ms_max", if (traced.lateMs.isEmpty) 0.0 else traced.lateMs.max, "ms")
        val after = window("untraced-b", quarter)
        def p50(w: EgvWindow) = Stats.median(w.latencyMs.map(_._2))
        res.layer("trace.overhead_share", overhead(p50(traced), p50(before), p50(after)), "ratio")
        for (w <- Seq(before, after)) res.addFailures(w.failedCount.toLong, w.sent.toLong, w.failed)
        traced
      }
    res.addFailures(main.failedCount.toLong, main.sent.toLong, main.failed)
    val latency = main.latencyMs.map(_._2)
    val p50 = Stats.percentile(latency, 50)
    res.endToEnd("setup_s", setupSecs, "s")
    res.endToEnd("latency_p50_ms", p50.value, "ms")
    res.endToEnd("latency_p99_ms", Stats.percentile(latency, 99).value, "ms")
    res.endToEnd("throughput_rps", main.throughputRps, "1/s")
    res.endToEnd("peak_rss_mb", peakRssMb(), "MB")
    res.info("latency_samples") = p50.samples
    res.info("sustained_rps") = main.sustainedRps
    res.info("latency_p50_ms_by_second") = main.latencyMs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, xs) => math.round(Stats.median(xs.map(_._2))) }
    pipe.stop()
    res
  }

  /** Relative cost of a traced measurement against the mean of the
    * untraced ones taken before and after it (lower is better for all). */
  def overhead(traced: Double, before: Double, after: Double): Double =
    traced / ((before + after) / 2) - 1

  /** The listener- and span-derived numbers every workload reports. */
  def layerMetrics(res: Result, probe: LayerProbe, all: Seq[Span], wallSecs: Double,
                   builds: Seq[(String, Double)]): Unit = {
    probe.layerMetrics(wallSecs, Cores).foreach { case (k, m) => res.layer(k, m.value, m.unit) }
    res.layer("artifacts.builds_in_pass", builds.size.toDouble, "count")
    val self = Spans.selfByLayer(all)
    for (l <- Seq("harness", "streaming", "sink", "generator", "queries", "exec"))
      res.layer(s"self.${l}_s", self.getOrElse(l, 0.0), "s")
    // The harness's own spans take whatever no layer covers, so they are
    // left out: this share is how much of the wall the layers account for.
    val layerSum = self.filter(_._1 != "harness").values.sum
    res.layer("trace.self_sum_share", if (wallSecs > 0) layerSum / wallSecs else 0.0, "ratio")
    res.info("spans") = all.size
    res.spans = all
  }

  // ------------------------------------------------------------ catalog

  def runCatalog(args: Args, work: String): Result = {
    val seed = args("seed").toLong
    val seconds = args.int("seconds")
    val trace = args("trace") == "1"
    val names = args("queries").split(",").toSeq
    val (dir, warmDir) = (args("tables"), args("warm_tables"))
    val spans = new SpanRecorder(false)
    val spark = session(work)
    for (k <- Seq("pairs", "knn", "bfs", "fixture"))
      spark.conf.set(s"graft.$k.dir", s"$work/artifacts/$k")
    val bench = new CatalogBench(spark, names, spans)
    val sessionSecs = secsSinceJvmStart()
    bench.warmUp(warmDir)
    val warmSecs = secsSinceJvmStart() - sessionSecs
    // Each query's ordered result for the DuckDB oracle check. It is
    // also the first pass at the target scale, so it builds any artifact
    // the queries consume before anything is timed.
    val dumpDir = s"$work/oracle"
    val (sql, dumpErrors) = bench.dump(dir, dumpDir)
    val buildSecs = BuildLedger.since(0).map(_._2).sum
    val setupSecs = secsSinceJvmStart()

    val rnd = new java.util.Random(seed)
    def order(): Seq[Int] = {
      val o = Array.range(0, names.size)
      for (i <- o.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = o(i); o(i) = o(j); o(j) = t
      }
      o.toSeq
    }
    /** Whole passes until they have taken at least `secs`. */
    def passes(secs: Double, parent: Int): Seq[PassResult] = {
      val out = mutable.ArrayBuffer(bench.pass(dir, order(), parent))
      while (out.map(_.wallSecs).sum < secs) out += bench.pass(dir, order(), parent)
      out.toSeq
    }

    val res = new Result(args("workload"))
    res.info("setup_phases_s") = Map("session" -> sessionSecs, "warm_up" -> warmSecs,
      "oracle_dump" -> (setupSecs - sessionSecs - warmSecs))
    res.info("ramp_pass_s") = Seq.fill(CatalogRampPasses)(bench.pass(dir, order(), -1).wallSecs)
    val timed =
      if (!trace) passes(seconds, -1)
      else {
        val before = passes(seconds / 4.0, -1)
        val probe = new LayerProbe
        probe.attach(spark)
        probe.start(spark)
        spans.enabled = true
        val wid = spans.newId()
        val mark = BuildLedger.mark()
        val t0 = System.nanoTime()
        val traced = passes(seconds / 2.0, wid)
        val t1 = System.nanoTime()
        probe.stop(spark)
        spans.add(wid, -1, "workload", t0, t1)
        val all = spans.all
        spans.enabled = false
        val n = traced.size.toDouble
        layerMetrics(res, probe, all, (t1 - t0) / 1e9, BuildLedger.since(mark))
        // Per-pass figures, so runs with more or fewer passes compare.
        Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
            "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
            "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb")
          .foreach(k => res.perLayer(k) = res.perLayer(k).copy(value = res.perLayer(k).value / n))
        val constructJobs = probe.jobsByGroup.asScala.collect {
          case (g, c) if g.startsWith("construct:") => c }.sum
        res.layer("queries.construct_s",
          Stats.median(traced.map(_.queries.map(_.constructSecs).sum)), "s")
        res.layer("queries.construct_jobs", constructJobs / n, "count")
        names.foreach(q => res.layer(s"query.${q}_s",
          Stats.median(traced.flatMap(_.queries.filter(_.name == q).map(_.wallSecs))), "s"))
        val after = passes(seconds / 4.0, -1)
        def pass(ps: Seq[PassResult]) = Stats.median(ps.map(_.wallSecs))
        res.layer("trace.overhead_share", overhead(pass(traced), pass(before), pass(after)), "ratio")
        before ++ traced ++ after
      }
    res.layer("artifacts.build_s", buildSecs, "s")
    val runs = timed.flatMap(_.queries)
    res.addFailures(runs.count(_.error.nonEmpty).toLong, runs.size.toLong,
      runs.flatMap(q => q.error.map(e => s"${q.name}: $e")).distinct)
    res.info("builds_in_timed_passes") = timed.map(_.builds).sum
    res.info("passes") = timed.size
    // A pass is the catalog's operation (its wall is catalog_s): a
    // percentile over a handful of query executions would read the one
    // slowest execution, and queries differ in length by design.
    val passMs = timed.map(_.wallSecs * 1000)
    val p50 = Stats.percentile(passMs, 50)
    res.endToEnd("setup_s", setupSecs, "s")
    res.endToEnd("latency_p50_ms", p50.value, "ms")
    res.endToEnd("latency_p99_ms", Stats.percentile(passMs, 99).value, "ms")
    res.endToEnd("throughput_rps", runs.size / timed.map(_.wallSecs).sum, "1/s")
    res.endToEnd("peak_rss_mb", peakRssMb(), "MB")
    res.info("catalog_s") = p50.value / 1000
    res.info("pass_s") = timed.map(_.wallSecs)
    res.info("latency_samples") = p50.samples
    res.oracle = Some(Oracle(dumpDir, sql, dumpErrors, runs.groupBy(_.name).map { case (k, v) => k -> v.size }))
    res
  }
}

/** What the DuckDB oracle check needs: where the ordered results are,
  * each query's oracle SQL, the queries whose dump failed, and how many
  * timed executions each query had (a mismatch fails all of them). */
final case class Oracle(dumpDir: String, sql: Map[String, String],
                        dumpErrors: Map[String, String], executions: Map[String, Int])

/** Everything one run reports, written as JSON for `run.py`. */
final class Result(val workload: String) {
  val endToEndM = mutable.LinkedHashMap[String, Metric]()
  val perLayer = mutable.LinkedHashMap[String, Metric]()
  val info = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  var spans: Seq[Span] = Nil
  var oracle: Option[Oracle] = None

  def endToEnd(k: String, v: Double, unit: String): Unit = endToEndM(k) = Metric(v, unit)
  def layer(k: String, v: Double, unit: String): Unit = perLayer(k) = Metric(v, unit)
  def addFailures(n: Long, of: Long, what: Seq[String]): Unit = {
    failed += n; attempted += of; failures ++= what
  }

  def write(path: String): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(path),
      mutable.LinkedHashMap("workload" -> workload, "attempted" -> attempted, "failed" -> failed,
        "failures" -> failures.take(50), "end_to_end" -> endToEndM, "per_layer" -> perLayer,
        "info" -> info, "spans" -> spans, "oracle" -> oracle))
}
