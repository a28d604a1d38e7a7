package perfbench

import graft.{Pipeline, RecordingNotifier}
import graft.io.{CsvSink, JsonArraySource, ParquetSource}
import graft.ops.MergeOps
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** The ETL workloads: the reference job sent through `Pipeline.run`,
  * with the sources the deployed entry points build (`Pipeline.main`,
  * a `type: json` tenant): the primary without a schema, so every run
  * infers it as deployed runs do.
  *
  * Untraced, it times one cold run, one untimed warm-up run, and warm
  * runs for the window; each run starts on a freshly collected heap.
  * Traced, whose result reports no end-to-end metric, one warm run
  * follows the warm-up; then it times warm runs with the benchmark's
  * listeners on (`Pipeline.*`, read amplification, the unmatched
  * report's jobs, the sink's bytes), and replays the job one layer call at a time, each
  * call in its own span, for the per-layer times.
  */
object Etl {
  val Key = "id"
  val PrimaryFile = "/primary.json"

  final case class RunRec(seconds: Double, heapMb: Double, ok: Boolean, mergedRows: Long,
      unmatchedRows: Long, csvHash: String, csvLines: Long, error: String)

  private def spec(inputs: String, landing: Path) = Pipeline.PipelineSpec(
    primary = JsonArraySource(inputs + PrimaryFile),
    secondary = ParquetSource(s"$inputs/secondary.parquet"),
    key = Key,
    destDir = landing.toString,
    destFile = "merged.csv")

  def run(spark: SparkSession, inputs: String, out: Path, seconds: Double,
      trace: Boolean): Seq[(String, Any)] = {
    val landing = out.resolve("landing")
    val spec = this.spec(inputs, landing)

    def once(): RunRec = {
      val ((r, dt), heap) =
        HeapWatch.peakMb(Main.timed(Pipeline.run(spark, spec, new RecordingNotifier)))
      r match {
        case Right(res) =>
          val (h, n) = csvLineHash(res.csvPath)
          RunRec(dt, heap, ok = true, res.mergedRows, res.unmatchedRows, h, n, "")
        case Left(e) => RunRec(dt, heap, ok = false, -1, -1, "", 0, s"${e.stage}: ${e.message}")
      }
    }

    // the cold run is timed; an untimed warm-up run lets the JIT settle
    // before the timed warm runs
    val cold = once()
    val warmUp = once()
    val warm = if (trace) Seq(once()) else Main.repeat(seconds, 3)(once())
    val runs = Seq(cold, warmUp) ++ warm
    val base = Seq(
      "cold_job_s" -> cold.seconds,
      "job_s" -> Main.median(warm.map(_.seconds)),
      "warm_runs" -> warm.map(_.seconds),
      "peak_heap_mb" -> HeapWatch.medianPeak(warm.map(_.heapMb)),
      "run_heap_mb" -> runs.map(_.heapMb),
      "landed_csv" -> landing.resolve("merged.csv").toString,
      "ops" -> runs.map(r => Json.obj("seconds" -> r.seconds, "ok" -> r.ok,
        "merged_rows" -> r.mergedRows, "unmatched_rows" -> r.unmatchedRows,
        "csv_hash" -> r.csvHash, "csv_lines" -> r.csvLines, "error" -> r.error)))
    if (!trace) base else base ++ traced(spark, inputs, out, seconds)
  }

  /** Traced runs and the layer-by-layer replay; writes `<out>/trace.json`. */
  private def traced(spark: SparkSession, inputs: String, out: Path,
      seconds: Double): Seq[(String, Any)] = {
    val tracer = new Tracer(spark)
    val layers =
      try layerMetrics(spark, tracer, inputs, out, seconds)
      finally tracer.detach()
    Json.write(out.resolve("trace.json"), tracer.toJson)
    layers
  }

  private def layerMetrics(spark: SparkSession, tracer: Tracer, inputs: String, out: Path,
      seconds: Double): Seq[(String, Any)] = {
    val primaryPath = inputs + PrimaryFile
    val secondaryPath = s"$inputs/secondary.parquet"
    val spec = this.spec(inputs, out.resolve("landing"))
    val primaryBytes = Files.size(java.nio.file.Paths.get(primaryPath)).toDouble
    // traced runs alternate with untraced ones, so the tracing overhead
    // compares runs made at the same point of the JVM's warm-up
    def pipelineRun(): Unit = require(
      Pipeline.run(spark, spec, new RecordingNotifier).isRight, "traced pipeline run failed")
    val pairs = Main.repeat(seconds / 2, 3) {
      tracer.detach()
      val untraced = Main.timed(pipelineRun())._2
      tracer.attach()
      tracer.newTrace()
      (untraced, tracer.span("Pipeline.run")(pipelineRun())._2)
    }
    val pipelineSpans = pairs.map(_._2)
    val replayDir = out.resolve("replay").toString
    def p = JsonArraySource(primaryPath).load(spark)
    def s = ParquetSource(secondaryPath).load(spark)
    val calls: Seq[(String, () => Any)] = Seq(
      "io.JsonArraySource" -> (() => Main.noop(p)),
      "io.ParquetSource" -> (() => Main.noop(s)),
      "ops.MergeOps.coalesce" -> (() => Main.noop(MergeOps.coalesceMerge(p, s, Key))),
      "ops.MergeOps.unmatched" -> (() => MergeOps.reportSample(MergeOps.unmatched(s, p, Key), Key, 10)),
      "io.CsvSink" -> (() =>
        CsvSink.writeSingleCsv(MergeOps.coalesceMerge(p, s, Key), replayDir, "replay.csv")))
    val replays = (1 to 3).map { _ =>
      tracer.newTrace()
      calls.map { case (name, call) => name -> tracer.span(name)(call())._2 }.toMap
    }
    tracer.drain()
    val rec = tracer.recorder

    def med(f: Span => Double)(xs: Seq[Span]) = Main.median(xs.map(f))
    def tasks(s: Span) = tracer.tasksOf(tracer.jobsIn(s))
    def taskSec(ts: Seq[TaskRec]) = ts.map(_.durMs).sum / 1e3
    def maxTask(ts: Seq[TaskRec]) = if (ts.isEmpty) 0.0 else ts.map(_.durMs).max / 1e3

    // --- real Pipeline.run, traced ---
    def driverSeconds(s: Span): Double = {
      val iv = tracer.jobsIn(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      math.max(0.0, s.durS - covered / 1e3)
    }
    def calledFrom(frame: String)(s: Span) = tracer.jobsCalledFrom(s, frame)
    val unmatchedFrame = "graft.ops.MergeOps$.reportSample("
    val sinkFrame = "graft.io.CsvSink$.writeSingleCsv("

    val ps = pipelineSpans
    val pipeline = Seq(
      "trace.overhead_s" -> (med(_.durS)(ps) - Main.median(pairs.map(_._1))),
      "Pipeline.driver_s" -> med(driverSeconds)(ps),
      "Pipeline.jobs" -> med(s => tracer.jobsIn(s).size.toDouble)(ps),
      "Pipeline.stages" -> med(s => tasks(s).map(_.stage).distinct.size.toDouble)(ps),
      "Pipeline.tasks" -> med(s => tasks(s).size.toDouble)(ps),
      "Pipeline.parallelism" -> med(s => taskSec(tasks(s)) / s.durS)(ps),
      "io.JsonArraySource.read_amplification" ->
        med(s => tracer.bytesReadFrom(s, PrimaryFile) / primaryBytes)(ps),
      "ops.MergeOps.unmatched.jobs" -> med(s => calledFrom(unmatchedFrame)(s)._1.size.toDouble)(ps),
      "ops.MergeOps.unmatched.input_bytes" -> med(s =>
        tracer.tasksOf(calledFrom(unmatchedFrame)(s)._2).map(_.inputBytes).sum.toDouble)(ps),
      "io.CsvSink.bytes_written" -> med(s =>
        tracer.tasksOf(calledFrom(sinkFrame)(s)._2).map(_.outputBytes).sum.toDouble)(ps),
      "io.CsvSink.max_task_s" -> med(s => maxTask(tracer.tasksOf(calledFrom(sinkFrame)(s)._2)))(ps))

    // --- one span per layer call. A span includes the reads its call
    // re-executes (and, for the sink, the merge): the io.*.s spans give
    // the cost of one read for comparison ---
    val Seq(j, q, m, u, c) = calls.map { case (name, _) => replays.map(_(name)) }
    def heaviestStageSkew(s: Span): Double = {
      val byStage = tasks(s).groupBy(_.stage).values.toSeq
      if (byStage.isEmpty) 0.0
      else {
        val durs = byStage.maxBy(taskSec).map(_.durMs.toDouble)
        durs.max / math.max(1.0, Main.median(durs))
      }
    }
    val layers = Seq(
      "io.JsonArraySource.s" -> med(_.durS)(j),
      "io.JsonArraySource.tasks" -> med(s => tasks(s).size.toDouble)(j),
      "io.JsonArraySource.max_task_s" -> med(s => maxTask(tasks(s)))(j),
      "io.ParquetSource.s" -> med(_.durS)(q),
      "io.ParquetSource.tasks" -> med(s => tasks(s).size.toDouble)(q),
      "ops.MergeOps.coalesce.s" -> med(_.durS)(m),
      "ops.MergeOps.coalesce.shuffle_bytes" -> med(s => tasks(s).map(_.shuffleWriteBytes).sum.toDouble)(m),
      "ops.MergeOps.coalesce.spill_bytes" -> med(s => tasks(s).map(_.spillBytes).sum.toDouble)(m),
      "ops.MergeOps.coalesce.broadcast_bytes" -> med(s =>
        tracer.execIdsIn(s).toSeq.map(rec.broadcastBytes).sum.toDouble)(m),
      "ops.MergeOps.coalesce.max_over_median_task" -> med(heaviestStageSkew)(m),
      "ops.MergeOps.unmatched.s" -> med(_.durS)(u),
      "io.CsvSink.s" -> med(_.durS)(c))

    pipeline ++ layers
  }

  /** Order-independent digest of a CSV file: the sum (mod 2^64) of the
    * first 8 bytes of each line's MD5, and the line count. run.py
    * computes the same digest of the file it checks against DuckDB.
    */
  def csvLineHash(p: Path): (String, Long) = {
    val bytes = Files.readAllBytes(p)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    var lines = 0L
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == '\n') {
        if (i > start || i < bytes.length) {
          md.reset()
          md.update(bytes, start, i - start)
          sum += java.nio.ByteBuffer.wrap(md.digest(), 0, 8).getLong
          lines += 1
        }
        start = i + 1
      }
      i += 1
    }
    (java.lang.Long.toUnsignedString(sum), lines)
  }
}
