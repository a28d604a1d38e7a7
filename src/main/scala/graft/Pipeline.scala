package graft

import graft.io.{CsvSink, RelationSource}
import graft.ops.MergeOps
import org.apache.spark.sql.{DataFrame, GraftPlanShim, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.file.Path
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** The reference pipeline end-to-end (SURVEY.md §3.1), as one
  * distributed job with the reference's fail-fast control flow
  * (`gule_test_job.py:74-78,99-103,108-111,217-221`):
  *
  *   read primary -> read secondary -> validate key -> merge ->
  *   report unmatched (non-fatal) -> single-object CSV -> success
  *
  * Every stage failure produces a notification and a `Left` with the
  * stage name; the unmatched-report stage alone is non-fatal
  * (`gule_test_job.py:195-199`). [[Pipeline.main]] maps `Left` to exit
  * code 1 the way the reference maps failures to `sys.exit(1)`.
  *
  * Unlike the reference — whose merge is a single-threaded pandas loop
  * over rows collected to the driver (`gule_test_job.py:94,125-156`) —
  * every data-plane step here is a Spark plan. The driver-side work is
  * folding the JSON reader's per-split lexer summaries (a few numbers
  * per split, [[graft.io.JsonArraySplits]]), the ≤10-row report sample,
  * the CSV header line and joining the CSV part files into one
  * ([[graft.io.CsvSink]]). The primary is parsed once per run and its
  * rows kept for the run's two consumers, the unmatched report and the
  * CSV write ([[RowCache]]).
  */
object Pipeline {

  final case class PipelineError(stage: String, message: String)

  final case class PipelineResult(
      mergedRows: Long,
      unmatchedRows: Long,
      csvPath: Path)

  final case class PipelineSpec(
      primary: RelationSource,
      secondary: RelationSource,
      key: String = "id",
      destDir: String,
      destFile: String = "merged.csv")

  def run(
      spark: SparkSession,
      spec: PipelineSpec,
      notifier: Notifier): Either[PipelineError, PipelineResult] = {

    def stage[A](name: String, errorText: String => String)(body: => A): Either[PipelineError, A] =
      Try(body) match {
        case Success(a) => Right(a)
        case Failure(e) =>
          val msg = Notifier.describe(e)
          notifier.notifySafe(errorText(msg))
          Left(PipelineError(name, msg))
      }

    def fromRows(primary: DataFrame, secondary: DataFrame): Either[PipelineError, PipelineResult] =
      for {
        // inside a stage: Spark analyzes transformations eagerly, so an
        // incompatible shared-column type raises AnalysisException at
        // PLAN time — it must follow the same notify+Left routing, not
        // escape the fan-out loop
        merged <- stage("plan-merge",
          m => s"Error: failed to plan merge: $m") {
          MergeOps.coalesceMerge(primary, secondary, spec.key)
        }
        // Unmatched report (O13/O14/O17): failures here are non-fatal —
        // the reference continues to the CSV write when the Slack report
        // errors (gule_test_job.py:195-199).
        unmatchedCount = reportUnmatched(secondary, primary, spec, notifier)
        // the row count for the success report is observed DURING the
        // write (CsvSink Observation) — no re-read of the output artifact
        csvAndRows <- stage("write-csv",
          m => s"Error: failed to write CSV ${spec.destFile}: $m") {
          CsvSink.writeSingleCsv(merged, spec.destDir, spec.destFile)
        }
      } yield {
        val (csv, rows) = csvAndRows
        notifier.notifySafe(
          s"Success: wrote $rows rows to ${spec.destDir}/${spec.destFile}")
        PipelineResult(rows, unmatchedCount, csv)
      }

    stage("read-primary",
      m => s"Error: failed to read ${spec.primary.describe}: $m") {
      spec.primary.load(spark)
    }.flatMap { primary =>
      for {
        secondary <- stage("read-secondary",
          m => s"Error: failed to read ${spec.secondary.describe}: $m") {
          spec.secondary.load(spark)
        }
        _ <- stage("validate-key",
          m => s"Error: '${spec.key}' column not found: $m") {
          MergeOps.requireKey(primary, spec.key, spec.primary.describe)
          MergeOps.requireKey(secondary, spec.key, spec.secondary.describe)
        }
        // The primary is parsed once per run: the unmatched report
        // computes its rows and keeps them, and the CSV write reads them,
        // instead of each parsing the file again. Made after the key is
        // validated: planning a scan of a primary that is one corrupt
        // record fails, and that primary must fail at validate-key.
        // Released on every exit path.
        cache <- stage("plan-merge", m => s"Error: failed to plan merge: $m") {
          new RowCache(primary)
        }
        result <- try fromRows(cache.frame, secondary) finally cache.release()
      } yield result
    }
  }

  /** `df`'s rows, kept from their first computation until [[release]]:
    * Spark's rows as its physical plan yields them, copied, in memory and
    * past it on disk. `Dataset.persist` would build compressed column
    * batches with statistics per column; the run reads the rows whole,
    * twice, and its mostly distinct strings gain nothing from them. The
    * frame carries `df`'s size estimate, so joins over it are planned as
    * joins over `df`.
    */
  private final class RowCache(df: DataFrame) {
    private val rows =
      GraftPlanShim.internalRows(df).map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    val frame: DataFrame = GraftPlanShim.ofInternalRows(df.sparkSession, rows, df.schema,
      df.queryExecution.optimizedPlan.stats.sizeInBytes)
    def release(): Unit = rows.unpersist(blocking = false)
  }

  private def reportUnmatched(
      secondary: DataFrame,
      primary: DataFrame,
      spec: PipelineSpec,
      notifier: Notifier): Long =
    try {
      val un = MergeOps.unmatched(secondary, primary, spec.key)
      val (sample, total) = MergeOps.reportSample(un, spec.key, 10)
      if (total > 0) {
        val more = total - sample.size
        val tail = if (more > 0) s" (+$more more)" else ""
        notifier.notifySafe(
          s"Unmatched ${spec.secondary.describe} records: $total; " +
            s"sample ${spec.key}s: ${sample.mkString(", ")}$tail")
      }
      total
    } catch {
      case NonFatal(e) =>
        notifier.notifySafe(
          s"Warning: unmatched-record report failed (non-fatal): ${Notifier.describe(e)}")
        -1L
    }

  /** Continuous-ingestion spec: a directory where primary JSON-lines
    * files keep arriving, merged against the (static, periodically
    * refreshable) secondary.
    */
  final case class StreamingSpec(
      primaryDir: String,
      primarySchema: org.apache.spark.sql.types.StructType,
      secondary: RelationSource,
      key: String = "id",
      outputDir: String,
      checkpointDir: String)

  /** The reference pipeline as a CONTINUOUS job: the identical
    * coalesceMerge kernel (stream-static left-outer join; see
    * StreamingMergeSpec for the row-level equivalence proof) over a
    * file stream, appended to parquet with checkpointed exactly-once
    * file tracking — re-running after a stop resumes from the
    * checkpoint and processes only files not yet ingested. The
    * reference itself can only re-run the whole batch
    * (`max_concurrent_runs = 1`, no incremental state).
    *
    * Returns the started query; callers own its lifecycle (the CLI
    * contract stays batch — streaming deployments supervise queries).
    */
  def runStream(
      spark: SparkSession,
      spec: StreamingSpec): org.apache.spark.sql.streaming.StreamingQuery = {
    val secondary = spec.secondary.load(spark)
    MergeOps.requireKey(secondary, spec.key, spec.secondary.describe)
    require(spec.primarySchema.fieldNames.contains(spec.key),
      s"Error: '${spec.key}' column not found in streaming primary schema")
    val stream = spark.readStream.schema(spec.primarySchema).json(spec.primaryDir)
    MergeOps.coalesceMerge(stream, secondary, spec.key)
      .writeStream.format("parquet")
      .option("path", spec.outputDir)
      .option("checkpointLocation", spec.checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** CLI entry with the reference's exit-code contract. Two forms:
    *
    *   - `primaryJsonPath secondaryParquetPath destDir [destFile]` —
    *     one ad-hoc pipeline run;
    *   - `--config tenants.json [--secrets secrets.json]` — the
    *     reference's multi-tenant fan-out (O20): every tenant in the
    *     config runs its own pipeline; any tenant failure makes the
    *     whole invocation exit 1 (after all tenants ran).
    */
  def main(args: Array[String]): Unit = {
    val stdout = new StdoutNotifier
    // usage, secrets and config errors stop here, before a session starts
    def reject(msg: String): Nothing = {
      System.err.println(msg)
      sys.exit(1)
    }
    // (label, the run's spec and notifier, or the tenant's config error)
    val runs: Seq[(String, Either[String, (PipelineSpec, Notifier)])] = args.toSeq match {
      case Seq("--config", cfgPath, rest @ _*) =>
        val secrets = rest match {
          case Seq("--secrets", sPath) =>
            // FileSecretsProvider reads eagerly: a missing/corrupt
            // secrets file must produce the same clean one-line error +
            // exit 1 as a bad config, not a raw stack trace
            try new io.FileSecretsProvider(sPath)
            catch {
              case e: Throwable => reject(s"cannot load secrets $sPath: ${e.getMessage}")
            }
          case Seq() => io.NoSecretsProvider
          case other =>
            reject(s"unrecognized arguments: ${other.mkString(" ")}\n" +
              "usage: Pipeline --config <tenants.json> [--secrets <secrets.json>]")
        }
        val tenants =
          try Config.loadFileTenants(cfgPath, secrets)
          catch {
            case e: Throwable => reject(s"cannot load config $cfgPath: ${e.getMessage}")
          }
        // per-tenant isolation: a tenant with a broken config (missing
        // field, unknown secret) fails alone; every valid tenant runs
        // with the config's webhook (HttpNotifier) when present, the
        // shared stdout notifier otherwise
        tenants.map {
          case Left((name, err)) => s"[$name]" -> Left(err)
          case Right(t) => s"[${t.name}]" -> Right((t.toSpec, t.notifier(stdout)))
        }
      case Seq(primary, secondary, destDir, rest @ _*) =>
        // reject trailing junk like the --config branch does: silently
        // dropping e.g. a misplaced "--secrets s.json" would run the
        // pipeline with different inputs than the user asked for
        if (rest.length > 1)
          reject(s"unrecognized arguments: ${rest.tail.mkString(" ")}\n" +
            "usage: Pipeline <primary.json> <secondary.parquet> <destDir> [destFile]")
        val spec = PipelineSpec(
          primary = io.JsonArraySource(primary),
          secondary = io.ParquetSource(secondary),
          destDir = destDir,
          destFile = rest.headOption.getOrElse("merged.csv"))
        Seq("pipeline" -> Right((spec, stdout)))
      case _ =>
        reject(
          "usage: Pipeline <primary.json> <secondary.parquet> <destDir> [destFile]\n" +
            "   or: Pipeline --config <tenants.json> [--secrets <secrets.json>]")
    }
    val spark = Sessions.local(Sessions.cpus)
    // any failure makes the whole invocation exit 1, after every run
    val failed = runs.count {
      case (label, Left(err)) =>
        System.err.println(s"$label invalid config: $err")
        true
      case (label, Right((spec, notifier))) =>
        run(spark, spec, notifier) match {
          case Right(r) =>
            println(s"$label complete: ${r.mergedRows} rows -> ${r.csvPath}")
            false
          case Left(e) =>
            System.err.println(s"$label failed at ${e.stage}: ${e.message}")
            true
        }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
