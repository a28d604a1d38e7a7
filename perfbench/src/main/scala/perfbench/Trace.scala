package perfbench

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.storage.{RDDBlockId, RDDInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** A benchmark span: one call into a layer, opened by the benchmark.
  * `trace` ties together the spans of one operation (one pipeline run,
  * one registry pass).
  */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    startMs: Long, endMs: Long, durS: Double)

final case class JobRec(id: Int, span: Int, exec: Long, startMs: Long, endMs: Long)
final case class TaskRec(stage: Int, job: Int, durMs: Long, inputBytes: Long,
    outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)
final case class ExecRec(id: Long, root: Long, callSite: String, startMs: Long, endMs: Long)

/** Records Spark's view of the work (jobs, stages, tasks, SQL
  * executions, file scans, broadcasts) from a SparkListener and a
  * QueryExecutionListener that the benchmark registers. Everything stays
  * in memory; callers read it after [[Tracer.drain]].
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  /** The RDDs (id, name) each stage computes: its narrow lineage, cut at
    * RDDs whose partitions it finds in the cache.
    */
  val stageRdds = mutable.Map.empty[Int, Seq[(Int, String)]]
  private val cachedBlocks = mutable.Map.empty[Int, Set[Int]].withDefaultValue(Set.empty)
  /** The file each executed scan node read, by the id of the RDD it read through. */
  val scanRdds = mutable.Map.empty[Int, String]
  val broadcastBytes = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  private val stageJob = mutable.Map.empty[Int, Int]
  private val openJobs = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = JobRec(e.jobId, prop(Tracer.SpanProperty).fold(0)(_.toInt),
      prop("spark.sql.execution.id").fold(-1L)(_.toLong), e.time, -1L)
    openJobs(e.jobId) = rec
    e.stageInfos.foreach { st =>
      stageJob(st.stageId) = e.jobId
      val byId = st.rddInfos.map(r => r.id -> r).toMap
      def computed(r: RDDInfo): Seq[RDDInfo] =
        if (cachedBlocks(r.id).nonEmpty) Seq(r)
        else r +: r.parentIds.flatMap(byId.get).flatMap(computed)
      stageRdds(st.stageId) = st.rddInfos.headOption.toSeq.flatMap(computed).distinct
        .map(r => r.id -> r.name)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, split) =>
        cachedBlocks(rdd) =
          if (b.storageLevel.isValid) cachedBlocks(rdd) + split else cachedBlocks(rdd) - split
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, stageJob.getOrElse(e.stageId, -1),
      e.taskInfo.duration, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = ExecRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.details, s.time, -1L)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(x => execs(x.id) = x.copy(endMs = s.time))
        broadcastBytes(s.executionId) += pendingBroadcast
        pendingBroadcast = 0L
      case _ =>
    }
  }

  // The QueryExecutionListener is called, on the listener bus, while the
  // bus delivers the execution's SparkListenerSQLExecutionEnd, before
  // this listener sees that event (the session registered its listener
  // bus first); the broadcast bytes it records are tied to that
  // execution's id there.
  private var pendingBroadcast = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      Recorder.nodes(qe.executedPlan).foreach {
        case b: BroadcastExchangeExec =>
          pendingBroadcast += b.metrics.get("dataSize").fold(0L)(_.value)
        case _ =>
      }
      scanRdds ++= Recorder.scans(qe.executedPlan)
    }

  /** Stages that read `file`: their lineage holds the RDD of a scan
    * node over it, or an RDD named after it (the whole-file RDD that
    * JSON schema inference reads).
    */
  def stagesReading(file: String): Set[Int] = synchronized {
    stageRdds.collect {
      case (st, rdds) if rdds.exists { case (id, name) =>
          scanRdds.get(id).exists(_.endsWith(file)) || Option(name).exists(_.endsWith(file)) } => st
    }.toSet
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  /** Every physical node of an executed plan, through adaptive wrappers
    * and query stages; reused exchanges are not descended (their
    * metrics belong to the exchange they reuse).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (RDD id, file) of every file scan node of an executed plan,
    * including the plans of cached relations it reads: a cached
    * relation's scan runs in the first execution that reads the cache.
    */
  def scans(p: SparkPlan): Seq[(Int, String)] = nodes(p).flatMap {
    case s: FileSourceScanExec =>
      val id = s.inputRDD.id
      s.relation.location.rootPaths.map(r => id -> r.toUri.getPath)
    case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    case _ => Nil
  }
}

/** Opens spans around the benchmark's calls into the engine and tags
  * every Spark job started inside a span with the span's id (a local
  * property, inherited by the threads Spark starts for the call).
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val recorder = new Recorder
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var open: List[Int] = Nil
  private var traceId = 0
  attach()

  /** Registers the listeners; [[detach]] takes them off again, so
    * untraced runs can be interleaved with traced ones.
    */
  def attach(): Unit = {
    sc.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
  }

  /** Starts a new operation: later spans share a fresh trace id. */
  def newTrace(): Unit = traceId += 1

  def span[A](name: String)(body: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    open = id :: open
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try {
      val a = body
      val ns1 = System.nanoTime()
      val s = Span(id, name, parent, traceId, ms0, System.currentTimeMillis(), (ns1 - ns0) / 1e9)
      spans += s
      (a, s)
    } finally {
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProperty, prev)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = ListenerBusAccess.drain(sc)

  // ---- queries over what was recorded (call after drain) ----

  /** Jobs started inside the span or any span nested in it. */
  def jobsIn(s: Span): Seq[JobRec] = {
    val ids = descendants(s.id)
    recorder.jobs.filter(j => ids(j.span)).toSeq
  }

  def tasksOf(jobs: Seq[JobRec]): Seq[TaskRec] = {
    val ids = jobs.map(_.id).toSet
    recorder.tasks.filter(t => ids(t.job)).toSeq
  }

  /** Input bytes the tasks of the span read in stages that read `file`. */
  def bytesReadFrom(s: Span, file: String): Long = {
    val stages = recorder.stagesReading(file)
    tasksOf(jobsIn(s)).filter(t => stages(t.stage)).map(_.inputBytes).sum
  }

  /** Root SQL executions whose jobs ran inside the span. */
  def rootExecsIn(s: Span): Seq[ExecRec] = {
    val roots = jobsIn(s).flatMap(j => recorder.execs.get(j.exec)).map(_.root).toSet
    roots.toSeq.sorted.flatMap(recorder.execs.get)
  }

  /** Jobs of the root executions whose call site names `frame`. */
  def jobsCalledFrom(s: Span, frame: String): (Seq[ExecRec], Seq[JobRec]) = {
    val ex = rootExecsIn(s).filter(_.callSite.contains(frame))
    val roots = ex.map(_.id).toSet
    val js = jobsIn(s).filter(j => recorder.execs.get(j.exec).exists(x => roots(x.root)))
    (ex, js)
  }

  /** Executions (root and nested) whose jobs ran inside the span. */
  def execIdsIn(s: Span): Set[Long] = {
    val roots = rootExecsIn(s).map(_.id).toSet
    recorder.execs.values.filter(x => roots(x.root)).map(_.id).toSet
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    Set(id) ++ kids.flatMap(descendants)
  }

  /** The trace as JSON: benchmark spans, and Spark jobs as child spans
    * of the benchmark span they ran in.
    */
  def toJson: ListMap[String, Any] = {
    val byId = spans.map(s => s.id -> s).toMap
    val sp = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "trace" -> s.trace,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durS)
    }
    val taskByJob = recorder.tasks.groupBy(_.job)
    val js = recorder.jobs.map { j =>
      val ts = taskByJob.getOrElse(j.id, Nil)
      Json.obj("id" -> s"job-${j.id}", "name" -> "spark.job", "parent" -> j.span,
        "trace" -> byId.get(j.span).fold(0)(_.trace), "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "sql_execution" -> j.exec, "tasks" -> ts.size,
        "task_s" -> ts.map(_.durMs).sum / 1e3)
    }
    val ex = recorder.execs.values.map { x =>
      Json.obj("id" -> x.id, "root" -> x.root, "start_ms" -> x.startMs, "end_ms" -> x.endMs,
        "call_site" -> x.callSite.linesIterator.find(_.contains("graft.")).getOrElse(""))
    }
    val st = recorder.stageRdds.toSeq.sortBy(_._1).map { case (id, rdds) =>
      Json.obj("stage" -> id, "rdds" -> rdds.map { case (r, name) =>
        Json.obj("id" -> r, "name" -> name, "scan_of" -> recorder.scanRdds.getOrElse(r, "")) })
    }
    Json.obj("spans" -> (sp.toSeq ++ js.toSeq), "sql_executions" -> ex.toSeq, "stages" -> st)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
