package perfbench

import graft.Q
import graft.ops._
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** The registry modules of a traced run: a fixed list of `SparkEntry`
  * rows, one per operator module, over the committed fixture tables,
  * each into a noop sink with `clearCache` after it as `graft.Bench`
  * does. After one untimed warm-up pass, a traced pass runs each row in
  * a span named after its module; the per-module metrics sum the rows'
  * spans and Spark work.
  */
object Registry {
  val Modules: Seq[(String, Seq[Q])] = Seq(
    "EventOps" -> EventOps.queries, "DedupOps" -> DedupOps.queries,
    "RelationalOps" -> RelationalOps.queries, "TextOps" -> TextOps.queries,
    "SimilarityOps" -> SimilarityOps.queries, "PipelineQueries" -> PipelineQueries.queries,
    "TpchOps" -> TpchOps.queries, "MultimodalOps" -> MultimodalOps.queries,
    "MergeQueries" -> MergeQueries.queries)

  private lazy val byName: Map[String, (String, Q)] =
    Modules.flatMap { case (m, qs) => qs.map(q => q.name -> (m, q)) }.toMap

  /** The warm-up pass and the traced pass; writes `<out>/trace.json`. */
  def companion(spark: SparkSession, fixtures: String, rows: Seq[String],
      out: Path): Seq[(String, Any)] = {
    val unknown = rows.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown registry rows: ${unknown.mkString(", ")}")
    val tracer = new Tracer(spark)
    def pass(traced: Boolean): Unit = rows.foreach { n =>
      def row() = Main.noop(byName(n)._2.run(spark, fixtures))
      if (traced) tracer.span(s"ops.${byName(n)._1}")(row()) else row()
      spark.catalog.clearCache()
    }
    val spans =
      try {
        tracer.detach()
        pass(traced = false)
        tracer.attach()
        tracer.newTrace()
        pass(traced = true)
        tracer.allSpans
      } finally tracer.detach()
    Files.createDirectories(out)
    Json.write(out.resolve("trace.json"), tracer.toJson)
    Modules.map(_._1).flatMap { m =>
      val ms = spans.filter(_.name == s"ops.$m")
      val ts = tracer.tasksOf(ms.flatMap(tracer.jobsIn))
      Seq("s" -> ms.map(_.durS).sum, "shuffle_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble, "tasks" -> ts.size.toDouble)
        .map { case (k, v) => s"ops.$m.$k" -> v }
    }
  }
}
