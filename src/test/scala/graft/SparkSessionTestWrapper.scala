package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the
  * factory-built session the mains run in, so tests exercise the same
  * extensions and planner settings.
  */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.shared

  /** Runs `body` with each `key -> value` session setting, restoring
    * the previous settings afterwards.
    */
  def withConf[A](settings: (String, String)*)(body: => A): A = {
    val before = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with Spark's file splits forced down to `bytes` bytes. */
  def withSplitBytes[A](bytes: Long)(body: => A): A =
    withConf(Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
      .map(_ -> bytes.toString): _*)(body)

  /** Runs `body` once on each of Spark's two expression evaluation
    * paths, passing the path's name for assertion messages:
    *   - "codegen": whole-stage codegen, and `factoryMode=CODEGEN_ONLY`
    *     for the projections outside it (a higher-order function keeps
    *     its projection out), with no silent fallback to `eval` when
    *     the generated Java fails to compile;
    *   - "interpreted": no whole-stage codegen and
    *     `factoryMode=NO_CODEGEN`, so every projection calls `eval`.
    * ConvertToLocalRelation is off on both, since it would evaluate a
    * projection over a local `Seq` through `eval` while optimizing.
    * Literal-only inputs still constant-fold through `eval`: feed `body`
    * columns.
    */
  def onBothEvalPaths(body: String => Unit): Unit = {
    val noLocalFold = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false", noLocalFold)(body("codegen"))
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", noLocalFold)(body("interpreted"))
  }
}

object SparkSessionTestWrapper {
  lazy val shared: SparkSession = Sessions.local(4)
}
