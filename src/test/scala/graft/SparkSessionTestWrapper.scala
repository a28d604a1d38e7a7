package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the
  * factory-built session the mains run in, so tests exercise the same
  * extensions and planner settings.
  */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.shared

  /** Runs `body` with Spark's file splits forced down to `bytes` bytes. */
  def withSplitBytes[A](bytes: Long)(body: => A): A = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, bytes))
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSessionTestWrapper {
  lazy val shared: SparkSession = Sessions.local(4)
}
