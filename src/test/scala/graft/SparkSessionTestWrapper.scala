package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the
  * factory-built session the mains run in, so tests exercise the same
  * extensions and planner settings.
  */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.shared
}

object SparkSessionTestWrapper {
  lazy val shared: SparkSession = Sessions.local(4)
}
