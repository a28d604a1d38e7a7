package graft

import org.scalatest.funsuite.AnyFunSuite

/** The factory-built session the tests share is the session the mains
  * run in: extensions loaded, UTC, cached-plan re-coalescing on, one
  * shuffle partition per core, and a repeat call is harmless.
  */
class SessionsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("Sessions.local loads the extensions and the shared settings") {
    val h = spark.sql("SELECT graft_unit_hash('a') AS h").collect().head.getDouble(0)
    assert(h >= 0.0 && h < 1.0)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("a second Sessions.local returns the live session") {
    assert(Sessions.local(4) eq spark)
  }
}
