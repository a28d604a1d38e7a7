package graft

import graft.streaming.{EventWindows, StatefulOps}
import graft.streaming.StatefulOps.Ev
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Drives the custom-state streaming operators.
  *
  * Sessionize equivalence trick: flatMapGroupsWithState only emits a
  * session once a LATER event closes it, so each user gets one sentinel
  * event 2×gap after their last real event — every real session closes
  * within the single available-now batch, and the sentinel's own
  * session stays open in state (never emitted). Streaming output must
  * then equal the batch `session_window` aggregation over the real
  * events exactly (timestamps, counts, decimal-exact totals).
  */
class StatefulStreamingSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import spark.implicits._

  private lazy val staged: String = {
    val dir = Files.createTempDirectory("graft-stateful-staged").toString
    val real = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("ts"), col("value"))
    val sentinels = real.groupBy("user_id")
      .agg(max(col("ts")).as("mx"))
      .select(col("user_id"),
        (col("mx") + expr("INTERVAL 60 MINUTES")).as("ts"),
        lit(0.0).as("value"))
    real.unionByName(sentinels).write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamEvents: DataFrame =
    spark.readStream.schema(spark.read.parquet(staged).schema).parquet(staged)

  test("flatMapGroupsWithState sessionization == batch session_window") {
    val q = StatefulOps.sessionize(streamEvents.as[Ev], gapMinutes = 30)
      .writeStream.format("memory").queryName("stateful_sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query timed out")
    val got = spark.table("stateful_sessions")
      .select("user_id", "session_start", "session_end", "n_events", "total")
      .collect().map(_.toString).sorted
    val want = EventWindows.session(
      Tables.load(spark, "/root/testdata/sf0.001", "events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total").cast("double"))
      .collect().map(_.toString).sorted
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("watermarked sessionize emits idle sessions via TIMEOUT and evicts state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val ms = MemoryStream[Ev]
    val q = StatefulOps.sessionize(ms.toDS(), gapMinutes = 30,
      watermarkDelay = Some("0 seconds"))
      .writeStream.format("memory").queryName("timeout_sessions")
      .outputMode("append")
      .start()
    try {
      // user 1 is active at 10:00/10:10 then goes silent FOREVER —
      // without the timeout path this session is never emitted
      ms.addData(Ev(1L, ts(0), 1.0), Ev(1L, ts(10), 2.5))
      q.processAllAvailable()
      // other users' later events advance the watermark past 10:40
      ms.addData(Ev(2L, Timestamp.valueOf("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      ms.addData(Ev(2L, Timestamp.valueOf("2024-01-01 12:01:00"), 1.0))
      q.processAllAvailable()
      val got = spark.table("timeout_sessions")
        .filter(col("user_id") === 1L).collect()
      assert(got.length === 1, "idle session must be closed by event-time timeout")
      val r = got.head
      assert(r.getAs[Timestamp]("session_start") === ts(0))
      assert(r.getAs[Timestamp]("session_end") === ts(40)) // last + gap
      assert(r.getAs[Long]("n_events") === 2L)
      assert(r.getAs[Double]("total") === 3.5)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark emits exactly the distinct key set") {
    val q = StatefulOps.dedupWithinWatermark(
      streamEvents, Seq("user_id"), "ts", "1 hour")
      .writeStream.format("memory").queryName("stateful_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "streaming query timed out")
    val got = spark.table("stateful_dedup")
    val distinctUsers = spark.read.parquet(staged)
      .select("user_id").distinct().count()
    assert(got.count() === distinctUsers)
    // one row per user, and each emitted row is a genuine input row
    assert(got.select("user_id").distinct().count() === distinctUsers)
  }
}
