package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args: restrict to these query names (local
    // iteration); no-op for the driver, which passes exactly two args.
    val only = args.drop(2).toSet
    val spark = Sessions.local(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // one parquet file per row, written by one task. repartition(1),
      // NOT coalesce(1): coalesce folds into the parent stage and would
      // run every shuffle-free per-row query on a single core;
      // repartition keeps the compute stages parallel and only the
      // final write is single-task
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist() reused relations; don't let 40 queries' worth
      // of cached blocks accumulate in one session
      spark.catalog.clearCache()
    }
    // Jackson escapes quotes, backslashes and every control character, so
    // a tab or CR in a query's SQL still leaves the file valid JSON
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
