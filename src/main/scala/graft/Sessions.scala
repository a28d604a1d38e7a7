package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built, and the session-level invariants
  * the engine's plans are designed against.
  */
object Sessions {

  /** Local cores for the entry points: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The session every entry point runs in (Pipeline, Bench, Verify,
    * VerifySliced and the tests): `local[cpus]` with the
    * graft SQL functions loaded through `spark.sql.extensions` (the
    * deployment path), one shuffle partition per core, UTC so
    * timestamp-bearing fixtures decode identically to the oracle on any
    * host, no UI, WARN logging, and AQE required. `extra` settings are
    * applied last. A second call returns the live session.
    */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE re-coalesce the output partitioning of CACHED plans:
      // the iterative graph queries persist a shrinking edge/label
      // relation each round, and without this flag every cached round
      // keeps the full static shuffle width no matter how small the
      // relation has contracted
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    requireAqe(spark)
    spark
  }

  /** Fail fast if adaptive execution (including skew-join splitting) is
    * off. Every registered plan assumes AQE's runtime re-planning —
    * small-side broadcast conversion, partition coalescing, and the
    * skew-join split AqeSkewSpec proves engages — so a config
    * regression here would silently change every plan shape in a
    * Verify/Bench run. Spark 4 defaults both ON; this guards against
    * an explicit override creeping into a builder or spark-defaults.
    */
  def requireAqe(spark: SparkSession): Unit = {
    // no-default get: resolves the EFFECTIVE value (an explicit setting
    // or Spark's registered default) — get(key, "false") would mask the
    // registered default and always read "false" on an unset key
    val adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    val skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    require(adaptive == "true" && skew == "true",
      s"adaptive execution must be on for every registered plan to keep its " +
        s"designed shape; got spark.sql.adaptive.enabled=$adaptive, " +
        s"spark.sql.adaptive.skewJoin.enabled=$skew")
  }
}
