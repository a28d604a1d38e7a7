package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.{CompositeData, TabularData}
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: builds the session, runs the ETL
  * workload over inputs run.py generated, and writes what it measured
  * to `<out>/result.json`; run.py checks the outputs and prints the
  * metrics.
  *
  *   --inputs DIR --out DIR --seconds S --trace 0|1 --cpus N
  *   --launch-ms EPOCH_MS --rows NAME,NAME,... --fixtures DIR
  *
  * `--launch-ms` is the wall clock at which run.py started this
  * process, so set-up time covers JVM start as well as session build.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val spark = session(opt.getOrElse("cpus", "4"))
    val readyMs = System.currentTimeMillis()
    HeapWatch.install()
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    // a traced run also measures the registry modules, on the fixtures
    val body = Etl.run(spark, opt("inputs"), out, seconds, trace) ++
      (if (trace) Registry.companion(spark, opt("fixtures"), opt("rows").split(",").toSeq,
        out.resolve("registry")) else Nil)
    val result = Json.obj(
      (Seq("setup_s" -> (readyMs - opt("launch-ms").toLong) / 1e3,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "calib" -> calibrate()) ++ body): _*)
    Json.write(out.resolve("result.json"), result)
    spark.stop()
  }

  /** The session Bench and Verify build: local, extensions injected,
    * UTC, AQE required.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.requireAqe(spark)
    spark
  }

  /** graft.Bench's host-speed probe, repeated here (Bench keeps it
    * private): fill 4M longs with xorshift, sort, hash-fold,
    * single-threaded; best of 3, in seconds. Comparing it across
    * artifacts tells host drift from code changes.
    */
  def calibrate(): Double = {
    def once(): Double = {
      val n = 1 << 22
      val a = new Array[Long](n)
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
      java.util.Arrays.sort(a)
      var h = 0L
      i = 0
      while (i < n) { h = h * 31 + a(i); i += 1 }
      val dt = (System.nanoTime() - t0) / 1e9
      if (h == 42L) System.err.print("") // defeat dead-code elimination
      dt
    }
    (1 to 3).map(_ => once()).min
  }

  /** `body`'s result and its wall time in seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `body` at least `minRuns` times and until `seconds` have
    * passed; returns each run's result.
    */
  def repeat[A](seconds: Double, minRuns: Int)(body: => A): Seq[A] = {
    val t0 = System.nanoTime()
    val acc = Seq.newBuilder[A]
    var n = 0
    while (n < minRuns || (System.nanoTime() - t0) / 1e9 < seconds) {
      acc += body
      n += 1
    }
    acc.result()
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

}

/** Used heap right after each garbage collection, from the JVM's GC
  * notifications and its heap memory pools; the benchmark reads the
  * peak of each run.
  */
object HeapWatch {
  private val peak = new AtomicLong(0L)

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == "com.sun.management.gc.notification") {
          val gcInfo = n.getUserData.asInstanceOf[CompositeData].get("gcInfo").asInstanceOf[CompositeData]
          val after = gcInfo.get("memoryUsageAfterGc").asInstanceOf[TabularData]
          val used = after.values.asScala.map(_.asInstanceOf[CompositeData]).collect {
            case row if heapPools(row.get("key").asInstanceOf[String]) =>
              row.get("value").asInstanceOf[CompositeData].get("used").asInstanceOf[Long]
          }.sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Runs `body` on a freshly collected heap; returns its result and
    * the peak post-GC used heap during it, in MB (0 when no collection
    * ran). Callers time inside `body`, so the full collection before it
    * is not timed.
    */
  def peakMb[A](body: => A): (A, Double) = {
    System.gc()
    peak.set(0L)
    val a = body
    // notifications arrive on a JMX thread shortly after the collection
    Thread.sleep(20)
    (a, peak.get() / (1024.0 * 1024.0))
  }

  /** Median of the per-run peaks that saw a collection. */
  def medianPeak(peaks: Seq[Double]): Double = Main.median(peaks.filter(_ > 0))
}
