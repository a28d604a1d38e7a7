package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-dump helper: writes `explain("formatted")` of each named query
  * to `<outDir>/<name>.txt` (the committed plans/r15 evidence files).
  * Usage: Test/runMain graft.PlanDump <outDir> <query>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.head
    val spark = Sessions.local(Sessions.cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      println(s"PLAN $name written")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

/** Throwaway phase-timing probe (not part of the library surface).
  * Round 15: breaks the two most expensive bench families into phases —
  * the staged micro-batch stream rows (timeBounds / staging / stream
  * run / read-back) and the LSH->star-contraction chain (pairs /
  * contraction loop) — so the optimization targets the measured phase,
  * not a guess.
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(Sessions.cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val which = if (args.isEmpty) Set("stream", "star") else args.toSet

    if (which("stage")) {
      import spark.implicits._
      val ev = Tables.load(spark, dir, "events")
        .filter(col("event_type").isin("view", "click"))
        .select("event_id", "ts", "user_id", "event_type")
      val (tminMs, tmaxMs) = ops.EventOps.timeBounds(ev)
      val sentinel = Seq(
        (-1L, new java.sql.Timestamp(tmaxMs + 3L * 3600 * 1000), -1L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type")
      val rootA = s"${ops.Staging.dir(dir)}/probe_stage_old"
      val rootB = s"${ops.Staging.dir(dir)}/probe_stage_new"
      (1 to 3).foreach { pass =>
        t(s"p$pass staging OLD") {
          ops.EventOps.stageChunks(rootA,
            ops.EventOps.timeChunks(ev, 3, tminMs, tmaxMs) :+ ("b4" -> sentinel),
            tminMs)
        }
        t(s"p$pass staging NEW") {
          ops.EventOps.stageChunksOnePass(rootB, ev, 3, tminMs, tmaxMs,
            Seq(sentinel), tminMs)
        }
      }
      // equivalence: per-file row multisets must match
      (1 to 4).foreach { i =>
        val a = spark.read.parquet(s"$rootA/src/b$i.parquet")
        val b = spark.read.parquet(s"$rootB/src/b$i.parquet")
        val d1 = a.exceptAll(b).count(); val d2 = b.exceptAll(a).count()
        println(s"PROBE stage-equiv b$i exceptAll=$d1/$d2 rows=${a.count()}/${b.count()}")
      }
    }

    if (which("stream")) {
      import spark.implicits._
      // warm the plan shapes once at sf0.001 (same as Bench)
      t("warm q_stream_join_outer") {
        noop(SparkEntry.queries("q_stream_join_outer")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      // phase-by-phase replica of q_stream_join_outer's body
      (1 to 2).foreach { pass =>
        val ev = Tables.load(spark, dir, "events")
          .filter(col("event_type").isin("view", "click"))
          .select("event_id", "ts", "user_id", "event_type")
        val root = s"${ops.Staging.dir(dir)}/probe_stream_join_outer"
        val (tminMs, tmaxMs) = t(s"p$pass timeBounds") {
          ops.EventOps.timeBounds(ev, sentinelKeys = Seq("user_id"))
        }
        val sentinelMs = tmaxMs + 3L * 3600 * 1000
        val sentinel = Seq(
          (-1L, new java.sql.Timestamp(sentinelMs), -1L, "view"),
          (-2L, new java.sql.Timestamp(sentinelMs), -2L, "click"))
          .toDF("event_id", "ts", "user_id", "event_type")
        val src = t(s"p$pass staging") {
          ops.EventOps.stageChunks(root,
            ops.EventOps.timeChunks(ev, 3, tminMs, tmaxMs) :+ ("b4" -> sentinel),
            tminMs)
        }
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        // inline replica of runStreamAppend with per-batch progress dump
        val readBack = t(s"p$pass stream-run") {
          val out = s"$root/out"
          val streamed =
            ops.EventOps.viewClickStreamJoin(stream, joinType = "leftOuter")
          val outSchema = streamed.schema
          val savedParts = spark.conf.getOption("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.shuffle.partitions",
            sys.env.getOrElse("PROBE_STREAM_PARTS", "8"))
          try {
            val q = streamed.writeStream
              .option("checkpointLocation", s"$root/ckpt")
              .foreachBatch { (batch: DataFrame, _: Long) =>
                sys.env.getOrElse("PROBE_SINK", "parquet") match {
                  case "noop" => batch.write.format("noop").mode("overwrite").save()
                  case "coalesce1" =>
                    batch.coalesce(1).write.mode("append").parquet(out)
                  case _ => batch.write.mode("append").parquet(out)
                }
                ()
              }
              .start()
            try { q.processAllAvailable() } finally {
              q.recentProgress.foreach { p =>
                println(s"PROGRESS p$pass batch=${p.batchId} " +
                  s"rows=${p.numInputRows} durationMs=${p.durationMs}")
              }
              q.stop()
            }
          } finally savedParts match {
            case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
            case None    => spark.conf.unset("spark.sql.shuffle.partitions")
          }
          spark.read.schema(outSchema).parquet(out)
        }
        t(s"p$pass read-back noop") {
          try noop(readBack.filter(col("user_id") >= 0))
          catch { case e: Throwable => println(s"read-back skipped: ${e.getMessage}") }
        }
      }
    }

    if (which("plantime")) {
      // dedup_semantic_hier owns the registry's largest plan (~4.4k
      // formatted lines): how much of its bench time is the DRIVER
      // planning (analyze+optimize+physical-plan) vs executing?
      Seq("dedup_semantic_hier", "dedup_semantic", "curate_rep_quality").foreach { name =>
        t(s"warm $name") {
          noop(SparkEntry.queries(name)(spark, "/root/testdata/sf0.001"))
        }
        spark.catalog.clearCache()
        (1 to 2).foreach { pass =>
          val df = SparkEntry.queries(name)(spark, dir)
          t(s"$name p$pass plan-only") { df.queryExecution.executedPlan }
          t(s"$name p$pass execute") { noop(df) }
          spark.catalog.clearCache()
        }
      }
    }

    if (which("codec")) {
      // pure-JVM codec micro-profile: where does mm_video_* CPU go?
      import ops.MultimodalOps.{ImageCodec, VideoCodec}
      val ids = (1L to 5000L).toArray
      def time(label: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        println(f"PROBE codec $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      (1 to 2).foreach { pass =>
        var vids: Array[Array[Byte]] = null
        time(s"p$pass synthVideo x5000") {
          vids = ids.map(id =>
            VideoCodec.synthVideo(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt))
        }
        println(s"PROBE codec bytes total=${vids.map(_.length.toLong).sum}")
        time(s"p$pass decodeSampledFrames x5000") {
          var acc = 0L
          vids.foreach { v => VideoCodec.decodeSampledFrames(v).foreach(acc += _._1) }
          if (acc == -1) print("")
        }
        time(s"p$pass synthPng x5000") {
          ids.foreach(id => ImageCodec.synthPng(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt))
        }
        val pngs = ids.map(id => ImageCodec.synthPng(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt))
        time(s"p$pass decodeStats x5000") {
          var acc = 0L
          pngs.foreach(p => acc += ImageCodec.decodeStats(p).sumR)
          if (acc == -1) print("")
        }
      }
    }

    if (which("audiolock")) {
      // pure-JVM audio-codec concurrency probe: does the WAV
      // synth/decode path scale across threads (i.e. is the
      // JDK13Services provider lock really bypassed by the direct SPI
      // dispatch), independent of any Spark task overhead?
      import ops.MultimodalOps.AudioCodec
      val ids = (1L to 5000L).toArray
      val wavs = ids.map(AudioCodec.synthWav)
      def run(threads: Int, label: String)(work: Array[Long] => Long): Unit = {
        val t0 = System.nanoTime()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val slices = ids.grouped(math.max(1, ids.length / threads)).toArray
        val futs = slices.map { slice =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = work(slice)
          })
        }
        val tot = futs.map(_.get()).sum
        pool.shutdown()
        println(f"PROBE audiolock $label threads=$threads%2d " +
          f"${(System.nanoTime() - t0) / 1e9}%.3f s (acc=$tot)")
      }
      def synthWork(slice: Array[Long]): Long =
        slice.map(id => AudioCodec.synthWav(id).length.toLong).sum
      def decodeWork(slice: Array[Long]): Long =
        slice.map(id => AudioCodec.decodeStats(wavs((id - 1).toInt)).sumL).sum
      // isolate: provider selection only (which readers throw before WAVE?)
      import scala.jdk.CollectionConverters._
      val readers = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader])
        .iterator().asScala.toList
      println(s"PROBE audiolock readers=${readers.map(_.getClass.getSimpleName)}")
      val waveReader = readers.find { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(wavs(0))); true }
        catch { case _: Exception => false }
      }.get
      println(s"PROBE audiolock matching=${waveReader.getClass.getName}")
      def selectWork(slice: Array[Long]): Long =
        slice.map { id =>
          val ais = waveReader.getAudioInputStream(
            new java.io.ByteArrayInputStream(wavs((id - 1).toInt)))
          ais.getFormat.getChannels.toLong
        }.sum
      def readWork(slice: Array[Long]): Long =
        slice.map { id =>
          val ais = waveReader.getAudioInputStream(
            new java.io.ByteArrayInputStream(wavs((id - 1).toInt)))
          ais.readAllBytes().length.toLong
        }.sum
      def rejectWork(r: javax.sound.sampled.spi.AudioFileReader)(
          slice: Array[Long]): Long =
        slice.map { id =>
          try {
            r.getAudioInputStream(
              new java.io.ByteArrayInputStream(wavs((id - 1).toInt)))
            1L
          } catch { case _: Exception => 0L }
        }.sum
      (1 to 2).foreach { pass =>
        run(1, s"synth    p$pass")(synthWork)
        run(32, s"synth    p$pass")(synthWork)
        run(1, s"decode   p$pass")(decodeWork)
        run(32, s"decode   p$pass")(decodeWork)
        run(1, s"selectWv p$pass")(selectWork)
        run(32, s"selectWv p$pass")(selectWork)
        run(1, s"readWv   p$pass")(readWork)
        run(32, s"readWv   p$pass")(readWork)
        readers.foreach { r =>
          val nm = r.getClass.getSimpleName.take(12)
          run(1, s"rej:$nm p$pass")(rejectWork(r))
          run(32, s"rej:$nm p$pass")(rejectWork(r))
        }
      }
    }

    if (which("imglock")) {
      // ImageIO.read/write resolve their reader/writer through the
      // IIORegistry service lookup per call. Is that scan a meaningful
      // share of the small-PNG decode/encode cost, and does a cached
      // per-thread reader/writer dispatch beat it?
      import ops.MultimodalOps.ImageCodec
      val ids = (1L to 5000L).toArray
      val pngs = ids.map(id => ImageCodec.synthPng(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt))
      def run(threads: Int, label: String)(work: Array[Long] => Long): Unit = {
        val t0 = System.nanoTime()
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val futs = ids.grouped(math.max(1, ids.length / threads)).toArray
          .map(sl => pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = work(sl)
          }))
        val tot = futs.map(_.get()).sum
        pool.shutdown()
        println(f"PROBE imglock $label threads=$threads%2d " +
          f"${(System.nanoTime() - t0) / 1e9}%.3f s (acc=$tot)")
      }
      def viaImageIO(slice: Array[Long]): Long =
        slice.map { id =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(pngs((id - 1).toInt)))
          img.getWidth.toLong
        }.sum
      // cached reader SPI, one reader instance per call (readers are
      // not thread-safe, but creating from a cached SPI skips the scan)
      val rspi = {
        import scala.jdk.CollectionConverters._
        javax.imageio.spi.IIORegistry.getDefaultInstance
          .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
          .asScala.find(_.getFormatNames.exists(_.equalsIgnoreCase("png"))).get
      }
      def viaSpi(slice: Array[Long]): Long =
        slice.map { id =>
          val r = rspi.createReaderInstance()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(pngs((id - 1).toInt)))
          r.setInput(iis)
          val img = r.read(0)
          r.dispose(); iis.close()
          img.getWidth.toLong
        }.sum
      def encIO(slice: Array[Long]): Long =
        slice.map { id =>
          ImageCodec.synthPng(id, (id % 12 + 4).toInt, (id % 9 + 3).toInt).length.toLong
        }.sum
      // faithful mirror of ImageIO.read: cached SPI list, per-call
      // canDecodeInput scan in registry order, first claimant reads
      val allSpis = {
        import scala.jdk.CollectionConverters._
        javax.imageio.spi.IIORegistry.getDefaultInstance
          .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
          .asScala.toList
      }
      println(s"PROBE imglock spis=${allSpis.map(_.getFormatNames.headOption.getOrElse("?"))}")
      def viaMirror(slice: Array[Long]): Long =
        slice.map { id =>
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(pngs((id - 1).toInt)))
          val spi = allSpis.find(_.canDecodeInput(iis)).get
          val r = spi.createReaderInstance()
          r.setInput(iis)
          val img = r.read(0)
          r.dispose(); iis.close()
          img.getWidth.toLong
        }.sum
      val wspi = {
        import scala.jdk.CollectionConverters._
        javax.imageio.spi.IIORegistry.getDefaultInstance
          .getServiceProviders(classOf[javax.imageio.spi.ImageWriterSpi], true)
          .asScala.find(_.getFormatNames.exists(_.equalsIgnoreCase("png"))).get
      }
      def encSpi(slice: Array[Long]): Long =
        slice.map { id =>
          val w = (id % 12 + 4).toInt; val h = (id % 9 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y,
                (ImageCodec.pixel(id, x, y, 0) << 16) |
                  (ImageCodec.pixel(id, x, y, 1) << 8) |
                  ImageCodec.pixel(id, x, y, 2))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          val wr = wspi.createWriterInstance()
          wr.setOutput(ios)
          wr.write(img)
          wr.dispose(); ios.close()
          bos.toByteArray.length.toLong
        }.sum
      // raster fill alone: per-pixel setRGB vs one bulk setRGB call
      def fillPx(slice: Array[Long]): Long =
        slice.map { id =>
          val w = (id % 12 + 4).toInt; val h = (id % 9 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y,
                (ImageCodec.pixel(id, x, y, 0) << 16) |
                  (ImageCodec.pixel(id, x, y, 1) << 8) |
                  ImageCodec.pixel(id, x, y, 2))
              x += 1
            }
            y += 1
          }
          img.getRGB(0, 0).toLong
        }.sum
      def fillBulk(slice: Array[Long]): Long =
        slice.map { id =>
          val w = (id % 12 + 4).toInt; val h = (id % 9 + 3).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              px(y * w + x) =
                (ImageCodec.pixel(id, x, y, 0) << 16) |
                  (ImageCodec.pixel(id, x, y, 1) << 8) |
                  ImageCodec.pixel(id, x, y, 2)
              x += 1
            }
            y += 1
          }
          img.setRGB(0, 0, w, h, px, 0, w)
          img.getRGB(0, 0).toLong
        }.sum
      (1 to 2).foreach { pass =>
        run(1, s"readIO   p$pass")(viaImageIO)
        run(32, s"readIO   p$pass")(viaImageIO)
        run(1, s"readMirr p$pass")(viaMirror)
        run(32, s"readMirr p$pass")(viaMirror)
        run(1, s"encIO    p$pass")(encIO)
        run(32, s"encIO    p$pass")(encIO)
        run(1, s"encSpi   p$pass")(encSpi)
        run(32, s"encSpi   p$pass")(encSpi)
        run(1, s"fillPx   p$pass")(fillPx)
        run(32, s"fillPx   p$pass")(fillPx)
        run(1, s"fillBulk p$pass")(fillBulk)
        run(32, s"fillBulk p$pass")(fillBulk)
      }
    }

    if (which("codegen")) {
      // Attribute the per-micro-batch addBatch floor (~0.6-1.0 s even for
      // 0-row batches, round-15 measurement): hypothesis — the watermark
      // literal changes every batch, so every codegen'd span's SOURCE
      // differs per batch, the CodeGenerator cache misses, and janino
      // recompiles the whole query every micro-batch. CodegenMetrics is
      // Spark's own compile counter: delta across a stream run = compiles
      // paid by that run.
      import org.apache.spark.metrics.source.CodegenMetrics
      import spark.implicits._
      def compiles(): (Long, Long) = {
        val h = CodegenMetrics.METRIC_COMPILATION_TIME
        val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
        (h.getCount, s.getCount)
      }
      t("warm q_stream_join_outer") {
        noop(SparkEntry.queries("q_stream_join_outer")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      def runOnce(label: String, dials: Map[String, String]): Unit = {
        val ev = Tables.load(spark, dir, "events")
          .filter(col("event_type").isin("view", "click"))
          .select("event_id", "ts", "user_id", "event_type")
        val (tminMs, tmaxMs) = ops.EventOps.timeBounds(ev, sentinelKeys = Seq("user_id"))
        val sentinelMs = tmaxMs + 3L * 3600 * 1000
        val sentinel = Seq(
          (-1L, new java.sql.Timestamp(sentinelMs), -1L, "view"),
          (-2L, new java.sql.Timestamp(sentinelMs), -2L, "click"))
          .toDF("event_id", "ts", "user_id", "event_type")
        val root = s"${ops.Staging.dir(dir)}/probe_codegen"
        val src = ops.EventOps.stageChunksOnePass(root, ev, 3, tminMs, tmaxMs,
          Seq(sentinel), tminMs)
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val streamed = ops.EventOps.viewClickStreamJoin(stream, joinType = "leftOuter")
        val outSchema = streamed.schema
        val saved = dials.keys.map(k => k -> spark.conf.getOption(k)).toMap
        dials.foreach { case (k, v) => spark.conf.set(k, v) }
        val savedParts = spark.conf.getOption("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val (c0, s0) = compiles()
        try {
          val out = s"$root/out"
          val q = streamed.writeStream
            .option("checkpointLocation", s"$root/ckpt")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out); ()
            }
            .start()
          val tRun0 = System.nanoTime()
          try { q.processAllAvailable() } finally {
            val dt = (System.nanoTime() - tRun0) / 1e9
            val (c1, s1) = compiles()
            println(f"PROBE codegen[$label] stream-run $dt%.2f s compiles=${c1 - c0} sources=${s1 - s0}")
            q.recentProgress.foreach { p =>
              val d = p.durationMs
              println(s"PROBE codegen[$label] batch=${p.batchId} rows=${p.numInputRows} " +
                s"addBatch=${d.get("addBatch")} planning=${d.get("queryPlanning")} " +
                s"total=${d.get("triggerExecution")}")
            }
            q.stop()
          }
          val rb = spark.read.schema(outSchema).parquet(s"$root/out")
            .filter(col("user_id") >= 0)
          println(s"PROBE codegen[$label] result rows=${rb.count()} " +
            s"hash=${rb.selectExpr("sum(hash(*))").head().getLong(0)}")
        } finally {
          savedParts match {
            case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
            case None    => spark.conf.unset("spark.sql.shuffle.partitions")
          }
          saved.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None)    => spark.conf.unset(k)
          }
        }
      }
      (1 to 2).foreach { pass =>
        runOnce(s"p$pass default", Map.empty)
        runOnce(s"p$pass noWSCG", Map("spark.sql.codegen.wholeStage" -> "false"))
        runOnce(s"p$pass noCodegen", Map(
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
      }
    }

    if (which("streamfs")) {
      // Attribute the residual per-batch floor: how much of addBatch is
      // checkpoint/state DURABILITY I/O (WAL + state delta fsyncs on
      // the root disk) vs scheduling/compute? Same stream, checkpoint +
      // sink on disk vs tmpfs — the delta is the fsync bill. This is an
      // attribution experiment only; the shipped rows keep the durable
      // checkpoint (exactly-once is the operator's contract).
      import spark.implicits._
      t("warm q_stream_join_outer") {
        noop(SparkEntry.queries("q_stream_join_outer")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      def runAt(label: String, root: String): Unit = {
        val ev = Tables.load(spark, dir, "events")
          .filter(col("event_type").isin("view", "click"))
          .select("event_id", "ts", "user_id", "event_type")
        val (tminMs, tmaxMs) = ops.EventOps.timeBounds(ev, sentinelKeys = Seq("user_id"))
        val sentinelMs = tmaxMs + 3L * 3600 * 1000
        val sentinel = Seq(
          (-1L, new java.sql.Timestamp(sentinelMs), -1L, "view"),
          (-2L, new java.sql.Timestamp(sentinelMs), -2L, "click"))
          .toDF("event_id", "ts", "user_id", "event_type")
        val src = ops.EventOps.stageChunksOnePass(root, ev, 3, tminMs, tmaxMs,
          Seq(sentinel), tminMs)
        val stream = spark.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
        val streamed = ops.EventOps.viewClickStreamJoin(stream, joinType = "leftOuter")
        val savedParts = spark.conf.getOption("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          val out = s"$root/out"
          val q = streamed.writeStream
            .option("checkpointLocation", s"$root/ckpt")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(out); ()
            }
            .start()
          val t0 = System.nanoTime()
          try { q.processAllAvailable() } finally {
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"PROBE streamfs[$label] stream-run $dt%.2f s")
            q.recentProgress.foreach { p =>
              val d = p.durationMs
              println(s"PROBE streamfs[$label] batch=${p.batchId} rows=${p.numInputRows} " +
                s"addBatch=${d.get("addBatch")} wal=${d.get("walCommit")} " +
                s"offsets=${d.get("commitOffsets")} total=${d.get("triggerExecution")}")
            }
            q.stop()
          }
        } finally savedParts match {
          case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
          case None    => spark.conf.unset("spark.sql.shuffle.partitions")
        }
      }
      (1 to 2).foreach { pass =>
        runAt(s"p$pass disk", s"${ops.Staging.dir(dir)}/probe_streamfs")
        runAt(s"p$pass tmpfs", "/dev/shm/graft_probe_streamfs")
      }
      // clean the tmpfs scratch
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File("/dev/shm/graft_probe_streamfs"))
    }

    if (which("cosine")) {
      t("warm dedup_shingle_cosine") {
        noop(SparkEntry.queries("dedup_shingle_cosine")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      (1 to 2).foreach { pass =>
        val tok = ops.DedupOps.docsAug(spark, dir)
          .select(col("doc_id"), split(col("text"), " ").as("tokens"))
          .filter(size(col("tokens")) >= 3)
        val shOld = tok
          .select(col("doc_id"), explode(ops.DedupOps.shingles3(col("tokens"))).as("ss"))
          .select(col("doc_id"), Cols.hex60(col("ss")).as("s"))
        val shNew = tok
          .select(col("doc_id"),
            explode(ops.DedupOps.hashedShingles(col("tokens"), 3)).as("s"))
        t(s"p$pass sh OLD (explode strings + hex60)") { noop(shOld) }
        t(s"p$pass sh NEW (explode native hashed set)") { noop(shNew) }
        if (pass == 1) {
          val d1 = shOld.exceptAll(shNew).count()
          val d2 = shNew.exceptAll(shOld).count()
          println(s"PROBE cosine sh equiv exceptAll=$d1/$d2")
        }
        t(s"p$pass full query") {
          noop(SparkEntry.queries("dedup_shingle_cosine")(spark, dir))
        }
        spark.catalog.clearCache()
      }
    }

    if (which("argmax")) {
      import org.apache.spark.sql.types.LongType
      t("warm curate_rep_quality") {
        noop(SparkEntry.queries("curate_rep_quality")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      def famRel() = {
        val comp = ops.DedupOps.starMemberMap(
          ops.DedupOps.minhashPairsDf(spark, dir)
            .select(col("doc_a").as("a"), col("doc_b").as("b")),
          edgesDistinctCanonical = true)
          .withColumnRenamed("doc_id", "cid")
        ops.DedupOps.docsAug(spark, dir)
          .join(comp, col("doc_id") === col("cid"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("family"),
            size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
            ops.TextOps.qualityCol(col("text")).as("quality"))
      }
      (1 to 2).foreach { pass =>
        t(s"p$pass argmax OLD sort-agg") {
          val fam = famRel()
          noop(fam.groupBy("family")
            .agg(max(struct(
              coalesce(col("quality"), lit(-1.0)).as("qkey"),
              (-col("doc_id")).as("negid"),
              col("doc_id"), col("n_tokens"), col("quality"))).as("w"))
            .filter(col("w.quality") >= 0.44))
          spark.catalog.clearCache()
        }
        t(s"p$pass argmax two-pass PERSIST") {
          val fam = famRel().persist()
          val best = fam.groupBy("family")
            .agg(max(coalesce(col("quality"), lit(-1.0))).as("best_q"))
          val tied = fam.join(best, "family")
            .filter(coalesce(col("quality"), lit(-1.0)) === col("best_q"))
          val winner = tied.groupBy("family").agg(min(col("doc_id")).as("win_id"))
          noop(tied.join(winner, "family")
            .filter(col("doc_id") === col("win_id"))
            .filter(col("quality") >= 0.44))
          spark.catalog.clearCache()
        }
        t(s"p$pass argmax two-pass NOPERSIST") {
          val fam = famRel()
          val best = fam.groupBy("family")
            .agg(max(coalesce(col("quality"), lit(-1.0))).as("best_q"))
          val tied = fam.join(best, "family")
            .filter(coalesce(col("quality"), lit(-1.0)) === col("best_q"))
          val winner = tied.groupBy("family").agg(min(col("doc_id")).as("win_id"))
          noop(tied.join(winner, "family")
            .filter(col("doc_id") === col("win_id"))
            .filter(col("quality") >= 0.44))
          spark.catalog.clearCache()
        }
      }
    }

    if (which("tri")) {
      // phase split of dedup_triangles: the simhash candidate
      // generation vs the orientation/adjacency/intersection body —
      // decides whether the triangle machinery itself is worth
      // touching (VERDICT r15 item 6)
      t("warm dedup_triangles") {
        noop(SparkEntry.queries("dedup_triangles")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      val nDocs = Tables.load(spark, dir, "documents").count()
      (1 to 2).foreach { pass =>
        t(s"p$pass simhashPairsAuto only") {
          noop(ops.DedupOps.simhashPairsAuto(spark, dir, nDocs + nDocs / 10 + 1))
        }
        spark.catalog.clearCache()
        t(s"p$pass full dedup_triangles") {
          noop(SparkEntry.queries("dedup_triangles")(spark, dir))
        }
        spark.catalog.clearCache()
      }
    }

    if (which("star")) {
      t("warm dedup_components_star") {
        noop(SparkEntry.queries("dedup_components_star")(spark, "/root/testdata/sf0.001"))
      }
      spark.catalog.clearCache()
      (1 to 2).foreach { pass =>
        val pairs = t(s"p$pass minhash pairs") {
          val p = ops.DedupOps.minhashPairsDf(spark, dir)
            .select(col("doc_a").as("a"), col("doc_b").as("b"))
          p.persist(); noop(p); p
        }
        // inline replica of starFixpointEdges with per-phase timers
        val (fix, rounds) = t(s"p$pass star loop") {
          var e = t(s"p$pass star init distinct+ckpt") {
            pairs
              .select(greatest(col("a"), col("b")).as("u"),
                least(col("a"), col("b")).as("v"))
              .filter(col("u") =!= col("v")).distinct()
              .localCheckpoint(true)
          }
          var converged = false
          var iter = 0
          while (!converged && iter < 64) {
            val nbrs = e.select(col("u"), col("v"))
              .union(e.select(col("v").as("u"), col("u").as("v")))
            val mins = nbrs.groupBy("u")
              .agg(least(min(col("v")), col("u")).as("m"))
            val withM = nbrs.join(mins, "u")
            val afterLarge = withM.filter(col("v") > col("u"))
              .select(col("v").as("lu"), col("m").as("lv"))
              .filter(col("lu") =!= col("lv"))
              .select(col("lu").as("u"), col("lv").as("v")).distinct()
            val nbrs2 = afterLarge.select(col("u"), col("v"))
              .union(afterLarge.select(col("v").as("u"), col("u").as("v")))
            val mins2 = nbrs2.groupBy("u")
              .agg(least(min(col("v")), col("u")).as("m"))
            val withM2 = nbrs2.join(mins2, "u")
            val small = withM2.filter(col("v") < col("u"))
              .select(col("v").as("su"), col("m").as("sv"))
              .union(mins2.select(col("u").as("su"), col("m").as("sv")))
            val next = t(s"p$pass star r$iter round ckpt") {
              small.filter(col("su") =!= col("sv"))
                .select(col("su").as("u"), col("sv").as("v")).distinct()
                .localCheckpoint(true)
            }
            val diff = t(s"p$pass star r$iter diff") {
              next.select(col("u"), col("v"))
                .union(e.select(col("u"), col("v")))
                .groupBy("u", "v").count()
                .filter(col("count") === 1)
                .limit(1).count()
            }
            e = next
            converged = diff == 0
            iter += 1
          }
          (e, iter)
        }
        println(s"PROBE p$pass star rounds=$rounds")
        t(s"p$pass star labels noop") {
          noop(fix.select(col("u").as("doc_id"), col("v").as("component")))
        }
        val (fixNew, roundsNew) = t(s"p$pass star loop NEW") {
          ops.DedupOps.starFixpointEdges(pairs, edgesDistinctCanonical = true)
        }
        println(s"PROBE p$pass star NEW rounds=$roundsNew")
        val d1 = fix.exceptAll(fixNew).count(); val d2 = fixNew.exceptAll(fix).count()
        println(s"PROBE p$pass star equiv exceptAll=$d1/$d2")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
