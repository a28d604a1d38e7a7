package graft.io

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions.{count, lit}

import java.io.StringWriter
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The reference's only output: ONE headered CSV object under an exact
  * key (`gule_test_job.py:201-211` — driver-side `to_csv` + S3
  * `put_object`). The contract is one object, not one task: the rows
  * are encoded in parallel and only their bytes are joined.
  *
  *  1. Spark's CSV writer writes the frame's partitions as headerless
  *     part files into a staging directory, in the frame's own last
  *     stage: no shuffle is added, so the tasks that compute the rows
  *     (for the pipeline, one per primary split) also encode them;
  *  2. the driver makes the header line with Spark's own CSV generator
  *     and the same writer options, so its quoting is Spark's byte for
  *     byte, without a job;
  *  3. the header and the part files, in part-number order, are copied
  *     into one staging file (`FileChannel.transferTo`, no bytes through
  *     the JVM heap), which is moved to the destination. An empty
  *     partition's part file adds no bytes.
  *
  * On S3 the same join is server-side: a multipart upload whose parts
  * are copies of the part objects (`UploadPartCopy`, every part but the
  * last at least 5 MiB), so the rows still cross the network once.
  *
  * Null rendering: Spark's CSV default `nullValue=""` matches the
  * reference's pandas NaN -> empty-field rendering.
  */
object CsvSink {

  /** The writer's options: Spark's CSV defaults, no header in the parts. */
  private val Options = Map("header" -> "false")

  /** Writes `df` as `destDir/fileName` (header row, preserved column
    * order). Returns the final path and the row count, observed DURING
    * the write via [[Observation]] — the success-report count rides the
    * write pass for free instead of re-scanning the output (an extra
    * full pass over the artifact at production scale). Counting before
    * serialization is also immune to quoted-newline miscounts by
    * construction.
    */
  def writeSingleCsv(df: DataFrame, destDir: String, fileName: String): (Path, Long) =
    land(df, destDir, fileName, concatenate)

  /** [[writeSingleCsv]] with the step that joins the header and the part
    * files into one file given.
    */
  private[graft] def land(df: DataFrame, destDir: String, fileName: String,
      join: (Array[Byte], Seq[Path], Path) => Unit): (Path, Long) = {
    val dest = Paths.get(destDir)
    Files.createDirectories(dest)
    // unique staging suffix: a deterministic name would let two
    // concurrent writers of the same destination delete/consume each
    // other's in-flight staging output; uniqueness confines the race
    // to the final atomic move. The unique name also means the path
    // can never pre-exist — staging cleanup happens in the finally,
    // so a FAILED write cannot orphan its staging dir either.
    val staging = dest.resolve(
      s".spark-staging-$fileName-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val obs = Observation()
      // the observation sits in the write's own stage, the result stage,
      // so it counts each row once under task retries and speculation
      df.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").options(Options)
        .csv(staging.toString)
      val rows = obs.get("rows").asInstanceOf[Long]
      val listing = Files.list(staging)
      val parts =
        try partOrder(listing.iterator.asScala.map(_.getFileName.toString).toSeq)
        finally listing.close()
      val joined = staging.resolve(fileName)
      join(header(df), parts.map(staging.resolve), joined)
      val target = dest.resolve(fileName)
      Files.move(joined, target, StandardCopyOption.REPLACE_EXISTING)
      (target, rows)
    } finally deleteRecursively(staging)
  }

  /** The header line Spark's CSV writer writes for `df` with [[Options]]. */
  private[graft] def header(df: DataFrame): Array[Byte] = {
    val conf = df.sparkSession.sessionState.conf
    val options = new CSVOptions(Options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val text = new StringWriter
    val gen = new UnivocityGenerator(df.schema, text, options)
    gen.writeHeaders()
    gen.close()
    text.toString.getBytes(options.charset)
  }

  /** Spark's part files among `names` (`part-<task>-<job>-c<file>.csv`),
    * in task then file order. The task number is zero-padded to five
    * digits and grows wider past `part-99999`, so the order is numeric.
    */
  private[graft] def partOrder(names: Seq[String]): Seq[String] = {
    val Part = """part-(\d+)-.*-c(\d+)\.csv""".r
    names.collect { case n @ Part(task, file) => (BigInt(task), BigInt(file), n) }
      .sorted.map(_._3)
  }

  private def concatenate(header: Array[Byte], parts: Seq[Path], out: Path): Unit = {
    val ch = FileChannel.open(out, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    try {
      val head = ByteBuffer.wrap(header)
      while (head.hasRemaining) ch.write(head)
      parts.foreach { p =>
        val in = FileChannel.open(p, StandardOpenOption.READ)
        try {
          val size = in.size
          var at = 0L
          while (at < size) at += in.transferTo(at, size - at, ch)
        } finally in.close()
      }
    } finally ch.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}
