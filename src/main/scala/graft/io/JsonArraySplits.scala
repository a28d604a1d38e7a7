package graft.io

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.hadoop.io.{BytesWritable, LongWritable}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.mapreduce.{InputSplit, Job, JobContext, RecordReader, TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, FileSplit}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanShim, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonParser, JsonInferSchema}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The parallel read behind [[JsonArraySource]]: one JSON file holding a
  * top-level array of objects, parsed split by split.
  *
  * The file is cut into as many equal splits as Spark cuts any file into
  * (`FilePartition.maxSplitBytes` from `spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes` and the default parallelism). A split can start
  * anywhere, inside a string or right after a backslash, so where its
  * first object starts is unknown. Instead of guessing (Ge et al.,
  * "Speculative Distributed CSV Data Parsing", SIGMOD 2019) each split
  * is lexed once from every entry state the lexer has (Mytkowicz et
  * al., "Data-Parallel Finite-State Machines", ASPLOS 2014), so nothing
  * is ever re-parsed:
  *
  *  1. one task per split summarizes the split from each of the three
  *     entry states (outside a string, inside one, after a backslash):
  *     exit state, net `{[`/`}]` depth, where the depth first drops to
  *     each level below the entry's, and the tokens it sees at its
  *     lowest depths. The driver folds the summaries in file order from
  *     the file's first byte, which gives every split its exact state
  *     and depth at its first byte, checks the array's shape, and moves
  *     each cut forward to the end of the object it falls in;
  *  2. the records RDD: one task per moved cut emits, as the file's own
  *     UTF-8 bytes (`UTF8String`), every depth-1 element between its cut
  *     and the next. Tasks read exactly their own bytes. Structural
  *     bytes are ASCII, so a cut never splits a multi-byte character;
  *  3. Spark's JSON schema inference and row parser
  *     (`JsonInferSchema`, then `JacksonParser` under a
  *     `FailureSafeParser`: what `spark.read.json` runs over a dataset
  *     of strings, with the session's JSON options) read the records
  *     through Jackson's byte parser, as `multiLine` reads the file, so
  *     no byte is decoded to a Java string and encoded back. Inference
  *     is also the syntax check: Spark's `multiLine` read turns a syntax
  *     error anywhere in the file into one corrupt row, so an inferred
  *     corrupt-record column sends the read back to `multiLine`. The
  *     records are then parsed with the given schema, or the inferred one.
  *
  * Tasks read through Hadoop's `FileSystem` (so `s3a://` and `file:`
  * paths work and Spark records each task's input bytes), and both RDDs
  * are named after the file.
  *
  * [[read]] returns `None`, and the caller reads with `multiLine`, for a
  * file that fits in one split, a compressed file, a path that is not
  * one file, and every input the split path does not take as-is: a top
  * level that is not an array, `[]`, a depth-1 element that is not an
  * object, a misplaced or missing comma, an unbalanced or truncated
  * array, anything but whitespace after the closing `]`, a byte-order
  * mark or another encoding, a single-quoted string, bytes that are not
  * UTF-8, and any element Jackson rejects.
  */
private[graft] object JsonArraySplits {

  // lexer states
  private final val Out = 0
  private final val InString = 1
  private final val Escaped = 2

  // the array body at depth 1: an object, then "," and another, or "]"
  private final val ExpectObject = 0
  private final val ExpectComma = 1
  private final val Closed = 2
  private final val Rejected = 3

  private def body(g: Int, token: Byte): Int =
    if (g == ExpectObject && token == '{') ExpectComma
    else if (g == ExpectComma && token == ',') ExpectObject
    else if (g == ExpectComma && token == ']') Closed
    else Rejected

  /** What a split does when lexed from one entry state. Depths are
    * relative to the split's entry depth; a token is a byte outside
    * strings that is not whitespace, at the depth before it.
    *
    * @param drops `drops(k)`: file offset of the byte that first takes
    *   the depth to `-(k + 1)`
    * @param tokensAtLow tokens seen at the lowest depth, after it was reached
    * @param firstAtLow the first of them, -1 if none
    * @param bodyAtLow what the tokens at the lowest depth do to the
    *   array-body grammar, as a map over its four states
    * @param bodyAboveLow the same for one above the lowest depth
    */
  private final case class Summary(exit: Int, net: Int, drops: Array[Long], tokensAtLow: Int,
      firstAtLow: Int, bodyAtLow: Array[Int], bodyAboveLow: Array[Int], singleQuote: Boolean) {
    def low: Int = -drops.length
  }

  private final case class SplitScan(start: Long, byEntry: Array[Summary])

  private final class Scanner(private var state: Int) {
    private var depth, tokensAtLow = 0
    private val drops = ArrayBuffer.empty[Long]
    private var firstAtLow = -1
    private var atLow = Array(0, 1, 2, 3)
    private var aboveLow = Array(0, 1, 2, 3)
    private var singleQuote = false

    def feed(offset: Long, buf: Array[Byte], until: Int): Unit = {
      var i = 0
      while (i < until) {
        val b = buf(i)
        if (state == InString) {
          if (b == '"') state = Out else if (b == '\\') state = Escaped
        } else if (state == Escaped) state = InString
        else if (b != ' ' && b != '\n' && b != '\r' && b != '\t') token(b, offset + i)
        i += 1
      }
    }

    private def token(b: Byte, at: Long): Unit = {
      val low = -drops.length
      if (depth == low) {
        tokensAtLow += 1
        if (firstAtLow < 0) firstAtLow = b
        advance(atLow, b)
      } else if (depth == low + 1) advance(aboveLow, b)
      if (b == '"') state = InString
      else if (b == '{' || b == '[') depth += 1
      else if (b == '}' || b == ']') {
        depth -= 1
        if (depth < low) {
          drops += at
          aboveLow = atLow
          atLow = Array(0, 1, 2, 3)
          tokensAtLow = 0
          firstAtLow = -1
        }
      } else if (b == '\'') singleQuote = true
    }

    private def advance(g: Array[Int], b: Byte): Unit = {
      var k = 0
      while (k < g.length) { g(k) = body(g(k), b); k += 1 }
    }

    def summary: Summary = Summary(state, depth, drops.toArray, tokensAtLow, firstAtLow,
      atLow, aboveLow, singleQuote)
  }

  /** Folds the split summaries in file order from the file's first byte
    * (outside a string, depth 0). Returns where the records tasks start,
    * with the depth there (0 before the array, 1 between its objects):
    * each split's start, moved past the end of the object it falls in.
    * `None` unless the file is `[`, one or more objects separated by
    * commas, `]`, with only whitespace around.
    */
  private def cuts(splits: Seq[SplitScan]): Option[Seq[(Long, Int)]] = {
    var state = Out
    var depth = 0
    var grammar = ExpectObject
    var topTokens = 0
    var ok = true
    val out = ArrayBuffer.empty[(Long, Int)]
    splits.foreach { sp =>
      val s = sp.byEntry(state)
      if (depth + s.low < 0 || s.singleQuote) ok = false
      if (depth + s.low == 0 && s.tokensAtLow > 0) {
        // tokens at depth 0: the opening "[" must be the only one
        if (topTokens == 0 && s.firstAtLow != '[') ok = false
        topTokens += s.tokensAtLow
      }
      val bodyDepth = 1 - depth
      if (bodyDepth == s.low) grammar = s.bodyAtLow(grammar)
      else if (bodyDepth == s.low + 1) grammar = s.bodyAboveLow(grammar)
      // outside an object the split's start is a cut as it is; inside
      // one, the cut moves past the byte that closes it, if this split has it
      if (depth <= 1) out += sp.start -> depth
      else if (s.drops.length >= depth - 1) out += (s.drops(depth - 2) + 1) -> 1
      state = s.exit
      depth += s.net
    }
    if (ok && state == Out && depth == 0 && topTokens == 1 && grammar == Closed) Some(out.toSeq)
    else None
  }

  /** The array's elements in one task's bytes. */
  private final class Elements(chunks: Iterator[(LongWritable, BytesWritable)],
      depthAt: Map[Long, Int]) {
    private var buf: Array[Byte] = Array.emptyByteArray
    private var n, i = 0
    private var state = Out
    private var depth = -1 // set from the task's first chunk
    private var mark = -1 // where the element being captured starts in buf
    private var acc = new Array[Byte](1024)
    private var accLen = 0

    private def nextChunk(): Boolean = chunks.hasNext && {
      val (k, v) = chunks.next()
      if (depth < 0) depth = depthAt(k.get)
      buf = v.getBytes
      n = v.getLength
      i = 0
      if (mark >= 0) mark = 0
      true
    }

    private def append(until: Int): Unit = {
      val len = until - mark
      if (accLen + len > acc.length)
        acc = java.util.Arrays.copyOf(acc, math.max(acc.length * 2, accLen + len))
      System.arraycopy(buf, mark, acc, accLen, len)
      accLen += len
    }

    // an element that is not UTF-8 becomes a record Jackson rejects, so
    // inference marks it corrupt and the read falls back to multiLine,
    // which rejects the file
    private def record(): UTF8String = {
      val r = UTF8String.fromBytes(java.util.Arrays.copyOf(acc, accLen))
      if (r.isValid) r else NotUtf8
    }

    /** The next element, or null after the last. */
    def next(): UTF8String = {
      while (i < n || { if (mark >= 0) append(n); nextChunk() }) {
        val b = buf(i)
        if (state == InString) {
          if (b == '"') state = Out else if (b == '\\') state = Escaped
        } else if (state == Escaped) state = InString
        else if (b == '"') state = InString
        else if (b == '{' || b == '[') {
          if (depth == 1) {
            mark = i
            accLen = 0
          }
          depth += 1
        } else if ((b == '}' || b == ']') && { depth -= 1; depth == 1 }) {
          append(i + 1)
          mark = -1
          i += 1
          return record()
        }
        i += 1
      }
      null
    }
  }

  /** The file's records, or `None` when the read must go through `multiLine`. */
  private[graft] def read(spark: SparkSession, path: String,
      schema: Option[StructType]): Option[DataFrame] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val file = new Path(path)
    val single = Try(file.getFileSystem(hadoopConf).getFileStatus(file)).toOption
      .filter(st => st.isFile && new CompressionCodecFactory(hadoopConf).getCodec(file) == null)
    single.flatMap { st =>
      val splitBytes =
        FilePartition.maxSplitBytes(spark, Seq(PartitionDirectory(InternalRow.empty, Array(st))))
      if (st.getLen <= splitBytes) None
      else {
        def chunks(starts: Seq[Long]): RDD[(LongWritable, BytesWritable)] = {
          val job = Job.getInstance(hadoopConf)
          FileInputFormat.setInputPaths(job, file)
          job.getConfiguration.set(CutsKey, (starts :+ st.getLen).mkString(","))
          spark.sparkContext.newAPIHadoopRDD(job.getConfiguration, classOf[FileCuts],
            classOf[LongWritable], classOf[BytesWritable]).setName(path)
        }

        // as many splits as Spark's rule gives, of equal size, so no task
        // is left with a short remainder while the others set the wall time
        val n = (st.getLen + splitBytes - 1) / splitBytes
        val scans = chunks((0L until n).map(st.getLen * _ / n)).mapPartitions { it =>
          val out = new Scanner(Out)
          val in = new Scanner(InString)
          var escaped = Option.empty[Scanner]
          var start = -1L
          it.foreach { case (k, v) =>
            if (start < 0) {
              start = k.get
              // entered after a backslash, the first byte is skipped and
              // the lexer is inside the string; entered inside the string,
              // it is there too unless that byte is a quote or a backslash
              val first = v.getBytes()(0)
              if (first == '"' || first == '\\') escaped = Some(new Scanner(Escaped))
            }
            out.feed(k.get, v.getBytes, v.getLength)
            in.feed(k.get, v.getBytes, v.getLength)
            escaped.foreach(_.feed(k.get, v.getBytes, v.getLength))
          }
          if (start < 0) Iterator.empty
          else Iterator(SplitScan(start, Array(out, in, escaped.getOrElse(in)).map(_.summary)))
        }.collect().sortBy(_.start).toSeq

        cuts(scans).flatMap { cs =>
          val depthAt = cs.toMap
          val records = chunks(depthAt.keys.toSeq.sorted)
            .mapPartitions { it =>
              val elements = new Elements(it, depthAt)
              Iterator.continually(elements.next()).takeWhile(_ != null)
            }
          val options = new JSONOptions(Map.empty[String, String],
            spark.sessionState.conf.sessionLocalTimeZone,
            spark.sessionState.conf.columnNameOfCorruptRecord)
          val inferred = SQLExecution.withSQLConfPropagated(spark.asInstanceOf[classic.SparkSession]) {
            new JsonInferSchema(options).infer(records, parser)
          }
          if (inferred.fieldNames.contains(options.columnNameOfCorruptRecord)) None
          else {
            val rowSchema = schema.fold(inferred)(GraftPlanShim.asNullable)
            // sized as Spark sizes its own scan of the file, so joins plan
            // the split read as they plan the multiLine one
            Some(GraftPlanShim.ofInternalRows(spark, parse(records, rowSchema, options),
              rowSchema, st.getLen))
          }
        }
      }
    }
  }

  private val NotUtf8 = UTF8String.fromString("{")

  private def parser(factory: JsonFactory, record: UTF8String): JsonParser = {
    val b = record.getByteBuffer
    factory.createParser(b.array, b.arrayOffset + b.position, b.remaining)
  }

  /** The records as rows of `schema`, as `spark.read.schema(schema).json`
    * parses a dataset of strings.
    */
  private def parse(records: RDD[UTF8String], schema: StructType,
      options: JSONOptions): RDD[InternalRow] = {
    ExprUtils.verifyColumnNameOfCorruptRecord(schema, options.columnNameOfCorruptRecord)
    val fields = StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord))
    records.mapPartitions { it =>
      val raw = new JacksonParser(fields, options, allowArrayAsStructs = true)
      val rows = new FailureSafeParser[UTF8String](raw.parse(_, parser, identity[UTF8String]),
        options.parseMode, schema, options.columnNameOfCorruptRecord)
      it.flatMap(rows.parse)
    }
  }

  private final val CutsKey = "graft.json-array.cuts"
  private final val ChunkBytes = 1 << 16

  /** One file cut at given offsets (`CutsKey`: ascending, the last one the
    * file's length); each task reads its range in chunks keyed by file
    * offset.
    */
  private[io] final class FileCuts extends FileInputFormat[LongWritable, BytesWritable] {
    override def getSplits(job: JobContext): java.util.List[InputSplit] = {
      val p = FileInputFormat.getInputPaths(job).head
      val offsets = job.getConfiguration.get(CutsKey).split(',').map(_.toLong).toSeq
      offsets.zip(offsets.tail).collect { case (from, until) if until > from =>
        new FileSplit(p, from, until - from, Array.empty[String]): InputSplit
      }.asJava
    }

    override def createRecordReader(split: InputSplit,
        context: TaskAttemptContext): RecordReader[LongWritable, BytesWritable] =
      new ChunkReader
  }

  private final class ChunkReader extends RecordReader[LongWritable, BytesWritable] {
    private var in: FSDataInputStream = _
    private var start, pos, end = 0L
    private val buf = new Array[Byte](ChunkBytes)
    private val key = new LongWritable
    private val value = new BytesWritable

    override def initialize(split: InputSplit, context: TaskAttemptContext): Unit = {
      val s = split.asInstanceOf[FileSplit]
      in = s.getPath.getFileSystem(context.getConfiguration).open(s.getPath)
      start = s.getStart
      pos = start
      end = start + s.getLength
    }

    override def nextKeyValue(): Boolean = pos < end && {
      // positioned reads: no read-ahead past the range, so the task's
      // input bytes are the bytes of its range
      val got = in.read(pos, buf, 0, math.min(ChunkBytes.toLong, end - pos).toInt)
      got > 0 && {
        key.set(pos)
        value.set(buf, 0, got)
        pos += got
        true
      }
    }

    override def getCurrentKey: LongWritable = key
    override def getCurrentValue: BytesWritable = value
    override def getProgress: Float =
      if (end == start) 1f else (pos - start).toFloat / (end - start)
    override def close(): Unit = if (in != null) in.close()
  }
}
