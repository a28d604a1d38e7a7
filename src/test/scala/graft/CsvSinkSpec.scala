package graft

import graft.io.CsvSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The single-object CSV sink: headerless parts written in parallel,
  * Spark's own header line, the parts joined in part-number order.
  */
class CsvSinkSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val root = Files.createTempDirectory("graft-csv-sink-spec")

  private def listing(dir: Path): Seq[String] = {
    val l = Files.list(dir)
    try l.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally l.close()
  }

  /** The bytes of the one CSV part file Spark writes for `df` in one partition. */
  private def sparkCsv(df: DataFrame, name: String, header: Boolean): Array[Byte] = {
    val dir = root.resolve(name)
    df.coalesce(1).write.mode("overwrite").option("header", header).csv(dir.toString)
    val parts = listing(dir).filter(n => n.startsWith("part-") && n.endsWith(".csv"))
    assert(parts.size === 1, s"$name: $parts")
    Files.readAllBytes(dir.resolve(parts.head))
  }

  private def lines(bytes: Array[Byte]): Seq[String] =
    new String(bytes, UTF_8).split("\n", -1).toSeq.dropRight(1)

  test("the header is Spark's own header line, byte for byte, for awkward names") {
    val df = spark.range(3).select(
      col("id").as("a,b"), col("id").as("say \"hi\""), col("id").as(" lead"),
      col("id").as("naïve 日本"), col("id").as("plain"))
    val theirs = sparkCsv(df, "awkward-header", header = true)
    val headerLine = theirs.take(theirs.indexOf('\n'.toByte) + 1)
    assert(CsvSink.header(df) === headerLine)
    val (csv, n) = CsvSink.writeSingleCsv(df, root.resolve("awkward").toString, "out.csv")
    assert(n === 3L)
    assert(Files.readAllBytes(csv) === theirs)
  }

  test("a frame of several partitions, some empty, lands one file in partition order, counted once") {
    // five range partitions of ten ids; the filter empties the second and the fourth
    val df = spark.range(0, 50, 1, 5)
      .filter(col("id") < 10 || (col("id") >= 20 && col("id") < 30) || col("id") >= 40)
      .select(col("id"), concat(lit("v,"), col("id").cast("string")).as("v"))
    assert(df.rdd.glom().collect().map(_.length).toSeq === Seq(10, 0, 10, 0, 10))
    val dest = root.resolve("parts")
    val (csv, n) = CsvSink.writeSingleCsv(df, dest.toString, "merged.csv")
    assert(n === 30L)
    assert(listing(dest) === Seq("merged.csv"))
    val got = lines(Files.readAllBytes(csv))
    assert(got.head === "id,v")
    // coalesce(1) keeps partition order, so one file of one partition is
    // the same lines in the same order
    val single = lines(sparkCsv(df, "parts-single", header = false))
    assert(got.tail === single)
    assert(got.tail.map(_.takeWhile(_ != ',').toLong) ===
      ((0L until 10L) ++ (20L until 30L) ++ (40L until 50L)))
  }

  test("part files past part-99999 join in numeric order") {
    val names = Seq("part-100000-u-c000.csv", "_SUCCESS", "part-99999-u-c000.csv",
      "part-00002-u-c001.csv", ".part-00001-u-c000.csv.crc", "part-00002-u-c000.csv",
      "part-00010-u-c000.csv")
    assert(CsvSink.partOrder(names) === Seq("part-00002-u-c000.csv", "part-00002-u-c001.csv",
      "part-00010-u-c000.csv", "part-99999-u-c000.csv", "part-100000-u-c000.csv"))
  }

  test("a failure while joining the parts leaves neither the destination nor a staging directory") {
    val dest = root.resolve("join-fails")
    val df = spark.range(0, 20, 1, 3).toDF("id")
    val e = intercept[IOException] {
      CsvSink.land(df, dest.toString, "never.csv", (header, parts, out) => {
        assert(parts.nonEmpty)
        Files.write(out, header)
        throw new IOException("injected failure while joining")
      })
    }
    assert(e.getMessage === "injected failure while joining")
    assert(listing(dest) === Nil)
    assert(!Files.exists(Paths.get(dest.toString, "never.csv")))
  }
}
