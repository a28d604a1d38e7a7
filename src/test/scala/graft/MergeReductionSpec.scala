package graft

import graft.io.{JdbcOptions, JdbcSource}
import graft.ops.MergeOps
import org.apache.spark.sql.{Column, DataFrame, GraftPlanShim, Row}
import org.apache.spark.sql.catalyst.plans.{LeftOuter, LeftSemi}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.{broadcast, coalesce, col}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The merge's semi-join reduction changes no result. `coalesceMerge`
  * semi-joins the secondary to the primary's keys when the secondary's
  * size estimate is the larger; every case here runs on both sides of
  * that rule, over the same rows, and must equal both a Scala oracle of
  * the reference's row loop (`gule_test_job.py:125-156`) and the
  * unreduced formula, kept below as the reference. Which branch ran is
  * read from the executed plan. Keys are adversarial: nulls on both
  * sides, NaN and -0.0/0.0, hot duplicates, an int or string primary key
  * against a long secondary key and a long one against a string one,
  * non-numeric strings among them, empty and disjoint inputs.
  */
class MergeReductionSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import MergeReductionSpec._

  /** A key type pair: the pools keys are drawn from, and the class a key
    * joins in (None: matches nothing), after the merge's NaN-to-null
    * and the join's coercion.
    */
  private case class KeyKind(
      name: String,
      pType: DataType, pPool: IndexedSeq[Any],
      sType: DataType, sPool: IndexedSeq[Any],
      joinClass: Any => Option[Any],
      outKey: Any => Any = identity)

  private def asLong(k: Any): Option[Any] = Option(k).flatMap {
    case i: Int => Some(i.toLong)
    case s: String => s.trim.toLongOption
    case l: Long => Some(l)
  }

  private val kinds = Seq(
    KeyKind("long", LongType, Vector(null, 0L, 1L, 2L, 3L, 4L),
      LongType, Vector(null, 0L, 1L, 2L, 3L, 5L), asLong),
    // 1L << 33 equals no int
    KeyKind("int vs long", IntegerType, Vector(null, 0, 1, 2, 3, 4),
      LongType, Vector(null, 1L << 33, 1L, 2L, 3L, 5L), asLong),
    // the string side is compared as a bigint: "003" and " 2" are 3 and
    // 2, and "x" matches nothing
    KeyKind("string vs long", StringType, Vector(null, "0", "1", " 2", "003", "4", "x"),
      LongType, Vector(null, 0L, 1L, 2L, 3L, 5L), asLong),
    // and the other way round: "3" and "003" are one secondary key, with
    // one first match
    KeyKind("long vs string", LongType, Vector(null, 0L, 1L, 2L, 3L, 4L),
      StringType, Vector(null, "0", "1", " 2", "003", "3", "x"), asLong),
    KeyKind("double", DoubleType, Vector(null, 0.0, -0.0, 1.5, Double.NaN, 2.5),
      DoubleType, Vector(null, 0.0, -0.0, 1.5, Double.NaN, 3.5),
      {
        case d: Double if d.isNaN => None
        case d: Double => Some(if (d == 0.0) 0.0 else d)
        case _ => None
      },
      {
        case d: Double if d.isNaN => null
        case k => k
      }))

  private type PRow = (Any, Option[Double])
  private type SRow = (Any, Option[Double], Option[String])

  private def value(r: Random): Option[Double] = r.nextInt(4) match {
    case 0 => None
    case 1 => Some(Double.NaN)
    case _ => Some(r.nextInt(5) + 1.0)
  }

  // index 1 of each pool is the hot key
  private def key(r: Random, pool: IndexedSeq[Any]): Any =
    if (r.nextInt(10) < 4) pool(1) else pool(r.nextInt(pool.size))

  private def genP(r: Random, k: KeyKind, n: Int): Seq[PRow] =
    Seq.fill(n)((key(r, k.pPool), value(r)))

  private def genS(r: Random, k: KeyKind, n: Int): Seq[SRow] =
    Seq.fill(n)((key(r, k.sPool), value(r),
      Option.when(r.nextInt(4) > 0)(Seq("a", "b", "c")(r.nextInt(3)))))

  private def pSchema(k: KeyKind) = StructType(Seq(
    StructField("id", k.pType), StructField("v", DoubleType)))
  private def sSchema(k: KeyKind) = StructType(Seq(
    StructField("id", k.sType), StructField("v", DoubleType), StructField("w", StringType)))

  /** An RDD-backed frame with the given size estimate: the estimate
    * alone picks the branch, and no empty-input rule folds the plan away.
    */
  private def sized(rows: Seq[Row], schema: StructType, bytes: Long): DataFrame =
    GraftPlanShim.ofInternalRows(spark, GraftPlanShim.internalRows(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)).map(_.copy()),
      schema, bytes)

  private def frames(k: KeyKind, ps: Seq[PRow], ss: Seq[SRow], reduce: Boolean) = {
    val (pBytes, sBytes) = if (reduce) (1000L, 2000L) else (2000L, 1000L)
    (sized(ps.map { case (id, v) => Row(id, v.orNull) }, pSchema(k), pBytes),
      sized(ss.map { case (id, v, w) => Row(id, v.orNull, w.orNull) }, sSchema(k), sBytes))
  }

  private def render(row: Seq[Any]): String =
    row.map(c => String.valueOf(c)).mkString("(", ",", ")")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(r => render(r.toSeq)).toSeq.sorted

  /** The reference's row loop: the first match per join class is the
    * min by (v, w) with NULLS LAST, NaN counting as missing.
    */
  private def oracle(k: KeyKind, ps: Seq[PRow], ss: Seq[SRow]): Seq[String] = {
    def clean(v: Option[Double]) = v.filterNot(_.isNaN)
    val first = ss.flatMap { case (id, v, w) => k.joinClass(id).map(_ -> (clean(v), w)) }
      .groupBy(_._1).map { case (c, rs) =>
        c -> rs.map(_._2).minBy { case (v, w) =>
          (v.isEmpty, v.getOrElse(0.0), w.isEmpty, w.getOrElse(""))
        }
      }
    ps.map { case (id, v) =>
      val m = k.joinClass(id).flatMap(first.get)
      render(Seq(k.outKey(id), clean(v).orElse(m.flatMap(_._1)).orNull, m.flatMap(_._2).orNull))
    }.sorted
  }

  private def check(label: String, k: KeyKind, ps: Seq[PRow], ss: Seq[SRow]): Unit =
    for (reduce <- Seq(true, false)) {
      val (p, s) = frames(k, ps, ss, reduce)
      val merged = MergeOps.coalesceMerge(p, s, "id")
      val clue = s"$label (${k.name}, reduce=$reduce)\nps=$ps\nss=$ss"
      assert(ranReduced(merged) === reduce, s"wrong branch: $clue")
      assert(!hasSemiJoin(merged) || reduce, s"semi-join on the unreduced branch: $clue")
      assert(hasBroadcastLeftOuter(merged), s"merge lost its broadcast left-outer join: $clue")
      val got = rows(merged)
      assert(got === oracle(k, ps, ss), s"differs from the oracle: $clue")
      assert(got === rows(unreduced(p, s, "id")), s"differs from the unreduced merge: $clue")
    }

  test("both branches equal the oracle and the unreduced merge on random tables") {
    for (k <- kinds; seed <- 1 to 6) {
      val r = new Random(seed * 31 + k.name.length)
      check(s"seed $seed", k, genP(r, k, 8), genS(r, k, 20))
    }
  }

  test("both branches on empty, disjoint and all-null inputs") {
    for (k <- kinds) {
      val r = new Random(7)
      val ps = genP(r, k, 6)
      val ss = genS(r, k, 12)
      check("empty primary", k, Nil, ss)
      check("empty secondary", k, ps, Nil)
      check("both empty", k, Nil, Nil)
      check("null keys only", k, ps.map(_.copy(_1 = null)), ss.map(_.copy(_1 = null)))
    }
    val long = kinds.head
    check("disjoint keys", long, Seq((1L, None), (2L, Some(2.0)), (1L, Some(1.0))),
      Seq((3L, Some(3.0), Some("a")), (4L, None, None), (3L, None, Some("b"))))
    check("one hot key", long, Seq((1L, None), (1L, Some(1.0))),
      (1 to 30).map(i => (1L, Some((i % 7).toDouble), Some(s"w$i"))))
  }

  test("the planner's own estimates pick the branch") {
    val k = kinds.head
    val r = new Random(11)
    val small = spark.createDataFrame(
      genP(r, k, 4).map { case (id, v) => Row(id, v.orNull) }.asJava, pSchema(k))
    val large = spark.createDataFrame(
      genS(r, k, 40).map { case (id, v, w) => Row(id, v.orNull, w.orNull) }.asJava, sSchema(k))
    assert(ranReduced(MergeOps.coalesceMerge(small, large, "id")))
    val largeP = large.select(col("id"), col("v"))
    val smallS = large.limit(3)
    assert(!hasSemiJoin(MergeOps.coalesceMerge(largeP, smallS, "id")))
  }

  test("a secondary of unknown size keeps the unreduced plan") {
    // A JDBC table (the reference's RDS secondary) or an RDD has no
    // statistics: its estimate is the placeholder spark.sql.defaultSizeInBytes,
    // which says nothing of the real size, so it never picks the reduction.
    val k = kinds.head
    val r = new Random(19)
    val ps = genP(r, k, 40)
    // a database column holds no NaN
    val ss = genS(r, k, 6).map { case (id, v, w) => (id, v.filterNot(_.isNaN), w) }
    System.setProperty("derby.system.home", "target/staging/derby")
    val jdbc = JdbcOptions(
      url = "jdbc:derby:memory:graft_merge_reduction;create=true",
      dbtable = "small_secondary", user = "app", password = "app",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    spark.createDataFrame(
      ss.map { case (id, v, w) => Row(id, v.orNull, w.orNull) }.asJava, sSchema(k))
      .write.format("jdbc").options(jdbc.asMap).mode("overwrite").save()
    val fromJdbc = JdbcSource(jdbc).load(spark)
    val fromRdd = spark.createDataFrame(spark.sparkContext.parallelize(
      ss.map { case (id, v, w) => Row(id, v.orNull, w.orNull) }, 2), sSchema(k))
    val large = spark.createDataFrame(
      ps.map { case (id, v) => Row(id, v.orNull) }.asJava, pSchema(k))
    val small = large.limit(1)
    // a projection scales the placeholder down, but its leaf stays unknown
    val projected = fromJdbc.select("id", "w")
    for ((sName, s) <- Seq("jdbc" -> fromJdbc, "projected jdbc" -> projected, "rdd" -> fromRdd);
         (pName, p) <- Seq("larger" -> large, "smaller" -> small)) {
      val merged = MergeOps.coalesceMerge(p, s, "id")
      val clue = s"$sName secondary, $pName primary"
      assert(!hasSemiJoin(merged), s"$clue: planned a LeftSemi")
      assert(hasBroadcastLeftOuter(merged), s"$clue: lost its broadcast left-outer join")
      assert(rows(merged) === rows(unreduced(p, s, "id")), clue)
    }
    assert(rows(MergeOps.coalesceMerge(large, fromJdbc, "id")) === oracle(k, ps, ss))
  }

  test("a streaming primary against a larger secondary keeps the plan and equals batch") {
    val k = kinds.head
    val r = new Random(17)
    val ps = genP(r, k, 10)
    val ss = genS(r, k, 60)
    val root = Files.createTempDirectory("graft-merge-reduction").toString
    val primary = spark.createDataFrame(
      ps.map { case (id, v) => Row(id, v.orNull) }.asJava, pSchema(k))
    primary.write.mode("overwrite").json(s"$root/p")
    val secondary = spark.createDataFrame(
      ss.map { case (id, v, w) => Row(id, v.orNull, w.orNull) }.asJava, sSchema(k))

    val batch = MergeOps.coalesceMerge(primary, secondary, "id")
    assert(ranReduced(batch), "the batch side should take the reduced branch")
    val q = MergeOps.coalesceMerge(spark.readStream.schema(pSchema(k)).json(s"$root/p"),
        secondary, "id")
      .writeStream.format("memory").queryName("merge_reduction_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "streaming query timed out")
    finally q.stop()
    assert(!hasSemiJoin(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan), "the stream-static plan changed")
    val got = rows(spark.table("merge_reduction_stream"))
    assert(got === rows(batch))
    assert(got === oracle(k, ps, ss))
  }

  /** The merge before the reduction: first match and broadcast over the
    * whole secondary. A string key meeting a non-string one is compared
    * as the other side's type, a non-numeric one matching nothing.
    */
  private def unreduced(primary: DataFrame, secondary: DataFrame, key: String): DataFrame = {
    val (pType, sType) = (primary.schema(key).dataType, secondary.schema(key).dataType)
    val sec =
      if (sType == StringType && pType != StringType)
        secondary.withColumn(key, col(key).try_cast(pType))
      else secondary
    val p = MergeOps.nanToNull(primary).alias("p")
    val s = broadcast(MergeOps.firstMatch(MergeOps.nanToNull(sec), key)).alias("s")
    val pCols = primary.schema.fieldNames.toIndexedSeq
    val sCols = secondary.schema.fieldNames.toIndexedSeq
    val shared = pCols.toSet.intersect(sCols.toSet)
    val out: Seq[Column] =
      pCols.map {
        case `key` => col(s"p.$key").as(key)
        case c if shared(c) => coalesce(col(s"p.$c"), col(s"s.$c")).as(c)
        case c => col(s"p.$c")
      } ++ sCols.filter(c => c != key && !shared(c)).map(c => col(s"s.$c"))
    val pKey =
      if (pType == StringType && sType != StringType) col(s"p.$key").try_cast(sType)
      else col(s"p.$key")
    p.join(s, pKey === col(s"s.$key"), "left_outer").select(out: _*)
  }
}

/** Which branch of the merge a plan took, read from its executed plan
  * (through AQE's stages).
  */
object MergeReductionSpec extends AdaptiveSparkPlanHelper {
  private def isSemi(p: SparkPlan) = p match {
    case j: BaseJoinExec => j.joinType == LeftSemi
    case _ => false
  }

  def hasSemiJoin(plan: SparkPlan): Boolean = find(plan)(isSemi).isDefined

  def hasSemiJoin(df: DataFrame): Boolean = hasSemiJoin(df.queryExecution.executedPlan)

  /** A left-semi join sits below the first-match window. */
  def ranReduced(df: DataFrame): Boolean =
    collect(df.queryExecution.executedPlan) { case w: WindowExec => w }
      .exists(w => find(w)(isSemi).isDefined)

  def hasBroadcastLeftOuter(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j.joinType == LeftOuter
      case _ => false
    }.isDefined
}
