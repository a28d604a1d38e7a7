package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StringType}

/** The reference pipeline's relational core, re-expressed as distributed
  * DataFrame operations (SURVEY.md §2 O6–O15).
  *
  * Reference semantics (all citations into /root/reference):
  *   - both sources must expose the join key (`gule_test_job.py:107-111`)
  *   - left-outer equi-join on the key, FIRST secondary match only —
  *     duplicate secondary keys never multiply output rows, and primary
  *     row count is exactly preserved (`gule_test_job.py:125-133`, first
  *     match at `:132`)
  *   - cell-level precedence: primary value wins when present and
  *     non-NaN (`pd.notna`, `gule_test_job.py:140-147`); a NaN cell is
  *     treated as MISSING and eligible for fill, so float NaNs are
  *     normalized to null before the coalesce
  *   - output columns: primary columns in their original order, then
  *     secondary-only columns (`gule_test_job.py:161-163`). The reference
  *     orders the secondary-only tail by Python set iteration
  *     (nondeterministic, `:114,162`); we fix it to secondary schema
  *     order and document the deviation (SURVEY.md §1.3).
  *   - unmatched secondary rows are reported, never written
  *     (`gule_test_job.py:166-185`)
  *
  * The reference executes all of this as a single-threaded pandas row
  * loop on the driver (O(N*M) nested loop). Here it is one left-outer
  * join with a broadcast dimension side: the secondary is deduped (one
  * shuffle of the secondary side) and broadcast, and the fact side
  * streams through without collecting anything to the driver. When the
  * secondary is the larger input it is first cut down to the keys the
  * primary holds (a semi-join reduction), so the dedup shuffle and the
  * broadcast carry only rows that can match.
  */
object MergeOps {

  /** O6: hard-fail before planning when the join key is missing. */
  def requireKey(df: DataFrame, key: String, side: String): Unit =
    require(
      df.schema.fieldNames.contains(key),
      s"Error: '$key' column not found in $side data")

  /** Reference `pd.notna` semantics: float NaN counts as missing
    * (`gule_test_job.py:140`). SQL NULL already does; NaN does not, so
    * normalize NaN -> null on every float/double column.
    */
  def nanToNull(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType =>
          when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** O8's "first match" (`iloc[0]`, `gule_test_job.py:132`) made
    * deterministic: keep one row per key, "first" defined by ascending
    * order of the remaining columns (schema order), NULLS LAST — Spark's
    * default ASC is NULLS FIRST while the DuckDB oracle's ASC is NULLS
    * LAST, so the explicit direction keeps the chosen row identical in
    * both engines when an ordering column is NULL. The window shuffles
    * the secondary side only; in the merge, when the secondary is the
    * larger input, only its rows whose key the primary holds.
    */
  def firstMatch(secondary: DataFrame, key: String): DataFrame = {
    val ord: Seq[Column] =
      secondary.schema.fieldNames.filterNot(_ == key)
        .map(c => col(c).asc_nulls_last).toIndexedSeq
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    secondary
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** O7+O8+O9+O12 in one plan: schema union, first-match left-outer
    * join, per-cell coalesce with primary precedence, ordered projection.
    * Primary row count is preserved by construction (left-outer against
    * a key-unique build side). The deduped secondary is broadcast: the
    * reference's secondary is a dimension table, and at scale this turns
    * the merge into a map-side join, zero shuffle of the fact side.
    *
    * When the planner's size estimate of the secondary exceeds the
    * primary's, the secondary is first semi-joined to the primary's keys
    * (the same [[keyEquals]] as the left-outer join and as
    * [[unmatched]]), so the first-match window and the broadcast see
    * only rows that can match. The result is the same: first match is
    * decided per key, so dropping all of a key's rows changes no other
    * key's pick, and a key the primary lacks adds nothing to a left-outer
    * join. When the primary is the larger input, broadcasting its keys
    * costs more than the smaller secondary saves, so the plan is left as
    * it is. It is also left when the secondary's size is unknown (a JDBC
    * table, an RDD: the planner's placeholder `spark.sql.defaultSizeInBytes`
    * says nothing of the real size), and for a streaming primary, whose
    * keys are not known when the stream-static plan is built.
    */
  def coalesceMerge(primary: DataFrame, secondary: DataFrame, key: String): DataFrame = {
    requireKey(primary, key, "S3")
    requireKey(secondary, key, "RDS")
    // a string secondary key is compared as the primary's type, so the
    // first match is picked per compared key: "3" and "003" are one key
    val sec = comparedAs(secondary, primary, key)
      .fold(secondary)(t => secondary.withColumn(key, col(key).try_cast(t)))
    val candidates =
      if (!primary.isStreaming && knownLarger(sec, primary))
        sec.join(primary.select(col(key).as(PrimaryKey)),
          keyEquals(sec, primary, key)(col(key), col(PrimaryKey)), "left_semi")
      else sec
    val p = nanToNull(primary).alias("p")
    val s = broadcast(firstMatch(nanToNull(candidates), key)).alias("s")

    val pCols = primary.schema.fieldNames.toIndexedSeq
    val sCols = secondary.schema.fieldNames.toIndexedSeq
    val shared = pCols.toSet.intersect(sCols.toSet)

    // a shared column that is text on exactly one side is coalesced as
    // text, as the reference's pandas object column holds either side's
    // value (`gule_test_job.py:140-147`); coercing the text to the other
    // side's type would fail the run on its first non-numeric cell. The
    // cast sits after nanToNull, so a NaN stays missing, not "NaN".
    def isText(df: DataFrame, c: String) = df.schema(c).dataType.isInstanceOf[StringType]
    val out: Seq[Column] =
      pCols.map {
        case `key` => col(s"p.$key").as(key)
        case c if shared(c) && isText(primary, c) != isText(secondary, c) =>
          coalesce(col(s"p.$c").cast(StringType), col(s"s.$c").cast(StringType)).as(c)
        case c if shared(c) => coalesce(col(s"p.$c"), col(s"s.$c")).as(c)
        case c => col(s"p.$c")
      } ++ sCols.filter(c => c != key && !shared(c)).map(c => col(s"s.$c"))

    p.join(s, keyEquals(sec, primary, key)(col(s"s.$key"), col(s"p.$key")), "left_outer")
      .select(out: _*)
  }

  /** The primary's key column, renamed for the semi- and anti-joins so
    * that an unqualified `key` in their condition names the secondary's.
    */
  private val PrimaryKey = "__graft_pk"

  /** The merge key's one equality, shared by the left-outer join, the
    * semi-join reduction and [[unmatched]]: the reduction drops exactly
    * the rows the join would not match only if all three compare keys
    * the same way. When exactly one side's key is a string, that side is
    * compared through `try_cast` to the other side's type. Spark's own
    * coercion would cast it with an ANSI cast, and one non-numeric key
    * ("x") would fail the run; the reference's `==` and `isin`
    * (`gule_test_job.py:132,166`) leave such a row unmatched. A numeric
    * string ("003", " 2") still matches its number.
    */
  private def keyEquals(secondary: DataFrame, primary: DataFrame, key: String)(
      sKey: Column, pKey: Column): Column = {
    def aligned(c: Column, t: Option[DataType]) = t.fold(c)(c.try_cast)
    aligned(sKey, comparedAs(secondary, primary, key)) ===
      aligned(pKey, comparedAs(primary, secondary, key))
  }

  /** The type `df`'s key is cast to when compared with `other`'s: the
    * other side's type when only `df`'s key is a string.
    */
  private def comparedAs(df: DataFrame, other: DataFrame, key: String): Option[DataType] =
    (df.schema(key).dataType, other.schema(key).dataType) match {
      case (_: StringType, _: StringType) => None
      case (_: StringType, t) => Some(t)
      case _ => None
    }

  /** Whether the planner's size estimate of `secondary`, the number join
    * planning compares with the broadcast threshold, is known and exceeds
    * `primary`'s. A plan with a leaf Spark cannot size (JDBC, an RDD)
    * gets the placeholder `spark.sql.defaultSizeInBytes`, which is unknown.
    */
  private def knownLarger(secondary: DataFrame, primary: DataFrame): Boolean = {
    val unknown = SQLConf.get.defaultSizeInBytes
    val plan = secondary.queryExecution.optimizedPlan
    val size = plan.stats.sizeInBytes
    size < unknown && plan.collectLeaves().forall(_.stats.sizeInBytes < unknown) &&
      size > primary.queryExecution.optimizedPlan.stats.sizeInBytes
  }

  /** O13: secondary rows whose key never appears in the primary
    * (`~isin`, `gule_test_job.py:166-167`) as a distributed anti-join,
    * under the merge's [[keyEquals]].
    */
  def unmatched(secondary: DataFrame, primary: DataFrame, key: String): DataFrame =
    secondary.join(primary.select(col(key).as(PrimaryKey)),
      keyEquals(secondary, primary, key)(col(key), col(PrimaryKey)), "left_anti")

  /** O14+O15: head-N sample plus total count for the unmatched report
    * (`gule_test_job.py:173-185`), in one action: the count is observed
    * on the sample's own pass. The top-N runs as per-partition top-N
    * inside the action's result stage, so the observation sits in a
    * result stage and counts each row exactly once under task retries.
    *
    * `explode(array(key))` passes each row through unchanged but hides
    * the input's row count from AQE: knowing the input fits the limit,
    * AQE would drop the limit and plan a global sort, whose range
    * partitioner runs the observed plan a second time to sample it.
    */
  def reportSample(df: DataFrame, key: String, n: Int = 10): (Seq[Any], Long) = {
    val obs = Observation()
    val sample = df.select(col(key))
      .observe(obs, count(lit(1)).as("rows"))
      .select(explode(array(col(key))).as(key))
      .orderBy(col(key)).limit(n)
      .collect().map(_.get(0)).toIndexedSeq
    (sample, obs.get("rows").asInstanceOf[Long])
  }
}
