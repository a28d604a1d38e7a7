package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** SQL-surface registration of the native graft expressions via the
  * public `SparkSessionExtensions` hook — the deployment story for
  * `spark.sql(...)` users (and JDBC/Thrift clients) who never touch the
  * Scala DataFrame API:
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions   // spark-defaults
  * // or, on a session builder: .withExtensions(new GraftExtensions()(_))
  *
  * SELECT graft_dot(emb_a, emb_b, 64)       -- native codegen dot product
  * SELECT graft_simhash(token_hashes)       -- 60-bit simhash signature
  * SELECT graft_simhash(token_hashes, 48)   -- custom signature width
  * SELECT graft_lsh_bucket(emb)             -- 16-plane hyperplane bucket
  * SELECT graft_unit_hash(CAST(id AS STRING)) -- deterministic U[0,1)
  * -- table-generating (UDTF): one row per word n-gram
  * SELECT doc_id, s.pos, s.shingle
  * FROM docs LATERAL VIEW graft_shingles(split(text, ' '), 3) s AS pos, shingle
  * }}}
  *
  * `graft_unit_hash` is the reproducible-sampling primitive behind
  * q_split_train / q_sample_stratified (Cols.unitHash): a pure
  * engine-portable hash to [0, 1), for `WHERE graft_unit_hash(key) <
  * rate` sampling and split assignment directly from SQL.
  *
  * Registration is per-session metadata only — no state, no side
  * effects — so it is safe to enable globally. The optional int
  * arguments must be literals (they parameterize generated code).
  */
object GraftExtensions {

  private[functions] def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an INT literal, got $other")
  }

  /** The graft_shingles builder — ONE definition shared by the
    * extensions hook and any runtime registration (dedup_shingle_udtf's
    * fallback), so the two paths cannot drift on arity or the width
    * argument.
    */
  private[graft] def shingleBuilder(args: Seq[Expression]): ShingleGenerator =
    args match {
      case Seq(a) => ShingleGenerator(a, 3)
      case Seq(a, w) => ShingleGenerator(a, litInt(w, "graft_shingles width"))
      case _ => throw new IllegalArgumentException(
        "graft_shingles(tokenArray[, width]) takes 1 or 2 arguments")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions.litInt

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the native as-of join (custom logical
    // node + left-filter pushdown rule + planner strategy + physical
    // hash/binary-search exec — graft.plans.AsOfJoin)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfFilterPushdown)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotExpr(a, b, VectorFns.Dim)
        case Seq(a, b, d) => DotExpr(a, b, litInt(d, "graft_dot dim"))
        case _ => throw new IllegalArgumentException(
          "graft_dot(arrayA, arrayB[, dim]) takes 2 or 3 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => SimHashExpr(a, 60)
        case Seq(a, b) => SimHashExpr(a, litInt(b, "graft_simhash bits"))
        case _ => throw new IllegalArgumentException(
          "graft_simhash(hashArray[, bits]) takes 1 or 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh_bucket"),
      new ExpressionInfo(classOf[LshBucketExpr].getName, "graft_lsh_bucket"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => LshBucketExpr(a, VectorFns.planes)
        case _ => throw new IllegalArgumentException(
          "graft_lsh_bucket(embedding) takes 1 argument")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleGenerator].getName, "graft_shingles"),
      (args: Seq[Expression]) => GraftExtensions.shingleBuilder(args)))
    ext.injectFunction((
      FunctionIdentifier("graft_unit_hash"),
      new ExpressionInfo(classOf[Hex60Expr].getName, "graft_unit_hash"),
      (args: Seq[Expression]) => args match {
        // the same expression as Cols.unitHash: hex60 scaled to [0,1)
        case Seq(a) => Divide(Hex60Expr(Cast(a, StringType)), Literal(1.152921504606846976e18))
        case _ => throw new IllegalArgumentException(
          "graft_unit_hash(key) takes 1 argument")
      }))
  }
}
