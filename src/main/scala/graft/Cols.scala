package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column helpers shared across operators. Every helper here has an exact
  * DuckDB twin in [[OracleSql]]: results must hash-match the driver's
  * DuckDB oracle, so arithmetic is done in forms that are deterministic
  * under Spark's shuffle (decimal accumulation, not double accumulation)
  * and bit-identical across both engines.
  */
object Cols {

  /** Exact "money" sum: accumulate in decimal(18,2) (order-independent),
    * surface as double. A plain sum(double) is non-deterministic under
    * partition-order variation and would flake the oracle hash compare.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact mean built from the exact sum — double division of identical
    * operands is bit-identical across engines.
    */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Revenue term price*(1-rate) in exact decimal: (12,2)*(13,2) -> (26,4). */
  def revenue(price: Column, rate: Column): Column =
    price.cast(DecimalType(12, 2)) * (lit(1).cast(DecimalType(12, 2)) - rate.cast(DecimalType(12, 2)))

  /** Exact sum of the decimal revenue term, surfaced as double. */
  def rsum(price: Column, rate: Column): Column =
    sum(revenue(price, rate)).cast(DoubleType)

  /** First 60 bits of md5(x) as a non-negative long
    * ([[graft.functions.Hex60Expr]]). Twin: OracleSql.hex60. The
    * 15-hex-char slice keeps the value positive and exactly
    * representable in both engines' BIGINT.
    */
  def hex60(c: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.Hex60Expr(
        // explicit string cast (a no-op on string columns): the
        // composed md5() form implicitly coerced numeric callers the
        // same way
        org.apache.spark.sql.GraftColumnShim.expression(c.cast(StringType))))

  /** hex60 scaled to a uniform double in [0, 1). 2^60 = 1152921504606846976. */
  def unitHash(c: Column): Column = hex60(c) / lit(1.152921504606846976e18)

  /** Scalar JVM twin of [[hex60]] for plan-build-time callers (VectorFns
    * plane weights): the same [[graft.functions.Hex60Expr.hash]] the
    * column expression evaluates.
    */
  def hex60Scalar(s: String): Long =
    graft.functions.Hex60Expr.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s))
}

/** DuckDB-dialect twins of [[Cols]], used to build `SparkEntry.oracleSql`.
  * Keep the two objects in lock-step: any drift breaks the hash compare.
  */
object OracleSql {
  // Decimal sums surface as double via a string round trip, NOT a
  // direct CAST(... AS DOUBLE): past 2^53 base units DuckDB's direct
  // conversion scales the unit count in floating point and
  // double-rounds 1 ulp off the JVM's correctly-rounded
  // BigDecimal.doubleValue, while parsing the exact decimal string is
  // correctly rounded in both engines. Below 2^53 the two routes are
  // identical, so this is purely a large-scale-factor hardening.
  def dsum(x: String): String =
    s"CAST(CAST(sum(CAST($x AS DECIMAL(18,2))) AS STRING) AS DOUBLE)"
  def davg(x: String): String = s"(${dsum(x)} / count($x))"
  def revenue(price: String, rate: String): String =
    s"(CAST($price AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST($rate AS DECIMAL(12,2))))"
  def rsum(price: String, rate: String): String =
    s"CAST(CAST(sum(${revenue(price, rate)}) AS STRING) AS DOUBLE)"

  /** Exact decimal co-moment sum sum(x*y) surfaced as double — the
    * product units cross 2^53 well before the plain sums do, so the
    * string route matters here first (q_stats_cov, q_corr).
    */
  def dprodsum(x: String, y: String): String =
    s"CAST(CAST(sum(CAST($x AS DECIMAL(18,2)) * CAST($y AS DECIMAL(18,2))) AS STRING) AS DOUBLE)"
  def hex60(x: String): String = s"(('0x' || substr(md5($x), 1, 15))::BIGINT)"
  def unitHash(x: String): String = s"(${hex60(x)} / 1152921504606846976.0)"
}
