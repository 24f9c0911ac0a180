package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One catalog entry: a Spark-first implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * for the driver's differential-correctness gate. `oracle = None` →
  * the driver records a weaker rows-only check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    headline: Boolean = false)

/** Shared helpers for oracle-parity numerics.
  *
  * Floating-point SUM/AVG are order-dependent, and Spark (partial
  * aggregation across partitions) will not sum in DuckDB's order. All
  * summed measures therefore go through exact DECIMAL accumulation and
  * are converted to double only once at the end: both engines then emit
  * bit-identical float64. Source values are on a fixed decimal grid
  * (prices/discounts = 2 dp; derived products = 4/6 dp), so the
  * double→decimal cast is error-free on both sides.
  */
object Q {
  def dec(c: Column, scale: Int): Column = c.cast(DecimalType(18, scale))

  /** Exact SUM of a 2-dp double measure, emitted as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast("double")

  /** Exact AVG: double division of two exactly-agreed operands. */
  def davg(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast("double") / count(c)

  /** Oracle-side spellings of the same. The VARCHAR hop matters at
    * scale: DuckDB casts DECIMAL→DOUBLE as int128→double→÷10^s (two
    * roundings), Spark via BigDecimal (one, correctly rounded). They
    * agree while the scaled integer fits 2^53 and can differ by 1 ulp
    * beyond it — first observed at the local sf1 point where q05's
    * sum_charge×10^6 ≈ 5.2e16. Text→double parses are correctly
    * rounded on both engines, so the hop pins the exact same double.
    */
  def oSum(e: String, scale: Int = 2): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(18,$scale))) AS VARCHAR) AS DOUBLE)"
  def oAvg(e: String, scale: Int = 2): String =
    s"${oSum(e, scale)} / COUNT($e)"
}
