package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Exact (order-independent) numeric aggregation helpers.
  *
  * The testdata money/quantity columns are doubles that carry at most two
  * decimal digits. Summing doubles is order-dependent (Spark's partial
  * aggregation adds in partition order, a serial engine adds in row order), so
  * a hash-compared oracle harness would flake. Casting to decimal first makes
  * every aggregate exact and associative — the same trick BigQuery's NUMERIC
  * gives the reference (ref: `snowflake_bq_sync_daily Time Details/main.py:57-69`
  * maps Snowflake NUMBER → BigQuery NUMERIC). Results are cast back to double
  * at the end so output schemas stay engine-neutral.
  *
  * Scale note: decimal aggregation stays inside whole-stage codegen and
  * partial/final HashAggregate, so the map-side combine still happens; this
  * costs a few % vs double sums and buys bit-exact reproducibility.
  */
object Exact {
  val D2: DecimalType = DecimalType(18, 2)
  val D4: DecimalType = DecimalType(18, 4)
  val D6: DecimalType = DecimalType(18, 6)

  def d2(c: Column): Column = c.cast(D2)

  /** Cast to decimal(18,4) — for values that carry up to 4 decimal digits
    * (e.g. price×(1−discount) products). */
  def d4(c: Column): Column = c.cast(D4)

  /** NULLIF(c, 0) — not exposed in the Scala functions API. */
  def nullIfZero(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  /** SUM over a ≤2-decimal column, exact, returned as double. */
  def sum2(c: Column): Column = sum(c.cast(D2)).cast(DoubleType)

  /** A ≤2-decimal double as integer cents (`ROUND(c*100)` — the value is
    * within half an ulp of k/100, so the round always lands on k). Long sums
    * of cents are plain codegen'd long adds — no Decimal boxing or
    * changePrecision per row — and `sum_cents / 100.0` is the same
    * correctly-rounded double as `CAST(SUM(DECIMAL) AS DOUBLE)` while the
    * total stays under 2^53. Use on aggregation hot paths; keep decimal
    * forms where an oracle twin spells the decimal shape.
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** AVG over a ≤2-decimal column: exact decimal sum divided as double. */
  def avg2(c: Column): Column = sum(c.cast(D2)).cast(DoubleType) / count(c)

  /** price * (1 - discount), computed in decimal (exact). */
  def discounted(price: Column, discount: Column): Column =
    (price.cast(D2) * (lit(1).cast(D2) - discount.cast(D2))).cast(D4)

  /** Sample stddev computed from exact decimal sums; the only floating-point
    * steps (divide, sqrt) are performed on identical inputs in any engine, so
    * the result is reproducible bit-for-bit. Matches STDDEV_SAMP semantics.
    */
  def stddevExact(c: Column): Column = {
    val n = count(c).cast(DoubleType)
    val s = sum(c.cast(D2)).cast(DoubleType)
    val sq = sum((c.cast(D2) * c.cast(D2))).cast(DoubleType)
    when(n > 1, sqrt((sq - s * s / n) / (n - lit(1)))).otherwise(lit(null))
  }

  /** Population variance from exact sums (same reproducibility argument). */
  def varPopExact(c: Column): Column = {
    val n = count(c).cast(DoubleType)
    val s = sum(c.cast(D2)).cast(DoubleType)
    val sq = sum((c.cast(D2) * c.cast(D2))).cast(DoubleType)
    when(n > 0, (sq - s * s / n) / n).otherwise(lit(null))
  }
}
