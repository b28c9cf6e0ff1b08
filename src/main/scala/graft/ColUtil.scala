package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic-aggregation helpers.
  *
  * Double sums are order-dependent (last-ulp drift across partitionings), so
  * any query checked against the DuckDB oracle aggregates through exact
  * decimal arithmetic and only casts back to double at the very end: the
  * decimal sum is associative/exact, so Spark and DuckDB produce bit-identical
  * doubles regardless of row order or parallelism.
  *
  * Precisions are chosen so products stay <= precision 38 in BOTH engines
  * (DuckDB overflows >38 to DOUBLE which would break exactness; Spark would
  * round): money(12,4) * frac(8,6) -> (21,10); * frac(8,6) -> (30,16).
  */
object ColUtil {
  def dec(c: Column, p: Int, s: Int): Column = c.cast(s"decimal($p,$s)")

  /** Prices/quantities/balances (magnitude < 1e8). */
  def money(c: Column): Column = dec(c, 12, 4)

  /** Rates in [-10, 10] (discount, tax, ratios). */
  def frac(c: Column): Column = dec(c, 8, 6)

  /** Exact sum of a money-scale double, returned as double. */
  def dsum(c: Column): Column = sum(money(c)).cast("double")
}
