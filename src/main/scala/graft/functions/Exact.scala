package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic ("exact") aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent, and Spark's partial/final
  * aggregation order differs run-to-run and engine-to-engine — so a plain
  * `sum(double)` can never hash-match a DuckDB oracle at scale. The fix:
  * round inputs to a fixed decimal scale, aggregate in exact DECIMAL
  * arithmetic (associative, order-independent), and cast the final value to
  * DOUBLE. Both engines then produce bit-identical results regardless of
  * partitioning — which is also the property you want on a 1000-executor
  * cluster (reproducible aggregates under AQE / speculative execution).
  *
  * Cost: decimal aggregation is marginally slower than double, but stays
  * inside whole-stage codegen and map-side partial aggregation.
  */
object Exact {
  def dec(c: Column, scale: Int = 4): Column = c.cast(DecimalType(18, scale))

  /** Order-independent sum of a double column, returned as DOUBLE. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(dec(c, scale)).cast(DoubleType)

  /** Order-independent average (exact decimal sum / count). */
  def davg(c: Column, scale: Int = 4): Column =
    sum(dec(c, scale)).cast(DoubleType) / count(c)

  /** Distributed exact discrete percentile (SQL-standard `percentile_disc`:
    * the smallest value whose cumulative distribution >= q).
    *
    * Spark's built-in `percentile_disc` buffers EVERY raw value of a group
    * inside one aggregation buffer — at 100 TB a single hot group OOMs the
    * executor. This form never materializes a group on one node:
    *
    *   1. `groupBy(group, value).count` — shuffles only DISTINCT values per
    *      group, with map-side partial combine doing the heavy reduction;
    *   2. a cumulative-sum window over that (much smaller) distinct-value
    *      set;
    *   3. `min(value) where cum/n >= q` — a plain hash aggregate.
    *
    * The returned percentile is an actual element of `value` (no
    * interpolation), so results are bit-identical to the built-in and to
    * any other engine's percentile_disc — pinned by ExactPercentileSpec.
    *
    * Output: one row per group with `group` plus one DOUBLE column per
    * entry of `qs` (name -> quantile).
    */
  def percentileDisc(df: DataFrame, group: Column, value: Column,
      qs: Map[String, Double]): DataFrame = {
    val counts = df.groupBy(group.as("_g"), value.as("_v"))
      .agg(count(lit(1)).as("_c"))
    val cumW = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("_g"))
    val cd = counts
      .withColumn("_cd", sum(col("_c")).over(cumW).cast(DoubleType) /
        sum(col("_c")).over(totW).cast(DoubleType))
    val aggs = qs.toSeq.sortBy(_._1).map { case (name, q) =>
      min(when(col("_cd") >= lit(q), col("_v"))).as(name)
    }
    cd.groupBy(col("_g").as(group.toString))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Matching SQL fragments for the DuckDB oracle. The decimal→double
    * hop routes through VARCHAR: DuckDB's direct cast computes
    * unscaled-int128 × 10^-scale in floating point (two roundings — 1 ULP
    * off once the unscaled value passes 2^53; first seen on q82, then on
    * q01's sum_disc_price at sf0.1), while VARCHAR→DOUBLE is a single
    * correctly-rounded conversion matching Spark's Decimal.toDouble. */
  private def d2d(expr: String): String =
    s"CAST(CAST($expr AS VARCHAR) AS DOUBLE)"
  def sqlDsum(col: String, scale: Int = 4): String =
    d2d(s"sum(CAST($col AS DECIMAL(18,$scale)))")
  def sqlDsumProd(a: String, b: String, scale: Int = 4): String =
    d2d(s"sum(CAST($a AS DECIMAL(18,$scale)) * CAST($b AS DECIMAL(18,$scale)))")
  def sqlDavg(col: String, scale: Int = 4): String =
    d2d(s"sum(CAST($col AS DECIMAL(18,$scale)))") + s" / count($col)"
}
