package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic numeric helpers.
  *
  * The driver hash-compares Spark results against DuckDB (SURVEY.md
  * §5.1, §7.5.6). Two sources of drift make naive `round(sum(x), 2)`
  * flaky:
  *  1. double sums are order-dependent, and Spark's partial-agg
  *     ordering differs from DuckDB's → last-ULP differences that can
  *     flip a half-cent rounding;
  *  2. `round(double)` itself disagrees between engines on ties
  *     (Spark rounds the shortest decimal repr HALF_UP; DuckDB rounds
  *     the binary value).
  *
  * Fixes, applied identically on both sides:
  *  - money terms are cast to DECIMAL(18,4) before summing → the sum
  *    is exact and order-independent (4 decimal digits suffice:
  *    price×(1−disc) has ≤4 true decimals; the double error ~1e-10 is
  *    far below the 5e-5 cast-rounding step);
  *  - ties are rounded with the portable formula
  *    `floor(x*100 + 0.5)/100`, pure IEEE-754 ops that both engines
  *    evaluate bit-identically.
  */
object Exact {
  /** Exact money sum, rounded to cents, surfaced as DOUBLE.
    * SQL twin: `CAST(round(sum(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE)` */
  def moneySum(x: Column): Column =
    round(sum(x.cast("decimal(18,4)")), 2).cast("double")

  def moneySumSql(x: String): String =
    s"CAST(round(sum(CAST($x AS DECIMAL(18,4))), 2) AS DOUBLE)"

  /** Portable 2-dp rounding of a nonnegative double (identical IEEE ops
    * in both engines). SQL twin: `floor((x) * 100 + 0.5) / 100`. */
  def pround2(x: Column): Column = floor(x * 100 + 0.5) / 100

  def pround2Sql(x: String): String = s"floor(($x) * 100 + 0.5) / 100"

  /** 4-dp variant — the fraction/ratio precision the ext operators
    * share. ONE definition so a future edge fix (negative values,
    * ulp boundaries) cannot drift between operators. */
  def pround4(x: Column): Column = floor(x * 10000 + 0.5) / 10000

  def pround4Sql(x: String): String = s"floor(($x) * 10000 + 0.5) / 10000"

  /** Order-independent money average: exact decimal sum → identical
    * double division → portable rounding.
    * SQL twin: [[moneyAvgSql]]. */
  def moneyAvg(x: Column): Column =
    pround2(sum(x.cast("decimal(18,4)")).cast("double") / count(lit(1)))

  def moneyAvgSql(x: String): String =
    pround2Sql(s"CAST(sum(CAST($x AS DECIMAL(18,4))) AS DOUBLE) / count(*)")

  /** Per-row money value as exact integer cents (portable HALF_UP):
    * the form operators use when cents must SUM exactly as BIGINTs
    * (rolling windows, salted enrichment). ONE definition, same drift
    * rationale as [[pround4]].
    * SQL twin: [[centsSql]]. */
  def cents(x: Column): Column = floor(x * 100 + 0.5).cast("long")

  def centsSql(x: String): String = s"CAST(floor(($x) * 100 + 0.5) AS BIGINT)"

  /** Exact floor division of a non-negative long by a positive one,
    * portable: the numerator is reduced to a multiple of `b` first, so
    * the double division is exact (numerators stay far below 2^53).
    * SQL twin: `a // b`. */
  def floorDiv(a: Column, b: Column): Column = ((a - pmod(a, b)) / b).cast("long")
}
