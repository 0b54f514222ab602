package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Numeric determinism helpers.
  *
  * Summing doubles is order-dependent; Spark's partial aggregation order
  * varies run-to-run (and differs from any single-threaded oracle), so a
  * raw `sum(double)` can drift in the last ulps. Casting each term to a
  * fixed-scale decimal makes the sum exact and associative — identical on
  * every engine and at every parallelism — then one cast back to double
  * gives a stable, schema-friendly result. Scale 6 matters: every
  * source expression here (2-decimal inputs, products of up to three of
  * them) has ≤6 true decimal digits, so the nearest-scale-6 value IS the
  * exact value on both engines — no round-half boundary for Spark's
  * exact HALF_UP and DuckDB's scaled-double rounding to disagree on
  * (at scale 4 they measurably did, ~33 rows per 60k on sum_charge).
  */
object Num {

  /** Exact distributed sum of a double expression via DECIMAL(18,6). */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Deterministic mean built from the exact sum. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** [[dsum]] at a caller-chosen scale. Scale 6 is only tie-safe when
    * the summed terms have ≤6 true decimal digits; terms that are
    * arbitrary doubles SMALLER than 1e-6 (PageRank's per-edge pr/deg
    * contributions at large node counts) quantize to zero-or-tie at
    * scale 6 and the two engines' cast-rounding modes disagree on the
    * ties. At scale 18 a tie requires the double's terminating decimal
    * expansion to land exactly on .5 at digit 18 — not reachable from
    * these value ranges — so the cast agrees bit-for-bit on both
    * engines while the sum stays exact and associative. */
  def dsumAt(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(38, scale))).cast("double")

  /** The DuckDB spelling of [[dsum]] — keep the two in lockstep. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(18,6))) AS DOUBLE)"

  def davgSql(expr: String): String = s"${dsumSql(expr)} / count(*)"

  /** The DuckDB spelling of [[dsumAt]]. */
  def dsumAtSql(expr: String, scale: Int): String =
    s"CAST(sum(CAST(($expr) AS DECIMAL(38,$scale))) AS DOUBLE)"

  // Single-task replications of the Column ops above, for the
  // one-task folds of graft.operators.Cutover (Graph, Similarity):
  // a loop that runs inside one executor task must reproduce Spark's
  // decimal discipline bit-for-bit so both execution paths satisfy the
  // same oracle hash.

  /** Spark's `cast(double AS DECIMAL(p,s))` as the unscaled long:
    * shortest-string decimal (java `Double.toString`) rounded HALF_UP
    * at `scale`. Callers guarantee the unscaled value fits a long; sums
    * of these ARE the exact decimal sums [[dsum]]/[[dsumAt]] compute. */
  def unscaledAt(v: Double, scale: Int): Long =
    new java.math.BigDecimal(java.lang.Double.toString(v))
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** Spark's `cast(decimal AS DOUBLE)` of an exact unscaled-long sum. */
  def fromUnscaled(u: Long, scale: Int): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(u), scale)
      .doubleValue()

  /** Spark's `round(double, s)`: shortest-string decimal HALF_UP. */
  def roundAt(v: Double, scale: Int): Double =
    new java.math.BigDecimal(java.lang.Double.toString(v))
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}
