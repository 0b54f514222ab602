package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's from-scratch OLS linear regression (views → comments),
  * re-expressed as single-pass distributed aggregates (SURVEY.md §2.5,
  * §2.11; reference `05_AWS_Lambda/Lambda_Functions_Code/
  * lambda_function_final.py:21-92`).
  *
  * The reference computes Σ(x−x̄)², Σ(x−x̄)(y−ȳ) (no 1/n — it cancels in
  * the slope), b1 = covar/var, b0 = ȳ − b1·x̄ — exactly population
  * `regr_slope`/`regr_intercept`, which Spark (and DuckDB, the oracle)
  * implement as one-pass partial aggregates: map-side partials + one
  * reduce, no driver-side math, scales to any row count.
  *
  * The reference's 60/40 split uses Python's seeded Mersenne Twister
  * (`lambda_function_final.py:87`) — bit-matching that RNG is impossible
  * and pointless; we substitute a deterministic key-modulo split (M1 per
  * SURVEY.md §7.4) so Spark and the oracle agree exactly.
  */
object Regression {

  /** M1 — deterministic 60/40 split: rows with `key % 5 < 3` train. */
  def isTrain(key: Column): Column = pmod(key, lit(5)) < 3

  /** A1–A4/M3 — full-data OLS fit: slope, intercept, n, means.
    * One shuffle-free partial-agg pass over the table. */
  def fit(df: DataFrame, x: String, y: String): DataFrame =
    df.agg(
      round(regr_slope(col(y), col(x)), 6).as("b1"),
      round(regr_intercept(col(y), col(x)), 6).as("b0"),
      count(lit(1)).as("n"),
      round(avg(col(x)), 6).as("avg_x"),
      round(avg(col(y)), 6).as("avg_y"))

  /** M2 — train/eval harness: fit on the modulo-train split, score RMSE
    * (A5) on the held-out rows. The 1-row coefficient frame is
    * explicitly broadcast (don't rely on size estimation for the
    * grand-total aggregate), so the eval pass is a single scan of the
    * test split — a BroadcastNestedLoopJoin, never a cartesian. */
  def trainEval(df: DataFrame, key: String, x: String, y: String): DataFrame = {
    val train = df.filter(isTrain(col(key)))
    val test  = df.filter(!isTrain(col(key)))
    val coef = train.agg(
      regr_slope(col(y), col(x)).as("b1"),
      regr_intercept(col(y), col(x)).as("b0"))
    test.crossJoin(broadcast(coef))
      .agg(
        round(sqrt(avg(pow(col("b0") + col("b1") * col(x) - col(y), 2))), 6).as("rmse"),
        round(first(col("b1")), 6).as("b1"),
        round(first(col("b0")), 6).as("b0"),
        count(lit(1)).as("n_test"))
  }

  /** K5 — the Lambda's HTTP response envelope (reference
    * `lambda_function_final.py:94-109`): statusCode 200, a Content-Type
    * header, and a JSON body `{"RMSE": [r], "Model Coefficients":
    * [b0, b1]}` around the model results. The body is built with
    * fixed-scale decimal rendering (not engine float formatting) so the
    * serialized bytes are deterministic across engines; input is the
    * 1-row `trainEval` frame, so this is a constant-cost projection. */
  def responseEnvelope(modelResults: DataFrame): DataFrame = {
    def dec(c: String) = col(c).cast("decimal(38,6)").cast("string")
    modelResults.select(
      lit(200L).as("status_code"),
      lit("application/json").as("content_type"),
      concat(
        lit("{\"RMSE\": ["), dec("rmse"),
        lit("], \"Model Coefficients\": ["), dec("b0"), lit(", "), dec("b1"),
        lit("]}")).as("body"))
  }
}
