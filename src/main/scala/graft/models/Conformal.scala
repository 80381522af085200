package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split-conformal anomaly band (Vovk et al. 2005; Lei et al. JASA
  * 2018 splitting recipe) — the distribution-free wrapper that turns
  * ANY per-point forecast residual into a calibrated detector: no
  * Gaussian assumption (the z-score detector's weak point), finite-
  * sample marginal coverage ≥ 1−α by the exchangeability argument.
  *
  * Per series, in time order: the first ⌊n/2⌋ points are the
  * CALIBRATION half; q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest |resid|
  * among them (the exact-integer-rank conformal quantile — no
  * interpolation, so any engine reproduces it bit-for-bit); the
  * remaining points are scored: flag iff |resid| > q̂. If the rank
  * exceeds n_cal (α too small for the sample), q̂ is +∞ and nothing
  * flags — the honest answer, not a clamped artifact.
  *
  * Spark shape: one ordered window pass for the ordinal + per-series
  * counts, one calibration-half aggregate (the sorted list of the
  * bounded per-series calibration residuals, indexed for the exact
  * k-th order statistic — no float fold, so it needs no
  * `core.Folds` order), broadcast-sized q̂ table joined back. Scale axis
  * = series count, core-parallel like every per-series op here. */
object Conformal {

  /** Returns test-half rows (series, ts, value, resid, qhat,
    * is_anomaly). `resid` is the nonconformity input column (any
    * model's residual). Series with < 4 points are dropped (no
    * meaningful split). */
  def splitConformal(df: DataFrame, series: String, ts: String,
                     value: String, resid: String,
                     alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0,1)")
    val w = Window.partitionBy(series).orderBy(ts)
    val base = df
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(series)))
      .filter(col("__n") >= 4)
      .withColumn("__ncal", (col("__n") / 2).cast("long"))
    val cal = base.filter(col("__rn") <= col("__ncal"))
      .groupBy(series)
      .agg(sort_array(collect_list(abs(col(resid)))).as("__sorted"),
        first(col("__ncal")).as("__ncal"))
      .withColumn("__k",
        ceil((col("__ncal") + 1) * lit(1.0 - alpha)).cast("long"))
      .select(col(series),
        when(col("__k") <= col("__ncal"),
          element_at(col("__sorted"), col("__k").cast("int")))
          .otherwise(lit(Double.PositiveInfinity)).as("qhat"))
    base.filter(col("__rn") > col("__ncal"))
      .join(broadcast(cal), series)
      .select(col(series), col(ts), col(value), col(resid).as("resid"),
        col("qhat"),
        when(abs(col(resid)) > col("qhat"), 1).otherwise(0)
          .as("is_anomaly"))
  }
}
