package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Classical additive seasonal decomposition (the moving-average
  * method statsmodels ships as `seasonal_decompose` — Macaulay 1931
  * vintage) — the transparent baseline sibling of the STL tier (M1):
  * unlike loess-based STL, every step is a window aggregate, so the
  * WHOLE decomposition is plain-SQL-expressible and gets a true
  * cross-engine oracle (the STL queries are fixture-pinned).
  *
  * For even period m (the common case):
  *   trend_t   = (0.5·y_{t−m/2} + Σ_{|i|<m/2} y_{t+i} + 0.5·y_{t+m/2}) / m
  *               (the centered 2×m MA; null at the m/2 edges)
  *   s_idx_k   = mean of detrended values at phase k = (ordinal−1) mod m
  *   seasonal  = s_idx − mean(s_idx)      (per series, sums to ~0)
  *   resid     = y − trend − seasonal
  *
  * Plan shape: one ordinal window, one frame-sum window, one phase
  * aggregate broadcast back, one per-series mean broadcast — every
  * key is the series (Catalyst co-partitions the windows), no join
  * touches more than per-series/phase cardinality. */
object Decompose {

  /** Returns (series, ts, value, trend, seasonal, resid); trend/resid
    * null at the first/last m/2 points (the classical edge). Requires
    * even period ≥ 2.
    *
    * Short-series contract: phase means exist only for phases with at
    * least one non-null-trend (detrended) point, and rows join their
    * phase mean INNER, so a series with n < period+1 (no detrended
    * points at all) disappears from the output entirely, and a series
    * with period+1 ≤ n < 2·period keeps only the rows whose phase was
    * covered. This is deliberate: a phase with no detrended evidence
    * has no defensible seasonal estimate (statsmodels emits NaN
    * there), and the cross-engine oracle pins the same drop. Callers
    * that need every row back should left-join this output to their
    * input. */
  def classical(df: DataFrame, series: String, ts: String,
                value: String, period: Int): DataFrame = {
    require(period >= 2 && period % 2 == 0,
      s"period=$period must be even and >= 2 (the 2xMA form)")
    val half = period / 2
    val w = Window.partitionBy(series).orderBy(ts)
    val frame = w.rowsBetween(-half, half)
    // trend is pinned to 9 digits at the source: engines disagree by
    // an ulp on the window-sum association, and everything downstream
    // (phase means, residuals) inherits it — the 1e-9 pin puts both
    // engines on the same double before any derived math (the L26
    // engine-portability convention). The phase/series means are
    // ORDERED folds for the same reason.
    // Grouped.pin: the 2xMA windows and both ordered-fold phase
    // aggregates all cluster on the series key — one pinned exchange
    // keeps the whole chain core-parallel (folds are sort_array'd, so
    // partitioning cannot change any float result)
    val base = graft.core.Grouped.pin(df, Seq(series))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__cnt", count(col(value)).over(frame))
      .withColumn("__trend",
        when(col("__cnt") === period + 1,
          round((sum(col(value)).over(frame)
            - lit(0.5) * lag(col(value), half).over(w)
            - lit(0.5) * lead(col(value), half).over(w)) / period, 9)))
      .withColumn("__phase", (col("__rn") - 1) % period)
    val sIdx = base.filter(col("__trend").isNotNull)
      .groupBy(col(series), col("__phase"))
      .agg((Folds.orderedSum(col("__rn"), col(value) - col("__trend")) /
        count(lit(1)).cast("double")).as("__sidx"))
    val sMean = sIdx.groupBy(series)
      .agg((Folds.orderedSum(col("__phase"), col("__sidx")) /
        count(lit(1)).cast("double")).as("__smean"))
    base.join(broadcast(sIdx), Seq(series, "__phase"))
      .join(broadcast(sMean), series)
      .withColumn("seasonal", col("__sidx") - col("__smean"))
      .withColumn("resid", col(value) - col("__trend") - col("seasonal"))
      .select(col(series), col(ts), col(value),
        col("__trend").as("trend"), col("seasonal"), col("resid"))
  }
}
