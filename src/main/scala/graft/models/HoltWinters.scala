package graft.models

import org.apache.spark.sql.DataFrame

/** Additive Holt–Winters (triple exponential smoothing, Winters 1960)
  * one-step-ahead forecaster — the classic cheap seasonal baseline a
  * detector suite carries next to STL/Kalman/BSTS: O(1) state per
  * step, no fitting pass, residual = value − forecast feeds the same
  * threshold/persistence tail as every other detector here.
  *
  *   ŷ_t = l + b + s_{t mod m}
  *   l' = α(y − s) + (1−α)(l + b)
  *   b' = β(l' − l) + (1−β) b
  *   s' = γ(y − l') + (1−γ) s
  *
  * Initialization is the standard two-cycle recipe: l₀ = mean of the
  * first season, b₀ = (mean of season 2 − mean of season 1)/m,
  * s_i = y_i − l₀ over the first season; the first 2m points emit
  * their forecasts from this warm-up state. Series shorter than 2m
  * are DROPPED from the output (the S-H-ESD / matrix-profile
  * short-series convention in this module — callers needing them
  * length-filter upstream). The recursion runs PER SERIES in ts order
  * inside `mapGroups` — deterministic for any partitioning, fixture-
  * oracle-safe, parallel across series (the M2-M6 scale shape). */
object HoltWinters {

  case class HwOut(sk: String, ts: java.sql.Timestamp, value: Double,
                   hw_pred: Double, hw_resid: Double)

  /** Driver-free per-series recursion; returns (series, ts, value,
    * hw_pred, hw_resid). */
  def forecast(df: DataFrame, series: String, ts: String, value: String,
               period: Int, alpha: Double = 0.2, beta: Double = 0.1,
               gamma: Double = 0.3): DataFrame = {
    require(period >= 2, s"period=$period must be >= 2")
    require(Seq(alpha, beta, gamma).forall(p => p > 0 && p < 1),
      "smoothing parameters must be in (0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sk, tss, y) =>
      val n = y.length
      val m = period
      if (n < 2 * m) Iterator.empty
      else {
        val mean1 = y.slice(0, m).sum / m
        val mean2 = y.slice(m, 2 * m).sum / m
        var l = mean1
        var b = (mean2 - mean1) / m
        val s = Array.tabulate(m)(i => y(i) - mean1)
        y.indices.iterator.map { t =>
          val si = t % m
          val pred = l + b + s(si)
          val resid = y(t) - pred
          val lNew = alpha * (y(t) - s(si)) + (1 - alpha) * (l + b)
          b = beta * (lNew - l) + (1 - beta) * b
          s(si) = gamma * (y(t) - lNew) + (1 - gamma) * s(si)
          l = lNew
          HwOut(sk, tss(t), y(t), pred, resid)
        }
      }
    }.toDF("sk", "ts", "value", "hw_pred", "hw_resid")
      .withColumnRenamed("sk", series)
  }
}
