package graft.models

import org.apache.spark.sql.DataFrame

/** Classical statistical-process-control detectors — the two SPC
  * charts every monitoring suite carries next to the model-based
  * detectors (M2-M6): small persistent shifts that a pointwise
  * z-threshold (`evaluate.py`-style residual test) misses entirely
  * are exactly what EWMA and CUSUM exist to catch.
  *
  *  - EWMA control chart (Roberts 1959; NIST/SEMATECH e-handbook
  *    §6.3.2.4): z_t = λ·x_t + (1−λ)·z_{t−1}, z_0 = μ̂, flagged when
  *    |z_t − μ̂| exceeds L·σ̂·sqrt(λ/(2−λ)·(1−(1−λ)^{2t})) — the
  *    time-varying limit, so early points get the tight warm-up band.
  *  - Tabular CUSUM (Page 1954; Montgomery SQC §9.1): one-sided
  *    cumulative sums of the standardized series,
  *    S⁺_t = max(0, S⁺_{t−1} + z_t − k), S⁻_t = max(0, S⁻_{t−1} − z_t − k),
  *    alarm when either exceeds h (k in σ units = half the shift to
  *    detect, h the decision interval — the classic k=0.5, h=5 tuning
  *    detects a 1σ mean shift with ~ARL₀ 465).
  *
  * Both estimate μ̂/σ̂ from the series itself (in-order Welford pass,
  * ddof=1 — the A2 convention) and run the recursion PER SERIES in ts
  * order inside `mapGroups`: deterministic for any partitioning
  * (fixture-oracle-safe), parallel across series — the same scale
  * axis as every per-series model here (a 10× corpus is 10× series,
  * absorbed across cores; state is O(1) per step).
  */
object Spc {

  case class EwmaOut(sk: String, ts: java.sql.Timestamp, value: Double,
                     ewma: Double, limit: Double, is_anomaly: Int)
  case class CusumOut(sk: String, ts: java.sql.Timestamp, value: Double,
                      cusum_hi: Double, cusum_lo: Double, is_anomaly: Int)

  /** In-order Welford mean/std (ddof=1); σ̂ floored at 1e-12 so a
    * constant series standardizes to 0 rather than NaN (P7 eps
    * convention). */
  private[graft] def meanStd(y: Array[Double]): (Double, Double) = {
    var mean = 0.0; var m2 = 0.0; var i = 0
    while (i < y.length) {
      val d = y(i) - mean
      mean += d / (i + 1)
      m2 += d * (y(i) - mean)
      i += 1
    }
    val sd = if (y.length > 1) math.sqrt(m2 / (y.length - 1)) else 0.0
    (mean, math.max(sd, 1e-12))
  }

  /** EWMA chart; returns (series, ts, value, ewma, limit, is_anomaly).
    * Series with fewer than 2 points are dropped (no σ̂ — the module's
    * short-series convention).
    *
    * `baselineN = 0` (default) estimates μ̂/σ̂ over the WHOLE series —
    * the retrospective batch convention. `baselineN = W > 0` freezes
    * the baseline on the first W points (SPC Phase I / Phase II):
    * series shorter than W are dropped, and the chart becomes exactly
    * what the STREAMING face computes — the parity contract
    * StreamingSpec pins. */
  def ewmaChart(df: DataFrame, series: String, ts: String, value: String,
                lambda: Double = 0.2, l: Double = 3.0,
                baselineN: Int = 0): DataFrame = {
    require(lambda > 0 && lambda <= 1, s"lambda=$lambda must be in (0,1]")
    require(l > 0, s"l=$l must be positive")
    require(baselineN == 0 || baselineN >= 2,
      s"baselineN=$baselineN must be 0 (whole series) or >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sk, tss, y) =>
      if (y.length < math.max(2, baselineN)) Iterator.empty
      else {
        val (mu, sd) = meanStd(if (baselineN > 0) y.take(baselineN) else y)
        val base = sd * math.sqrt(lambda / (2.0 - lambda))
        var z = mu
        var decay = 1.0 // (1-λ)^(2t), updated before each emit
        y.indices.iterator.map { t =>
          z = lambda * y(t) + (1.0 - lambda) * z
          decay *= (1.0 - lambda) * (1.0 - lambda)
          val limit = l * base * math.sqrt(1.0 - decay)
          val flag = if (math.abs(z - mu) > limit) 1 else 0
          EwmaOut(sk, tss(t), y(t), z, limit, flag)
        }
      }
    }.toDF("sk", "ts", "value", "ewma", "limit", "is_anomaly")
      .withColumnRenamed("sk", series)
  }

  /** Tabular CUSUM; returns (series, ts, value, cusum_hi, cusum_lo,
    * is_anomaly), both sums in σ̂ units. `baselineN` as in
    * [[ewmaChart]]: 0 = whole-series stats, W > 0 = frozen Phase-I
    * baseline on the first W points (the streaming-parity form). */
  def cusum(df: DataFrame, series: String, ts: String, value: String,
            k: Double = 0.5, h: Double = 5.0,
            baselineN: Int = 0): DataFrame = {
    require(k >= 0, s"k=$k must be non-negative")
    require(h > 0, s"h=$h must be positive")
    require(baselineN == 0 || baselineN >= 2,
      s"baselineN=$baselineN must be 0 (whole series) or >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sk, tss, y) =>
      if (y.length < math.max(2, baselineN)) Iterator.empty
      else {
        val (mu, sd) = meanStd(if (baselineN > 0) y.take(baselineN) else y)
        var sp = 0.0
        var sn = 0.0
        y.indices.iterator.map { t =>
          val z = (y(t) - mu) / sd
          sp = math.max(0.0, sp + z - k)
          sn = math.max(0.0, sn - z - k)
          val flag = if (sp > h || sn > h) 1 else 0
          CusumOut(sk, tss(t), y(t), sp, sn, flag)
        }
      }
    }.toDF("sk", "ts", "value", "cusum_hi", "cusum_lo", "is_anomaly")
      .withColumnRenamed("sk", series)
  }
}
