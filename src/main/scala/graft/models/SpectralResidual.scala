package graft.models

import org.apache.spark.sql.DataFrame

/** Spectral Residual saliency detection (Hou & Zhang CVPR 2007,
  * applied to time series as the SR stage of Ren et al., KDD 2019 —
  * the detector Microsoft runs service-side at scale): anomalies are
  * the points whose removal most changes the log-amplitude spectrum.
  *
  *   A = |DFT(y)|,  L = log(A),  R = L − avg_q(L)   (q-point local
  *   mean of the log spectrum), saliency S = |IDFT(exp(R + iφ))|,
  *   score(x) = (S(x) − S̄(x)) / S̄(x) with S̄ a trailing z-point mean;
  *   flag score > threshold.
  *
  * The DFT is the NAIVE O(n²) transform on purpose: per-series n is
  * the bounded monitoring-window length (the events grid is ~10² —
  * n² ≈ 10⁴ multiply-adds, microseconds), the summation order is
  * fixed by the double loop, so the whole operator is bit-
  * deterministic for any partitioning — fixture-oracle-safe, which a
  * recursive FFT's reassociated floats would not be. Runs per series
  * in `mapGroups`; scale axis = series count, core-parallel. */
object SpectralResidual {

  case class SrOut(sk: String, ts: java.sql.Timestamp, value: Double,
                   saliency: Double, sr_score: Double, is_anomaly: Int)

  /** Saliency map of one series (exposed for the spec's independent
    * recompute). */
  def saliency(y: Array[Double], q: Int): Array[Double] = {
    val n = y.length
    val re = new Array[Double](n)
    val im = new Array[Double](n)
    var k = 0
    while (k < n) { // forward DFT, fixed order
      var sr = 0.0; var si = 0.0
      var t = 0
      while (t < n) {
        val ang = -2.0 * math.Pi * k * t / n
        sr += y(t) * math.cos(ang)
        si += y(t) * math.sin(ang)
        t += 1
      }
      re(k) = sr; im(k) = si
      k += 1
    }
    val amp = Array.tabulate(n)(i =>
      math.max(math.sqrt(re(i) * re(i) + im(i) * im(i)), 1e-12))
    val logAmp = amp.map(math.log)
    // centered q-point local mean of the log spectrum (edges clamp)
    val half = q / 2
    val avg = Array.tabulate(n) { i =>
      val a = math.max(0, i - half)
      val b = math.min(n - 1, i + half)
      var s = 0.0; var j = a
      while (j <= b) { s += logAmp(j); j += 1 }
      s / (b - a + 1)
    }
    val sal = new Array[Double](n)
    var x = 0
    while (x < n) { // inverse DFT of exp(R)·e^{iφ}, fixed order
      var sr = 0.0; var si = 0.0
      var kk = 0
      while (kk < n) {
        val scale = math.exp(logAmp(kk) - avg(kk)) / amp(kk)
        val rr = re(kk) * scale
        val ii = im(kk) * scale
        val ang = 2.0 * math.Pi * kk * x / n
        val c = math.cos(ang); val s = math.sin(ang)
        sr += rr * c - ii * s
        si += rr * s + ii * c
        kk += 1
      }
      sal(x) = math.sqrt(sr * sr + si * si) / n
      x += 1
    }
    sal
  }

  /** Returns (series, ts, value, saliency, sr_score, is_anomaly).
    * `q` = spectral smoothing window, `z` = trailing saliency-mean
    * window, `threshold` on the relative score. Series shorter than
    * max(q, 4) are dropped. */
  def detect(df: DataFrame, series: String, ts: String, value: String,
             q: Int = 3, z: Int = 21, threshold: Double = 3.0)
      : DataFrame = {
    require(q >= 1 && z >= 1, "q and z must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sk, tss, y) =>
      val n = y.length
      if (n < math.max(q, 4)) Iterator.empty
      else {
        val sal = saliency(y, q)
        y.indices.iterator.map { i =>
          val a = math.max(0, i - z + 1)
          var s = 0.0; var j = a
          while (j <= i) { s += sal(j); j += 1 }
          val local = math.max(s / (i - a + 1), 1e-12)
          val score = (sal(i) - local) / local
          SrOut(sk, tss(i), y(i), sal(i), score,
            if (score > threshold) 1 else 0)
        }
      }
    }.toDF("sk", "ts", "value", "saliency", "sr_score", "is_anomaly")
      .withColumnRenamed("sk", series)
  }
}
