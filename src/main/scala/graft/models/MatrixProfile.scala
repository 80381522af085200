package graft.models

import org.apache.spark.sql.DataFrame

/** Matrix profile via STOMP (Yeh et al. ICDM 2016 "Matrix Profile I";
  * Zhu et al. ICDM 2016 "Matrix Profile II" for the O(n²) rolling-dot
  * recurrence) — the UCR all-pairs z-normalized subsequence-distance
  * profile. The profile's argmax is the series DISCORD (the most
  * isolated subsequence — the parameter-free anomaly definition), its
  * minima are motifs; both read directly off the output.
  *
  *   MP[i] = min_{|i−j| ≥ excl} dist(T[i..i+w), T[j..j+w))
  *   dist² = 2w (1 − (QT − w μ_i μ_j)/(w σ_i σ_j))
  *
  * with QT the sliding dot product, updated by the STOMP recurrence
  * QT[i][j] = QT[i−1][j−1] − T[i−1]T[j−1] + T[i+w−1]T[j+w−1] — O(n²)
  * total instead of O(n² w). Exclusion zone w/2 (the standard trivial-
  * match guard). Near-constant windows (σ < 1e-12·scale) are handled
  * by the usual convention: distance to ANOTHER constant window is 0,
  * to a non-constant one √(2w).
  *
  * Every loop is a fixed-order array recursion inside one `mapGroups`
  * task per series — deterministic for any partitioning (fixture-
  * oracle-safe), parallel across series, O(n²) time and O(n) memory
  * per series. At 100 TB the corpus is many series; a single
  * pathologically long series is the documented limit (the published
  * remedies — anytime STAMP, GPU STOMP — trade exactness or
  * portability and are out of scope). */
object MatrixProfile {

  case class MpOut(sk: String, ts: java.sql.Timestamp, value: Double,
                   mp: Double, mp_index: Long)

  /** Reference O(n² w) brute force — the spec's ground truth and the
    * clearest statement of the semantics. */
  def bruteForce(y: Array[Double], w: Int): Array[(Double, Int)] = {
    val n = y.length - w + 1
    val excl = math.max(1, w / 2)
    // SAME relative near-constant threshold as stomp — an absolute one
    // would make the two implementations disagree on which windows are
    // "constant" for large-amplitude series
    val const = 1e-12 * y.map(math.abs).foldLeft(1.0)(math.max)
    def znDist(i: Int, j: Int): Double = {
      def stats(o: Int): (Double, Double) = {
        var s = 0.0; var s2 = 0.0
        var t = 0
        while (t < w) { s += y(o + t); s2 += y(o + t) * y(o + t); t += 1 }
        val mu = s / w
        (mu, math.sqrt(math.max(0.0, s2 / w - mu * mu)))
      }
      val (mi, si) = stats(i)
      val (mj, sj) = stats(j)
      if (si < const && sj < const) 0.0
      else if (si < const || sj < const) math.sqrt(2.0 * w)
      else {
        var qt = 0.0
        var t = 0
        while (t < w) { qt += y(i + t) * y(j + t); t += 1 }
        val c = (qt - w * mi * mj) / (w * si * sj)
        math.sqrt(math.max(0.0, 2.0 * w * (1.0 - math.min(1.0, c))))
      }
    }
    Array.tabulate(n) { i =>
      var best = Double.MaxValue
      var bestJ = -1
      var j = 0
      while (j < n) {
        if (math.abs(i - j) >= excl) {
          val d = znDist(i, j)
          if (d < best - 1e-12) { best = d; bestJ = j }
        }
        j += 1
      }
      (best, bestJ)
    }
  }

  /** STOMP over one series: (profile, profile index) per window
    * start. */
  def stomp(y: Array[Double], w: Int): Array[(Double, Int)] = {
    val n = y.length - w + 1
    require(n >= 2, s"series length ${y.length} too short for w=$w")
    val excl = math.max(1, w / 2)
    // rolling window stats
    val mu = new Array[Double](n)
    val sig = new Array[Double](n)
    var s = 0.0; var s2 = 0.0
    var t = 0
    while (t < w) { s += y(t); s2 += y(t) * y(t); t += 1 }
    mu(0) = s / w
    sig(0) = math.sqrt(math.max(0.0, s2 / w - mu(0) * mu(0)))
    var i = 1
    while (i < n) {
      s += y(i + w - 1) - y(i - 1)
      s2 += y(i + w - 1) * y(i + w - 1) - y(i - 1) * y(i - 1)
      mu(i) = s / w
      sig(i) = math.sqrt(math.max(0.0, s2 / w - mu(i) * mu(i)))
      i += 1
    }
    val scale = y.map(math.abs).foldLeft(1.0)(math.max)
    val const = 1e-12 * scale
    val mp = Array.fill(n)(Double.MaxValue)
    val mpi = Array.fill(n)(-1)
    def dist(qt: Double, i: Int, j: Int): Double =
      if (sig(i) < const && sig(j) < const) 0.0
      else if (sig(i) < const || sig(j) < const) math.sqrt(2.0 * w)
      else {
        val c = (qt - w * mu(i) * mu(j)) / (w * sig(i) * sig(j))
        math.sqrt(math.max(0.0, 2.0 * w * (1.0 - math.min(1.0, c))))
      }
    def consider(i: Int, j: Int, d: Double): Unit = {
      // strict improvement with an epsilon keeps the argmin identical
      // to brute force under the recurrence's float drift
      if (d < mp(i) - 1e-12) { mp(i) = d; mpi(i) = j }
    }
    // first row of sliding dot products: QT[0][j]
    val qtRow = new Array[Double](n)
    var j = 0
    while (j < n) {
      var qt = 0.0
      var t2 = 0
      while (t2 < w) { qt += y(t2) * y(j + t2); t2 += 1 }
      qtRow(j) = qt
      if (j >= excl) {
        val d = dist(qt, 0, j)
        consider(0, j, d)
        consider(j, 0, d)
      }
      j += 1
    }
    val qtFirst = qtRow.clone() // QT[j][0] by symmetry of row 0
    i = 1
    while (i < n) {
      // update in place right-to-left so QT[i-1][j-1] is still there
      j = n - 1
      while (j >= 1) {
        qtRow(j) = qtRow(j - 1) - y(i - 1) * y(j - 1) +
          y(i + w - 1) * y(j + w - 1)
        j -= 1
      }
      qtRow(0) = qtFirst(i)
      j = i + excl
      while (j < n) {
        val d = dist(qtRow(j), i, j)
        consider(i, j, d)
        consider(j, i, d)
        j += 1
      }
      i += 1
    }
    Array.tabulate(n)(k => (mp(k), mpi(k)))
  }

  /** DataFrame face: per-series matrix profile; output one row per
    * window start `(series, ts, value, mp, mp_index)` where `ts` is
    * the window's first timestamp and `mp_index` the 0-based window
    * start of the nearest neighbor. Series shorter than `2w` drop. */
  def profile(df: DataFrame, series: String, ts: String, value: String,
              w: Int): DataFrame = {
    require(w >= 4, s"w=$w must be >= 4")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sk, tss, y) =>
      if (y.length < 2 * w) Iterator.empty
      else {
        val prof = stomp(y, w)
        prof.iterator.zipWithIndex.map { case ((d, idx), k) =>
          MpOut(sk, tss(k), y(k), d, idx.toLong)
        }
      }
    }.toDF("sk", "ts", "value", "mp", "mp_index")
      .withColumnRenamed("sk", series)
  }
}
