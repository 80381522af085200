package graft.models

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** M1 exact mode: per-series STL (Cleveland et al. 1990) — the reference
  * uses statsmodels `STL(series, period, robust=True)`
  * (`src/utils.py:5-29`), which is a port of the netlib `stl.f` the
  * paper published. This is an independent Scala port of that same
  * published algorithm, faithful to the Fortran numerics: tricube
  * weights with the 0.999h/0.001h cutoffs, normalized-weight linear
  * adjustment with the `0.001·range` degeneracy guard, cycle-subseries
  * smoothing with one-step extrapolated extensions, the
  * MA(np)·MA(np)·MA(3) running-sum low-pass, and the bisquare
  * robustness weights with the `6·median` scale and 0.999/0.001
  * clamps. GoldenSpec pins per-point parity (≤ 1e-6 absolute on a
  * ~20k-amplitude series) against the reference notebook's own stored
  * statsmodels decomposition of NYC-Taxi; `StlLite` remains the
  * fully-relational scale path.
  *
  * Scale: mapGroups per series like M2/M3 — bounded series, parallel
  * across series.
  */
object StlExact {

  case class Out(series_id: String, ts: Timestamp, value: Double,
                 trend: Double, seasonal: Double, resid: Double)

  /** `stlest`: weighted local-linear fit at position `xs` over the
    * window `[nl, nr]` (0-based, inclusive) of `y` (length `n`, span
    * `len`, degree `ideg`). Returns NaN when every weight dies — the
    * Fortran `ok = .false.` path, resolved by each caller. `w` is
    * caller-provided scratch (≥ nr+1). */
  private def est(y: Array[Double], n: Int, len: Int, ideg: Int,
                  xs: Double, nl: Int, nr: Int, w: Array[Double],
                  rw: Array[Double]): Double = {
    val range = (n - 1).toDouble
    var h = math.max(xs - nl, nr - xs)
    if (len > n) h += (len - n) / 2.0
    val h9 = 0.999 * h
    val h1 = 0.001 * h
    var a = 0.0
    var j = nl
    while (j <= nr) {
      w(j) = 0.0
      val r = math.abs(j - xs)
      if (r <= h9) {
        if (r <= h1) w(j) = 1.0
        else { val t = r / h; val u = 1.0 - t * t * t; w(j) = u * u * u }
        if (rw != null) w(j) *= rw(j)
        a += w(j)
      }
      j += 1
    }
    if (a <= 0.0) Double.NaN
    else {
      j = nl
      while (j <= nr) { w(j) /= a; j += 1 }
      if (h > 0.0 && ideg > 0) {
        var xm = 0.0
        j = nl
        while (j <= nr) { xm += w(j) * j; j += 1 }
        var b = xs - xm
        var c = 0.0
        j = nl
        while (j <= nr) { val d = j - xm; c += w(j) * d * d; j += 1 }
        if (math.sqrt(c) > 0.001 * range) {
          b /= c
          j = nl
          while (j <= nr) { w(j) *= b * (j - xm) + 1.0; j += 1 }
        }
      }
      var ys = 0.0
      j = nl
      while (j <= nr) { ys += w(j) * y(j); j += 1 }
      ys
    }
  }

  /** `stless` with jump = 1 (the statsmodels default): loess of the
    * whole series, window sliding once past the half-span. */
  private def smoothF(y: Array[Double], len: Int, ideg: Int,
                      rw: Array[Double]): Array[Double] = {
    val n = y.length
    val out = new Array[Double](n)
    if (n < 2) { if (n == 1) out(0) = y(0); return out }
    val w = new Array[Double](n)
    if (len >= n) {
      var i = 0
      while (i < n) {
        val v = est(y, n, len, ideg, i, 0, n - 1, w, rw)
        out(i) = if (java.lang.Double.isNaN(v)) y(i) else v
        i += 1
      }
    } else {
      val nsh = (len + 1) / 2
      var nl = 0
      var nr = len - 1
      var i = 0
      while (i < n) {
        if (i + 1 > nsh && nr != n - 1) { nl += 1; nr += 1 }
        val v = est(y, n, len, ideg, i, nl, nr, w, rw)
        out(i) = if (java.lang.Double.isNaN(v)) y(i) else v
        i += 1
      }
    }
    out
  }

  /** `stlma`: running-sum moving average, output length n − len + 1
    * (the running sum is part of the numerics being mirrored). */
  private def ma(x: Array[Double], len: Int): Array[Double] = {
    val n = x.length
    val newn = n - len + 1
    val out = new Array[Double](newn)
    val flen = len.toDouble
    var v = 0.0
    var i = 0
    while (i < len) { v += x(i); i += 1 }
    out(0) = v / flen
    var j = 1
    while (j < newn) {
      v = v - x(j - 1) + x(j + len - 1)
      out(j) = v / flen
      j += 1
    }
    out
  }

  /** `stlfts`: MA(np) → MA(np) → MA(3); n+2np in, n out. */
  private def fts(x: Array[Double], np: Int): Array[Double] =
    ma(ma(ma(x, np), np), 3)

  /** `stlss`: cycle-subseries loess with the span-`ns` smoother plus
    * one extrapolated value at each end of every subseries; returns the
    * EXTENDED seasonal of length n + 2·np. */
  private def ss(y: Array[Double], np: Int, ns: Int, isdeg: Int,
                 rw: Array[Double]): Array[Double] = {
    val n = y.length
    val season = new Array[Double](n + 2 * np)
    val w = new Array[Double](n / np + 2)
    var j = 0
    while (j < np) {
      val k = (n - j - 1) / np + 1
      val sub = new Array[Double](k)
      var i = 0
      while (i < k) { sub(i) = y(i * np + j); i += 1 }
      val subRw =
        if (rw == null) null
        else {
          val a = new Array[Double](k)
          i = 0; while (i < k) { a(i) = rw(i * np + j); i += 1 }; a
        }
      val sm = smoothF(sub, ns, isdeg, subRw)
      val pre = est(sub, k, ns, isdeg, -1.0, 0, math.min(ns, k) - 1, w, subRw)
      val preV = if (java.lang.Double.isNaN(pre)) sm(0) else pre
      val post = est(sub, k, ns, isdeg, k.toDouble, math.max(0, k - ns),
        k - 1, w, subRw)
      val postV = if (java.lang.Double.isNaN(post)) sm(k - 1) else post
      season(j) = preV
      i = 0
      while (i < k) { season((i + 1) * np + j) = sm(i); i += 1 }
      season((k + 1) * np + j) = postV
      j += 1
    }
    season
  }

  /** `stlstp`: `ni` passes of detrend → subseries smooth → low-pass →
    * deseasonalize → trend smooth. */
  private def step(y: Array[Double], np: Int, ns: Int, nt: Int, nl: Int,
                   ni: Int, rw: Array[Double], trend0: Array[Double])
      : (Array[Double], Array[Double]) = {
    val n = y.length
    var trend = trend0
    var season: Array[Double] = null
    var it = 0
    while (it < ni) {
      val detr = Array.tabulate(n)(i => y(i) - trend(i))
      val ext = ss(detr, np, ns, 1, rw)
      val low = smoothF(fts(ext, np), nl, 1, null)
      season = Array.tabulate(n)(i => ext(np + i) - low(i))
      val deseas = Array.tabulate(n)(i => y(i) - season(i))
      trend = smoothF(deseas, nt, 1, rw)
      it += 1
    }
    (season, trend)
  }

  /** `stlrwt`: bisquare robustness weights at scale 6·median|resid|
    * (even n: mean of the two central order stats), with the
    * 0.999/0.001 clamps. */
  private def rwts(y: Array[Double], fit: Array[Double]): Array[Double] = {
    val n = y.length
    val r = Array.tabulate(n)(i => math.abs(y(i) - fit(i)))
    val sorted = r.sorted
    val cmad = 3.0 * (sorted(n / 2) + sorted(n - n / 2 - 1))
    val c9 = 0.999 * cmad
    val c1 = 0.001 * cmad
    Array.tabulate(n) { i =>
      if (r(i) <= c1) 1.0
      else if (r(i) <= c9) { val t = r(i) / cmad; val u = 1.0 - t * t; u * u }
      else 0.0
    }
  }

  /** Public loess helper (degree 1, jump 1) retained for tests and
    * composition. */
  private[models] def loess(ys: Array[Double], span: Int,
                            rw: Array[Double] = null): Array[Double] =
    smoothF(ys, span, 1, rw)

  /** STL decomposition of one series, statsmodels-default spans:
    * seasonal span 7, trend span = smallest odd ≥ 1.5·np/(1 − 1.5/ns),
    * low-pass span = smallest odd > np. `outerIters` robustness
    * iterations follow `innerIters` inner passes each, exactly the
    * Fortran driver loop (outer+1 total passes). */
  private[models] def stl(ys: Array[Double], period: Int,
                          seasonalSpan: Int = 7, innerIters: Int = 2,
                          outerIters: Int = 15)
      : (Array[Double], Array[Double]) = {
    val n = ys.length
    val np = period
    val ns = math.max(3, seasonalSpan) | 1
    val nt = {
      val t = math.ceil(1.5 * np / (1.0 - 1.5 / ns)).toInt
      if (t % 2 == 0) t + 1 else t
    }
    val nl = if (np % 2 == 0) np + 1 else np + 2 // smallest odd > period
    var trend = Array.fill(n)(0.0)
    var season: Array[Double] = null
    var rw: Array[Double] = null
    var k = 0
    var done = false
    while (!done) {
      val (s, t) = step(ys, np, ns, nt, nl, innerIters, rw, trend)
      season = s; trend = t
      k += 1
      if (k > outerIters) done = true
      else rw = rwts(ys, Array.tabulate(n)(i => t(i) + s(i)))
    }
    (trend, season)
  }

  /** DataFrame pipeline. `robust = true` runs the statsmodels-default
    * robust budget (inner 2, outer 15 — calibrated against the stored
    * statsmodels output, see StlCalibProbe: max per-point delta 2e-8 on
    * NYC-Taxi); `robust = false` the statsmodels non-robust budget
    * (inner 5, outer 0). */
  def decompose(df: DataFrame, series: String, ts: String, value: String,
                period: Int, robust: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sid, tss, ys) =>
      if (ys.length < 2 * period) Iterator.empty
      else {
        val (trend, seasonal) =
          if (robust) stl(ys, period)
          else stl(ys, period, innerIters = 5, outerIters = 0)
        ys.indices.iterator.map { i =>
          Out(sid, tss(i), ys(i), trend(i), seasonal(i),
            ys(i) - trend(i) - seasonal(i))
        }
      }
    }.toDF()
  }
}
