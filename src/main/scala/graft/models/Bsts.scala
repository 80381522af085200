package graft.models

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** M3: Bayesian structural time series — local linear trend plus one or
  * more seasonal components, the capability of statsmodels
  * UnobservedComponents as configured by the reference
  * (`src/bsts_model.py:12-50`): either trigonometric
  * (freq_seasonal=[{period, harmonics ≤ 10}], harmonic cap at
  * bsts_model.py:27-29) or the stochastic dummy-variable seasonal
  * (`seasonal=period`, bsts_model.py:36-42 — the notebook's daily-only
  * NYC-Taxi configuration). Forecast with CI over the test region
  * (`dynamic=True` run-out, bsts_model.py:52-71).
  *
  * State: [level, slope] ⊕ one 2-dim rotation block per harmonic for a
  * trig component, ⊕ a (period−1)-dim companion block for a dummy
  * component (s_t = −Σ_{j=1..period−1} s_{t−j} + noise; the remaining
  * states shift down, noise enters the driving state only).
  * Variance parameters are fitted per series by MLE — coordinate
  * golden-section ascent in log-variance space on the exact filter
  * log-likelihood, the same pattern as [[KalmanLocalLevel.fit]] but over
  * (h, qLevel, qSlope, qSeas per seasonal component). statsmodels
  * optimizer-trajectory parity is out of scope (SURVEY §7.4(1)); the
  * golden tests are tolerance-based.
  *
  * Scale: same mapGroups-per-series contract as M2. The filter exploits
  * the block structure of the transition matrix (trend 2×2 + per-harmonic
  * rotations), so one step costs O(d²) rather than the O(d³) of a dense
  * triple product — at the reference's enhanced config (periods [48,336],
  * 10 harmonics each, d=42) that is the difference between seconds and
  * minutes per series for the MLE's ~10² likelihood evaluations.
  */
object Bsts {

  case class Out(series_id: String, ts: Timestamp, value: Double,
                 bsts_mean: Double, bsts_lower: Double, bsts_upper: Double,
                 split: String)

  /** Seasonal component spec: statsmodels' two representations
    * (bsts_model.py:27-42). */
  sealed trait Seasonal extends Serializable
  /** Trigonometric (freq_seasonal): `harmonics` 2-dim rotation blocks. */
  case class Trig(period: Double, harmonics: Int) extends Seasonal
  /** Stochastic dummy-variable seasonal (`seasonal=period`): one
    * (period−1)-dim companion block, noise on the driving state. */
  case class Dummy(period: Int) extends Seasonal {
    require(period >= 2)
  }

  private def trig(seasonal: Seq[(Double, Int)]): Seq[Seasonal] =
    seasonal.map { case (p, h) => Trig(p, h) }

  /** State-space model for fixed variances; one qSeas per component.
    * All hot loops are on raw arrays (row-major P). Serializable +
    * graft-visible so the streaming variant can capture one instance in
    * its flatMapGroupsWithState closure. */
  private[graft] class Model(components: Seq[Seasonal],
                             qLevel: Double, qSlope: Double,
                             qSeas: Seq[Double], val h: Double)
      extends Serializable {
    require(components.nonEmpty && components.size == qSeas.size)

    def this(seasonal: Seq[(Double, Int)], qLevel: Double, qSlope: Double,
             qSeas: Seq[Double], h: Double)(implicit d: DummyImplicit) =
      this(trig(seasonal), qLevel, qSlope, qSeas, h)

    val d: Int = 2 + components.map {
      case Trig(_, harm) => 2 * harm
      case Dummy(period) => period - 1
    }.sum

    // state layout, built in component order:
    //  - trig: per-harmonic rotation blocks (state index, cos λ, sin λ)
    //  - dummy: companion blocks (state index, size = period−1)
    private val (blocks, dumBlocks, zTail, qDiag) = {
      val tb = Array.newBuilder[(Int, Double, Double)]
      val db = Array.newBuilder[(Int, Int)]
      val z = Array.newBuilder[Int]
      val q = new Array[Double](d)
      q(0) = qLevel; q(1) = qSlope
      var i = 2
      for ((comp, qs) <- components.zip(qSeas)) comp match {
        case Trig(period, harm) =>
          for (j <- 1 to harm) {
            val lam = 2 * math.Pi * j / period
            tb += ((i, math.cos(lam), math.sin(lam)))
            z += i
            q(i) = qs; q(i + 1) = qs
            i += 2
          }
        case Dummy(period) =>
          db += ((i, period - 1))
          z += i
          q(i) = qs // statsmodels puts the seasonal noise on state 0 only
          i += period - 1
      }
      (tb.result(), db.result(), z.result(), q)
    }
    // observation picks level + the leading state of every seasonal block
    private val zIdx: Array[Int] = 0 +: zTail

    private def tVec(a: Array[Double]): Unit = {
      a(0) += a(1)
      var b = 0
      while (b < blocks.length) {
        val (i, c, s) = blocks(b)
        val x = a(i); val y = a(i + 1)
        a(i) = c * x + s * y; a(i + 1) = -s * x + c * y
        b += 1
      }
      b = 0
      while (b < dumBlocks.length) {
        val (i, m) = dumBlocks(b)
        var sum = 0.0; var j = 0
        while (j < m) { sum += a(i + j); j += 1 }
        System.arraycopy(a, i, a, i + 1, m - 1) // shift states down one
        a(i) = -sum
        b += 1
      }
    }

    /** P := T P (left-multiply rows of row-major P). */
    private def tRows(p: Array[Double]): Unit = {
      var j = 0
      while (j < d) { p(j) += p(d + j); j += 1 }
      var b = 0
      while (b < blocks.length) {
        val (i, c, s) = blocks(b)
        val r0 = i * d; val r1 = r0 + d
        var k = 0
        while (k < d) {
          val x = p(r0 + k); val y = p(r1 + k)
          p(r0 + k) = c * x + s * y; p(r1 + k) = -s * x + c * y
          k += 1
        }
        b += 1
      }
      b = 0
      while (b < dumBlocks.length) {
        val (i, m) = dumBlocks(b)
        // column sums over rows i..i+m-1, then shift the whole row block
        // down by one row in a single overlapping arraycopy
        val s = new Array[Double](d)
        var r = 0
        while (r < m) {
          val base = (i + r) * d
          var c = 0
          while (c < d) { s(c) += p(base + c); c += 1 }
          r += 1
        }
        System.arraycopy(p, i * d, p, (i + 1) * d, (m - 1) * d)
        var c = 0
        while (c < d) { p(i * d + c) = -s(c); c += 1 }
        b += 1
      }
    }

    /** P := P Tᵀ (right-multiply columns). */
    private def tCols(p: Array[Double]): Unit = {
      var r = 0
      while (r < d) { p(r * d) += p(r * d + 1); r += 1 }
      var b = 0
      while (b < blocks.length) {
        val (i, c, s) = blocks(b)
        var row = 0
        while (row < d) {
          val base = row * d
          val x = p(base + i); val y = p(base + i + 1)
          p(base + i) = c * x + s * y; p(base + i + 1) = -s * x + c * y
          row += 1
        }
        b += 1
      }
      b = 0
      while (b < dumBlocks.length) {
        val (i, m) = dumBlocks(b)
        var row = 0
        while (row < d) {
          val base = row * d
          var sum = 0.0; var c = 0
          while (c < m) { sum += p(base + i + c); c += 1 }
          System.arraycopy(p, base + i, p, base + i + 1, m - 1)
          p(base + i) = -sum
          row += 1
        }
        b += 1
      }
    }

    /** One time-update: a := T a; P := T P Tᵀ + Q. */
    private def predictStep(a: Array[Double], p: Array[Double]): Unit = {
      tVec(a); tRows(p); tCols(p)
      var i = 0
      while (i < d) { p(i * d + i) += qDiag(i); i += 1 }
    }

    private def zDot(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < zIdx.length) { s += a(zIdx(i)); i += 1 }
      s
    }

    /** Filter ys from (a, P) IN PLACE; returns loglik. Optional output
      * arrays receive the one-step prediction mean/variance per row. */
    def filter(ys: Array[Double], a: Array[Double], p: Array[Double],
               outMean: Array[Double] = null,
               outVar: Array[Double] = null): Double = {
      val nz = zIdx.length
      val zp = new Array[Double](d)
      val kv = new Array[Double](d)
      var ll = 0.0
      var t = 0
      while (t < ys.length) {
        predictStep(a, p)
        // zp = Z P (column sums over observed rows); k = P Zᵀ (row sums)
        var j = 0
        while (j < d) {
          var s1 = 0.0; var s2 = 0.0; var i = 0
          while (i < nz) {
            val z = zIdx(i)
            s1 += p(z * d + j)      // (Z P)_j
            s2 += p(j * d + z)      // (P Zᵀ)_j
            i += 1
          }
          zp(j) = s1; kv(j) = s2
          j += 1
        }
        var f = h
        var i2 = 0
        while (i2 < nz) { f += zp(zIdx(i2)); i2 += 1 }
        val mu = zDot(a)
        val v = ys(t) - mu
        if (outMean != null) outMean(t) = mu
        if (outVar != null) outVar(t) = f
        ll += -0.5 * (math.log(2 * math.Pi * f) + v * v / f)
        var i3 = 0
        while (i3 < d) { kv(i3) /= f; i3 += 1 }
        i3 = 0
        while (i3 < d) { a(i3) += kv(i3) * v; i3 += 1 }
        var r = 0
        while (r < d) {
          val base = r * d; val kr = kv(r)
          var c = 0
          while (c < d) { p(base + c) -= kr * zp(c); c += 1 }
          r += 1
        }
        t += 1
      }
      ll
    }

    /** Dynamic forecast from state (a, P), NOT mutated: mean + obs var. */
    def forecast(a0: Array[Double], p0: Array[Double], steps: Int)
        : (Array[Double], Array[Double]) = {
      val a = a0.clone(); val p = p0.clone()
      val mean = new Array[Double](steps); val varr = new Array[Double](steps)
      val nz = zIdx.length
      var t = 0
      while (t < steps) {
        predictStep(a, p)
        mean(t) = zDot(a)
        var f = h
        var i = 0
        while (i < nz) {
          var j = 0
          while (j < nz) { f += p(zIdx(i) * d + zIdx(j)); j += 1 }
          i += 1
        }
        varr(t) = f
        t += 1
      }
      (mean, varr)
    }

    def initState(y0: Double, p0diag: Double): (Array[Double], Array[Double]) = {
      val a = new Array[Double](d); a(0) = y0
      val p = new Array[Double](d * d)
      var i = 0
      while (i < d) { p(i * d + i) = p0diag; i += 1 }
      (a, p)
    }
  }

  /** Golden-section max of f over [lo, hi]. */
  private def golden(lo0: Double, hi0: Double, iters: Int)(f: Double => Double)
      : Double = {
    val phi = (math.sqrt(5.0) - 1) / 2
    var lo = lo0; var hi = hi0
    var c = hi - phi * (hi - lo); var d = lo + phi * (hi - lo)
    var fc = f(c); var fd = f(d)
    var i = 0
    while (i < iters) {
      if (fc > fd) { hi = d; d = c; fd = fc; c = hi - phi * (hi - lo); fc = f(c) }
      else { lo = c; c = d; fc = fd; d = lo + phi * (hi - lo); fd = f(d) }
      i += 1
    }
    (lo + hi) / 2
  }

  /** MLE of (qLevel, qSlope, qSeas.., h) by coordinate golden-section in
    * log-variance space (the [[KalmanLocalLevel.fit]] pattern widened to
    * 3 + #seasonal parameters). Start points are the train-variance
    * heuristics the fixed-variance mode used. */
  private[models] def fit(train: Array[Double], seasonal: Seq[Seasonal],
                          rounds: Int = 2, goldenIters: Int = 12)
      : (Double, Double, Seq[Double], Double) = {
    val m0 = train.sum / train.length
    val v0 = math.max(
      train.map(x => (x - m0) * (x - m0)).sum / train.length, 1e-8)
    val nSeas = seasonal.size
    // log-variance parameter vector: [h, qLevel, qSlope, qSeas...]
    val p = Array(math.log(v0 * 0.5), math.log(v0 * 1e-2),
      math.log(v0 * 1e-4)) ++ Array.fill(nSeas)(math.log(v0 * 1e-3))
    def ll(ps: Array[Double]): Double = {
      val model = new Model(seasonal, math.exp(ps(1)), math.exp(ps(2)),
        (0 until nSeas).map(i => math.exp(ps(3 + i))), math.exp(ps(0)))
      val (a, pm) = model.initState(train(0), v0 * 1e3)
      model.filter(train, a, pm)
    }
    var r = 0
    while (r < rounds) {
      var i = 0
      while (i < p.length) {
        val fixed = p.clone()
        p(i) = golden(p(i) - 6, p(i) + 6, goldenIters) { x =>
          fixed(i) = x; ll(fixed)
        }
        i += 1
      }
      r += 1
    }
    (math.exp(p(1)), math.exp(p(2)),
      (0 until nSeas).map(i => math.exp(p(3 + i))), math.exp(p(0)))
  }

  /** Pipeline over every series: MLE-fit variances on the train region
    * (or train-variance-scaled fixed values when `mle=false`), filter the
    * train region emitting one-step predictions, then dynamically
    * forecast the rest with a 1.96σ CI. */
  def run(df: DataFrame, series: String, ts: String, value: String,
          seasonal: Seq[Seasonal], trainFrac: Double,
          mle: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sid, tss, ys) =>
      val n = ys.length
      val trainEnd = (n * trainFrac).toInt
      if (trainEnd < 12) Iterator.empty
      else {
        val train = ys.slice(0, trainEnd)
        val m0 = train.sum / trainEnd
        val v0 = math.max(
          train.map(x => (x - m0) * (x - m0)).sum / trainEnd, 1e-8)
        val (qLevel, qSlope, qSeas, h) =
          if (mle) fit(train, seasonal)
          else (v0 * 1e-2, v0 * 1e-4, seasonal.map(_ => v0 * 1e-3), v0 * 0.5)
        val model = new Model(seasonal, qLevel, qSlope, qSeas, h)
        val (a, p) = model.initState(ys(0), v0 * 1e3)
        val oneMean = new Array[Double](trainEnd)
        val oneVar = new Array[Double](trainEnd)
        model.filter(train, a, p, oneMean, oneVar)
        val out = new Array[Out](n)
        var t = 0
        while (t < trainEnd) {
          val sd = math.sqrt(oneVar(t))
          out(t) = Out(sid, tss(t), ys(t), oneMean(t),
            oneMean(t) - 1.96 * sd, oneMean(t) + 1.96 * sd, "Train")
          t += 1
        }
        val (fm, fv) = model.forecast(a, p, n - trainEnd)
        while (t < n) {
          val j = t - trainEnd
          val sd = math.sqrt(fv(j))
          out(t) = Out(sid, tss(t), ys(t), fm(j), fm(j) - 1.96 * sd,
            fm(j) + 1.96 * sd, "Test")
          t += 1
        }
        out.iterator
      }
    }.toDF()
  }

  /** Tuple-spec convenience: (period, harmonics) pairs = all-trig. */
  def run(df: DataFrame, series: String, ts: String, value: String,
          seasonal: Seq[(Double, Int)], trainFrac: Double, mle: Boolean)(
          implicit dummy: DummyImplicit): DataFrame =
    run(df, series, ts, value, trig(seasonal), trainFrac, mle)

  /** Single-seasonal convenience (the original M3 surface). */
  def run(df: DataFrame, series: String, ts: String, value: String,
          period: Double = 48, harmonics: Int = 3,
          trainFrac: Double = 0.5): DataFrame =
    run(df, series, ts, value, Seq(Trig(period, harmonics)), trainFrac,
      mle = true)

  // expose variance knobs through the Model for tests
  private[models] def model(period: Double, harmonics: Int, qLevel: Double,
                            qSlope: Double, qSeas: Double, h: Double): Model =
    new Model(Seq(Trig(period, harmonics)), qLevel, qSlope, Seq(qSeas), h)
}
