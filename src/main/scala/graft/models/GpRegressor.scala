package graft.models

import java.sql.Timestamp

import breeze.linalg.{cholesky, DenseMatrix, DenseVector}
import org.apache.spark.sql.DataFrame

/** M4: Gaussian-process regression with the reference's composite kernel
  * `C·RBF + C·ExpSineSquared(period) [+ C·ExpSineSquared(period2)] +
  * White` over the time ordinal (reference `src/gp_model.py:8-42`,
  * `src/run_gp.py:19-45`). Train on the LAST `subsample` train points
  * (the O(N³) guard of run_gp.py:62-67 — kept, it is semantics), predict
  * mean + std on the test region.
  *
  * Hyperparameters are ML-II fitted: exact log-marginal likelihood over
  * a small deterministic grid picks the basin, then Nelder-Mead in
  * log-space polishes from two deterministic restarts (grid winner +
  * sklearn defaults; see `fitKernel`) — the behavioral twin of
  * sklearn's restarted gradient optimizer (`n_restarts_optimizer=3`)
  * (gp_model.py:31; closes the SURVEY §7.4(2) delta; `optimize = false`
  * pins the fixed default). y is normalized (sklearn `normalize_y=True`)
  * and x scaled to the subsample index.
  *
  * Scale: per-series driver-side math inside `mapGroups` — the subsample
  * cap bounds each fit at O(subsample³) regardless of series length;
  * parallelism is across series.
  */
object GpRegressor {

  case class Out(series_id: String, ts: Timestamp, value: Double,
                 pred_mean: Double, pred_std: Double, split: String)

  private[models] case class Kernel(cRbf: Double, lRbf: Double,
                                    cPer: Double, lPer: Double, period: Double,
                                    cPer2: Double, lPer2: Double,
                                    period2: Double, white: Double) {
    def apply(a: Double, b: Double): Double = {
      val d = a - b
      var k = cRbf * math.exp(-d * d / (2 * lRbf * lRbf))
      val s = math.sin(math.Pi * math.abs(d) / period)
      k += cPer * math.exp(-2 * s * s / (lPer * lPer))
      if (cPer2 > 0) {
        val s2 = math.sin(math.Pi * math.abs(d) / period2)
        k += cPer2 * math.exp(-2 * s2 * s2 / (lPer2 * lPer2))
      }
      k
    }
  }

  /** True iff `xs` is the consecutive unit grid xs(0), xs(0)+1, … —
    * the shape `run` always produces (ordinal indices). On a unit grid
    * every kernel value depends only on the INTEGER index distance, so
    * the n×n kernel matrix is Toeplitz with n distinct entries: the
    * fast path below computes each distinct value once and copies it,
    * which is bit-identical to evaluating the kernel per cell (the
    * kernel is a function of d = a − b through d² and |d|, and unit-
    * grid differences are exact in double arithmetic), but replaces
    * O(n²) exp/sin evaluations per LML call with O(n). The ML-II fit
    * costs ~200 LML evaluations per series — this is its hot loop. */
  private def unitGrid(xs: Array[Double]): Boolean = {
    // exactness guard (ADVICE r18): the Toeplitz path's bit-identity
    // argument needs fl(x0+i) − fl(x0+j) == i − j EXACTLY, which holds
    // when x0 is an integer and the whole grid stays below 2^52 (every
    // grid value then a representable integer, differences exact).
    // A fractional or huge origin (x0 = 0.3, x0 > 2^52) could pass the
    // consecutive-check below while its differences round — run()
    // always passes 1-based ordinals, but external callers might not.
    if (xs.isEmpty || xs(0) != math.rint(xs(0)) ||
      math.abs(xs(0)) + xs.length >= 4503599627370496.0) return false
    var k = 1
    while (k < xs.length) {
      if (xs(k) != xs(0) + k) return false
      k += 1
    }
    true
  }

  /** kernel values by integer distance 0..maxD (kernel(a,b) = f(a−b)
    * and f(−m) = f(m) exactly: d enters as d² and |d|). */
  private def kernelByDist(kernel: Kernel, maxD: Int): Array[Double] = {
    val kv = new Array[Double](maxD + 1)
    var m = 0
    while (m <= maxD) { kv(m) = kernel(0.0, m.toDouble); m += 1 }
    kv
  }

  /** Train-kernel Gram matrix with the white/jitter diagonal — Toeplitz
    * fast path on a unit grid, per-cell evaluation otherwise. */
  private def gramMatrix(xTrain: Array[Double], kernel: Kernel)
      : DenseMatrix[Double] = {
    val n = xTrain.length
    if (unitGrid(xTrain)) {
      val kv = kernelByDist(kernel, n - 1)
      val M = DenseMatrix.zeros[Double](n, n)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          M(i, j) = kv(math.abs(i - j)) +
            (if (i == j) kernel.white + 1e-8 else 0.0)
          j += 1
        }
        i += 1
      }
      M
    } else DenseMatrix.tabulate(n, n) { (i, j) =>
      kernel(xTrain(i), xTrain(j)) + (if (i == j) kernel.white + 1e-8 else 0.0)
    }
  }

  /** Exact log-marginal likelihood of the (normalized) train data under
    * a kernel — the ML-II model-selection objective (sklearn optimizes
    * this by gradient; we grid-search it, SURVEY §7.4(2)). */
  private[models] def logMarginal(xTrain: Array[Double],
                                  yTrain: Array[Double],
                                  kernel: Kernel): Double = {
    val n = xTrain.length
    val yMean = yTrain.sum / n
    val yStd = math.max(math.sqrt(
      yTrain.map(v => (v - yMean) * (v - yMean)).sum / n), 1e-9)
    val y = DenseVector(yTrain.map(v => (v - yMean) / yStd))
    val K = gramMatrix(xTrain, kernel)
    val L = cholesky(K)
    val z = lowerSolve(L, y)
    val alpha = upperSolve(L, z)
    var logDet = 0.0
    var i = 0
    while (i < n) { logDet += math.log(L(i, i)); i += 1 }
    -0.5 * (y dot alpha) - logDet - n / 2.0 * math.log(2 * math.Pi)
  }

  /** Pick the best kernel from a candidate grid by log-marginal
    * likelihood (first-best on ties for determinism). */
  private[models] def selectKernel(xTrain: Array[Double],
                                   yTrain: Array[Double],
                                   candidates: Seq[Kernel]): Kernel =
    candidates.maxBy(k => (logMarginal(xTrain, yTrain, k), -candidates.indexOf(k)))

  // ---- ML-II hyperparameter fit (Nelder-Mead on the exact LML) ---------

  /** sklearn-style log-space bounds (default (1e-5, 1e5) per kernel
    * hyperparameter in gp_model.py's kernels). */
  private val LogLo = math.log(1e-5)
  private val LogHi = math.log(1e5)

  private def clamp(v: Double): Double = math.min(LogHi, math.max(LogLo, v))

  /** θ (log-space) → Kernel with the periods held fixed. 5 free params
    * without a second seasonal, 7 with. */
  private def thetaToKernel(theta: Array[Double], period: Double,
                            period2: Double): Kernel = {
    val t = theta.map(clamp)
    Kernel(cRbf = math.exp(t(0)), lRbf = math.exp(t(1)),
      cPer = math.exp(t(2)), lPer = math.exp(t(3)), period = period,
      cPer2 = if (period2 > 0) math.exp(t(5)) else 0.0,
      lPer2 = if (period2 > 0) math.exp(t(6)) else 1.0,
      period2 = period2, white = math.exp(t(4)))
  }

  private def kernelToTheta(k: Kernel): Array[Double] = {
    val base = Array(math.log(k.cRbf), math.log(k.lRbf), math.log(k.cPer),
      math.log(k.lPer), math.log(k.white))
    if (k.period2 > 0)
      base ++ Array(math.log(math.max(k.cPer2, 1e-5)), math.log(k.lPer2))
    else base
  }

  /** Deterministic Nelder-Mead MINIMIZING `f` (standard α=1 γ=2 ρ=0.5
    * σ=0.5 coefficients, axis-step initial simplex). No RNG — restarts
    * come from distinct deterministic seeds, so per-series fits are
    * reproducible regardless of partitioning (fixture-oracle safe). */
  private[models] def nelderMead(f: Array[Double] => Double,
                                 x0: Array[Double], step: Double = 0.4,
                                 maxIter: Int = 40, tol: Double = 1e-2)
      : (Array[Double], Double) = {
    val d = x0.length
    var pts = (x0 +: (0 until d).map { i =>
      val x = x0.clone(); x(i) += step; x
    }).toArray
    var fv = pts.map(f)
    var iter = 0
    while (iter < maxIter && {
      val sorted = fv.sorted
      sorted.last - sorted.head > tol
    }) {
      val order = fv.zipWithIndex.sortBy(_._1).map(_._2)
      pts = order.map(pts)
      fv = order.map(fv)
      val worst = d
      val centroid = new Array[Double](d)
      for (j <- 0 until d; i <- 0 until d) centroid(i) += pts(j)(i) / d
      def at(coef: Double): Array[Double] =
        Array.tabulate(d)(i => centroid(i) + coef * (pts(worst)(i) - centroid(i)))
      val xr = at(-1.0); val fr = f(xr)
      if (fr < fv(0)) {
        val xe = at(-2.0); val fe = f(xe)
        if (fe < fr) { pts(worst) = xe; fv(worst) = fe }
        else { pts(worst) = xr; fv(worst) = fr }
      } else if (fr < fv(worst - 1)) {
        pts(worst) = xr; fv(worst) = fr
      } else {
        val xc = at(if (fr < fv(worst)) -0.5 else 0.5)
        val fc = f(xc)
        if (fc < math.min(fr, fv(worst))) { pts(worst) = xc; fv(worst) = fc }
        else { // shrink toward best
          for (j <- 1 to d) {
            for (i <- 0 until d) pts(j)(i) = pts(0)(i) + 0.5 * (pts(j)(i) - pts(0)(i))
            fv(j) = f(pts(j))
          }
        }
      }
      iter += 1
    }
    val bi = fv.indexOf(fv.min)
    (pts(bi), fv(bi))
  }

  /** ML-II fit: maximize the exact LML over log-hyperparameters with
    * Nelder-Mead from two deterministic restarts — the grid winner and
    * the gp_model.py:25-27 defaults — the behavioral twin of sklearn's
    * restarted gradient optimizer (gp_model.py:31; SURVEY §7.4(2) delta
    * closed) with a budget tuned to what the objective rewards: each
    * restart costs ~60 Cholesky factorizations of the train kernel, and
    * LML gains below the NM tolerance (1e-2) never move a detection
    * flag, so a third (perturbed) restart bought nothing measurable at
    * 4× the grid-only query cost. Periods stay fixed: the reference
    * pins periodicity to ±1 of the configured value
    * (periodicity_bounds=(47,49)), a sliver the optimizer never
    * meaningfully leaves. A failed Cholesky inside a trial step scores
    * -∞ and the step is rejected. */
  private[models] def fitKernel(xTrain: Array[Double], yTrain: Array[Double],
                                candidates: Seq[Kernel], period: Double,
                                period2: Double): Kernel = {
    def lml(k: Kernel): Double =
      try logMarginal(xTrain, yTrain, k)
      catch { case _: Exception => Double.NegativeInfinity }
    def neg(theta: Array[Double]): Double = {
      val v = -lml(thetaToKernel(theta, period, period2))
      if (v.isNaN) Double.PositiveInfinity else v
    }
    val gridBest = selectKernel(xTrain, yTrain, candidates)
    val defaults = Kernel(cRbf = 1.0, lRbf = 50.0, cPer = 0.5, lPer = 1.0,
      period = period, cPer2 = if (period2 > 0) 0.5 else 0.0, lPer2 = 1.0,
      period2 = period2, white = 0.1)
    val seeds = Seq(
      kernelToTheta(gridBest),
      kernelToTheta(defaults))
    val (bestTheta, bestNeg) = seeds.map(nelderMead(neg, _))
      .minBy(_._2)
    // never regress below the grid winner (NM from a bad basin could)
    if (-bestNeg >= lml(gridBest)) thetaToKernel(bestTheta, period, period2)
    else gridBest
  }

  /** Exact GP posterior on a 1-D ordinal grid. */
  private[models] def predict(xTrain: Array[Double], yTrain: Array[Double],
                              xTest: Array[Double], kernel: Kernel)
      : (Array[Double], Array[Double]) = {
    val n = xTrain.length
    val yMean = yTrain.sum / n
    val yStd = math.max(math.sqrt(
      yTrain.map(v => (v - yMean) * (v - yMean)).sum / n), 1e-9)
    val y = DenseVector(yTrain.map(v => (v - yMean) / yStd))
    val K = gramMatrix(xTrain, kernel)
    val L = cholesky(K)
    // alpha = K^-1 y via two triangular solves
    val z = lowerSolve(L, y)
    val alpha = upperSolve(L, z)
    val m = xTest.length
    val mean = new Array[Double](m); val std = new Array[Double](m)
    // cross-kernel Toeplitz fast path: when train AND test sit on the
    // SAME unit grid (test offset from train start by an exact integer,
    // as `run` constructs them), k(xTrain(i), xTest(j)) depends only on
    // the integer index distance — same bit-exact argument as
    // `gramMatrix` (`unitGrid` Scaladoc)
    val off: Int =
      if (m > 0 && unitGrid(xTrain) && unitGrid(xTest) && {
        val d = xTest(0) - xTrain(0)
        d == math.rint(d) && math.abs(d) <= Int.MaxValue.toDouble
      }) (xTest(0) - xTrain(0)).toInt
      else Int.MinValue
    // |off + j − i| over j ∈ [0,m), i ∈ [0,n) is maximized at a corner
    val kvCross: Array[Double] =
      if (off != Int.MinValue)
        kernelByDist(kernel,
          math.max(math.abs(off + m - 1), math.abs(off - (n - 1))))
      else null
    var j = 0
    while (j < m) {
      val ks =
        if (kvCross != null)
          DenseVector.tabulate(n)(i => kvCross(math.abs(off + j - i)))
        else DenseVector.tabulate(n)(i => kernel(xTrain(i), xTest(j)))
      val mu = (ks dot alpha) * yStd + yMean
      val v = lowerSolve(L, ks)
      val varf = (if (kvCross != null) kvCross(0)
        else kernel(xTest(j), xTest(j))) + kernel.white - (v dot v)
      mean(j) = mu
      std(j) = math.sqrt(math.max(varf, 1e-12)) * yStd
      j += 1
    }
    (mean, std)
  }

  private def lowerSolve(l: DenseMatrix[Double], b: DenseVector[Double])
      : DenseVector[Double] = {
    val n = b.length
    val x = DenseVector.zeros[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i)
      var j = 0
      while (j < i) { s -= l(i, j) * x(j); j += 1 }
      x(i) = s / l(i, i)
      i += 1
    }
    x
  }

  private def upperSolve(l: DenseMatrix[Double], b: DenseVector[Double])
      : DenseVector[Double] = {
    val n = b.length
    val x = DenseVector.zeros[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= l(j, i) * x(j); j += 1 }
      x(i) = s / l(i, i)
      i -= 1
    }
    x
  }

  /** Pipeline: per series, fit on the last `subsample` train rows and
    * predict the test region (train rows score mean=value, std→0-filled
    * downstream like run_hybrid.py:55-72). */
  def run(df: DataFrame, series: String, ts: String, value: String,
          trainFrac: Double = 0.5, subsample: Int = 1000,
          period: Double = 48, period2: Double = 0,
          optimize: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def mk(l: Double, w: Double) = Kernel(cRbf = 1.0, lRbf = l,
      cPer = 0.5, lPer = 1.0, period = period,
      cPer2 = if (period2 > 0) 0.5 else 0.0, lPer2 = 1.0, period2 = period2,
      white = w)
    val kernel = mk(50.0, 0.1)
    val candidates =
      for (l <- Seq(20.0, 50.0, 100.0); w <- Seq(0.01, 0.1, 0.5))
        yield mk(l, w)
    graft.core.Grouped.series(df, series, ts, value) { (sid, tss, ys) =>
      val n = ys.length
      val trainEnd = (n * trainFrac).toInt
      if (trainEnd < 8 || trainEnd >= n) Iterator.empty
      else {
        val s0 = math.max(0, trainEnd - subsample)
        val xTr = (s0 until trainEnd).map(_.toDouble).toArray
        val yTr = ys.slice(s0, trainEnd)
        val xTe = (trainEnd until n).map(_.toDouble).toArray
        val chosen =
          if (optimize) fitKernel(xTr, yTr, candidates, period, period2)
          else kernel
        val (mean, std) = predict(xTr, yTr, xTe, chosen)
        ys.indices.iterator.map { i =>
          if (i < trainEnd)
            Out(sid, tss(i), ys(i), ys(i), 0.0, "Train")
          else
            Out(sid, tss(i), ys(i), mean(i - trainEnd),
              std(i - trainEnd), "Test")
        }
      }
    }.toDF()
  }
}
