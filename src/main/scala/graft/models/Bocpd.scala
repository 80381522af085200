package graft.models

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** M6: Bayesian online changepoint detection, Adams–MacKay recursion with
  * a Normal-Inverse-Gamma conjugate model and Student-t predictive
  * (reference `src/bocpd_model.py:5-115`, cleaned `src/changepoint.py`).
  *
  * Per point t: predictive probability of x_t under every run length r,
  * growth probabilities ×(1-H), changepoint mass ×H summed over r,
  * normalize with the reference's 1e-9 evidence epsilon
  * (changepoint.py:57), conjugate suffstat update. Output columns:
  * `cp_prob` = P(run length = 0 | x_1..t) aligned like
  * changepoint.py:98-107 (R[1:, 0]) — NOTE: with a constant hazard this
  * equals H·S/(S+1e-9) ≈ H identically (verified against the reference
  * recursion: the column is nearly constant and carries almost no
  * signal; preserved for parity) — and `map_run_length` = argmax of the
  * run-length posterior, whose reset to ~1 IS the changepoint signal.
  *
  * Input is z-normalized per series with POPULATION std (np.std ddof=0,
  * changepoint.py:89-92).
  *
  * Scale: run-length tails below `truncEps` are dropped and the
  * distribution renormalized — bounded state per series, which is what
  * makes the streaming `flatMapGroupsWithState` variant feasible
  * (SURVEY §2.10).
  */
object Bocpd {

  case class Out(series_id: String, ts: Timestamp, value: Double,
                 cp_prob: Double, map_run_length: Int)

  /** ln of the Student-t pdf with df nu, location mu, scale sigma. */
  private def lnStudentT(x: Double, nu: Double, mu: Double,
                         sigma: Double): Double = {
    import breeze.numerics.lgamma
    val z = (x - mu) / sigma
    lgamma((nu + 1) / 2) - lgamma(nu / 2) -
      0.5 * math.log(nu * math.Pi) - math.log(sigma) -
      (nu + 1) / 2 * math.log1p(z * z / nu)
  }

  /** One recursion step: observe x with run-length distribution r and
    * NIG suffstats; returns the (truncated, renormalized) next state plus
    * (cp_prob, map_run_length). Shared by the batch fold and the
    * streaming flatMapGroupsWithState operator. */
  def step(r: Array[Double], mu: Array[Double], kappa: Array[Double],
           alpha: Array[Double], beta: Array[Double], x: Double,
           hazard: Double = 1.0 / 100, mu0: Double = 0.0,
           kappa0: Double = 1.0, alpha0: Double = 1.0, beta0: Double = 1.0,
           truncEps: Double = 1e-10)
      : ((Array[Double], Array[Double], Array[Double], Array[Double],
          Array[Double]), Double, Int) = {
    val m = r.length
    val pred = new Array[Double](m)
    var i = 0
    while (i < m) {
      val nu = 2 * alpha(i)
      val scale = math.sqrt(beta(i) * (kappa(i) + 1) / (alpha(i) * kappa(i)))
      pred(i) = math.exp(lnStudentT(x, nu, mu(i), scale))
      i += 1
    }
    val grow = new Array[Double](m + 1)
    var cpMass = 0.0
    i = 0
    while (i < m) {
      val joint = r(i) * pred(i)
      grow(i + 1) = joint * (1 - hazard)
      cpMass += joint * hazard
      i += 1
    }
    grow(0) = cpMass
    var evidence = 0.0
    i = 0
    while (i <= m) { evidence += grow(i); i += 1 }
    evidence += 1e-9 // reference epsilon, changepoint.py:57
    i = 0
    while (i <= m) { grow(i) /= evidence; i += 1 }
    val cp = grow(0)
    var am = 0; var amv = grow(0)
    i = 1
    while (i <= m) { if (grow(i) > amv) { amv = grow(i); am = i }; i += 1 }
    // suffstat update: new run 0 gets the prior; run r+1 absorbs x
    val nmu = new Array[Double](m + 1); val nk = new Array[Double](m + 1)
    val na = new Array[Double](m + 1); val nb = new Array[Double](m + 1)
    nmu(0) = mu0; nk(0) = kappa0; na(0) = alpha0; nb(0) = beta0
    i = 0
    while (i < m) {
      nmu(i + 1) = (kappa(i) * mu(i) + x) / (kappa(i) + 1)
      nk(i + 1) = kappa(i) + 1
      na(i + 1) = alpha(i) + 0.5
      nb(i + 1) = beta(i) +
        kappa(i) * (x - mu(i)) * (x - mu(i)) / (2 * (kappa(i) + 1))
      i += 1
    }
    // truncate negligible tails for bounded state, renormalize
    var keep = m + 1
    while (keep > 1 && grow(keep - 1) < truncEps) keep -= 1
    var mass = 0.0
    i = 0
    while (i < keep) { mass += grow(i); i += 1 }
    val nr = new Array[Double](keep)
    i = 0
    while (i < keep) { nr(i) = grow(i) / mass; i += 1 }
    ((nr, nmu.take(keep), nk.take(keep), na.take(keep), nb.take(keep)),
      cp, am)
  }

  /** Run the recursion over one normalized series; returns cp_prob per
    * point (aligned to the observation that triggered it). */
  private[models] def detect(xs: Array[Double], hazard: Double = 1.0 / 100,
                             mu0: Double = 0.0, kappa0: Double = 1.0,
                             alpha0: Double = 1.0, beta0: Double = 1.0,
                             truncEps: Double = 1e-10)
      : (Array[Double], Array[Int]) = {
    val n = xs.length
    val cp = new Array[Double](n)
    val mapRun = new Array[Int](n)
    var st = (Array(1.0), Array(mu0), Array(kappa0), Array(alpha0),
      Array(beta0))
    var t = 0
    while (t < n) {
      val (ns, c, am) = step(st._1, st._2, st._3, st._4, st._5, xs(t),
        hazard, mu0, kappa0, alpha0, beta0, truncEps)
      st = ns
      cp(t) = c; mapRun(t) = am
      t += 1
    }
    (cp, mapRun)
  }

  /** DataFrame pipeline: z-normalize per series (ddof=0), run the
    * recursion per series, emit cp_prob. */
  def run(df: DataFrame, series: String, ts: String, value: String,
          hazard: Double = 1.0 / 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sid, tss, ys) =>
      val n = ys.length
      if (n < 3) Iterator.empty
      else {
        val mean = ys.sum / n
        val std = math.sqrt(ys.map(x => (x - mean) * (x - mean)).sum / n)
        val xs = ys.map(x => (x - mean) / (std + 1e-9))
        val (cp, mapRun) = detect(xs, hazard)
        ys.indices.iterator.map { i =>
          Out(sid, tss(i), ys(i), cp(i), mapRun(i))
        }
      }
    }.toDF()
  }
}
