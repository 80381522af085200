package graft.models

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** M2: Kalman local-level model (reference `src/kalman_model.py:9-43`).
  *
  * State space: y_t = mu_t + eps (obs var h), mu_t = mu_{t-1} + eta
  * (state var q). Per series: MLE of (q, h) on the train region by
  * coordinate golden-section search on the exact filter log-likelihood,
  * then
  *  - train region: one-step-ahead filtered mean/std,
  *  - test region: dynamic forecast from the train boundary (no updates;
  *    variance grows P + k*q + h) — the `dynamic=True` run-out of
  *    kalman_model.py:19-43.
  *
  * Scale design: parallelism is across series (`groupByKey.mapGroups`,
  * SURVEY §4(4)); one series' recursion is inherently sequential. Series
  * are bounded (~1e4-1e5 rows) per SURVEY §7.4(7); the streaming analogue
  * carries (level, variance) in flatMapGroupsWithState.
  */
object KalmanLocalLevel {

  case class Out(series_id: String, ts: Timestamp, value: Double,
                 pred_mean: Double, pred_std: Double, resid: Double,
                 split: String)

  /** Filter log-likelihood + final state for fixed (q, h). */
  private[models] def loglik(ys: Array[Double], q: Double, h: Double)
      : (Double, Double, Double) = {
    var mu = ys(0); var p = 1e7 // diffuse init on the first obs
    var ll = 0.0
    var i = 1
    while (i < ys.length) {
      val pPred = p + q
      val f = pPred + h
      val v = ys(i) - mu
      ll += -0.5 * (math.log(2 * math.Pi * f) + v * v / f)
      val kGain = pPred / f
      mu += kGain * v
      p = (1 - kGain) * pPred
      i += 1
    }
    (ll, mu, p)
  }

  /** Golden-section max of f over [lo, hi] (log-space). */
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

  /** MLE of (q, h) by two rounds of coordinate golden-section in
    * log-variance space. */
  private[models] def fit(train: Array[Double]): (Double, Double) = {
    val v0 = {
      val m = train.sum / train.length
      math.max(train.map(x => (x - m) * (x - m)).sum / train.length, 1e-8)
    }
    var lq = math.log(v0 / 10); var lh = math.log(v0)
    var round = 0
    while (round < 3) {
      lq = golden(lq - 8, lq + 8, 40)(x =>
        loglik(train, math.exp(x), math.exp(lh))._1)
      lh = golden(lh - 8, lh + 8, 40)(x =>
        loglik(train, math.exp(lq), math.exp(x))._1)
      round += 1
    }
    (math.exp(lq), math.exp(lh))
  }

  /** Run the pipeline: fit on the first `trainFrac` of each series, emit
    * one-step-ahead predictions on train and a dynamic forecast on test. */
  def run(df: DataFrame, series: String, ts: String, value: String,
          trainFrac: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sid, tss, ys) =>
      val n = ys.length
      val trainEnd = (n * trainFrac).toInt
      if (trainEnd < 8) Iterator.empty
      else {
        val train = ys.slice(0, trainEnd)
        val (q, h) = fit(train)
        // filtered pass over train: one-step-ahead prediction per row
        var mu = ys(0); var p = 1e7
        val out = new Array[Out](n)
        var i = 0
        while (i < n) {
          val (pm, pv) =
            if (i == 0) (ys(0), p + q + h)
            else (mu, p + q + h)
          if (i < trainEnd) {
            out(i) = Out(sid, tss(i), ys(i), pm, math.sqrt(pv),
              ys(i) - pm, "Train")
            if (i > 0) { // standard update
              val pPred = p + q
              val f = pPred + h
              val kGain = pPred / f
              mu += kGain * (ys(i) - mu)
              p = (1 - kGain) * pPred
            }
          } else {
            // dynamic forecast: no updates past the train boundary
            val kAhead = i - trainEnd + 1
            val vDyn = p + kAhead * q + h
            out(i) = Out(sid, tss(i), ys(i), mu, math.sqrt(vDyn),
              ys(i) - mu, "Test")
          }
          i += 1
        }
        out.iterator
      }
    }.toDF()
  }
}
