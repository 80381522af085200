package graft.models

import org.apache.spark.sql.DataFrame

/** PELT — Pruned Exact Linear Time changepoint detection (Killick,
  * Fearnhead & Eckley, JASA 2012). The OFFLINE exact complement to
  * the online changepoint tier (BOCPD M6, CUSUM L51): it returns the
  * globally optimal segmentation under a penalized cost, not a
  * sequential alarm.
  *
  * Cost model: mean-shift on the per-series STANDARDIZED values
  * (in-order Welford μ̂/σ̂, the A2/L51 convention), segment cost =
  * within-segment sum of squares computed from prefix sums in O(1):
  *   C(a..b) = Σz² − (Σz)²/n_seg
  * Penalty β = 3·ln(n) (the 2-parameter BIC rate — segment mean +
  * changepoint location — the `changepoint` R package default shape).
  *
  * The recursion F(t) = min_{τ∈R_t} F(τ) + C(τ+1..t) + β keeps the
  * PELT pruned candidate set R_t = {τ : F(τ) + C(τ+1..t) ≤ F(t)},
  * which makes the expected cost linear while PRESERVING EXACTNESS —
  * PeltSpec pins equality against the unpruned O(n²) optimal-
  * partitioning DP on every test series.
  *
  * Runs per series in `mapGroups` (deterministic for any partitioning
  * → fixture oracle); scale axis = series count, like every model in
  * this package. Returns one row per SEGMENT. */
object Pelt {

  case class SegOut(sk: String, seg_id: Long,
                    start_ts: java.sql.Timestamp,
                    end_ts: java.sql.Timestamp, n_points: Long,
                    seg_mean: Double)

  /** Optimal changepoint ordinals (segment END positions, exclusive,
    * ascending, excluding n) for standardized values `z` under
    * penalty `beta`. `prune = false` gives the unpruned OP DP — the
    * spec's exactness reference. */
  def segmentEnds(z: Array[Double], beta: Double,
                  prune: Boolean = true): List[Int] = {
    val n = z.length
    val s1 = new Array[Double](n + 1)  // prefix sums of z
    val s2 = new Array[Double](n + 1)  // prefix sums of z²
    var i = 0
    while (i < n) {
      s1(i + 1) = s1(i) + z(i)
      s2(i + 1) = s2(i) + z(i) * z(i)
      i += 1
    }
    def cost(a: Int, b: Int): Double = { // segment (a, b] of length b-a
      val m = b - a
      val su = s1(b) - s1(a)
      (s2(b) - s2(a)) - su * su / m
    }
    val f = new Array[Double](n + 1)
    val prev = new Array[Int](n + 1)
    f(0) = -beta
    var cand = List(0)
    var t = 1
    while (t <= n) {
      var best = Double.MaxValue
      var bestTau = 0
      for (tau <- cand) {
        val v = f(tau) + cost(tau, t) + beta
        if (v < best) { best = v; bestTau = tau }
      }
      f(t) = best
      prev(t) = bestTau
      if (prune)
        cand = t :: cand.filter(tau => f(tau) + cost(tau, t) <= f(t))
      else cand = t :: cand
      t += 1
    }
    // back-track segment boundaries
    var ends = List.empty[Int]
    var cur = n
    while (cur > 0) {
      if (prev(cur) > 0) ends = prev(cur) :: ends
      cur = prev(cur)
    }
    ends
  }

  /** Returns (series, seg_id, start_ts, end_ts, n_points, seg_mean) —
    * seg_mean on the ORIGINAL scale. Series shorter than 4 points are
    * a single segment by construction. */
  def segments(df: DataFrame, series: String, ts: String,
               value: String, betaFactor: Double = 3.0): DataFrame = {
    require(betaFactor > 0, s"betaFactor=$betaFactor must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    graft.core.Grouped.series(df, series, ts, value) { (sk, tss, y) =>
      val n = y.length
      if (n == 0) Iterator.empty
      else {
        val (mu, sd) = Spc.meanStd(y)
        val z = y.map(v => (v - mu) / sd)
        val beta = betaFactor * math.log(n.toDouble)
        val ends = (if (n >= 4) segmentEnds(z, beta) else Nil) ::: List(n)
        val starts = 0 :: ends.init
        starts.zip(ends).zipWithIndex.iterator.map {
          case ((a, b), segId) =>
            var s = 0.0
            var j = a
            while (j < b) { s += y(j); j += 1 }
            SegOut(sk, segId.toLong, tss(a), tss(b - 1),
              (b - a).toLong, s / (b - a))
        }
      }
    }.toDF("sk", "seg_id", "start_ts", "end_ts", "n_points", "seg_mean")
      .withColumnRenamed("sk", series)
  }
}
