package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.events.Events

/** Metric aggregates and the threshold sweep (SURVEY.md §2.4).
  *
  * Formulas mirror the reference's `src/evaluate.py` exactly, including
  * the `1e-9` epsilon guards (evaluate.py:6-25) and the business metrics'
  * day/minute unit conversions (evaluate.py:148-207).
  */
object Metrics {

  /** A5: pointwise confusion per key-group — TP/FP/FN + precision/recall/
    * F1 with the reference's 1e-9 epsilons (evaluate.py:6-25). */
  def pointwise(df: DataFrame, keys: Seq[String], truthFlag: String,
                predFlag: String, eps: Double = 1e-9): DataFrame = {
    val t = col(truthFlag); val p = col(predFlag)
    df.groupBy(keys.map(col): _*)
      .agg(
        sum(when(t === 1 && p === 1, 1).otherwise(0)).as("tp"),
        sum(when(t === 0 && p === 1, 1).otherwise(0)).as("fp"),
        sum(when(t === 1 && p === 0, 1).otherwise(0)).as("fn"))
      .withColumn("precision", col("tp") / (col("tp") + col("fp") + lit(eps)))
      .withColumn("recall", col("tp") / (col("tp") + col("fn") + lit(eps)))
      .withColumn("f1",
        lit(2) * col("precision") * col("recall") /
          (col("precision") + col("recall") + lit(eps)))
  }

  /** A8: anomaly rate `mean(flag)` per key-group (run_gp.py:105). */
  def anomalyRate(df: DataFrame, keys: Seq[String], flag: String,
                  out: String = "rate"): DataFrame =
    df.groupBy(keys.map(col): _*).agg(avg(col(flag)).as(out))

  /** A7/J4: business metrics per key-group (evaluate.py:148-207):
    * fp_count   = predicted events overlapping NO true event,
    * duration_days = (max ts - min ts) of the scored series span,
    * fp_per_day = fp_count / duration_days,
    * median_latency_minutes = exact median over detected true events of
    *   minutes from true start to earliest overlapping pred start.
    * `seriesDf` provides the time span (the frame the events were scored
    * on); pred/truth are eventize() outputs.
    */
  def business(seriesDf: DataFrame, keys: Seq[String], ts: String,
               pred: DataFrame, truth: DataFrame): DataFrame = {
    val (p, t, on) = Events.overlapSides(pred, truth, keys)
    val fpEvents = p.join(t, on, "left_anti")
      .groupBy(Events.unsided("p", keys): _*).agg(count(lit(1)).as("fp_count"))
    val span = seriesDf.groupBy(keys.map(col): _*)
      .agg(((unix_micros(max(col(ts))) - unix_micros(min(col(ts))))
        / lit(86400e6)).as("duration_days"))
    val lat = Events.detectionLatency(pred, truth, keys)
      .groupBy(keys.map(col): _*)
      .agg(median(col("latency_minutes")).as("median_latency_minutes"))
    span
      .join(fpEvents, keys, "left")
      .join(lat, keys, "left")
      .na.fill(0, Seq("fp_count"))
      // a single-point (or single-instant) series has a zero-day span;
      // ANSI division THROWS there (even for doubles — same hazard the
      // acf corr fix covers), and the SQL answer is NULL, not a crash
      .withColumn("fp_per_day",
        when(col("duration_days") =!= 0,
          col("fp_count") / col("duration_days")))
  }

  /** A10 + P6: event-F1 threshold sweep (run_gp.py:89-118,
    * run_bsts.py:69-94). For each k in `ks`: flag = z > k, persistence-
    * filter (p rows), eventize (gap), event-level F1 vs `truthEvents`,
    * anomaly rate AFTER persistence (run_gp.py:104-107); candidates with
    * rate > maxRate are rejected (P6); the winner per series is the
    * SMALLEST k attaining the best F1 (strict `>` first-best tie-break,
    * run_gp.py:109).
    *
    * Scale: the k-independent inputs (z, truth events) are computed once
    * by the caller; the crossJoin with the tiny k-grid multiplies the
    * fact table by |ks| and every downstream op partitions by
    * (series, k) — embarrassingly parallel across the grid.
    * Returns one row per series: (keys..., best_k, best_f1, rate).
    */
  /** The full sweep curve — one row per (series, k) with event F1 and
    * anomaly rate, rate-guard applied. This is the data behind the
    * reference's PR/threshold plots (plotting.py; SURVEY S7 delivers
    * plot data as relations); `sweep` is its argmax. */
  def sweepCurve(df: DataFrame, keys: Seq[String], ts: String, z: String,
                 ks: Seq[Double], persistence: Int, gap: Int,
                 truthEvents: DataFrame, maxRate: Double = 0.10,
                 eps: Double = 1e-9): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val grid = ks.toDF("k")
    // one row_number pass BEFORE the grid crossJoin: the ordinal is
    // k-independent, so computing it once avoids three window sorts over
    // the |ks|x-multiplied table (within a (series, k) partition the
    // per-series ordinal orders identically)
    val withRn = graft.core.SeriesOps.withRowNumberKeys(df, keys, ts, "__srn")
    // only rows with z > k can ever be flagged, and run adjacency lives
    // in the PRE-COMPUTED ordinal, so the heavy windowed ops (persistence
    // islands, eventize) run over the flagged slice alone — at k-grids
    // anchored above ~2σ that is a few percent of |ks| × |df| instead of
    // all of it. Rate needs the full denominator, which is a tiny
    // per-series count joined back in.
    val flagged = withRn.filter(col(z) > lit(ks.min)) // before the multiply
      .crossJoin(broadcast(grid))
      .filter(col(z) > col("k"))
      .withColumn("__f", lit(1))
    val kk = keys :+ "k"
    val persisted = Events.persistFilter(flagged, kk, ts, "__f", persistence,
      "__fp", rnCol = Some("__srn"))
    val nPerSeries = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val survived = persisted.groupBy(kk.map(col): _*)
      .agg(sum(col("__fp")).as("__nf"))
    val rates = nPerSeries.crossJoin(broadcast(grid))
      .join(survived, kk, "left")
      .na.fill(0L, Seq("__nf"))
      // sum/count in double division — identical to avg() over the 0/1
      // flag column on the unfiltered frame
      .withColumn("rate", col("__nf").cast("double") / col("__n"))
      .select((kk.map(col) :+ col("rate")): _*)
    val predEvents = Events.eventize(persisted, kk, ts, "__fp", gap,
      rnCol = Some("__srn"))
    val truthK = truthEvents.crossJoin(broadcast(grid))
    val f1s = Events.eventLevelMetrics(predEvents, truthK, kk, eps)
      .select((kk.map(col) :+ col("f1")): _*)
    rates.join(f1s, kk, "left")
      .na.fill(0.0, Seq("f1"))
      .filter(col("rate") <= maxRate)
  }

  def sweep(df: DataFrame, keys: Seq[String], ts: String, z: String,
            ks: Seq[Double], persistence: Int, gap: Int,
            truthEvents: DataFrame, maxRate: Double = 0.10,
            eps: Double = 1e-9): DataFrame = {
    val cand = sweepCurve(df, keys, ts, z, ks, persistence, gap,
      truthEvents, maxRate, eps)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("f1").desc, col("k").asc)
    cand.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(keys.map(col) ++ Seq(col("k").as("best_k"),
        col("f1").as("best_f1"), col("rate")): _*)
  }

  /** A11/O2: leaderboard — union per-(model, dataset) metric rows, sort
    * by event F1 desc (aggregate_metrics.py:55-67). */
  def leaderboard(runs: Seq[DataFrame]): DataFrame =
    runs.reduce(_.unionByName(_)).orderBy(desc("Event_F1"))

  /** S7: pointwise precision-recall curve data (`plotting.py:42-55` /
    * sklearn `precision_recall_curve` semantics): one row per DISTINCT
    * score threshold, with precision and recall of the rule
    * `score >= threshold`. One sort per series: cumulative tp over the
    * score-descending order, emitted at the last row of each tie group.
    * Output: (series, threshold, precision, recall, n_flagged). */
  def prCurve(df: DataFrame, series: String, label: String,
              score: String): DataFrame = {
    val w = Window.partitionBy(series)
      .orderBy(col(score).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wo = Window.partitionBy(series).orderBy(col(score).desc)
    val wp = Window.partitionBy(series)
    val ranked = df
      .withColumn("__cum_tp", sum(col(label)).over(w))
      .withColumn("__rank", count(lit(1)).over(w))
      .withColumn("__pos", sum(col(label)).over(wp))
      // emit at tie-group ends: the NEXT row has a strictly lower score
      .withColumn("__next", lead(col(score), 1).over(wo))
      .filter(col("__next").isNull || col("__next") < col(score))
    ranked.select(col(series), col(score).as("threshold"),
      (col("__cum_tp").cast("double") / col("__rank")).as("precision"),
      (col("__cum_tp").cast("double") /
        greatest(col("__pos"), lit(1))).as("recall"),
      col("__rank").as("n_flagged"))
  }

  /** S7: residual-histogram relation — the data behind
    * `plotting.py:28-39`'s density histogram (np.histogram semantics:
    * `bins` equal-width buckets over [min, max], the max value folded
    * into the last bucket, density = count / (n * width); a constant
    * series takes numpy's degenerate range [min-0.5, max+0.5]). Empty
    * buckets are emitted with count 0 like np.histogram.
    *
    * Scale: one groupBy for the per-series extrema (tiny, broadcast
    * back), one groupBy for the bucket counts — two shuffles total, no
    * window, so it holds at any series count and length. Output:
    * (series, bin, bin_lo, bin_hi, count, density). */
  def histogram(df: DataFrame, series: String, value: String,
                bins: Int = 50): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stats = df.filter(col(value).isNotNull)
      .groupBy(series)
      .agg(min(col(value)).as("__mn"), max(col(value)).as("__mx"),
        count(lit(1)).as("__n"))
      .withColumn("__lo",
        when(col("__mx") === col("__mn"), col("__mn") - 0.5)
          .otherwise(col("__mn")))
      .withColumn("__w",
        when(col("__mx") === col("__mn"), lit(1.0) / bins)
          .otherwise((col("__mx") - col("__mn")) / bins))
    val counts = df.filter(col(value).isNotNull)
      .join(broadcast(stats), series)
      .withColumn("bin",
        least(floor((col(value) - col("__lo")) / col("__w")),
          lit(bins - 1L)).cast("long"))
      .groupBy(col(series), col("bin"))
      .agg(count(lit(1)).as("count"))
    val grid = (0 until bins).map(_.toLong).toDF("bin")
    // counts is bounded by #series * bins — broadcast it so the final
    // join never sorts (static plans pick SMJ off parquet estimates)
    stats.crossJoin(broadcast(grid))
      .join(broadcast(counts), Seq(series, "bin"), "left")
      .na.fill(0L, Seq("count"))
      .select(col(series), col("bin"),
        (col("__lo") + col("bin") * col("__w")).as("bin_lo"),
        (col("__lo") + (col("bin") + 1) * col("__w")).as("bin_hi"),
        col("count"),
        (col("count") / (col("__n") * col("__w"))).as("density"))
  }

  /** Standard-normal inverse CDF (probit) as a pure column expression —
    * Acklam's rational approximation (|ε| < 1.15e-9), public-domain
    * constants. Pure arithmetic + log/sqrt, so it stays inside
    * whole-stage codegen and the same formula is expressible verbatim in
    * the DuckDB oracle SQL. */
  def probit(p: Column): Column = {
    def poly(q: Column, cs: Seq[Double]): Column =
      cs.tail.foldLeft(lit(cs.head): Column)((acc, c) => acc * q + lit(c))
    val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01, 1.0)
    val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Seq(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00, 1.0)
    val plow = 0.02425
    val qc = p - lit(0.5)
    val rc = qc * qc
    val central = poly(rc, a) * qc / poly(rc, b)
    val ql = sqrt(lit(-2.0) * log(p))
    val lower = poly(ql, c) / poly(ql, d)
    val qh = sqrt(lit(-2.0) * log(lit(1.0) - p))
    val upper = lit(0.0) - poly(qh, c) / poly(qh, d)
    when(p < plow, lower).when(p > 1 - plow, upper).otherwise(central)
  }

  /** S7 diagnostic relation: the data behind `plotting.py:17-23`'s
    * residual QQ plot — per series, the i-th order statistic of `value`
    * paired with the theoretical normal quantile at Filliben's plotting
    * position ((i-0.3175)/(n+0.365); endpoints 1-0.5^(1/n) and 0.5^(1/n)),
    * exactly scipy.stats.probplot's osm/osr pair. One sort per series.
    * Output: (keys..., qi, theoretical_q, sample_q). */
  def qqQuantiles(df: DataFrame, series: String, value: String): DataFrame = {
    // ties in `value` need no tie-break: swapping tied rows permutes
    // identical (qi, sample_q) pairs, so the output multiset is invariant
    val w = Window.partitionBy(series).orderBy(col(value))
    val wp = Window.partitionBy(series)
    val ranked = df
      .withColumn("qi", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wp))
    val n = col("__n").cast("double")
    val m = when(col("qi") === 1, lit(1.0) - pow(lit(0.5), lit(1.0) / n))
      .when(col("qi") === col("__n"), pow(lit(0.5), lit(1.0) / n))
      .otherwise((col("qi") - lit(0.3175)) / (n + lit(0.365)))
    ranked.select(col(series), col("qi"),
      probit(m).as("theoretical_q"), col(value).as("sample_q"))
  }
}
