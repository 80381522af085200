package graft.bench

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.SeriesOps
import graft.events.Events
import graft.io.NabIo
import graft.metrics.Metrics
import graft.models._
import graft.ensemble.Hybrid

/** End-to-end detection pipelines — the engine's equivalents of the
  * reference entry points (`run_bsts.py`, `run_gp.py`, `run_lstm.py`,
  * `run_hybrid.py`, `run_final_benchmark.py`; SURVEY §3 E1-E3).
  *
  * Every pipeline shares one relational skeleton: source → label-window
  * marking (J2) → split (P3) → model forecast/score columns → residual →
  * rolling sigma (W1/W2 with the zero-sigma → train-std fallback of
  * kalman_model.py:70-76) → threshold sweep with persistence and rate
  * guard (A10/P6/W8) → eventize (W7) → event + business metrics (J3/J4/
  * A5-A7) → prediction/metrics sinks (S3/S4).
  *
  * Everything from the threshold sweep on is ONE tail ([[scoreTail]]),
  * the way the reference scores every run script with `src/evaluate.py`:
  * the single-model pipelines reach it through [[detectAndScore]]'s
  * z-score, the ensembles with their combined score. Each run's metrics
  * carry one row per series, zeroed where neither side has an event.
  */
object Pipelines {

  /** Plan barrier: the pipelines chain many self-referencing joins and
    * window layers; without truncating lineage, every DataFrame reuse
    * duplicates the whole upstream plan subtree and Catalyst analysis
    * goes quadratic-to-exponential (measured: minutes of driver CPU on
    * a 400-row fixture). `localCheckpoint` materializes and cuts the
    * plan; on a cluster the same barrier would be a persisted table.
    * Each costs at least one job, so one stands only where a frame is
    * read more than once and would otherwise re-run a model fit or copy
    * a large plan; each call site says which. */
  private def barrier(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true)

  case class Config(
      labelWindowRows: Int = 3,
      trainFrac: Double = 0.5,
      valFrac: Double = 0.0,
      rollingWindow: Int = 48,
      minPeriods: Int = 5,
      persistence: Int = 2,
      gap: Int = 3,
      ks: Seq[Double] = (0 until 17).map(i => 2.0 + 0.5 * i),
      maxRate: Double = 0.10,
      period: Int = 48)

  /** The detector of every pipeline: build the z-score from `resid`
    * (+ optional per-row `pred_std`), then run the shared tail
    * ([[scoreTail]]: sweep k on the tuning split, apply the winner on
    * Test, persistence, eventize, metrics). Returns (annotated
    * predictions, metrics).
    *
    * `sigmaSource` selects the reference's two rolling detectors:
    *  - "rolling" (default): `detect_anomalies_by_residual`
    *    (kalman_model.py:55-97, the notebook pipelines) — score
    *    |resid| / rolling σ with the train-std zero-σ fallback. It reads
    *    `df` twice (the window and the train std), so callers in this
    *    mode checkpoint a model fit before passing it in;
    *  - "rolling_centered": `rolling_sigma_threshold` (utils.py:40-73,
    *    the src/run_*.py pipelines) — score |resid − rolling μ| /
    *    (rolling σ + 1e-6), NO train fallback, and the window restarts
    *    at each split boundary (the reference applies it to each
    *    region's residual slice separately);
    *  - "pred_std": the model's own predictive std. */
  def detectAndScore(df: DataFrame, series: String, ts: String,
                     cfg: Config, tuneSplit: String = "Test",
                     sigmaSource: String = "rolling"): (DataFrame, DataFrame) = {
    val withSigma = sigmaSource match {
      case "pred_std" =>
        df.withColumn("__sigma", col("pred_std") + lit(1e-6))
          .withColumn("__center", lit(0.0))
      case "rolling_centered" =>
        SeriesOps.withRollingStatsKeys(df, Seq(series, "split"), ts,
          "resid", cfg.rollingWindow, cfg.minPeriods, "__roll_mean",
          "__roll_std")
          .withColumn("__sigma", col("__roll_std")) // eps already added
          .withColumn("__center", col("__roll_mean"))
      case _ =>
        // train residual std for the zero-sigma fallback (W2)
        val trainStd = df.filter(col("split") === "Train")
          .groupBy(series).agg(stddev_samp(col("resid")).as("__train_std"))
        SeriesOps.withRollingStats(df, series, ts, "resid",
          cfg.rollingWindow, cfg.minPeriods, "__roll_mean", "__roll_std")
          .join(broadcast(trainStd), Seq(series), "left")
          // W2 fallback chain: rolling std → train-resid std → 1.0. The
          // last hop matters for models whose train resid is identically
          // zero (the GP interpolates its subsample exactly), where a
          // bare train-std fallback would divide by zero under ANSI.
          .withColumn("__sigma",
            when(col("__roll_std") > lit(2e-6), col("__roll_std"))
              .when(coalesce(col("__train_std"), lit(0.0)) > lit(2e-6),
                col("__train_std"))
              .otherwise(lit(1.0)))
          .withColumn("__center", lit(0.0))
    }
    scoreTail(withSigma.withColumn("score",
        SeriesOps.zscore(col("resid") - col("__center"), col("__sigma"))),
      series, ts, cfg, tuneSplit, "score")
  }

  /** The one detector tail (evaluate.py's sweep → persistence →
    * eventize → event metrics; SURVEY §3 E1-E3), shared by
    * [[detectAndScore]] and the ensembles, whose combined score IS the
    * z. Sweeps k over `score` on `tuneSplit`, applies the winner on
    * Test, and builds one metrics row per series in `scored`. */
  private def scoreTail(scored0: DataFrame, series: String, ts: String,
                        cfg: Config, tuneSplit: String,
                        score: String): (DataFrame, DataFrame) = {
    // kept: the sweep, the apply step, the truth events and the series
    // anchor all read this frame; without it each re-runs the sigma
    // windows (or an ensemble's member fits)
    val scored = barrier(scored0)
    // the truth events of the tune and Test splits in one pass keyed by
    // (series, split): the row ordinal restarts per split, as the
    // reference scores each region's slice on its own
    val truthBySplit = Events.eventize(
      scored.filter(col("split").isin(tuneSplit, "Test")),
      Seq(series, "split"), ts, "is_anomaly", cfg.gap)
    val truth = truthBySplit.filter(col("split") === "Test")
    // kept: the apply join and the metrics row both read the winner;
    // without it the whole sweep plan is copied into each
    val best = barrier(Metrics.sweep(
      scored.filter(col("split") === tuneSplit)
        .select(col(series), col(ts), col(score)),
      Seq(series), ts, score, cfg.ks, cfg.persistence, cfg.gap,
      truthBySplit.filter(col("split") === tuneSplit), cfg.maxRate))
    // apply the winning k on the Test split; a series where EVERY
    // candidate failed the rate guard has no sweep row — the reference
    // scripts then keep their initial k = 3.0 (run_gp.py:90,
    // run_hybrid.py:145 et al.), so the join is left + coalesce rather
    // than inner (which would silently drop the series from the
    // predictions)
    val test = scored.filter(col("split") === "Test")
      .join(broadcast(best.select(col(series), col("best_k"))),
        Seq(series), "left")
      .withColumn("flag",
        SeriesOps.thresholdFlag(col(score), coalesce(col("best_k"), lit(3.0))))
    val persisted = Events.persistFilter(test, Seq(series), ts, "flag",
      cfg.persistence, "detected")
    val pred = Events.eventize(persisted, Seq(series), ts, "detected",
      cfg.gap)
    val eventM = Events.eventLevelMetrics(pred, truth, Seq(series))
    val pointM = Metrics.pointwise(persisted, Seq(series), "is_anomaly",
      "detected")
      .select(col(series), col("tp").as("pt_tp"), col("fp").as("pt_fp"),
        col("fn").as("pt_fn"), col("precision").as("pt_precision"),
        col("recall").as("pt_recall"), col("f1").as("pt_f1"))
    val bizM = Metrics.business(test, Seq(series), ts, pred, truth)
    // anchor on EVERY series in the frame: a series with no events on
    // either side still gets a (zeroed) metrics row, like the reference's
    // per-run metrics.json
    val metrics = scored.select(series).distinct()
      .join(eventM, Seq(series), "left")
      .join(pointM, Seq(series), "left")
      .join(bizM, Seq(series), "left")
      .join(best, Seq(series), "left")
      .na.fill(0L, Seq("tp", "fp", "fn", "n_pred_events", "n_true_events",
        "pt_tp", "pt_fp", "pt_fn"))
      .na.fill(0.0, Seq("precision", "recall", "f1", "pt_precision",
        "pt_recall", "pt_f1"))
    (persisted, metrics)
  }

  /** Annotate a labeled series with a split column (2- or 3-way). */
  private def prepared(series: DataFrame, labels: DataFrame, key: String,
                       ts: String, cfg: Config): DataFrame = {
    val marked = SeriesOps.markLabelWindows(series, labels, key, ts,
      "label_ts", cfg.labelWindowRows)
    // kept: the model fit and the join of its output both read `prep`;
    // without it the label-window join and split windows run twice
    barrier(SeriesOps.withSplit(marked, key, ts, cfg.trainFrac, cfg.valFrac))
  }

  /** `prep` joined with a model fit's per-row `cols`. The per-series
    * models (Kalman, BSTS, GP, exact STL) emit fixed `series_id`/`ts`
    * columns; they are matched against the caller's key (as a string)
    * and time column, whatever those are named. */
  private def joinFit(prep: DataFrame, fit: DataFrame, key: String,
                      ts: String, cols: Column*): DataFrame = {
    val f = fit.select(
      col("series_id").as("__sid") +: col("ts").as("__fts") +: cols: _*)
    prep.join(f,
      prep(key).cast("string") === f("__sid") && prep(ts) === f("__fts"))
      .drop("__sid", "__fts")
  }

  /** M2 pipeline (kalman_model.py:146-243). */
  def runKalman(series: DataFrame, labels: DataFrame, key: String,
                ts: String, value: String, cfg: Config)
      : (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    val joined = joinFit(prep,
      KalmanLocalLevel.run(prep, key, ts, value, cfg.trainFrac), key, ts,
      col("pred_mean"), col("pred_std"), col("resid"))
    // kept: the "rolling" sigma reads its input twice (the fit re-runs)
    detectAndScore(barrier(joined), key, ts, cfg)
  }

  /** M1+M7 pipeline (notebooks/01: STL residual + rolling z). */
  def runStl(series: DataFrame, labels: DataFrame, key: String,
             ts: String, value: String, cfg: Config,
             exact: Boolean = false): (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    val dec =
      if (exact)
        joinFit(prep, StlExact.decompose(prep, key, ts, value, cfg.period),
          key, ts, col("resid"))
      else StlLite.decompose(prep, key, ts, value, cfg.period)
    // kept: the "rolling" sigma reads its input twice (the fit re-runs)
    detectAndScore(barrier(dec), key, ts, cfg)
  }

  /** M5 pipeline (run_lstm.py): STL-decompose the FULL series like the
    * reference (`run_lstm.py:31-44`), standard-scale the residual, learn
    * an autoregressor on it, and score the second-order residual
    * (actual minus predicted STL residual). The inverse transform is
    * skipped on purpose: the detector's z-score is scale-invariant (the
    * rolling sigma scales with the residual), so flags are identical.
    * `onStlResiduals=false` keeps the raw-value ARX; `regressor="gbt"`
    * swaps in the nonlinear gradient-boosted option. */
  def runAutoRegressor(series: DataFrame, labels: DataFrame, key: String,
                       ts: String, value: String, cfg: Config,
                       seqLen: Int = 48, onStlResiduals: Boolean = true,
                       regressor: String = "ridge",
                       sigmaSource: String = "rolling")
      : (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    val base =
      if (onStlResiduals)
        joinFit(prep, StlExact.decompose(prep, key, ts, value, cfg.period),
          key, ts, col("resid").as("__target"))
      else prep.withColumn("__target", col(value))
    val scaled = SeriesOps.standardScale(base, key, "__target", "__tn",
      popStd = true)
    // kept: the scaling reads `base` twice and the AR fit reads `scaled`
    // twice; without it the STL fit runs up to four times
    val ar = AutoRegressor.run(barrier(scaled), key, ts, "__tn", seqLen,
      cfg.trainFrac, regressor)
    // default "rolling" = the notebook LSTM recipe the golden replays;
    // pass "rolling_centered" for src/run_lstm.py's tail. Kept: the
    // "rolling" sigma reads its input twice (the AR fit re-runs)
    detectAndScore(barrier(ar.drop("__target", "__tn")), key, ts, cfg,
      sigmaSource = sigmaSource)
  }

  /** M3 pipeline (run_bsts.py: val-tuned 3-way split). */
  def runBsts(series: DataFrame, labels: DataFrame, key: String,
              ts: String, value: String, cfg0: Config)
      : (DataFrame, DataFrame) = {
    val cfg = if (cfg0.valFrac <= 0) cfg0.copy(valFrac = 0.25) else cfg0
    val prep = prepared(series, labels, key, ts, cfg)
    val joined = joinFit(prep,
        Bsts.run(prep, key, ts, value, cfg.period, 3, cfg.trainFrac),
        key, ts, col("bsts_mean"))
      .withColumn("resid", col(value) - col("bsts_mean"))
    // run_bsts.py:55-57 centers the forecast-region residuals by their
    // median ("robust against model bias/collapse") before thresholding
    val med = joined.filter(col("split") =!= "Train")
      .groupBy(key).agg(median(col("resid")).as("__rmed"))
    val centered = joined.join(broadcast(med), Seq(key), "left")
      .withColumn("resid",
        when(col("split") =!= "Train",
          col("resid") - coalesce(col("__rmed"), lit(0.0)))
          .otherwise(col("resid")))
      .drop("__rmed")
    // run_bsts.py's detector is rolling_sigma_threshold (mean-centered,
    // per-region window restart) — pinned exactly by the results/bsts
    // detector-tail goldens on all three NAB datasets. Kept: the median
    // centering reads `joined` twice (the BSTS fit re-runs)
    detectAndScore(barrier(centered), key, ts, cfg,
      tuneSplit = "Validation", sigmaSource = "rolling_centered")
  }

  /** M3 enhanced pipeline (notebooks/02 `run_enhanced_bsts_pipeline`):
    * daily+weekly trigonometric seasonality (periods 48/336, 10 harmonics
    * each), MLE variances, 2-way split, threshold sweep tuned directly on
    * Test with no rate guard — pass `cfg.maxRate > 1` to disable it and
    * `cfg.ks = 3..12 step 1` for the notebook's grid. The same shape with
    * `seasonal = Seq(Bsts.Dummy(48))` is the notebook's daily-only BSTS
    * pipeline (02_model_comparison cell 4: statsmodels `seasonal=48`). */
  def runEnhancedBsts(series: DataFrame, labels: DataFrame, key: String,
                      ts: String, value: String, cfg: Config,
                      seasonal: Seq[Bsts.Seasonal] =
                        Seq(Bsts.Trig(48.0, 10), Bsts.Trig(336.0, 10)))
      : (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    val joined = joinFit(prep,
        Bsts.run(prep, key, ts, value, seasonal, cfg.trainFrac, mle = true),
        key, ts, col("bsts_mean"))
      .withColumn("resid", col(value) - col("bsts_mean"))
    // kept: the "rolling" sigma reads its input twice (the fit re-runs)
    detectAndScore(barrier(joined), key, ts, cfg, tuneSplit = "Test")
  }

  /** M4 pipeline (run_gp.py). The reference's detector is
    * `rolling_sigma_threshold` on the test-region residuals
    * (run_gp.py:96,117 — the mean-centered rolling score, pinned exactly
    * by the results/gp machine-temp golden); `sigmaSource = "pred_std"`
    * swaps in the GP's own predictive std (a principled alternative the
    * relational surface also supports). */
  def runGp(series: DataFrame, labels: DataFrame, key: String,
            ts: String, value: String, cfg: Config,
            sigmaSource: String = "rolling_centered")
      : (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    val joined = joinFit(prep,
        GpRegressor.run(prep, key, ts, value, cfg.trainFrac, 1000,
          cfg.period),
        key, ts, col("pred_mean"), col("pred_std"))
      .withColumn("resid", col(value) - col("pred_mean"))
    detectAndScore(joined, key, ts, cfg, sigmaSource = sigmaSource)
  }

  /** M8 pipeline: equal-weight mean of STL-MAD and Kalman z-scores,
    * sweep on the combined score (the lightweight two-member variant). */
  def runHybrid(series: DataFrame, labels: DataFrame, key: String,
                ts: String, value: String, cfg: Config)
      : (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    // branch A: STL-lite residual / MAD z
    val stl = StlLite.decompose(prep, key, ts, value, cfg.period)
    val mad = SeriesOps.madSigma(stl, key, "resid", "__mad")
    val a = stl.join(broadcast(mad), Seq(key))
      .withColumn("score_stl",
        SeriesOps.zscore(col("resid"), col("__mad") + lit(1e-9)))
      .drop("__mad", "trend", "seasonal", "resid", "rn")
    // branch B: Kalman one-step z
    val ab = joinFit(a,
      KalmanLocalLevel.run(prep, key, ts, value, cfg.trainFrac), key, ts,
      (abs(col("resid")) / (col("pred_std") + lit(1e-9))).as("score_kalman"))
    scoreTail(Hybrid.combineEqual(ab, Seq("score_stl", "score_kalman")),
      key, ts, cfg, "Test", "combined_score")
  }

  /** M8 reference-recipe ensemble (`src/run_hybrid.py`): equal-thirds
    * mean of three member z-scores —
    *  1. robust STL z (exact loess STL residual / MAD sigma),
    *  2. GP predictive-std z on the test region (0 on train, like the
    *     reference's nan_to_num padding),
    *  3. the LSTM-substitute's rolling z on the AR-on-STL second-order
    *     residual (0 where the lag window is incomplete) —
    * then the threshold sweep on the combined score. */
  def runHybridEnsemble(series: DataFrame, labels: DataFrame, key: String,
                        ts: String, value: String, cfg: Config,
                        seqLen: Int = 48): (DataFrame, DataFrame) = {
    val prep = prepared(series, labels, key, ts, cfg)
    // member 1: exact STL residual, robust z
    val withStl = joinFit(prep,
      StlExact.decompose(prep, key, ts, value, cfg.period), key, ts,
      col("resid").as("__stl_resid"))
    val mad = SeriesOps.madSigma(withStl, key, "__stl_resid", "__mad")
    // kept: the MAD reads `withStl` twice more (the STL fit re-runs)
    val m1 = barrier(withStl.join(broadcast(mad), Seq(key))
      .withColumn("score_stl",
        abs(col("__stl_resid")) / (col("__mad") + lit(1e-9)))
      .drop("__mad"))
    // member 2: GP predictive-std z on Test, 0 on Train. Kept: member 3
    // and the final join both read `m2` (the GP fit re-runs)
    val m2 = barrier(joinFit(m1,
        GpRegressor.run(prep, key, ts, value, cfg.trainFrac, 1000,
          cfg.period),
        key, ts, col("pred_mean").as("__gm"), col("pred_std").as("__gs"),
        col("split").as("__gsplit"))
      .withColumn("score_gp",
        when(col("__gsplit") === "Test",
          abs(col(value) - col("__gm")) / (col("__gs") + lit(1e-9)))
          .otherwise(lit(0.0)))
      .drop("__gm", "__gs", "__gsplit"))
    // member 3: AR forecast of the (scaled) STL residual, rolling z on
    // the second-order residual; rows without a full lag window score 0
    val arIn = SeriesOps.standardScale(
      m2.select(col(key), col(ts), col("__stl_resid"), col("split")),
      key, "__stl_resid", "__tn", popStd = true)
    val arOut = AutoRegressor.run(arIn, key, ts, "__tn", seqLen,
      cfg.trainFrac)
    val arScored = SeriesOps.withRollingStats(arOut, key, ts, "resid",
        cfg.rollingWindow, 1, "__arm", "__ars")
      .select(col(key).cast("string").as("__asid"), col(ts).as("__ats"),
        (abs(col("resid")) / (col("__ars") + lit(1e-9))).as("__ar_score"))
    val m3 = m2.join(arScored,
        m2(key).cast("string") === col("__asid") && m2(ts) === col("__ats"),
        "left_outer")
      .withColumn("score_ar", coalesce(col("__ar_score"), lit(0.0)))
      .drop("__asid", "__ats", "__ar_score")
    scoreTail(Hybrid.combineEqual(m3,
        Seq("score_stl", "score_gp", "score_ar")),
      key, ts, cfg, "Test", "combined_score")
  }

  /** One pipeline by its E1 model name. */
  private[bench] def runModel(m: String, series: DataFrame, labels: DataFrame,
                              key: String, ts: String, value: String,
                              cfg: Config): (DataFrame, DataFrame) = m match {
    case "stl" => runStl(series, labels, key, ts, value, cfg)
    case "stl_exact" => runStl(series, labels, key, ts, value, cfg, exact = true)
    case "kalman" => runKalman(series, labels, key, ts, value, cfg)
    case "ar" => runAutoRegressor(series, labels, key, ts, value, cfg)
    case "bsts" => runBsts(series, labels, key, ts, value, cfg)
    case "gp" => runGp(series, labels, key, ts, value, cfg)
    case "hybrid" => runHybrid(series, labels, key, ts, value, cfg)
    case "hybrid3" => runHybridEnsemble(series, labels, key, ts, value, cfg)
    case "enhanced_bsts" => runEnhancedBsts(series, labels, key, ts, value, cfg)
  }

  /** A metrics frame as leaderboard rows (aggregate_metrics.py's columns). */
  private[bench] def leaderboardRows(metrics: DataFrame, model: Column,
                                     key: String): DataFrame =
    metrics.select(model.as("Model"), col(key).cast("string").as("Dataset"),
      col("f1").as("Event_F1"), col("precision").as("Precision"),
      col("recall").as("Recall"), col("fp_per_day").as("FP_per_Day"),
      col("median_latency_minutes").as("Latency_Min"))

  /** E1: the final benchmark — every (model, series) combination, one
    * leaderboard ordered by event F1 (run_final_benchmark.py +
    * aggregate_metrics.py). Per-model failures are isolated like the
    * reference's try/except. */
  def runFinalBenchmark(series: DataFrame, labels: DataFrame, key: String,
                        ts: String, value: String, cfg: Config,
                        models: Seq[String] = Seq("stl", "kalman", "ar",
                          "hybrid")): DataFrame = {
    val runs = models.flatMap { m =>
      try {
        val (_, metrics) = runModel(m, series, labels, key, ts, value, cfg)
        Some(leaderboardRows(metrics, lit(m.toUpperCase), key))
      } catch {
        case NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"model $m failed: ${e.getMessage}")
          None
      }
    }
    Metrics.leaderboard(runs)
  }

  /** S3/S4 sinks for one run: predictions go to series-partitioned
    * parquet (parallel write, no single-task exchange); the metrics
    * record is tiny and stays a one-file JSON. */
  def persist(outDir: String, predictions: DataFrame,
              metrics: DataFrame, key: String = "user_id"): Unit = {
    NabIo.writePredictions(predictions, s"$outDir/predictions", key)
    NabIo.writeMetricsJson(metrics, s"$outDir/metrics")
  }
}
