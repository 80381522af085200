package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.{ev, tbl, docs, emb, spread, synthLines,
  withZ, predEvents, truthEvents, predFlag, truthFlag}
import graft.{core, ensemble, events, graph, io, llm, metrics,
  models, streaming}
import graft.core.SeriesOps
import graft.events.Events
import graft.metrics.Metrics
import graft.models.StlLite

/** Query registry, part 1 of 2: the SURVEY §2.1–2.11 surface — series
  * ops, window/event/metric queries, detector and model faces, TPC-H
  * relational queries, and the graph tier. The SQL oracle for every
  * entry lives in [[graft.oracles.OracleSql]]; the thin composed
  * registry is [[graft.SparkEntry.queries]]. Conventions (rounding,
  * BIGINT ordinals, ns→µs reads) are documented on SparkEntry.
  */
object QueriesSeries {

  /** The synthetic 3-out-link doc graph of the graph queries (the
    * corpus has no link column): src = doc_id and dst = (doc_id·k + c)
    * mod (max doc_id + 1) for (k, c) = (7, 1), (13, 3), (31, 11), in
    * one scan of `d`; the oracle SQL builds the same edge multiset.
    * The modulus side reads only non-null ids (max skips nulls anyway)
    * so that, under consumers that drop null sources (all six do), both
    * sides read `d` through one shared exchange. */
  private def docLinkGraph(d: DataFrame): DataFrame = {
    val m = d.filter(col("doc_id").isNotNull)
      .agg((max("doc_id") + 1).as("__m"))
    d.crossJoin(broadcast(m)).select(col("doc_id").as("src"),
      explode(array(
        (col("doc_id") * 7 + 1) % col("__m"),
        (col("doc_id") * 13 + 3) % col("__m"),
        (col("doc_id") * 31 + 11) % col("__m"))).as("dst"))
  }

  val map: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P3: fractional train/val/test split
    "q_split" -> ((s, dir) =>
      SeriesOps.withSplit(ev(s, dir), "user_id", "ts", 0.5, 0.25)
        .select(col("user_id"), col("ts"), col("value"), col("split"))),

    // W5: per-series row ordinal
    "q_rownum" -> ((s, dir) =>
      SeriesOps.withRowNumber(ev(s, dir), "user_id", "ts")
        .select(col("user_id"), col("ts"), col("rn").cast("long").as("rn"))),

    // W1: rolling mean/std with min_periods + backfill + eps floor
    "q_rolling" -> ((s, dir) =>
      SeriesOps.withRollingStats(ev(s, dir), "user_id", "ts", "value",
        48, 5, "roll_mean", "roll_std")
        .select(col("user_id"), col("ts"),
          round(col("roll_mean"), 9).as("roll_mean"),
          round(col("roll_std"), 6).as("roll_std"))),

    // W6/P7: backfill nulls with next non-null
    "q_backfill" -> ((s, dir) => {
      val d = ev(s, dir).withColumn("__c",
        when(col("event_type") =!= "error", col("value")))
      SeriesOps.backfill(d, "user_id", "ts", "__c", "value_bf")
        .select(col("user_id"), col("ts"), col("value_bf"))
    }),

    // W-extra: ranking-function tier — rank/dense_rank keep their
    // tie semantics (ordered by n_events alone: equal counts share a
    // rank, both functions deterministic UNDER ties by definition);
    // ntile/lead need a total order so they tie-break on the key.
    // This window runs over the user-cardinality AGGREGATE, never the
    // fact — the global (unpartitioned) sort is group-cell-sized. The
    // 100×-scale form is CODE, not prose: core.Rank.globalRankByCounts
    // (per-value counts + one ordered pass over the distinct-value
    // relation + broadcast join-back — no global row sort), gated as
    // q_rank_users_2l below and equivalence-pinned by RankSpec.
    // ntile/lead stay here: they need the total order by definition
    // (TakeOrdered covers the top-k read at scale).
    // Null user keys are filtered: Spark orders nulls FIRST, DuckDB
    // LAST, so an unfiltered global ranking diverges on the first
    // null key (the q_leadlag lesson; oracle carries the same filter).
    "q_rank_users" -> ((s, dir) => {
      val counts = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 9).as("sum_value"))
      val tied = Window.orderBy(col("n_events").desc)
      val total = Window.orderBy(col("n_events").desc,
        col("user_id").asc)
      counts.select(col("user_id"), col("n_events"), col("sum_value"),
        rank().over(tied).cast("long").as("rnk"),
        dense_rank().over(tied).cast("long").as("drnk"),
        ntile(4).over(total).cast("long").as("quartile"),
        lead(col("user_id"), 1).over(total).as("next_user"))
    }),

    // W-extra: the SAME user ranking through the scale-safe two-level
    // form (core/Rank.scala) — per-count totals + ONE ordered pass
    // over the distinct-count relation + broadcast join-back, no
    // global row sort anywhere. Oracle is the plain global
    // rank()/dense_rank() window: identical rows INCLUDING tie groups
    // is exactly the equivalence the operator claims.
    "q_rank_users_2l" -> ((s, dir) => {
      val counts = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 9).as("sum_value"))
      core.Rank.globalRankByCounts(counts, "n_events")
        .select(col("user_id"), col("n_events"), col("sum_value"),
          col("rnk"), col("drnk"))
    }),

    // W-extra: the rest of the SQL ranking-function family over the
    // same user aggregate — percent_rank/cume_dist keep the shared-
    // tie semantics (ordered by n_events alone; both are exact
    // rational functions of rank/peer counts, identically defined on
    // both engines); first_value/nth_value need the total order so
    // they tie-break on the key, and nth_value keeps its default
    // frame semantics (null until the 3rd row enters the frame) —
    // identical default (unbounded-preceding → current) on both
    // engines. Ratios are round 9 (identical integer arithmetic).
    "q_rank_full" -> ((s, dir) => {
      val counts = ev(s, dir).filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      val tied = Window.orderBy(col("n_events").desc)
      val total = Window.orderBy(col("n_events").desc,
        col("user_id").asc)
      counts.select(col("user_id"), col("n_events"),
        round(percent_rank().over(tied), 9).as("prnk"),
        round(cume_dist().over(tied), 9).as("cdist"),
        first(col("user_id")).over(total).as("top_user"),
        nth_value(col("user_id"), 3).over(total).as("third_user"))
    }),

    // W-extra: time-RANGE window frame — the last-24-HOURS read by
    // actual event time, not row count (irregular series make the two
    // differ; every other window in the engine is a row frame). The
    // frame is declared on exact integer microseconds with the SAME
    // numeric bounds on both engines — an INTERVAL-typed frame would
    // differ on the boundary instant (DuckDB's PRECEDING is closed,
    // this form is (ts-24h, ts]).
    "q_rolling_time" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("__us", unix_micros(col("ts")))
      val w = Window.partitionBy("user_id").orderBy(col("__us"))
        .rangeBetween(-86399999999L, 0)
      e.select(col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_24h"),
        round(avg("value").over(w), 9).as("avg_24h"))
    }),

    // W4: lag features
    "q_lags" -> ((s, dir) =>
      SeriesOps.withLags(ev(s, dir), "user_id", "ts", "value", Seq(1, 2, 3))
        .select(col("user_id"), col("ts"), col("value"),
          col("value_lag1"), col("value_lag2"), col("value_lag3"))),

    // A4/A3: MAD sigma (two exact medians)
    "q_mad" -> ((s, dir) =>
      SeriesOps.madSigma(ev(s, dir), "user_id", "value")
        .select(col("user_id"), round(col("mad_sigma"), 6).as("mad_sigma"))),

    // M7/F1: residual z-score vs per-series mean/std
    "q_zscore" -> ((s, dir) =>
      withZ(ev(s, dir))
        .select(col("user_id"), col("ts"), round(col("z"), 6).as("z"))),

    // P5: threshold flag
    "q_flags" -> ((s, dir) =>
      withZ(ev(s, dir))
        .withColumn("flag", SeriesOps.thresholdFlag(col("z"), lit(2.5)))
        .select(col("user_id"), col("ts"), col("flag"))),

    // W7: gaps-and-islands eventize with gap bridging
    "q_eventize" -> ((s, dir) =>
      Events.eventize(ev(s, dir).withColumn("flag", predFlag),
        Seq("user_id"), "ts", "flag", 3)
        .select(col("user_id"), col("event_id").cast("long").as("event_id"),
          col("start_rn").cast("long").as("start_rn"),
          col("end_rn").cast("long").as("end_rn"),
          col("start_ts"), col("end_ts"),
          col("n_points").cast("long").as("n_points"))),

    // W8: persistence filter
    "q_persist" -> ((s, dir) =>
      Events.persistFilter(ev(s, dir).withColumn("flag", predFlag),
        Seq("user_id"), "ts", "flag", 2, "flag_p")
        .select(col("user_id"), col("ts"), col("flag"), col("flag_p"))),

    // A5: pointwise confusion with 1e-9 epsilons
    "q_pointwise" -> ((s, dir) =>
      Metrics.pointwise(
        ev(s, dir).withColumn("pflag", predFlag).withColumn("tflag", truthFlag),
        Seq("user_id"), "tflag", "pflag")
        .select(col("user_id"), col("tp"), col("fp"), col("fn"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"))),

    // J3/A6: event-level confusion via interval-overlap joins
    "q_event_metrics" -> ((s, dir) => {
      val base = ev(s, dir)
      Events.eventLevelMetrics(predEvents(base), truthEvents(base),
        Seq("user_id"))
        .select(col("user_id"), col("tp"), col("fp"), col("fn"),
          col("n_pred_events"), col("n_true_events"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"))
    }),

    // J4/O3: detection latency (earliest overlapping pred)
    "q_latency" -> ((s, dir) => {
      val base = ev(s, dir)
      Events.detectionLatency(predEvents(base), truthEvents(base),
        Seq("user_id"))
        .select(col("user_id"),
          col("true_start_rn").cast("long").as("true_start_rn"),
          col("true_start_ts"), col("first_pred_ts"),
          round(col("latency_minutes"), 6).as("latency_minutes"))
    }),

    // A7: business metrics (FP/day, duration, median latency)
    "q_business" -> ((s, dir) => {
      val base = ev(s, dir)
      Metrics.business(base, Seq("user_id"), "ts",
        predEvents(base), truthEvents(base))
        .select(col("user_id"),
          round(col("duration_days"), 6).as("duration_days"),
          col("fp_count"),
          round(col("fp_per_day"), 6).as("fp_per_day"),
          round(col("median_latency_minutes"), 6)
            .as("median_latency_minutes"))
    }),

    // A10/P6: event-F1 threshold sweep with rate guard + first-best tie-break
    "q_sweep" -> ((s, dir) => {
      val base = withZ(ev(s, dir)).withColumn("tflag", truthFlag)
      val truth = Events.eventize(base, Seq("user_id"), "ts", "tflag", 3)
      val ks = (0 until 17).map(i => 2.0 + 0.5 * i)
      Metrics.sweep(base.select("user_id", "ts", "z"), Seq("user_id"), "ts",
        "z", ks, 2, 3, truth)
        .select(col("user_id"), col("best_k"),
          round(col("best_f1"), 6).as("best_f1"),
          round(col("rate"), 6).as("rate"))
    }),

    // S7/A10: the full sweep curve — data behind the threshold/PR plots
    "q_sweep_curve" -> ((s, dir) => {
      val base = withZ(ev(s, dir)).withColumn("tflag", truthFlag)
      val truth = Events.eventize(base, Seq("user_id"), "ts", "tflag", 3)
      val ks = (0 until 17).map(i => 2.0 + 0.5 * i)
      Metrics.sweepCurve(base.select("user_id", "ts", "z"), Seq("user_id"),
        "ts", "z", ks, 2, 3, truth)
        .select(col("user_id"), col("k"),
          round(col("f1"), 6).as("f1"), round(col("rate"), 6).as("rate"))
    }),

    // J2: as-of label-window marking (searchsorted semantics)
    "q_label_windows" -> ((s, dir) => {
      val base = ev(s, dir)
      val labels = base.filter(col("value") > 300)
        .select(col("user_id"),
          (col("ts") + expr("INTERVAL 1 SECOND")).as("label_ts"))
      SeriesOps.markLabelWindows(base, labels, "user_id", "ts", "label_ts", 3)
        .select(col("user_id"), col("ts"), col("is_anomaly"))
    }),

    // M1: stl_lite relational decomposition
    "q_stl_lite" -> ((s, dir) =>
      StlLite.decompose(ev(s, dir), "user_id", "ts", "value", 24)
        .select(col("user_id"), col("ts"),
          round(col("trend"), 9).as("trend"),
          round(col("seasonal"), 9).as("seasonal"),
          round(col("resid"), 9).as("resid"))),

    // M-extra: ensemble v2 — the round-10 detectors composed through
    // the reference's OWN hybrid machinery: Holt-Winters residual
    // z-score (MAD sigma) + S-H-ESD flags + the classic per-series
    // z-score, combined as an equal-weight score mean plus a 2-of-3
    // flag vote. Shows the new models are drop-in members of the M8
    // ensemble, not parallel silos.
    "q_ensemble2" -> ((s, dir) => {
      val base = ev(s, dir)
      // both per-series model passes fan out TWO ways below (the MAD
      // aggregate + the score join) — without the checkpoint each
      // consumer re-runs the full mapGroups recursion (r18 measured the
      // query at ~2× its own members)
      val hw = graft.models.HoltWinters.forecast(base, "user_id", "ts",
        "value", period = 24).localCheckpoint()
      val hwZ = SeriesOps.madSigma(hw, "user_id", "hw_resid", "__mad")
      val s1 = hw.join(broadcast(hwZ), "user_id")
        .withColumn("score_hw",
          abs(col("hw_resid")) / (col("__mad") + lit(1e-9)))
        .withColumn("flag_hw",
          when(col("score_hw") > 3.0, 1).otherwise(0))
        .select(col("user_id").cast("string").as("series_id"),
          col("ts"), col("value"), col("score_hw"), col("flag_hw"))
      val shesdRaw = graft.models.Esd.seasonalHybridEsd(base, "user_id",
        "ts", "value", period = 24).localCheckpoint()
      // normalize by per-series MAD so the member is commensurate with
      // the other z-like scores — a raw residual magnitude would be in
      // data units and dominate the equal-weight mean
      val shesdMad = SeriesOps.madSigma(shesdRaw, "user_id",
        "shesd_resid", "__smad")
      val shesd = shesdRaw.join(broadcast(shesdMad), "user_id")
        .select(col("user_id").as("series_id"), col("ts"),
          col("is_anomaly").as("flag_shesd"),
          (abs(col("shesd_resid")) / (col("__smad") + lit(1e-9)))
            .as("score_shesd"))
      val z = withZ(base)
        .select(col("user_id").cast("string").as("series_id"),
          col("ts"), col("z").as("score_z"),
          when(col("z") > 3.0, 1).otherwise(0).as("flag_z"))
      val joined = s1.join(shesd, Seq("series_id", "ts"))
        .join(z, Seq("series_id", "ts"))
      val combined = ensemble.Hybrid.combineEqual(joined,
        Seq("score_hw", "score_shesd", "score_z"))
      ensemble.Hybrid.voteFlags(combined,
          Seq("flag_hw", "flag_shesd", "flag_z"), minVotes = 2)
        .select(col("series_id"), col("ts"),
          round(col("combined_score"), 6).as("combined_score"),
          col("detected"))
    }),

    // W-extra: lead-lag detection — each of the first three series
    // cross-correlated against every series at row offsets ±10; best
    // lag per pair ranked on the rounded correlation. Null series
    // keys are excluded up front on BOTH engines: Spark's asc sort
    // puts nulls FIRST while DuckDB's puts them LAST, so an unfiltered
    // `ORDER BY user_id LIMIT 3` ref pick would silently diverge the
    // moment a null-keyed row exists (r15 null-key audit).
    "q_leadlag" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("user_id").isNotNull)
      val keys = e.select(col("user_id")).distinct()
        .orderBy("user_id").limit(3).collect().map(_.get(0)).toSeq
      SeriesOps.leadLag(e, "user_id", "ts", "value", keys,
        maxLag = 10)
    }),

    // M-extra: banded z-normalized DTW against a broadcast template
    // set (the scalable use: template scoring, not all-pairs). The
    // template keys come from the events series themselves.
    "q_dtw" -> ((s, dir) => {
      // same null-exclusion as q_leadlag: a null key must never be
      // silently picked as a template (Spark sorts nulls first)
      val keys = ev(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id").cast("string"))
        .distinct().orderBy("user_id").limit(3)
        .collect().map(_.getString(0)).toSeq
      graft.models.Dtw.dtwToTemplates(ev(s, dir), "user_id", "ts",
          "value", keys, band = 48)
        .select(col("user_id"), col("template_id"),
          round(col("dtw"), 6).as("dtw"))
    }),

    // W-extra: SAX symbolic discretization (Lin/Keogh 2003) — PAA
    // frame means against the standard-normal equiprobable
    // breakpoints; fully relational, exact SQL oracle.
    "q_sax" -> ((s, dir) =>
      SeriesOps.sax(ev(s, dir), "user_id", "ts", "value",
          frameLen = 8, alphabet = 4)
        .select(col("user_id"), col("frame"),
          round(col("paa"), 6).as("paa"), col("symbol"))),

    // M-extra: matrix profile via STOMP (UCR Matrix Profile I/II) —
    // z-normalized all-pairs subsequence distances; argmax = discord
    // (parameter-free anomaly), minima = motifs. O(n²) per series via
    // the rolling-dot recurrence, per-series mapGroups → fixture
    // oracle.
    // w=16 sized to the ~67-row fixture series: 52 subsequences with
    // an exclusion zone of w/2=8, so the profile is non-vacuous (w=48
    // excluded every pair and emitted 0 rows on this data).
    "q_matrix_profile" -> ((s, dir) =>
      graft.models.MatrixProfile.profile(ev(s, dir), "user_id", "ts",
          "value", w = 16)
        .select(col("user_id"), col("ts"),
          round(col("mp"), 6).as("mp"), col("mp_index"))),

    // M-extra: additive Holt-Winters one-step-ahead forecast —
    // the classic O(1)-state seasonal baseline; per-series in-order
    // recursion → fixture oracle.
    "q_holtwinters" -> ((s, dir) =>
      graft.models.HoltWinters.forecast(ev(s, dir), "user_id", "ts",
          "value", period = 24)
        .select(col("user_id"), col("ts"), col("value"),
          round(col("hw_pred"), 9).as("hw_pred"),
          round(col("hw_resid"), 9).as("hw_resid"))),

    // M-extra: Seasonal Hybrid ESD (Twitter AnomalyDetection,
    // arXiv:1704.07706) — STL seasonal removal + median detrend +
    // robust GESD (Rosner 1983) with Student-t critical values.
    // Deterministic throughout (fixed-iteration t-quantile bisection,
    // in-order per-series recursion) → fixture oracle.
    "q_shesd" -> ((s, dir) =>
      graft.models.Esd.seasonalHybridEsd(ev(s, dir), "user_id", "ts",
          "value", period = 24)
        .select(col("user_id"), col("ts"), col("value"),
          round(col("shesd_resid"), 9).as("shesd_resid"),
          col("is_anomaly"))),

    // M-extra: EWMA control chart (Roberts 1959, NIST e-handbook
    // §6.3.2.4) — small persistent mean shifts a pointwise z-test
    // misses; per-series in-order recursion with the time-varying
    // warm-up limit → fixture oracle.
    "q_ewma" -> ((s, dir) =>
      graft.models.Spc.ewmaChart(ev(s, dir), "user_id", "ts", "value",
          lambda = 0.2, l = 3.0)
        .select(col("user_id"), col("ts"), col("value"),
          round(col("ewma"), 9).as("ewma"),
          round(col("limit"), 9).as("limit"), col("is_anomaly"))),

    // M-extra: tabular CUSUM (Page 1954; k=0.5, h=5 — the classic
    // 1σ-shift tuning) — per-series in-order recursion on the
    // standardized series → fixture oracle.
    "q_cusum" -> ((s, dir) =>
      graft.models.Spc.cusum(ev(s, dir), "user_id", "ts", "value")
        .select(col("user_id"), col("ts"), col("value"),
          round(col("cusum_hi"), 9).as("cusum_hi"),
          round(col("cusum_lo"), 9).as("cusum_lo"), col("is_anomaly"))),

    // M-extra: Theil–Sen robust trend + Mann–Kendall significance —
    // declared as the per-series PAIR SELF-JOIN (bounded by series
    // length), exact `median` + INTEGER S/tie sums → plain SQL oracle.
    "q_trend" -> ((s, dir) =>
      // Float columns integer-pinned (round(x*1e6) → BIGINT, the
      // q_quality_calibrate pattern): round(x, 6) yields a DOUBLE whose
      // binary representation (hence the driver's float-to-text hash)
      // can differ across engines even when the decimal value agrees.
      graft.models.Trend.theilSenMannKendall(ev(s, dir), "user_id",
          "ts", "value")
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("n"),
          round(col("ts_slope") * lit(1e6)).cast("long")
            .as("ts_slope_i6"),
          round(col("ts_intercept") * lit(1e6)).cast("long")
            .as("ts_intercept_i6"),
          col("mk_s"),
          round(col("mk_var") * lit(1e6)).cast("long").as("mk_var_i6"),
          round(col("mk_z") * lit(1e6)).cast("long").as("mk_z_i6"),
          round(col("mk_tau") * lit(1e6)).cast("long")
            .as("mk_tau_i6"))),

    // M-extra: bounded-window Theil–Sen — the production form at
    // unbounded series length: lag ≤ w pairs via the lag-bucketed
    // equi-join (O(n·w) pair volume, never an n² self-join). Same
    // integer-pinning as q_trend.
    "q_trend_w" -> ((s, dir) =>
      graft.models.Trend.theilSenWindowed(ev(s, dir), "user_id",
          "ts", "value", w = 24)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("n"), col("n_pairs"),
          round(col("ts_slope") * lit(1e6)).cast("long")
            .as("ts_slope_i6"),
          round(col("ts_intercept") * lit(1e6)).cast("long")
            .as("ts_intercept_i6"),
          col("s_w"))),

    // A-extra: exact two-sample Kolmogorov–Smirnov drift of each
    // event_type's value distribution vs the rest — sup_x
    // |F_s − F_rest| over the pooled support, one window pass
    // partitioned by stratum. The exact-analysis face of the drift
    // pair; q_psi is the mergeable sketch path.
    "q_ks" -> ((s, dir) =>
      graft.metrics.Drift.ksDrift(ev(s, dir), "event_type", "value")
        .select(col("event_type"), col("n_points"),
          col("ks_vs_rest"))),

    // A-extra: PSI + binned-KS drift on a fixed 50-bin grid over
    // [0, 500) — (strata × bins) mergeable counts, no sort anywhere:
    // the 100 TB drift-monitoring path (ks_binned ≤ q_ks's exact sup).
    "q_psi" -> ((s, dir) =>
      graft.metrics.Drift.binnedDrift(ev(s, dir), "event_type",
          "value", bins = 50, lo = 0.0, hi = 500.0)
        .select(col("stratum").as("event_type"), col("n_points"),
          col("psi_vs_rest"), col("ks_binned"))),

    // LLM-pipeline: URL/domain hygiene (RefinedWeb §3.1) — the corpus
    // has no URL column, so a deterministic synthetic URL exercises
    // every normalization rule (upper scheme/host, www, trailing
    // slash, utm trackers beside a kept param, fragment) and both
    // eTLD+1 families (.com/.org 2-label, .co.uk 3-label); mirrored
    // verbatim in the oracle. Normalize → eTLD+1 → blocklist
    // (example.org) → per-domain cap 25. Map-only until the cap's one
    // domain-keyed window.
    "q_url" -> ((s, dir) => {
      val tld = element_at(
        array(lit(".com"), lit(".org"), lit(".co.uk")),
        (col("doc_id") % 3 + 1).cast("int"))
      val synthUrl = concat(
        lit("HTTPS://"),
        when(col("doc_id") % 7 === 0, lit("WWW.")).otherwise(lit("")),
        col("source"), lit("-"), (col("doc_id") % 20).cast("string"),
        lit(".example"), tld,
        lit("/Doc/"), col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("?utm_source=feed&ref=keep&utm_id="),
            col("doc_id").cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("#frag")).otherwise(lit(""))
      )
      llm.UrlHygiene.hygiene(
          docs(s, dir).withColumn("url", synthUrl),
          "url", "doc_id", Seq("example.org"), cap = 25)
        .select(col("doc_id"), col("url_norm"), col("domain"),
          col("domain_rank"))
    }),

    // LLM-pipeline: out-of-fold target encoding (the CatBoost/Kaggle
    // leakage-safe categorical feature): each row's encoding uses
    // only rows OUTSIDE its own deterministic fold; one (category,
    // fold) aggregate broadcast back to the scan — the fact rows
    // never shuffle.
    "q_target_enc" -> ((s, dir) =>
      graft.core.TargetEncode.oofTargetEncode(ev(s, dir), "event_id",
          "event_type", "value", k = 5, smoothing = 10.0)
        .select(col("event_id"), col("event_type"), col("fold"),
          round(col("target_enc"), 6).as("target_enc"))),

    // W-extra: M4 time-series downsampling (Jugel VLDB 2014) — the
    // error-free visualization reduction: first/last/min/max per
    // integer time bucket reproduces every pixel a full-resolution
    // line render would light. One map-combinable aggregate; output
    // bounded by series × buckets.
    "q_m4" -> ((s, dir) =>
      SeriesOps.m4Downsample(ev(s, dir), "user_id", "ts", "value",
          buckets = 48)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("bucket"), col("n"),
          col("v_first"), col("v_last"), col("v_min"), col("v_max"))),

    // W-extra: top event-type paths (user-flow / Sankey analysis) —
    // the path-exploration read next to q_funnel: one user-keyed
    // ordered window builds length-3 sequences in place, one count,
    // one top-k; ties (count DESC, path ASC).
    "q_paths" -> ((s, dir) =>
      graft.events.Behavior.topPaths(ev(s, dir), "user_id", "ts",
          "event_type", n = 3, k = 20)
        .select(col("path"), col("n_occurrences"), col("rank"))),

    // M-extra: per-series DBSCAN over integer (value, Δ) cents
    // features — density CLUSTERING next to q_lof's density SCORING:
    // regimes come out as clusters, isolated behavior as noise.
    // All-integer ε-test (dx²+dy² ≤ eps², no sqrt), component labels
    // via the L6 pointer-jumping components, min-label border rule.
    "q_dbscan" -> ((s, dir) =>
      graft.models.Dbscan.dbscan(ev(s, dir), "user_id", "ts", "value",
          scale = 100, eps = 1000L, minPts = 4)
        .select(col("user_id"), col("ord"), col("role"),
          col("cluster"))),

    // J-extra: general point-in-time (as-of backward) join — the
    // feature-assembly primitive: each click gets the user's most
    // recent purchase value at that instant (leakage-safe). Union
    // trick: one key shuffle + one ordered window, never an |L|×|R|
    // range join. Sentinels replace nulls for driver-hash stability.
    "q_asof" -> ((s, dir) => {
      val e = ev(s, dir)
      // the right side is pre-aggregated to one row per (user, ts):
      // AsofJoin's uniqueness contract, enforced rather than assumed
      graft.core.AsofJoin.asofJoin(
          e.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          e.filter(col("event_type") === "purchase")
            .groupBy(col("user_id"), col("ts").as("pts"))
            .agg(max("value").as("value")),
          Seq("user_id"), "ts", "pts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("asof_ts"),
            lit("1970-01-01 00:00:00").cast("timestamp")).as("asof_ts"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"))
    }),

    // J-extra: event-time interval join — the ALL-matches sibling of
    // q_asof: every view pairs with EVERY click by the same user in
    // the 6 hours after it (exclusive lower / inclusive upper).
    // One keyed equi-join with the range residual INSIDE; the same
    // call is Spark's canonical watermarked stream-stream join
    // (StreamingSpec pins batch ≡ stream across micro-batch splits,
    // including a click arriving batches after its view). gap_us is
    // exact integer microseconds on both engines.
    "q_ijoin" -> ((s, dir) => {
      val e = ev(s, dir)
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      core.IntervalJoin.intervalJoin(v, c, Seq("user_id"),
          "view_ts", "click_ts", "0 SECONDS", "6 HOURS")
        .select(col("user_id"), col("view_id"), col("click_id"),
          col("view_ts"), col("click_ts"),
          (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
            .as("gap_us"))
    }),

    // J-extra: LEFT OUTER interval join — the drop-off read on top of
    // q_ijoin: every view appears EXACTLY once-or-more — matched
    // views once per in-window click, un-clicked views ONCE with null
    // click fields. Same keyed equi+range join; in streaming the null
    // row emits when the watermark passes view_ts + window (the
    // documented outer-join latency). Null-user views pass through
    // unmatched on both engines (outer semantics).
    "q_ijoin_left" -> ((s, dir) => {
      val e = ev(s, dir)
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      core.IntervalJoin.intervalJoin(v, c, Seq("user_id"),
          "view_ts", "click_ts", "0 SECONDS", "6 HOURS",
          joinType = "left_outer")
        .select(col("user_id"), col("view_id"), col("click_id"),
          col("view_ts"), col("click_ts"),
          (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
            .as("gap_us"))
    }),

    // W-extra: regular-grid ffill resample — densify each user's
    // series to one row per hour of its span, carrying the last
    // observation at-or-before the instant (DuckDB's ASOF join is the
    // oracle's exact mirror of the window ffill, inclusive tie).
    // value_ff is a raw data value — no float arithmetic to pin.
    "q_resample" -> ((s, dir) =>
      SeriesOps.gridResample(ev(s, dir), "user_id", "ts", "value",
          step = "1 HOUR")
        .select(col("user_id"), col("grid_ts"), col("value_ff"))),

    // A-extra: Tukey-fence (boxplot-rule) outlier summary per series
    // — exact integer order-statistic quartiles (cents fixed-point,
    // no interpolation) and the 1.5·IQR rule compared at 4× scale,
    // every quantity a long: zero float hazard by construction.
    "q_tukey" -> ((s, dir) =>
      SeriesOps.tukeyFences(ev(s, dir), "user_id", "value")
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("n"), col("q1_c"), col("q3_c"),
          col("n_out"))),

    // Engine-extra: Morton z-value computation (the clustering key
    // behind io.Zorder.writeZordered — Delta/Iceberg OPTIMIZE ZORDER's
    // core): 16-bit interleave of (value cents, user id), a pure
    // codegen'd shift/mask fold. The layout write itself is proven by
    // ZorderSpec's measured both-axes pruning contract.
    "q_zorder" -> ((s, dir) =>
      ev(s, dir).select(col("event_id"),
        graft.io.Zorder.zValue(
          least(greatest(round(col("value") * 100).cast("long"),
            lit(0L)), lit(65535L)),
          pmod(col("user_id"), lit(65536L)), 16).as("zval"))),

    // LLM-pipeline: char-level Shannon entropy quality signal (the
    // deterministic compression-ratio cousin, RefinedWeb/Gopher
    // family) — a PURE column expression (sorted-distinct fold, one
    // list filter per distinct char), shuffle-free in the scan stage.
    "q_entropy" -> ((s, dir) =>
      docs(s, dir)
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          round(llm.TextAnalysis.charEntropy(col("text")), 6)
            .as("entropy_nats"))),

    // LLM-pipeline: Flesch readability band signals — the classic
    // prose-complexity filter next to q_quality; three regexp_count
    // integers + two ratio formulas, all map-only in the scan stage.
    "q_readability" -> ((s, dir) =>
      docs(s, dir)
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          llm.TextAnalysis.readability(col("text")).as("__r"))
        .select(col("doc_id"), col("__r.n_sentences"),
          col("__r.n_words"), col("__r.n_syllables"),
          round(col("__r.flesch_ease"), 6).as("flesch_ease"),
          round(col("__r.fk_grade"), 6).as("fk_grade"))),

    // Engine-extra: skew-defeating hybrid salted join on a REAL skew
    // shape — a 5-value key (event_type) against a tiny derived dim:
    // every key exceeds the hot threshold, so the hot set is
    // CARDINALITY-bounded (5 rows at any scale factor) and the whole
    // fact side flows through the salted path, spreading each hot key
    // over 8 shuffle partitions. Row-set ≡ the plain join (the
    // SaltedSpec contract), so the oracle is the unsalted SQL join.
    // dev_sum is an integer-micros pin (house rule): each deviation
    // is rounded to 1e-6 and summed as a long — exact, associative,
    // so the result is partition-order-independent on BOTH engines
    // (the unordered double sum it replaces relied on cancellation of
    // ±O(250) terms and could flake at a 0.005 rounding boundary).
    "q_salted" -> ((s, dir) => {
      val e = ev(s, dir)
      val dim = e.groupBy("event_type")
        .agg(round(avg("value"), 6).as("type_avg"))
      graft.core.Salted.saltedJoinSkewed(e, dim, Seq("event_type"),
          salts = 8, threshold = 1000)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(round((col("value") - col("type_avg")) * 1e6)
              .cast("long")).cast("double") / 1e6, 2)
            .as("dev_sum"))
    }),

    // LLM-pipeline: link-graph authority via PageRank (10 power-
    // iteration steps, d=0.85) — the crawl-frontier prioritization
    // stage next to q_url's hygiene tier. The corpus has no link
    // column, so a deterministic 3-out-link graph over doc_id
    // (mod max+1) is built identically on both engines; ranks are
    // integer-pinned at 1e9 (multi-step float pipeline house rule).
    "q_pagerank" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val edges = docLinkGraph(d)
      graft.graph.PageRank.pageRank(d, "doc_id", edges, "src", "dst",
          iters = 10)
        .select(col("doc_id"),
          round(col("pagerank") * lit(1e9)).cast("long")
            .as("pagerank_i9"))
    }),

    // L-extra: PERSONALIZED weighted PageRank — teleport mass pinned
    // to a curated seed set (doc_id % 17 = 0, the topic-focused
    // crawl-frontier form) with deterministic integer-valued edge
    // weights ((src+dst) % 3 + 1); same 3-out-link synthetic graph,
    // same two-level salt-bucketed folds, integer-pinned at 1e9.
    // Unreachable-from-seed nodes score exactly 0 (no uniform floor).
    "q_pagerank_pers" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val edges = docLinkGraph(d)
        .withColumn("w",
          ((col("src") + col("dst")) % 3 + 1).cast("double"))
      val seeds = d.filter(col("doc_id") % 17 === 0)
      graft.graph.PageRank.pageRank(d, "doc_id", edges, "src", "dst",
          iters = 10, resetTo = Some(seeds), weight = Some("w"))
        .select(col("doc_id"),
          round(col("pagerank") * lit(1e9)).cast("long")
            .as("ppr_i9"))
    }),

    // L-extra: HITS hubs & authorities (Kleinberg 1999) over the same
    // synthetic doc link graph as q_pagerank — the crawl-seeding /
    // quality-weighting companion read. Max-normalized (exact,
    // order-independent — no global float-norm fold), two-level
    // salt-bucketed contribution sums, integer-pinned at 1e9.
    "q_hits" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val edges = docLinkGraph(d)
      graft.graph.Hits.hits(d, "doc_id", edges, "src", "dst",
          iters = 5)
        .select(col("doc_id"),
          round(col("authority") * lit(1e9)).cast("long")
            .as("authority_i9"),
          round(col("hub") * lit(1e9)).cast("long").as("hub_i9"))
    }),

    // L-extra: triangle counts over the same synthetic doc link graph
    // (undirected closure) — the link-farm/cohesion signal next to
    // PageRank/HITS. Degree-oriented two-path join (Schank–Wagner
    // "forward"): wedge volume rides graph arboricity, not Σdeg², so
    // a power-law hub stays cheap. Pure integer counts — oracle-exact
    // with no float convention at all.
    "q_triangles" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val edges = docLinkGraph(d)
      graft.graph.Triangles.triangleCounts(d, "doc_id", edges,
        "src", "dst")
    }),

    // L-extra: local clustering coefficient over the same graph —
    // 2·T(v)/(deg·(deg−1)), the per-node cohesion ratio (link rings
    // score ~1, broadcast hubs ~0); rides q_triangles' machinery.
    "q_clustering" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val edges = docLinkGraph(d)
      graft.graph.Triangles.clusteringCoefficient(d, "doc_id", edges,
        "src", "dst")
    }),

    // L-extra: min-label ("hash-min") community detection over the
    // same synthetic doc link graph — 3 synchronous rounds, so
    // community = min doc_id within undirected distance 3 (18 labels
    // over 500 docs at sf0.01: tight link rings collapse, chains stay
    // split). All-integer min: exact on both engines, no float
    // convention. Per round: one co-partitioned label join + ONE
    // map-side-combined min exchange (r15 PageRank loop discipline).
    "q_communities" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"))
      val edges = docLinkGraph(d)
      graft.graph.Communities.minLabelPropagation(d, "doc_id", edges,
        "src", "dst", rounds = 3)
    }),

    // LLM-pipeline: n-gram novelty / memorization audit — fraction of
    // each doc's distinct 5-grams appearing in ANY other document
    // (novelty = 1 − shared/total). The measurement face of the dedup
    // tier: no pair join, one df aggregate + one doc aggregate.
    "q_novelty" -> ((s, dir) =>
      llm.Dedup.noveltyScore(docs(s, dir), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          col("novelty"))),

    // LLM-pipeline: hard-negative mining (the DPR / sentence-
    // transformers contrastive-batch recipe) — for each of 5 anchors,
    // the 4 nearest embeddings with a DIFFERENT label: the boundary
    // negatives contrastive fine-tuning wants. Label inequality rides
    // the broadcast join condition.
    "q_hardneg" -> ((s, dir) => {
      val e = emb(s, dir)
      llm.Similarity.hardNegatives(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", "label", k = 4)
        .select(col("query_id"), col("corpus_id"),
          col("anchor_label"), col("neg_label"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }),

    // LLM-pipeline: MMR diversified re-ranking (Carbonell–Goldstein
    // 1998) — greedy λ·rel − (1−λ)·max-sim-to-selected over the
    // brute-force top-20 candidates, k=5, λ=0.7; the de-duplicating
    // re-ranker between ANN and RAG context assembly. Oracle unrolls
    // the five greedy steps as chained CTEs.
    "q_mmr" -> ((s, dir) => {
      val e = emb(s, dir)
      llm.Similarity.mmrTopK(e.filter(col("vec_id") < 5), e,
          "vec_id", "embedding", k = 5, candidates = 20, lambda = 0.7)
        .select(col("query_id"), col("mmr_rank"), col("corpus_id"),
          round(col("rel"), 6).as("rel"),
          round(col("mmr_score"), 6).as("mmr_score"))
    }),

    // M-extra: classical additive seasonal decomposition (the
    // statsmodels seasonal_decompose moving-average method) — the
    // transparent baseline next to STL, and the one decomposition
    // whose every step is SQL-expressible → plain SQL oracle (the
    // STL tier is fixture-pinned).
    "q_decompose" -> ((s, dir) =>
      graft.models.Decompose.classical(ev(s, dir), "user_id", "ts",
          "value", period = 24)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("ts"), col("value"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("resid"), 6).as("resid"))),

    // M-extra: detector ensemble v3 — the round-11 members (EWMA
    // chart, Isolation Forest, Spectral Residual) through the M8
    // voting machinery, 2-of-3. Fixture oracle.
    "q_ensemble3" -> ((s, dir) => {
      val base = ev(s, dir)
      val e = graft.models.Spc.ewmaChart(base, "user_id", "ts", "value")
        .select(col("user_id"), col("ts"),
          col("is_anomaly").as("flag_ewma"))
      val f = graft.models.IsolationForest.score(base, "event_id",
          "user_id", "ts", "value")
        .select(col("user_id"), col("ts"),
          col("is_anomaly").as("flag_if"))
      val r = graft.models.SpectralResidual.detect(base, "user_id",
          "ts", "value")
        .select(col("user_id"), col("ts"),
          col("is_anomaly").as("flag_sr"))
      ensemble.Hybrid.voteFlags(
          e.join(f, Seq("user_id", "ts")).join(r, Seq("user_id", "ts")),
          Seq("flag_ewma", "flag_if", "flag_sr"), minVotes = 2)
        .select(col("user_id"), col("ts"), col("flag_ewma"),
          col("flag_if"), col("flag_sr"), col("detected"))
    }),

    // J/W-extra: ordered-step funnel conversion (the ClickHouse
    // windowFunnel shape as sequential filtered min-aggregates, all
    // user-keyed joins) — view → click → purchase within 7 days of
    // the first view. Plain SQL oracle.
    "q_funnel" -> ((s, dir) =>
      graft.events.Behavior.funnel(ev(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"), "7 DAYS")
        .select(col("user_id"), col("level"), col("ts_1"), col("ts_2"),
          col("ts_3"))),

    // A-extra: weekly cohort retention grid — cohort = ISO week of
    // first event; exact integer microsecond offset arithmetic.
    // Plain SQL oracle.
    "q_retention" -> ((s, dir) =>
      graft.events.Behavior.retention(ev(s, dir), "user_id", "ts")
        .select(col("cohort_week"), col("week_offset"),
          col("cohort_size"), col("n_active"),
          round(col("retention"), 6).as("retention"))),

    // Engine-extra: ROLLUP grouping-sets aggregate — the OLAP
    // subtotal/grand-total read (Spark rollup() ≡ SQL GROUP BY
    // ROLLUP); grouping_id disambiguates a rolled-up NULL from a
    // data NULL, same bitmask convention on both engines. One
    // Expand + one aggregate — map-side combinable like any groupBy.
    "q_rollup" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(10L)).as("user_mod"), col("value"))
        .rollup("event_type", "user_mod")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 9).as("sum_value"))),

    // Engine-extra: EXCEPT set op — viewers who never purchased.
    // Dataset.except IS Catalyst's LeftAnti + distinct (SQL EXCEPT
    // DISTINCT), with set-op null equality (a null key on both sides
    // cancels — unlike an anti JOIN, which would keep it; both
    // engines follow the SQL standard here, pinned by the null audit).
    "q_except" -> ((s, dir) => {
      val e = ev(s, dir)
      e.filter(col("event_type") === "view").select("user_id")
        .except(e.filter(col("event_type") === "purchase")
          .select("user_id"))
    }),

    // Engine-extra: INTERSECT set op — users who BOTH viewed and
    // purchased (semi-join + distinct under the hood, same set-op
    // null equality as q_except).
    "q_intersect" -> ((s, dir) => {
      val e = ev(s, dir)
      e.filter(col("event_type") === "view").select("user_id")
        .intersect(e.filter(col("event_type") === "purchase")
          .select("user_id"))
    }),

    // Engine-extra: CUBE grouping sets — completes the OLAP subtotal
    // family next to q_rollup with ALL four grouping sets of
    // (event_type, user_mod) in ONE Expand + one aggregate (still
    // map-side combinable: Expand multiplies rows BEFORE the partial
    // agg, so each partition pre-folds every set locally and the
    // exchange moves only group cells). grouping_id's bitmask
    // disambiguates a cubed-away NULL from a data NULL — same
    // convention as DuckDB's GROUPING(). At 100 TB the cube is 4× the
    // group-cell volume of the plain agg, never 4× the fact volume.
    "q_cube" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(10L)).as("user_mod"), col("value"))
        .cube("event_type", "user_mod")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 9).as("sum_value"))),

    // Engine-extra: PIVOT reshape — long-to-wide per-type counts with
    // the pivot values EXPLICIT (the 100 TB discipline: an implicit
    // pivot first runs a distinct over the fact to discover columns;
    // the explicit list keeps it ONE aggregate pass, map-side
    // combinable). Cells with no rows are coalesced to 0 to match the
    // oracle's conditional-aggregation (FILTER) face — the desugared
    // form of the same reshape.
    "q_pivot" -> ((s, dir) =>
      ev(s, dir)
        .select(pmod(col("user_id"), lit(10L)).as("user_mod"),
          col("event_type"))
        .groupBy("user_mod")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("user_mod"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("error"), lit(0L)).as("n_error"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("view"), lit(0L)).as("n_view"))),

    // Engine-extra: arbitrary GROUPING SETS — the general form rollup
    // and cube are special cases of: per-type totals, per-user-mod
    // totals, and the grand total in ONE Expand + one aggregate, with
    // NO (event_type, user_mod) cross cells (the cube would pay for
    // them; picking exactly the sets you read is the 100 TB win of
    // the general form). Same grouping_id bitmask as q_rollup/q_cube.
    "q_grouping_sets" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          pmod(col("user_id"), lit(10L)).as("user_mod"), col("value"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("user_mod")), Seq()),
          col("event_type"), col("user_mod"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 9).as("sum_value"))),

    // A-extra: multi-DISTINCT aggregate — two count(DISTINCT) columns
    // of different cardinalities plus plain aggregates in ONE
    // statement. Spark plans this with a single Expand (one row
    // replica per distinct group + one for the plain aggregates)
    // feeding one shuffled aggregate pair — never three scans or one
    // shuffle per distinct column; the plain count/sum stay map-side
    // combinable on their replica. PlanSpec pins exactly one Expand
    // and a single events scan.
    "q_multi_distinct" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 9).as("sum_value"))),

    // L-extra: blocked edit-distance near-dup pairs — the entity-
    // resolution face of the dedup tier (character-level edits where
    // minhash is token-level). Blocking = (length bucket ±1, 16-char
    // prefix); exact levenshtein only inside blocks; both engines
    // compute the identical plain edit distance.
    "q_editdist" -> ((s, dir) =>
      graft.llm.Dedup.editDistancePairs(docs(s, dir), "doc_id",
          "text", maxDist = 40, lenBucket = 50, prefixLen = 16)
        .select(col("id_a"), col("id_b"), col("dist"),
          round(col("sim"), 6).as("sim"))),

    // L-extra: phonetic blocking keys (American Soundex, NARA
    // variant) — the record-linkage companion to q_editdist: block on
    // the code (scan-stage pure expression, no pair join), confirm
    // inside blocks with exact edit distance. One row per part-name
    // word with its code.
    "q_soundex" -> ((s, dir) =>
      tbl(s, dir, "part")
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"),
          col("word"),
          llm.Phonetic.soundex(col("word")).as("soundex"))),

    // L-extra: the ER tier composed end-to-end — Soundex blocking
    // feeding exact edit-distance confirmation inside blocks
    // (Phonetic.soundexBlockedPairs), over the distinct part-name
    // vocabulary: the phonetic key catches pairs the q_editdist
    // (length-bucket, prefix) key structurally misses (Smith/Smyth
    // split at prefix char 3; S530 holds them together), and the
    // exact distance rejects phonetic over-merges (Robert/Rupert).
    "q_er_block" -> ((s, dir) => {
      val words = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
      llm.Phonetic.soundexBlockedPairs(words, "word", "word",
          maxDist = 2)
        .select(col("block"), col("id_a"), col("id_b"), col("dist"))
    }),

    // L-extra: the ER pipeline END TO END as one gated query —
    // phonetic blocking → exact confirm (the q_er_block pair set) →
    // transitive entity resolution via the L6 pointer-jumping
    // components over the confirmed pair graph: every name word lands
    // in an entity cluster keyed by its lexicographic minimum,
    // singletons keep themselves (is_kept = true on the
    // representative).
    "q_er_resolve" -> ((s, dir) => {
      val words = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
      val pairs = llm.Phonetic.soundexBlockedPairs(words, "word",
          "word", maxDist = 2)
        .select(col("id_a"), col("id_b"))
      llm.Dedup.resolveComponents(words, pairs, "word")
        .select(col("word"), col("keep_id").as("entity_id"),
          col("is_kept"))
    }),

    // L-extra: multi-blocking ER — the recall-union recipe: Soundex ∪
    // (length-bucket, 3-char prefix) candidate keys over the same
    // vocabulary, dedup on pair, exact confirm. Each key finds pairs
    // the other structurally misses (Smith/Smyth for prefix,
    // Bart/Barl for soundex — PhoneticSpec plants both classes); the
    // per-leg confirm makes the union's pair set closed-form
    // (dist ≤ 2 AND (code or prefix equal)), which the oracle states
    // directly with no blocking mirrored at all.
    "q_er_union" -> ((s, dir) => {
      val words = tbl(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .filter(length(col("word")) > 0).distinct()
      llm.Phonetic.unionBlockedPairs(words, "word", "word",
          maxDist = 2, prefixLen = 3)
        .select(col("id_a"), col("id_b"), col("dist"),
          col("via_soundex"), col("via_prefix"))
    }),

    // L-extra: HyperLogLog distinct sketch (Flajolet 2007) in pure
    // relational form — fixed m-byte summary, merge = per-bucket MAX
    // (map-side combinable, HllSpec plan pin). Portable polynomial
    // hash + xorshift finalizer → the ESTIMATE itself is
    // oracle-checked, not just "approximately right". Keys padded to
    // 10 chars (the KMV short-token convention).
    "q_hll" -> ((s, dir) =>
      graft.llm.Hll.distinctSketch(
          ev(s, dir).select(col("event_type"),
            concat(lit("u"), lpad(col("user_id").cast("string"), 8,
              "0"), lit("x")).as("ukey")),
          "event_type", "ukey", m = 16)
        .select(col("event_type"), col("m"), col("v_zero"),
          col("s_sum"), round(col("est_distinct"), 6)
            .as("est_distinct"), col("exact_distinct"))),

    // L-extra: market-basket association rules over session baskets —
    // support/confidence/lift per unordered event-type pair ("users
    // who X also Y", order-free companion to q_funnel). Pair join is
    // session-keyed (per-basket items bounded by the type vocab);
    // type/global counts broadcast. All ratios of exact integer
    // counts.
    "q_assoc" -> ((s, dir) =>
      graft.events.Assoc.associationRules(ev(s, dir), "user_id", "ts",
          "event_type", gapSeconds = 14400L)
        .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
          col("n_ab"), round(col("support"), 6).as("support"),
          round(col("conf_a_b"), 6).as("conf_a_b"),
          round(col("conf_b_a"), 6).as("conf_b_a"),
          round(col("lift"), 6).as("lift"))),

    // L-extra: inactivity-gap sessionization (4h gap) + per-session
    // rollup — the gaps-and-islands rank trick: ONE user-keyed ordered
    // window, stats reuse the user partitioning; exact integer-micros
    // gap test. duration_secs is micros/1e6 — exact in double.
    "q_sessions" -> ((s, dir) =>
      graft.events.Sessions.sessionStats(ev(s, dir), "user_id", "ts",
          "event_type", gapSeconds = 14400L)
        .select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"), col("n_events"),
          col("duration_secs"), col("n_types"))),

    // M-extra: PELT exact offline changepoint segmentation (Killick
    // 2012) — globally optimal penalized mean-shift segments on the
    // standardized series; pruned DP, exactness spec-pinned vs the
    // unpruned OP recursion → fixture oracle.
    "q_pelt" -> ((s, dir) =>
      graft.models.Pelt.segments(ev(s, dir), "user_id", "ts", "value")
        .select(col("user_id"), col("seg_id"), col("start_ts"),
          col("end_ts"), col("n_points"),
          round(col("seg_mean"), 9).as("seg_mean"))),

    // M-extra: Spectral Residual saliency detection (Hou/Zhang 2007
    // via Ren et al. KDD 2019) — log-spectrum residual → saliency
    // map → trailing-mean relative score; fixed-order naive DFT keeps
    // it bit-deterministic → fixture oracle.
    "q_spectral" -> ((s, dir) =>
      graft.models.SpectralResidual.detect(ev(s, dir), "user_id", "ts",
          "value")
        .select(col("user_id"), col("ts"), col("value"),
          round(col("saliency"), 9).as("saliency"),
          round(col("sr_score"), 6).as("sr_score"), col("is_anomaly"))),

    // A-extra: forecast-accuracy metrics (Hyndman & Koehler 2006) —
    // RMSE / sMAPE / seasonal-naive MASE per series over the
    // Holt-Winters one-step forecasts. Inputs rounded to 9 to mirror
    // the committed q_holtwinters fixture EXACTLY, so the oracle can
    // recompute the metrics in SQL from that fixture — the metric
    // math gets a true cross-engine check.
    "q_forecast_metrics" -> ((s, dir) => {
      val hw = graft.models.HoltWinters.forecast(ev(s, dir), "user_id",
          "ts", "value", period = 24)
        .withColumn("hw_pred", round(col("hw_pred"), 9))
        .withColumn("hw_resid", round(col("hw_resid"), 9))
      graft.metrics.Forecast.accuracy(hw, "user_id", "ts", "value",
          "hw_pred", "hw_resid", m = 24)
        .select(col("user_id"), col("n"),
          round(col("rmse"), 6).as("rmse"),
          round(col("smape"), 6).as("smape"),
          round(col("mase"), 6).as("mase"))
    }),

    // M-extra: split-conformal anomaly band (Vovk; Lei 2018 split) —
    // distribution-free calibration of the Holt-Winters residuals:
    // exact integer-rank quantile on the first-half calibration
    // points, flag test points beyond q̂. Same fixture-mirrored
    // rounding as q_forecast_metrics → SQL oracle over the fixture.
    "q_conformal" -> ((s, dir) => {
      val hw = graft.models.HoltWinters.forecast(ev(s, dir), "user_id",
          "ts", "value", period = 24)
        .withColumn("hw_resid", round(col("hw_resid"), 9))
      graft.models.Conformal.splitConformal(hw, "user_id", "ts",
          "value", "hw_resid", alpha = 0.1)
        .select(col("user_id"), col("ts"), col("value"), col("resid"),
          col("qhat"), col("is_anomaly"))
    }),

    // M-extra: deterministic Isolation Forest (Liu/Ting/Zhou 2008) —
    // MCG-selected bounded sample, Park–Miller split streams, map-only
    // scoring over (value, delta) features → fixture oracle.
    "q_iforest" -> ((s, dir) =>
      graft.models.IsolationForest.score(ev(s, dir), "event_id",
          "user_id", "ts", "value")
        .select(col("user_id"), col("ts"), col("value"),
          round(col("if_score"), 9).as("if_score"), col("is_anomaly"))),

    // M-extra: Local Outlier Factor (Breunig 2000) over per-series
    // (value, Δ) features — the density-based complement to q_iforest
    // (catches outliers inside globally dense value ranges). Fully
    // relational: the series-keyed pair join is the q_trend O(n²)
    // bounded shape; every downstream step rides the series keys.
    "q_lof" -> ((s, dir) =>
      graft.models.Lof.lof(ev(s, dir), "user_id", "ts", "value", k = 5)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("ord"), col("value"),
          round(col("lof"), 6).as("lof"))),

    // M-extra: bounded-window LOF — the production face at unbounded
    // series length: kNN candidates restricted to time-lag ≤ w via
    // the lag-bucket equi-join (O(n·w) pair volume, no n² self-join;
    // the L69 theilSenWindowed precedent applied to LOF). Output ≡
    // q_lof when w ≥ n−1 (LofSpec pins it).
    "q_lof_w" -> ((s, dir) =>
      graft.models.Lof.lofWindowed(ev(s, dir), "user_id", "ts",
          "value", k = 5, w = 8)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("ord"), col("value"),
          round(col("lof"), 6).as("lof"))),

    // M-extra: Croston intermittent-demand forecast (1972) — SES on
    // demand sizes and inter-demand intervals (demand = value > 113,
    // the ~p90 threshold → genuine intermittency), forecast = ẑ/p̂.
    // The two recursions run as ONE per-series ordered struct fold,
    // mirrored lambda-for-lambda in the oracle.
    "q_croston" -> ((s, dir) =>
      graft.models.Croston.croston(ev(s, dir), "user_id", "ts",
          "value", demandIf = col("value") > 113.0, alpha = 0.25)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("n_demands"),
          round(col("z_hat"), 6).as("z_hat"),
          round(col("p_hat"), 6).as("p_hat"),
          round(col("croston_forecast"), 6).as("croston_forecast"))),

    // M-extra: HBOS (Goldstein 2012) over the same (value, Δ) feature
    // convention — the CHEAPEST outlier face (two histogram
    // aggregates, no pairs, no trees): the first-pass detector at
    // 100 TB. Fact rows shuffle once; bin counts broadcast back.
    "q_hbos" -> ((s, dir) =>
      graft.models.Hbos.hbos(ev(s, dir), "user_id", "ts", "value",
          bins = 16)
        .withColumn("user_id", col("user_id").cast("long"))
        .select(col("user_id"), col("ord"), col("value"),
          round(col("hbos"), 6).as("hbos"))),

    // W9: autocorrelation per lag — the notebook's full EDA grid
    // (notebooks/01 cell 7 plots lags 1..50), still ONE scan + ONE agg
    "q_acf" -> ((s, dir) =>
      SeriesOps.acf(ev(s, dir), "user_id", "ts", "value", (1 to 50).toSeq)
        .select(col("user_id"), col("lag"), round(col("acf"), 6).as("acf"))),

    // S7: residual QQ diagnostic (plotting.py:17-23) — per-series order
    // statistics of the mean-centered value vs theoretical normal
    // quantiles at Filliben plotting positions (scipy probplot's osm/osr)
    "q_qq" -> ((s, dir) => {
      val centered = ev(s, dir).withColumn("resid",
        col("value") - avg(col("value")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      Metrics.qqQuantiles(centered, "user_id", "resid")
        .select(col("user_id"), col("qi"),
          round(col("theoretical_q"), 6).as("theoretical_q"),
          round(col("sample_q"), 9).as("sample_q"))
    }),

    // S7: residual density histogram (plotting.py:28-39, np.histogram
    // bins=50 density semantics) — closes the plot-data relation set.
    // Median-centered residual: the median is an order statistic, so both
    // engines bin bit-identical doubles (an avg would differ by summation
    // order and could flip edge-exact bins).
    "q_hist" -> ((s, dir) => {
      val centered = ev(s, dir).withColumn("resid",
        col("value") - median(col("value")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      Metrics.histogram(centered, "user_id", "resid", 50)
        .select(col("user_id"), col("bin"),
          round(col("bin_lo"), 6).as("bin_lo"),
          round(col("bin_hi"), 6).as("bin_hi"),
          col("count"),
          round(col("density"), 6).as("density"))
    }),

    // S7: pointwise precision-recall curve data (plotting.py:42-55 /
    // sklearn precision_recall_curve) — one row per distinct threshold
    "q_pr_curve" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("label",
        when(col("event_type") === "error", 1).otherwise(0))
      Metrics.prCurve(e, "user_id", "label", "value")
        .select(col("user_id"), round(col("threshold"), 9).as("threshold"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"), col("n_flagged"))
    }),

    // A9: kurtosis (excess, population moments — scipy fisher=True)
    "q_kurtosis" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id")
        .agg(round(kurtosis(col("value")), 6).as("kurt"))),

    // A1/A2: global aggregates with ddof conventions
    "q_global_stats" -> ((s, dir) =>
      ev(s, dir).groupBy("user_id").agg(
        count(lit(1)).as("n"),
        round(sum("value"), 9).as("sum_value"),
        round(avg("value"), 9).as("avg_value"),
        round(stddev_samp(col("value")), 6).as("std_samp"),
        round(stddev_pop(col("value")), 6).as("std_pop"),
        round(median(col("value")), 6).as("med"))),

    // O5: tail-window subsample (GP training subsample semantics)
    "q_lastn" -> ((s, dir) =>
      SeriesOps.lastN(ev(s, dir), "user_id", "ts", 10)
        .select(col("user_id"), col("ts"), col("value"))),

    // F5: JSON struct extraction from the props column
    "q_json" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("k_val",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("k_val").as("sum_k"),
          round(avg("k_val"), 9).as("avg_k"))),

    // TPC-H Q1-style pricing summary (scan + hash agg)
    "q1_pricing" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 9).as("avg_qty"),
          round(avg("l_discount"), 9).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3 shape (shipping priority): segment-filtered customers
    // BROADCAST into the orders⋈lineitem shuffle join, top-10 orders
    // by revenue. Revenue is an INTEGER-CENTS pin (the q_salted house
    // rule): per-line cents round exactly, sum as long (associative,
    // partition-order-independent), so the top-k selection can never
    // flake on a float boundary.
    "q3_shipping" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate",
          "o_orderpriority")
      val l = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(
            round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long"))
          .cast("double") / 100, 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q6 shape (forecast revenue change): pure scan-stage
    // filter + one global aggregate — the predicate-pushdown
    // showcase; revenue integer-cents-pinned like q3_shipping.
    "q6_forecast" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(
            round(col("l_extendedprice") * col("l_discount") * 100)
              .cast("long")).cast("double") / 100, 2).as("revenue"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q4 shape (order-priority checking): the LEFT SEMI join
    // showcase — orders filtered to a half-year window, kept iff ANY
    // lineitem shipped after the order date (equi key + non-equi
    // residual inside the semi join, so the fact side never
    // duplicates orders), one integer count per priority. EXISTS in
    // the oracle compiles to the same semi shape in DuckDB.
    "q4_priority" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val l = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
    }),

    // TPC-H Q18 shape (large-volume customers): aggregate-BEFORE-join
    // — the big-orders set is reduced to keys on the lineitem side
    // first (HAVING pushes the filter under the join), then joined to
    // orders and a broadcast customer dim; TakeOrderedAndProject
    // top-10. Quantities are integer-valued: the BIGINT sum is exact
    // and order-independent on both engines.
    "q18_big_orders" -> ((s, dir) => {
      val big = tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .filter(col("total_qty") > 150)
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer").select("c_custkey", "c_name")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the same-
    // fact SEMI + ANTI composition — the hardest classic join shape:
    // late lines (of finished orders, by the watched nations'
    // suppliers) are kept iff ANOTHER supplier has a line in the same
    // order (LEFT SEMI, non-equi residual inside the join condition)
    // and NO other supplier's line in that order was late (LEFT ANTI,
    // two non-equi residuals). Both probes are keyed equi-joins on
    // l_orderkey with the residual INSIDE, so the fact never
    // duplicates and no row_number workaround appears; the supplier ⋈
    // nation dim broadcasts. "Late" = shipped > 60 days after the
    // order date (the testdata lineitem has no receipt/commit dates;
    // the published shape is preserved on the available columns,
    // /root/reference has no join tier at all — this is the engine-
    // extra relational surface). Full (s_name, numwait) set, no
    // LIMIT: set-deterministic output, count ties cannot flake the
    // hash gate.
    "q21_waiting" -> ((s, dir) => {
      def late(sd: org.apache.spark.sql.Column,
               od: org.apache.spark.sql.Column) =
        sd > od + expr("INTERVAL 60 DAYS")
      val lf = tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val oF = tbl(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val sn = tbl(s, dir, "supplier")
        .join(tbl(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_nationkey") < 5)
        .select("s_suppkey", "s_name")
      val l1 = lf.join(oF, col("l_orderkey") === col("o_orderkey"))
        .filter(late(col("l_shipdate"), col("o_orderdate")))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      val l2 = lf.select(col("l_orderkey").as("l2_ok"),
        col("l_suppkey").as("l2_sk"))
      val l3 = lf.select(col("l_orderkey").as("l3_ok"),
        col("l_suppkey").as("l3_sk"), col("l_shipdate").as("l3_sd"))
      l1.join(l2, col("l_orderkey") === col("l2_ok") &&
            col("l2_sk") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_ok") &&
            col("l3_sk") =!= col("l_suppkey") &&
            late(col("l3_sd"), col("o_orderdate")), "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    }),

    // Engine-extra: the bucketed-table co-location path GATED end to
    // end — pay the shuffle ONCE at write time (bucketBy+sortBy
    // managed tables, io/Bucketed), then the fact⋈fact equi-join on
    // the bucket key plans with ZERO exchanges on either side
    // (BucketedSpec pins the plan; the merge hint keeps the join on
    // the SMJ path the bucketing feeds, instead of a broadcast that
    // only exists at test scale). The oracle is the PLAIN join on the
    // raw parquet — equivalence-is-the-contract, the q_salted
    // pattern: bucketed write+read must change nothing but the plan.
    // Revenue is the house integer-cents pin. This is the 100 TB
    // lever Z-order (L79) doesn't cover: repeated pipeline runs over
    // a bucketed fact never re-shuffle it.
    "q_bucketed" -> ((s, dir) => {
      io.Bucketed.writeBucketed(
        tbl(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_bkt_lineitem", Seq("l_orderkey"), 8)
      io.Bucketed.writeBucketed(
        tbl(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders", Seq("o_orderkey"), 8)
      val l = s.table("graft_bkt_lineitem")
      val o = s.table("graft_bkt_orders")
      l.hint("merge")
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(round(sum(
            round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")).cast("double") / 100, 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Engine-extra: small-file compaction (io/Compact — the
    // OPTIMIZE-style bin-pack rewrite, third layout lever next to
    // Z-order and bucketing): EXPLODE lineitem into 32 small files,
    // compact them back to ~target-sized files with the scan's own
    // split packing (no shuffle, no driver file loop), and aggregate
    // the COMPACTED copy. The oracle is the same aggregate on the RAW
    // parquet — equivalence-is-the-contract, the q_salted/q_bucketed
    // convention: compaction may change the layout and nothing else.
    // Revenue is the house integer-cents pin. File-count/bytes
    // evidence is CompactSpec's job (here the gate is row fidelity).
    "q_compact" -> ((s, dir) => {
      val base = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_compact").getAbsolutePath
      tbl(s, dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_discount")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$base/small")
      io.Compact.compact(s, s"$base/small", s"$base/packed",
        targetBytes = 64L << 20)
      s.read.parquet(s"$base/packed")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(
              round(col("l_extendedprice") * (lit(1) - col("l_discount"))
                * 100).cast("long")).cast("double") / 100, 2)
            .as("revenue"))
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // scalar-subquery decorrelation — "l_quantity < 0.2 * avg(qty) of
    // this part" is NOT a per-row rescan: the per-part average is
    // computed ONCE as an aggregate over the probed lines (output is
    // part-cardinality, never fact-sized) and joined back BROADCAST.
    // The threshold compare is EXACT integer math (quantities are
    // integer-valued in the testdata): qty * n_lines * 5 < total_qty
    // ⇔ qty < 0.2 * avg — a float average could differ in ulps across
    // engines' summation orders and flake boundary rows. Revenue is
    // the house integer-cents pin, /7.0 applied to the exact sum.
    "q17_small_qty" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
        .filter(col("p_brand") === "Brand#13" && col("p_size") < 20)
        .select("p_partkey")
      val l = tbl(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val lsel = l.join(broadcast(p),
        col("l_partkey") === col("p_partkey"))
      val th = lsel.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"),
          count(lit(1)).as("n_lines"))
      lsel.join(broadcast(th),
          col("l_partkey") === col("t_partkey") &&
            col("l_quantity").cast("long") * col("n_lines") * 5 <
              col("total_qty"))
        .agg(round(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100 / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_small"))
    }),

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    // with the order filter INSIDE the join — a customer whose every
    // order is filtered must land in bucket 0, not disappear, so the
    // residual cannot become a post-join WHERE (it pushes to the
    // ORDERS side scan instead, which is equivalent for left outer
    // and lets parquet skip). count(o_orderkey) null-skips, putting
    // match-less customers at c_count = 0; the custkey groupBy then
    // reuses the join's hash partitioning (no exchange between join
    // and first aggregate on the shuffle path), and the
    // count-of-counts re-aggregate moves only ~#distinct-counts rows.
    "q13_cust_dist" -> ((s, dir) => {
      val c = tbl(s, dir, "customer").select("c_custkey")
      val o = tbl(s, dir, "orders")
        .select("o_custkey", "o_orderkey", "o_orderpriority")
      c.join(o, c("c_custkey") === o("o_custkey") &&
          o("o_orderpriority") =!= "1-URGENT", "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q22 shape (prospective idle customers): global-scalar
    // threshold + anti join. The average positive balance is ONE
    // aggregate row cross-joined BROADCAST (never a driver collect),
    // and the compare is exact integer cents — bal_cents * n_pos >
    // tot_cents ⇔ bal > avg — so no cross-engine float average can
    // flake a boundary customer. "Never placed a big-ticket order"
    // (every testdata customer has SOME order) is a LEFT ANTI probe
    // whose price filter pushes to the orders parquet scan, so the
    // anti side ships only qualifying keys.
    "q22_idle_balance" -> ((s, dir) => {
      val c = tbl(s, dir, "customer")
        .filter(col("c_nationkey") < 10)
        .withColumn("bal_cents",
          round(col("c_acctbal") * 100).cast("long"))
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(sum(col("bal_cents")).as("tot_cents"),
          count(lit(1)).as("n_pos"))
      val o = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
        .select("o_custkey")
      c.join(broadcast(thr))
        .filter(col("bal_cents") * col("n_pos") > col("tot_cents"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("bal_cents")).cast("double") / 100, 2)
            .as("total_bal"))
    }),

    // TPC-H Q7 shape (volume shipping between nation pairs): the
    // classic DISJUNCTIVE cross-dimension predicate — (supp=A ∧
    // cust=B) ∨ (supp=B ∧ cust=A) references both dims at once and
    // cannot push into either scan. The engine plans it the way a
    // 100 TB run wants it: the pushable per-side relaxation (nation ∈
    // {A,B}) IS pushed into each dim scan, after which the
    // disjunction is exactly `supp_nation ≠ cust_nation` — a cheap
    // post-join residual on two broadcast attributes instead of an
    // un-pushable OR over the fact. Revenue integer-cents per year.
    "q7_nation_trade" -> ((s, dir) => {
      val n1 = tbl(s, dir, "nation")
        .filter(col("n_nationkey").isin(1, 2))
        .select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
      val n2 = tbl(s, dir, "nation")
        .filter(col("n_nationkey").isin(1, 2))
        .select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))
      val sup = tbl(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .select("s_suppkey", "supp_nation")
      val cus = tbl(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .select("c_custkey", "cust_nation")
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(
            round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")).cast("double") / 100, 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q10 shape (returned-item top customers): the classic
    // dim ⋈ fact ⋈ fact aggregate-then-top-k — returnflag filter
    // pushed to the lineitem scan, date window to orders, nation
    // broadcast; revenue integer-cents, top-20 via
    // TakeOrderedAndProject with the key as tie-break.
    "q10_returned" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val l = tbl(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val c = tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(
            round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")).cast("double") / 100, 2)
            .as("revenue"),
          count(lit(1)).as("n_returned"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q2 shape (min-cost supplier): the last classic correlated
    // composition — "cost = (SELECT min(cost) FROM ... WHERE same
    // part AND supplier in region)" — decorrelated as a per-part MIN
    // over the JOINED (supply ⋈ regional-supplier) relation, joined
    // back broadcast: the q17 discipline applied to a MIN over a
    // join rather than a fact aggregate. The supply relation itself
    // derives from lineitem (the testdata ships no partsupp): per
    // (part, supplier) the cheapest observed line price in EXACT
    // integer cents, so the min-equality join-back can never flake
    // on float ulps. The part filter broadcast-pushes UNDER the
    // supply aggregate (the agg input shrinks before any shuffle);
    // supplier⋈nation⋈region is dim-sized broadcast; the join-back
    // side is part-cardinality (never the fact).
    "q2_min_cost" -> ((s, dir) => {
      val p = tbl(s, dir, "part").filter(col("p_size") === 15)
        .select("p_partkey", "p_name")
      val sup = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val ps = tbl(s, dir, "lineitem")
        .join(broadcast(p.select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(round(col("l_extendedprice") * 100).cast("long"))
          .as("cost_cents"))
      val psr = ps.join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey"))
      val minc = psr.groupBy(col("l_partkey").as("m_partkey"))
        .agg(min("cost_cents").as("min_cents"))
      psr.join(broadcast(minc),
          col("l_partkey") === col("m_partkey") &&
            col("cost_cents") === col("min_cents"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          round(col("cost_cents").cast("double") / 100, 2).as("cost"))
    }),

    // TPC-H Q20 shape (excess-stock suppliers): nested SEMI — the one
    // join nesting Q21's semi/anti pair does not exercise: a semi
    // join against a per-(part, supplier) aggregate threshold that
    // ITSELF probes lineitem (semi over aggregate over fact).
    // Suppliers who, for SOME watched part, shipped >30% of the
    // part's total 1997 volume. Both aggregate layers are exact
    // integer quantities and the 30% threshold is cross-multiplied
    // (qty_ps·10 > qty_p·3), so no float boundary exists; the part
    // filter and the date window push to their scans; the per-part
    // total re-aggregates the (part, supplier) layer (aggregate-
    // sized, never a second fact pass) and joins back broadcast.
    "q20_excess_stock" -> ((s, dir) => {
      val w = tbl(s, dir, "part")
        .filter(col("p_name").startsWith("red"))
        .select("p_partkey")
      val lw = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(w), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
      val ps = lw.groupBy("l_partkey", "l_suppkey")
        .agg(sum("qty").as("qty_ps"))
      val pt = ps.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum("qty_ps").as("qty_p"))
      val excess = ps.join(broadcast(pt),
          col("l_partkey") === col("t_partkey") &&
            col("qty_ps") * 10 > col("qty_p") * 3)
        .select("l_suppkey")
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_nationkey") < 15)
        // the probe set is aggregate-sized (threshold survivors over
        // watched-part × supplier cells) — broadcast it so the
        // supplier dim never shuffles for the semi
        .join(broadcast(excess),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    }),

    // TPC-H Q11 shape (important stock): HAVING against a global
    // scalar computed over the SAME aggregate — per-part supply value
    // (regional suppliers only), kept where the part's value exceeds
    // TWICE the average part value. The threshold is SCALE-FREE
    // (value·n_parts > 2·total ⇔ value > 2·avg — a fixed share like
    // TPC-H's 0.0001 selects a fraction that collapses to zero as the
    // part dimension grows; the avg-relative form keeps a stable ~3%
    // at every SF, probed 96 rows at sf0.01 / 539 at sf0.1). The
    // grand total + count is ONE row aggregated FROM the per-part
    // aggregate (never a second fact pass) and broadcast back (AQE
    // reuses the per-part aggregate's exchange at runtime —
    // ReusedExchange, pinned in PlanSpec — so the fact map stage runs
    // ONCE); the compare is cross-multiplied exact integer cents, so
    // no float share can flake a boundary part. Q22 broadcast a
    // scalar over a BASE table; this is the scalar-over-aggregate-
    // filtering-its-own-aggregate form.
    "q11_important_stock" -> ((s, dir) => {
      val sup = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_regionkey") === 3)
        .select("s_suppkey")
      val psv = tbl(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("value_cents"))
      val tot = psv.agg(sum("value_cents").as("tot_cents"),
        count(lit(1)).as("n_parts"))
      psv.join(broadcast(tot))
        .filter(col("value_cents") * col("n_parts") >
          col("tot_cents") * 2)
        .select(col("l_partkey").as("partkey"),
          round(col("value_cents").cast("double") / 100, 2).as("value"))
    }),

    // TPC-H Q16 shape (supplier relation count): DISTINCT-count over
    // an ANTI-joined derived relation — the (part, supplier) supply
    // pairs (one distinct aggregate over the fact, never row-level),
    // minus blacklisted suppliers (NOT IN ⇒ broadcast LEFT ANTI on a
    // dim-derived key set), counted DISTINCT per part attribute
    // group. The part filter broadcasts into the pair relation before
    // the anti, so both reducers see only qualifying pairs.
    "q16_supplier_cnt" -> ((s, dir) => {
      val ps = tbl(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)))
        .select("l_partkey", "l_suppkey")
      val pf = tbl(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" &&
          col("p_size").isin(5, 10, 15, 20))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      // NOT IN vs LEFT ANTI diverge on nullable keys: one NULL in the
      // blacklist makes SQL NOT IN drop EVERY row (UNKNOWN), while the
      // anti join keeps unmatched rows. The explicit isNotNull makes
      // the anti-join compilation correct by construction instead of
      // data-dependent (TPC-H keys happen to be non-null today).
      val bad = tbl(s, dir, "supplier")
        .filter(col("s_acctbal") < 0 && col("s_suppkey").isNotNull)
        .select("s_suppkey")
      ps.join(broadcast(pf), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q9 shape (product-type profit): the canonical MULTI-FACT
    // skew-join composition — lineitem ⋈ per-part cost ⋈ orders ⋈
    // supplier⋈nation, profit per (nation, order-year). The cost
    // relation derives from the fact (no partsupp in the testdata):
    // per-part MIN observed line price in EXACT integer cents (the q2
    // convention), so profit = rev_cents − cost_cents is exact and
    // the sum is partition-order-independent. The fact ⋈ cost join is
    // the Q9 skew axis (popular parts dominate lineitem; at 100 TB
    // the cost side is partsupp-scale — NOT broadcastable), so it
    // runs through core/Salted.saltedJoinSkewed: hot parts (>40
    // lines — below the per-part mean is ~30 at EVERY SF, so both
    // branches stay populated at any scale) are salted 8 ways, the
    // cold majority takes the plain join, row-set ≡ plain join (the
    // SaltedSpec contract). lineitem ⋈ orders is the one genuine
    // fact⋈fact shuffle; supplier⋈nation broadcasts.
    "q9_product_profit" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
        .filter(col("p_name").contains("blue"))
        .select("p_partkey")
      val l = tbl(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long").as("rev_cents"),
          round(col("l_extendedprice") * 100).cast("long")
            .as("price_cents"))
      val cost = l.groupBy("l_partkey")
        .agg(min("price_cents").as("cost_cents"))
      val sup = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      core.Salted.saltedJoinSkewed(l, cost, Seq("l_partkey"),
          salts = 8, threshold = 40)
        .join(tbl(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(col("rev_cents") - col("cost_cents"))
            .cast("double") / 100, 2).as("profit"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q19 shape (bracket revenue): the disjunctive OR-of-ANDs
    // predicate — three (brand, size-range, quantity-range) arms OR'd
    // together, each referencing BOTH join sides. The partial-pushdown
    // discipline: Catalyst extracts the per-side relaxation of the OR
    // ((qty∈[1,11]) ∨ (qty∈[10,20]) ∨ (qty∈[20,30]) onto the lineitem
    // scan as a pushed Or-filter; the brand/size disjunction onto the
    // part scan) and the full residual evaluates post-join on the
    // BROADCAST part attributes — PlanSpec pins the pushed brackets in
    // PushedFilters. Revenue is the house integer-cents pin.
    "q19_brackets" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice",
          "l_discount")
      val p = tbl(s, dir, "part")
        .select("p_partkey", "p_brand", "p_size")
      val arms =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(arms)
        .agg(round(sum(
            round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")).cast("double") / 100, 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q15 shape (top-revenue supplier): argmax with ALL tie rows
    // kept — a different top-1 discipline from TakeOrderedAndProject
    // (which keeps exactly k rows and would DROP a tied co-winner).
    // The per-supplier revenue aggregates ONCE in exact integer cents;
    // the 1-row MAX aggregates FROM it and joins back broadcast on
    // exact equality (AQE reuses the revenue aggregate's exchange —
    // the q11 discipline, pinned on the executed plan), so every
    // supplier at the max survives. Cents-exact equality means a tie
    // is a true tie, never a float-ulp coincidence; RankSpec pins the
    // both-winners behavior on a planted-tie fixture.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = tbl(s, dir, "lineitem")
        // the explicit key isNotNull matters for the plan, not the
        // rows: the supplier join later pushes isnotnull(l_suppkey)
        // into the PROBE copy of this subtree only, and that one-sided
        // filter breaks exchange-subtree equality — stating it here
        // keeps both copies byte-identical so AQE's ReusedExchange
        // fires (the q11 one-fact-pass discipline, pinned in PlanSpec)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-04-01").cast("timestamp")
          && col("l_suppkey").isNotNull)
        .groupBy("l_suppkey")
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 100).cast("long")).as("total_cents"))
      val mx = rev.agg(max("total_cents").as("max_cents"))
      rev.join(broadcast(mx), col("total_cents") === col("max_cents"))
        .join(broadcast(tbl(s, dir, "supplier")
            .select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_cents").cast("double") / 100, 2)
            .as("total_revenue"))
    }),

    // TPC-H Q14-flavored promo revenue: lineitem ⋈ broadcast part, with
    // a conditional-sum promo ratio per brand (completes table coverage —
    // every driver table is now exercised by at least one query)
    "q_part_revenue" -> ((s, dir) => {
      val l = tbl(s, dir, "lineitem")
      val p = tbl(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(sum(rev), 2).as("revenue"),
          round(sum(when(col("p_type") === "PROMO", rev).otherwise(0)), 2)
            .as("promo_revenue"),
          count(lit(1)).as("n_items"))
    }),

    // join + agg (orders ⋈ lineitem)
    "q_join_agg" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"),
          countDistinct(col("o_orderkey")).as("n_orders"))),

    // TPC-H Q5-style multiway join (join ordering + broadcast dims)
    "q5_region_revenue" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(tbl(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"), count(lit(1)).as("n_lines"))),

    // Streaming-shared sessionization in batch mode (session_window)
    "q_session" -> ((s, dir) =>
      graft.streaming.StreamingDetect.sessionEvents(
        ev(s, dir).withColumn("flag", predFlag), "user_id", "ts", "flag",
        gapDuration = "1 hour")
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("n_points"))),

    // O2/top-k: orders by totalprice
    "q_topk_orders" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // M2: Kalman local level (MLE fit, one-step train / dynamic test)
    "q_kalman" -> ((s, dir) =>
      models.KalmanLocalLevel.run(ev(s, dir), "user_id", "ts", "value", 0.5)
        .select(col("series_id"), col("ts"),
          round(col("pred_mean"), 6).as("pred_mean"),
          round(col("pred_std"), 6).as("pred_std"),
          round(col("resid"), 6).as("resid"), col("split"))),

    // M2/M7 interval detector (kalman_model.py:48-53
    // detect_anomalies_from_intervals): flag where the actual falls
    // outside the forecast's 95% CI — pure column predicate on the bounds
    "q_ci_flags" -> ((s, dir) =>
      models.KalmanLocalLevel.run(ev(s, dir), "user_id", "ts", "value", 0.5)
        .withColumn("lower", col("pred_mean") - lit(1.96) * col("pred_std"))
        .withColumn("upper", col("pred_mean") + lit(1.96) * col("pred_std"))
        .select(col("series_id"), col("ts"),
          round(col("lower"), 6).as("lower"),
          round(col("upper"), 6).as("upper"),
          when(col("value") < col("lower") || col("value") > col("upper"), 1)
            .otherwise(0).as("ci_flag"))),

    // M6: BOCPD changepoint probabilities + run-length MAP
    "q_bocpd" -> ((s, dir) =>
      models.Bocpd.run(ev(s, dir), "user_id", "ts", "value")
        .select(col("series_id"), col("ts"),
          round(col("cp_prob"), 6).as("cp_prob"), col("map_run_length"))),

    // M6 wrapper (changepoint.py:85-107 detect_changepoints + threshold):
    // changepoint flags are just thresholdFlag over cp_prob
    "q_cp_flags" -> ((s, dir) =>
      models.Bocpd.run(ev(s, dir), "user_id", "ts", "value")
        .select(col("series_id"), col("ts"),
          round(col("cp_prob"), 6).as("cp_prob"),
          SeriesOps.thresholdFlag(col("cp_prob"), lit(0.5)).as("cp_flag"))),

    // M4: GP regression with composite periodic kernel
    "q_gp" -> ((s, dir) =>
      models.GpRegressor.run(ev(s, dir), "user_id", "ts", "value",
        trainFrac = 0.5, subsample = 1000, period = 24)
        .select(col("series_id"), col("ts"),
          round(col("pred_mean"), 6).as("pred_mean"),
          round(col("pred_std"), 6).as("pred_std"), col("split"))),

    // M3: BSTS local-linear trend + trig seasonal with CI
    "q_bsts" -> ((s, dir) =>
      models.Bsts.run(ev(s, dir), "user_id", "ts", "value",
        period = 24, harmonics = 3, trainFrac = 0.5)
        .select(col("series_id"), col("ts"),
          round(col("bsts_mean"), 6).as("bsts_mean"),
          round(col("bsts_lower"), 6).as("bsts_lower"),
          round(col("bsts_upper"), 6).as("bsts_upper"), col("split"))),

    // M3 dummy-seasonal mode (statsmodels `seasonal=period`,
    // bsts_model.py:36-42): companion-form stochastic seasonal block
    "q_bsts_dummy" -> ((s, dir) =>
      models.Bsts.run(ev(s, dir), "user_id", "ts", "value",
        Seq(models.Bsts.Dummy(24)), trainFrac = 0.5, mle = true)
        .select(col("series_id"), col("ts"),
          round(col("bsts_mean"), 6).as("bsts_mean"),
          round(col("bsts_lower"), 6).as("bsts_lower"),
          round(col("bsts_upper"), 6).as("bsts_upper"), col("split"))),

    // M1 exact mode: per-series loess STL (robust)
    "q_stl_exact" -> ((s, dir) =>
      models.StlExact.decompose(ev(s, dir), "user_id", "ts", "value", 24)
        .select(col("series_id"), col("ts"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("resid"), 6).as("resid"))),

    // A11/O2/S5: leaderboard — per-model global event metrics, F1 desc.
    // The model thresholds are a grid dimension: ONE eventize pass over
    // the threshold-multiplied flagged slice scores every model, instead
    // of a full pipeline (scan + windows + joins) per model row.
    "q_leaderboard" -> ((s, dir) => {
      import s.implicits._
      // null series keys excluded on BOTH engines: a null-keyed pred
      // event can never overlap-join a truth event (equi-join on the
      // key), so counting it in np/nt is pure denominator noise — and
      // the two engines counted it DIFFERENTLY (r15 null-key audit:
      // engine np lost null-key pred events at the metrics join while
      // the oracle's scalar subqueries kept them)
      val base = ev(s, dir).filter(col("user_id").isNotNull)
      val gridThs = Seq((150.0, "T150"), (200.0, "T200"))
      val grid = gridThs.toDF("__th", "Model")
      val withRn = SeriesOps.withRowNumberKeys(base, Seq("user_id"), "ts",
        "__srn")
      // rn is computed on the FULL series before the threshold filter, so
      // run adjacency is preserved for every model's flagged slice; the
      // pre-filter is DERIVED from the grid so editing it can't drop rows
      val flagged = withRn.filter(col("value") > lit(gridThs.map(_._1).min))
        .crossJoin(broadcast(grid))
        .filter(col("value") > col("__th"))
        .withColumn("f", lit(1))
      val kk = Seq("user_id", "__th", "Model")
      val pred = Events.eventize(flagged, kk, "ts", "f", 3,
        rnCol = Some("__srn"))
      val truth = truthEvents(base).crossJoin(broadcast(grid))
      Events.eventLevelMetrics(pred, truth, kk)
        .groupBy("__th", "Model")
        .agg(sum("tp").as("tp"), sum("n_pred_events").as("np"),
          sum(col("n_true_events") - col("fn")).as("tpt"),
          sum("n_true_events").as("nt"))
        .withColumn("p", col("tp") / (col("np") + lit(1e-9)))
        .withColumn("r", col("tpt") / (col("nt") + lit(1e-9)))
        .select(col("Model"), lit("events").as("Dataset"),
          round(lit(2) * col("p") * col("r") /
            (col("p") + col("r") + lit(1e-9)), 6).as("Event_F1"),
          round(col("p"), 6).as("Precision"),
          round(col("r"), 6).as("Recall"))
        .orderBy(desc("Event_F1"))
    }),

    // M5: per-series ridge autoregressor on lag features (LSTM capability
    // mapping). Deterministic since r8 — each series' normal equations
    // accumulate in timestamp order inside one mapGroups task, so the
    // fixture oracle applies (the r7 MLlib global solve was partitioning-
    // dependent and had to run no_oracle).
    "q_ar" -> ((s, dir) =>
      models.AutoRegressor.run(ev(s, dir), "user_id", "ts", "value",
        seqLen = 12, trainFrac = 0.5)
        .select(col("user_id"), col("ts"),
          round(col("pred_mean"), 6).as("pred_mean"),
          round(col("resid"), 6).as("resid"), col("split"))),

    // Clustering anomaly scorer (BASELINE north-star approach).
    // Deterministic since r8 (DetKMeans fixed-shape reductions replace
    // MLlib's arrival-order float merges), so the fixture oracle applies.
    "q_kmeans" -> ((s, dir) =>
      models.KMeansDetector.run(ev(s, dir), "user_id", "ts", "value")
        .select(col("user_id"), col("ts"), col("cluster"),
          round(col("km_score"), 6).as("km_score"), col("split"))),

    // M8: hybrid ensemble — mean of model z-scores, swept detection
    "q_hybrid" -> ((s, dir) => {
      val base = ev(s, dir)
      val stl = StlLite.decompose(base, "user_id", "ts", "value", 24)
      val stlZ = SeriesOps.madSigma(stl, "user_id", "resid", "__mad")
      val s1 = stl.join(broadcast(stlZ), "user_id")
        .withColumn("score_stl", abs(col("resid")) / (col("__mad") + lit(1e-9)))
        .select(col("user_id").cast("string").as("series_id"), col("ts"),
          col("value"), col("score_stl"))
      val kal = models.KalmanLocalLevel.run(base, "user_id", "ts", "value", 0.5)
        .withColumn("score_kalman",
          abs(col("resid")) / (col("pred_std") + lit(1e-9)))
        .select(col("series_id"), col("ts"), col("score_kalman"))
      val joined = s1.join(kal, Seq("series_id", "ts"))
      ensemble.Hybrid.combineEqual(joined, Seq("score_stl", "score_kalman"))
        .withColumn("detected",
          SeriesOps.thresholdFlag(col("combined_score"), lit(3.0)))
        .select(col("series_id"), col("ts"), col("value"),
          round(col("score_stl"), 6).as("score_stl"),
          round(col("score_kalman"), 6).as("score_kalman"),
          round(col("combined_score"), 6).as("combined_score"),
          col("detected"))
    })
  )
}
