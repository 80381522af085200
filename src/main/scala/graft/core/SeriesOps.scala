package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Core relational time-series operators (SURVEY.md §2.2 / §2.5).
  *
  * Semantics derive from the reference's pandas pipelines
  * (`src/utils.py:40-72`, `src/kalman_model.py:55-97`,
  * `src/load_nab.py:46-61`, `src/run_bsts.py:31-35`) but every operator
  * here is a declarative DataFrame transform: row-count window frames
  * partitioned by the series key, so Catalyst plans one sort per series
  * partition and the whole surface scales horizontally across series.
  *
  * All reference windows are ROW-count frames (never time ranges), so
  * every frame below uses `rowsBetween` — see SURVEY.md §7.4(4).
  */
object SeriesOps {

  /** Ordered per-key window: the one sort every op shares. */
  def byKeys(keys: Seq[String], ts: String): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(ts)

  /** Ordered per-series window. */
  def bySeries(series: String, ts: String): WindowSpec =
    byKeys(Seq(series), ts)

  /** P3/W5: 1-based ordinal per series (time-as-ordinal feature, split basis). */
  def withRowNumber(df: DataFrame, series: String, ts: String,
                    out: String = "rn"): DataFrame =
    df.withColumn(out, row_number().over(bySeries(series, ts)))

  /** Multi-key variant (used by the threshold sweep, which partitions by
    * (series, k)). */
  def withRowNumberKeys(df: DataFrame, keys: Seq[String], ts: String,
                        out: String = "rn"): DataFrame =
    df.withColumn(out, row_number().over(byKeys(keys, ts)))

  /** P3: fractional train/val/test split as a `split` column.
    * Reference: `iloc[:int(n*frac)]` (kalman_model.py:168-171) and the
    * 3-way variant (run_bsts.py:31-35). valFrac=0 gives 2-way splits.
    *
    * Scale note: per-series row counts come from a partial-aggregated
    * groupBy broadcast back onto the fact table — one ordered window pass
    * total, instead of a second unbounded-frame window over every row.
    */
  def withSplit(df: DataFrame, series: String, ts: String,
                trainFrac: Double, valFrac: Double = 0.0,
                out: String = "split"): DataFrame = {
    val rn = row_number().over(bySeries(series, ts))
    val n = df.groupBy(series).agg(count(lit(1)).as("__n"))
    df.join(broadcast(n), Seq(series))
      .withColumn(out,
        when(rn <= floor(col("__n") * lit(trainFrac)), lit("Train"))
          .when(rn <= floor(col("__n") * lit(trainFrac + valFrac)), lit("Validation"))
          .otherwise(lit("Test")))
      .drop("__n")
  }

  /** W1/W2/W3: trailing rolling mean + sample-std over `window` rows with
    * pandas `min_periods` semantics (null below minPeriods), then
    * backfilled (P7/W6) and the std floored by `eps` like `utils.py:63-68`.
    * pandas `rolling(...).std()` is sample std → `stddev_samp`; a
    * single-observation frame yields NaN in Spark but NaN in pandas too —
    * both must backfill, so NaN is normalized to null before the bfill.
    */
  def withRollingStats(df: DataFrame, series: String, ts: String,
                       value: String, window: Int, minPeriods: Int,
                       meanOut: String, stdOut: String,
                       eps: Double = 1e-6): DataFrame =
    withRollingStatsKeys(df, Seq(series), ts, value, window, minPeriods,
      meanOut, stdOut, eps)

  /** Multi-key variant: partitioning by (series, region) makes the
    * rolling window RESTART at region boundaries — the reference's
    * `rolling_sigma_threshold` is applied to each split's residual slice
    * separately (run_bsts.py:78,98), so its window never crosses the
    * validation/test boundary. */
  def withRollingStatsKeys(df: DataFrame, keys: Seq[String], ts: String,
                           value: String, window: Int, minPeriods: Int,
                           meanOut: String, stdOut: String,
                           eps: Double = 1e-6): DataFrame = {
    val frame = byKeys(keys, ts).rowsBetween(-(window - 1), 0)
    val cnt = count(col(value)).over(frame)
    val mu = when(cnt >= minPeriods, avg(col(value)).over(frame))
    val sd = when(cnt >= minPeriods,
      nanvl(stddev_samp(col(value)).over(frame), lit(null).cast("double")))
    val bfill = byKeys(keys, ts).rowsBetween(0, Window.unboundedFollowing)
    df.withColumn(meanOut, mu).withColumn(stdOut, sd)
      .withColumn(meanOut, first(col(meanOut), ignoreNulls = true).over(bfill))
      .withColumn(stdOut,
        first(col(stdOut), ignoreNulls = true).over(bfill) + lit(eps))
  }

  /** W6: backfill nulls with the next non-null value (pandas bfill). */
  def backfill(df: DataFrame, series: String, ts: String,
               c: String, out: String): DataFrame =
    df.withColumn(out, first(col(c), ignoreNulls = true)
      .over(bySeries(series, ts).rowsBetween(0, Window.unboundedFollowing)))

  /** A4: MAD sigma `1.4826 * median(|x - median(x)|)` per series
    * (`utils.py:31-38`). Two exact-median aggregations, grouped by the
    * series key so both passes are one shuffle each.
    */
  def madSigma(df: DataFrame, series: String, value: String,
               out: String = "mad_sigma"): DataFrame = {
    val med = df.groupBy(series).agg(median(col(value)).as("__med"))
    df.join(med, series)
      .groupBy(series)
      .agg((lit(1.4826) * median(abs(col(value) - col("__med")))).as(out))
  }

  /** F6: per-series standard scaling `(x - mean) / std` (run_lstm.py:36-39;
    * popStd=true matches `np.std` ddof=0 there, false matches ddof=1).
    * Mean and std are ordered folds over (`ts`, `value`), so the scaled
    * values do not depend on partitioning. */
  def standardScale(df: DataFrame, series: String, ts: String,
                    value: String, out: String, popStd: Boolean = true,
                    eps: Double = 1e-9): DataFrame = {
    val (mu, sd) = Folds.meanStd(col("__xs"), if (popStd) 0 else 1)
    val stats = df.groupBy(series)
      .agg(Folds.inOrder(col(ts), col(value)).as("__xs"))
      .select(col(series), mu.as("__mu"), sd.as("__sd"))
    df.join(broadcast(stats), Seq(series))
      .withColumn(out, (col(value) - col("__mu")) / (col("__sd") + lit(eps)))
      .drop("__mu", "__sd")
  }

  /** F6: per-series robust scaling `(x - median) / madSigma` (README.md:40). */
  def robustScale(df: DataFrame, series: String, value: String,
                  out: String, eps: Double = 1e-9): DataFrame = {
    val med = df.groupBy(series).agg(median(col(value)).as("__med"))
    val mad = df.join(broadcast(med), Seq(series))
      .groupBy(series)
      .agg(first(col("__med")).as("__med"),
        (lit(1.4826) * median(abs(col(value) - col("__med")))).as("__mad"))
    df.join(broadcast(mad), Seq(series))
      .withColumn(out, (col(value) - col("__med")) / (col("__mad") + lit(eps)))
      .drop("__med", "__mad")
  }

  /** W4: trailing lag features for autoregression (`lstm_model.py:18-30`
    * capability mapping — each row gets value at t-1..t-k).
    */
  def withLags(df: DataFrame, series: String, ts: String, value: String,
               lags: Seq[Int]): DataFrame =
    lags.foldLeft(df) { (d, k) =>
      d.withColumn(s"${value}_lag$k", lag(col(value), k).over(bySeries(series, ts)))
    }

  /** W4 variant: the full trailing window as an array column (the LSTM
    * sequence extractor `create_sequences`, lstm_model.py:18-30): for each
    * row, values at [t-seqLen, t-1]; null until seqLen history exists.
    */
  def withLagWindow(df: DataFrame, series: String, ts: String, value: String,
                    seqLen: Int, out: String = "lag_window"): DataFrame = {
    val frame = bySeries(series, ts).rowsBetween(-seqLen, -1)
    df.withColumn(out, collect_list(col(value)).over(frame))
      .withColumn(out, when(size(col(out)) === seqLen, col(out)))
  }

  /** O5: last `n` rows of each series (the GP training subsample,
    * `run_gp.py:62-67`) — a limit-from-end expressed as a descending
    * row_number filter; original ascending order is restored by callers'
    * window specs, never assumed from file order. */
  def lastN(df: DataFrame, series: String, ts: String, n: Int): DataFrame = {
    val w = Window.partitionBy(series).orderBy(col(ts).desc)
    df.withColumn("__rnd", row_number().over(w))
      .filter(col("__rnd") <= n)
      .drop("__rnd")
  }

  /** J2: as-of label-window marking (`load_nab.py:46-61`): each label
    * timestamp is anchored at the `searchsorted` insertion index — the
    * FIRST series row with ts >= label (n+1 when the label falls past the
    * end) — and rows within ±windowRows of the anchor are flagged 1.
    *
    * Scale design: the anchor match is a sort-based as-of join — labels
    * are unioned into the series stream and the next series row propagates
    * via one per-series window. The ±window marking first merges the
    * (small) anchor set into disjoint rn-intervals, then a single
    * broadcast range join marks the fact table in ONE pass (each row
    * matches at most one disjoint interval, so no duplication and no
    * second scan).
    */
  def markLabelWindows(seriesDf: DataFrame, labels: DataFrame,
                       series: String, ts: String, labelTs: String,
                       windowRows: Int, out: String = "is_anomaly"): DataFrame = {
    val s = withRowNumber(seriesDf, series, ts)
    val sTagged = s.select(col(series), col(ts).as("__t"), col("rn"),
      lit(0).as("__lbl"))
    val lTagged = labels.select(col(series), col(labelTs).as("__t"),
      lit(null).cast("int").as("rn"), lit(1).as("__lbl"))
    // searchsorted: a label sorts BEFORE a series row with the same
    // timestamp (np.searchsorted side='left'), so the exact-match row is
    // its own anchor.
    val w = Window.partitionBy(series).orderBy(col("__t"), col("__lbl").desc)
    val nxt = first(when(col("__lbl") === 0, col("rn")), ignoreNulls = true)
      .over(w.rowsBetween(0, Window.unboundedFollowing))
    val nRows = s.groupBy(series).agg(max("rn").as("__n"))
    val anchors = sTagged.unionByName(lTagged)
      .withColumn("__a", nxt)
      .filter(col("__lbl") === 1)
      .join(nRows, Seq(series))
      .select(col(series), coalesce(col("__a"), col("__n") + 1).as("__a"))
    // ±window intervals, merged to disjoint ranges (classic running-max
    // islands over the tiny anchor set).
    val iv = anchors.select(col(series),
      greatest(col("__a") - windowRows, lit(1)).as("__ivs"),
      (col("__a") + windowRows).as("__ive"))
    val wi = Window.partitionBy(series).orderBy("__ivs")
    val prevMax = max("__ive").over(wi.rowsBetween(Window.unboundedPreceding, -1))
    val merged = iv
      .withColumn("__new", when(col("__ivs") <= prevMax, 0).otherwise(1))
      .withColumn("__grp",
        sum("__new").over(wi.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(series), col("__grp"))
      .agg(min("__ivs").as("__ivs"), max("__ive").as("__ive"))
      .drop("__grp")
      .withColumnRenamed(series, "__ms")
    s.join(broadcast(merged),
        s(series) === col("__ms") &&
          col("rn").between(col("__ivs"), col("__ive")),
        "left_outer")
      .withColumn(out, when(col("__ivs").isNotNull, 1).otherwise(0))
      .drop("__ms", "__ivs", "__ive")
  }

  /** M7: residual z-score `|x - mu| / sigma` (`kalman_model.py:55-97`). */
  def zscore(resid: Column, sigma: Column): Column = abs(resid) / sigma

  /** P5: threshold flag `z > k` as 0/1 int. */
  def thresholdFlag(z: Column, k: Column): Column =
    when(z > k, 1).otherwise(0)

  /** Skew guard: two-phase aggregation with deterministic key salting —
    * hot series keys are spread over `salts` sub-keys (hash of the
    * timestamp, not rand(), so results are reproducible), partially
    * aggregated, then merged. Use when one series dominates a groupBy
    * (the 100 TB skew pattern; AQE skew-join handles the join side).
    * `partial`/`merge` must form a decomposable aggregate pair, e.g.
    * (sum, sum), (count, sum), (max, max). */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltCol: String,
                salts: Int,
                partial: Seq[(String, Column)],
                merge: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(col(saltCol)), lit(salts)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partial.head._2.as(partial.head._1),
        partial.tail.map { case (n, c) => c.as(n) }: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(merge.head._2.as(merge.head._1),
        merge.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** W9: autocorrelation of `value` at each requested lag, per series —
    * `corr(x_t, x_{t-k})` over the overlapping rows (notebooks/01 cell 7).
    * Output: (series, lag, acf).
    *
    * Single-pass: every lag column comes from ONE ordered window and all
    * correlations from ONE aggregation (`corr` skips null pairs, which is
    * exactly the per-lag overlap filter), then `stack` unpivots — a
    * per-lag union would scan and shuffle the fact table |lags| times.
    *
    * The pairs are unpivoted BEFORE the aggregation, not after: a
    * one-corr-column-per-lag aggregate carries a 6-field Pearson buffer
    * per lag (n, xAvg, yAvg, ck, xMk, yMk) — 300 buffer fields at 50
    * lags, which trips `spark.sql.codegen.maxFields` (=100) and drops
    * the whole HashAggregate out of whole-stage codegen (the round-6
    * 9.78 s q_acf). Exploding each row into narrow (lag, x, y) tuples
    * feeds ONE `corr` + ONE `count` (7 buffer fields) grouped by
    * (series, lag); the 50x row multiply never materializes — the
    * generate is consumed by the map-side partial aggregate inside the
    * same codegen stage, and the post-partial exchange carries at most
    * |series|x|lags| tiny partial buffers (PlanSpec pins the codegen).
    *
    * Cardinality contract (matches the per-lag union form
    * `... WHERE l_k IS NOT NULL GROUP BY series`): a (series, lag) row is
    * emitted iff the series has >= 1 non-null lagged value at that lag
    * (`count(y) > 0`); `acf` is null there when < 2 overlapping pairs or
    * zero variance, exactly as `corr` is in ANSI SQL. The correlation is
    * assembled from `covar_samp` and pair-guarded `stddev_samp` (the
    * (n-1)s cancel: cov/(sx*sy) == Pearson) behind an explicit
    * `when(sx > 0 && sy > 0)` guard rather than calling `corr` directly:
    * under Spark's default ANSI mode `corr` THROWS DIVIDE_BY_ZERO on a
    * degenerate group instead of returning SQL NULL — a crash a library
    * operator must not inherit from its input data. Lags must be
    * positive and distinct — duplicates would double-count pair groups
    * and non-positive lags have no ACF meaning. */
  def acf(df: DataFrame, series: String, ts: String, value: String,
          lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ > 0) && lags.distinct == lags,
      s"acf lags must be positive and distinct, got $lags")
    val w = bySeries(series, ts)
    val withL = lags.foldLeft(df) { (d, k) =>
      d.withColumn(s"__l$k", lag(col(value), k).over(w))
    }
    // __px/__py null out HALF-pairs so the stddevs run over exactly the
    // overlapping pairs corr would use; __y stays unguarded because the
    // emit condition counts non-null lagged values irrespective of x
    val pairs = withL.select(col(series), col(value).as("__x"),
        explode(array(lags.map(k =>
          struct(lit(k).as("lag"), col(s"__l$k").as("y"))): _*)).as("__p"))
      .select(col(series), col("__p.lag").as("lag"),
        when(col("__p.y").isNotNull, col("__x")).as("__px"),
        when(col("__x").isNotNull, col("__p.y")).as("__py"),
        col("__p.y").as("__y"))
    pairs.groupBy(col(series), col("lag"))
      .agg(covar_samp(col("__px"), col("__py")).as("__cov"),
        stddev_samp(col("__px")).as("__sx"),
        stddev_samp(col("__py")).as("__sy"),
        count(col("__y")).as("__n"))
      .filter(col("__n") > 0)
      .select(col(series), col("lag"),
        when(col("__sx") > 0 && col("__sy") > 0,
          col("__cov") / (col("__sx") * col("__sy"))).as("acf"))
  }

  /** LEAD-LAG detection: cross-correlate each REFERENCE series against
    * every series at row offsets −maxLag..maxLag and report the
    * best-correlated lag per (reference, other) pair — the "does
    * metric A lead metric B, and by how much" question. A positive
    * `best_lag` means the other series is best aligned with the
    * reference shifted `lag` rows forward.
    *
    * Shape: references × (2·maxLag+1) lag grid (both tiny, broadcast)
    * equi-joined to the full table on the shifted ordinal, ONE keyed
    * corr aggregate, then a per-pair argmax ranked on the ROUNDED
    * correlation (ties by lag asc — the q_tfidf near-tie contract).
    * All-pairs across a corpus is deliberately not offered (quadratic
    * in series count); reference-vs-all is the scalable published
    * use. */
  def leadLag(df: DataFrame, series: String, ts: String, value: String,
              refKeys: Seq[Any], maxLag: Int): DataFrame = {
    require(refKeys.nonEmpty && maxLag >= 1)
    val spark = df.sparkSession
    val keyed = withRowNumber(df, series, ts)
      .select(col(series), col("rn"), col(value))
    val refs = keyed.filter(col(series).isin(refKeys: _*))
      .select(col(series).as("ref_id"), col("rn"),
        col(value).as("__ra"))
    val lags = spark.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    val a = refs.crossJoin(broadcast(lags))
      .withColumn("__rn2", col("rn") + col("lag"))
    val b = keyed.select(col(series).as("other_id"),
      col("rn").as("__rn2"), col(value).as("__rb"))
    val c = a.join(b, "__rn2")
      .groupBy(col("ref_id"), col("other_id"), col("lag"))
      .agg(round(corr(col("__ra"), col("__rb")), 6).as("__c6"),
        count(lit(1)).as("__n"))
      // Spark corr yields NaN (not NULL) on a zero-variance overlap,
      // and NaN sorts ABOVE every real value in the desc rank — a
      // flatlined series would win rank 1 with best_corr=NaN while a
      // SQL oracle (corr → NULL) drops the pair. Guard both.
      .filter(col("__n") >= 2 && col("__c6").isNotNull &&
        !isnan(col("__c6")))
    val w = Window.partitionBy("ref_id", "other_id")
      .orderBy(col("__c6").desc, col("lag").asc)
    c.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("ref_id"), col("other_id"),
        col("lag").as("best_lag"), col("__c6").as("best_corr"))
  }

  /** SAX symbolic discretization (Lin, Keogh, Lonardi, Chiu, DMKD
    * 2003/2007): per-series z-normalize, Piecewise Aggregate
    * Approximation into frames of `frameLen` points, then discretize
    * each frame mean against the standard-normal equiprobable
    * breakpoints — the representation HOT-SAX, iSAX indexing, and
    * symbolic anomaly/motif pipelines consume. Fully relational (one
    * stats broadcast + one frame aggregate), ALL thresholds are
    * literal constants → the registered query carries an exact SQL
    * oracle. Supported alphabet sizes are the published 3..6 table
    * (extend the map for more). Output: (series, frame, paa, symbol)
    * with symbol ∈ 'a'.. . Ragged tails (< frameLen points) keep the
    * published convention: the last partial frame still averages its
    * points. */
  private val saxBreakpoints: Map[Int, Seq[Double]] = Map(
    3 -> Seq(-0.4307272992954576, 0.4307272992954576),
    4 -> Seq(-0.6744897501960817, 0.0, 0.6744897501960817),
    5 -> Seq(-0.8416212335729142, -0.2533471031357997,
      0.2533471031357997, 0.8416212335729142),
    6 -> Seq(-0.9674215661017014, -0.4307272992954576, 0.0,
      0.4307272992954576, 0.9674215661017014))

  def sax(df: DataFrame, series: String, ts: String, value: String,
          frameLen: Int, alphabet: Int = 4): DataFrame = {
    require(frameLen >= 1, s"frameLen=$frameLen")
    val bps = saxBreakpoints.getOrElse(alphabet,
      throw new IllegalArgumentException(
        s"alphabet=$alphabet not in ${saxBreakpoints.keys.toSeq.sorted}"))
    val stats = df.groupBy(col(series))
      .agg(avg(col(value)).as("__mu"),
        stddev_samp(col(value)).as("__sd"))
    // PAA as the NORMALIZED FRAME MEAN, (avg(value) − μ)/σ — equal to
    // the mean of per-point z in real arithmetic, and the float path an
    // oracle reproduces (averaging raw decimal values, then one
    // normalize, instead of averaging already-divided doubles)
    val framed = withRowNumber(df, series, ts)
      .withColumn("frame", ((col("rn") - 1) / frameLen).cast("long"))
      .groupBy(col(series), col("frame"))
      .agg(avg(col(value)).as("__fm"))
      .join(broadcast(stats), Seq(series))
      .withColumn("paa",
        (col("__fm") - col("__mu")) / (col("__sd") + lit(1e-12)))
    // ordered when-chain: the FIRST matching breakpoint assigns the
    // letter, the final otherwise is the top bucket
    val chained = bps.tail.zipWithIndex.foldLeft(
      when(col("paa") < bps.head, lit("a"))) {
      case (acc, (bp, i)) =>
        acc.when(col("paa") < bp, lit(('b' + i).toChar.toString))
    }
    framed.withColumn("symbol",
        chained.otherwise(lit(('a' + bps.length).toChar.toString)))
      .select(col(series), col("frame"), col("paa"), col("symbol"))
  }

  /** Tukey-fence (boxplot-rule) outlier summary per series, computed
    * ENTIRELY in integer arithmetic so both engines agree bit-for-bit:
    * values are fixed-pointed to cents, the quartiles are the EXACT
    * ⌈n/4⌉-th / ⌈3n/4⌉-th order statistics (discrete convention — no
    * interpolation, hence no float boundary hazard in the fences), and
    * the fences are compared at 4× scale:
    * `4c < 4·q1 − 6·(q3−q1)` / `4c > 4·q3 + 6·(q3−q1)` — the literal
    * `1.5·IQR` rule with every quantity a long. The classic robust
    * baseline detector next to MAD (A4) and the SPC tier (L51).
    *
    * One ranking window + one keyed aggregate, both riding the series
    * partitioning. Output: (series, n, q1_c, q3_c, n_out). */
  def tukeyFences(df: DataFrame, series: String, value: String,
                  scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale=$scale must be >= 1")
    val pts = df.select(col(series).cast("string").as("__u"),
        round(col(value) * scale).cast("long").as("__c"))
      .filter(col("__c").isNotNull && col("__u").isNotNull)
    val w = Window.partitionBy("__u").orderBy("__c")
    val ranked = pts
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1))
        .over(Window.partitionBy("__u")))
    val stats = ranked.groupBy("__u").agg(
      max("__n").as("n"),
      max(when(col("__rn") === expr("(__n + 3) DIV 4"), col("__c")))
        .as("q1_c"),
      max(when(col("__rn") === expr("(3 * __n + 3) DIV 4"), col("__c")))
        .as("q3_c"))
    pts.join(stats, Seq("__u"))
      .groupBy(col("__u").as(series))
      .agg(max("n").as("n"), max("q1_c").as("q1_c"),
        max("q3_c").as("q3_c"),
        sum(when(
          lit(4) * col("__c") < lit(4) * col("q1_c") -
            lit(6) * (col("q3_c") - col("q1_c")), 1L)
          .when(
            lit(4) * col("__c") > lit(4) * col("q3_c") +
              lit(6) * (col("q3_c") - col("q1_c")), 1L)
          .otherwise(0L)).as("n_out"))
  }

  /** M4 time-series downsampling (Jugel et al., VLDB 2014) — the
    * error-free visualization reduction: per (series, time-bucket)
    * keep first/last/min/max, which provably reproduces every pixel a
    * line rendering of the full series would light at that bucket
    * width. THE way to serve dashboard reads of a 100 TB series store
    * without shipping raw points — one aggregate, map-side
    * combinable, output bounded by series × buckets.
    *
    * Determinism: buckets are ALL-INTEGER epoch-micros arithmetic
    * (`(us − lo) · B DIV (hi − lo + 1)` — no float edges), first/last
    * are `min_by/max_by(value, ts)` (exact under the per-series
    * unique-timestamp contract), min/max are exact copies. */
  def m4Downsample(df: DataFrame, series: String, ts: String,
                   value: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    val base = df.select(col(series).as("__sk"),
        unix_micros(col(ts)).as("__us"),
        col(value).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val rng = base.groupBy("__sk")
      .agg(min("__us").as("__lo"), max("__us").as("__hi"))
    base.join(broadcast(rng), Seq("__sk"))
      .withColumn("bucket", expr(
        s"((__us - __lo) * $buckets) DIV (__hi - __lo + 1)"))
      .groupBy(col("__sk").as(series), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min_by(col("__v"), col("__us")).as("v_first"),
        max_by(col("__v"), col("__us")).as("v_last"),
        min("__v").as("v_min"), max("__v").as("v_max"))
  }

  /** W-extra: regular-grid resampling with forward fill — the pandas
    * `resample(step).ffill()` / `time_bucket_gapfill(..., locf)` read
    * the engine lacked: DENSIFY each series to one row per grid
    * instant (unit-anchored span of that series) carrying the last
    * observation at-or-before it (inclusive), null before the first.
    *
    * Shape: the per-series span aggregate emits `sequence()` grid
    * instants (grid-sized, bounded by span/step — never fact-scaled),
    * the grid UNIONS with the observations, and ONE per-series ordered
    * window fills forward; grid rows are then kept. One exchange for
    * the span agg + one window sort — no join of the grid back against
    * the fact, no per-row interval probe. The grid marker rides the
    * SORT KEY, not a filter, so a single window pass serves both row
    * kinds.
    *
    * Fill semantics are ASOF-faithful: the fill carries the latest
    * observation ROW's value — even when that value is NULL — by
    * filling a struct that is null only on grid rows (`last
    * ignoreNulls` skips the grid markers but keeps a null-VALUED
    * observation, exactly what an ASOF join returns). Same-instant
    * observations are tie-broken deterministically on the value
    * (largest wins), so duplicate-(series, ts) inputs cannot make the
    * fill nondeterministic across partitionings.
    *
    * The grid anchor derives from `step`'s unit: DAY/WEEK steps
    * truncate the span to that unit; HOUR and MINUTE steps anchor at
    * the hour (a sub-hour step therefore lands on :00/:15/:30-style
    * marks, never an arbitrary minute).
    *
    * Null series keys are FILTERED (the grid of a null key is
    * undefined under equi-join semantics; the oracle mirrors the
    * filter — NullKeyAudit class (drops, keeps)).
    */
  def gridResample(df: DataFrame, series: String, ts: String,
                   value: String, step: String = "1 HOUR",
                   out: String = "value_ff"): DataFrame = {
    val unit = step.trim.split("\\s+").last.toLowerCase
      .stripSuffix("s") match {
      case "minute" | "hour" => "hour"
      case u @ ("day" | "week") => u
      case u => throw new IllegalArgumentException(
        s"gridResample step unit must be MINUTE/HOUR/DAY/WEEK, got $u")
    }
    val base = df.filter(col(series).isNotNull)
      .select(col(series).as("__sk"), col(ts).as("__ts"),
        col(value).cast("double").as("__v"))
    val grid = base.groupBy("__sk")
      .agg(min("__ts").as("__mn"), max("__ts").as("__mx"))
      .select(col("__sk"),
        // the sequence END is the raw span max: sequence() emits
        // anchor + k·step for every k with the mark <= end, so the
        // last PARTIAL unit still yields its aligned marks (e.g.
        // max 23:50 with a 15-minute step keeps 23:15/23:30/23:45 —
        // truncating the end to the unit would drop them; only the
        // START needs unit truncation, for anchoring)
        explode(sequence(
          date_trunc(unit, col("__mn")),
          col("__mx"),
          expr(s"INTERVAL $step"))).as("__ts"),
        lit(null).cast("double").as("__v"),
        lit(1).as("__g"))
    val w = Window.partitionBy("__sk")
      .orderBy(col("__ts"), col("__g"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("__g", lit(0))
      .unionByName(grid)
      // observation rows wrap their value in a struct; grid rows stay
      // null — ignoreNulls then means "skip grid markers", never "skip
      // null-valued observations" (the ASOF contract)
      .withColumn("__obs",
        when(col("__g") === 0, struct(col("__v"))))
      .withColumn(out,
        last(col("__obs"), ignoreNulls = true).over(w).getField("__v"))
      .filter(col("__g") === 1)
      .select(col("__sk").as(series), col("__ts").as("grid_ts"), col(out))
  }
}
