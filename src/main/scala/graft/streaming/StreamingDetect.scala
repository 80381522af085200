package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Grouped

/** Structured Streaming variants of the detector DAG (SURVEY §2.10 —
  * additive capability; the reference is batch-only but BOCPD/Kalman are
  * algorithmically online).
  *
  * Documented semantic delta: the reference's windows are ROW-count
  * frames; streaming windows are TIME-based. On the regular NAB grids
  * 48 rows ≡ 24 h (README.md:31), so the translation is exact there.
  */
object StreamingDetect {

  /** W7 streaming analogue: collapse flagged points into anomaly events
    * with `session_window` — events close when no flagged point arrives
    * within `gapDuration`. Works identically on batch DataFrames. */
  def sessionEvents(flagged: DataFrame, series: String, ts: String,
                    flag: String, gapDuration: String,
                    watermark: String = "1 hour"): DataFrame = {
    val src =
      if (flagged.isStreaming) flagged.withWatermark(ts, watermark)
      else flagged
    src.filter(col(flag) === 1)
      .groupBy(col(series), session_window(col(ts), gapDuration))
      .agg(count(lit(1)).as("n_points"),
        min(ts).as("start_ts"), max(ts).as("end_ts"))
      .select(col(series), col("start_ts"), col("end_ts"), col("n_points"))
  }

  /** L66 streaming: time-windowed histogram-quantile SKETCH build —
    * (series, window_start, bin, cnt) increments, append-emitted when
    * the watermark closes each window. The sketch's merge-by-addition
    * law is exactly what makes it streaming-native: the stateful op is
    * a plain windowed count (bounded by `bins` rows per open window),
    * and quantile extraction is the batch finisher
    * [[graft.core.Quantiles.quantilesFromCounts]] over the persisted
    * sink — StreamingSpec pins stream-built ≡ batch-built quantiles.
    * Works identically on batch frames. */
  def windowedBinCounts(df: DataFrame, series: String, ts: String,
                        value: String, windowDuration: String,
                        lo: Double, hi: Double, bins: Int,
                        watermark: String = "1 hour"): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.filter(col(value).isNotNull)
      .groupBy(col(series), window(col(ts), windowDuration),
        graft.core.Quantiles.binExpr(col(value), lo, hi, bins)
          .as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col(series), col("window.start").as("window_start"),
        col("bin"), col("cnt"))
  }

  /** L93 streaming: time-windowed HBOS histogram increments —
    * (series, window_start, feature ∈ x|y, bin, cnt) for the
    * (value, Δ) feature pair at FIXED global edges, the same
    * increment-union shape as [[windowedBinCounts]]: per-window
    * counts merge by ADDITION, so the batch finisher
    * [[graft.models.Hbos.hbosFromCounts]] scores points from the raw
    * union of sink rows. The input must already carry the Δ column —
    * [[statefulDelta]] is the upstream lag (a windowed aggregate
    * cannot look at the previous row). Bins come from the SAME
    * `Hbos.binOf` arithmetic as the batch scorer, so when the fixed
    * edges equal the true per-series ranges the finished scores are
    * bit-equal to `Hbos.hbos` (StreamingSpec pins it). Both features
    * count through ONE aggregation (the feature axis is exploded into
    * rows first — two parallel windowed aggregates under a union
    * would be a second stateful operator for no reason). Works
    * identically on batch frames. State per open window is ≤ 2·bins
    * rows per series. */
  def windowedHbosCounts(df: DataFrame, series: String, ts: String,
                         value: String, delta: String,
                         windowDuration: String,
                         xlo: Double, xhi: Double,
                         ylo: Double, yhi: Double,
                         bins: Int = 16,
                         watermark: String = "1 hour"): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.select(col(series), col(ts),
        explode(array(
          struct(lit("x").as("feature"),
            col(value).cast("double").as("v"),
            lit(xlo).as("lo"), lit(xhi).as("hi")),
          struct(lit("y").as("feature"),
            col(delta).cast("double").as("v"),
            lit(ylo).as("lo"), lit(yhi).as("hi")))).as("__f"))
      .filter(col("__f.v").isNotNull)
      .groupBy(col(series), window(col(ts), windowDuration),
        col("__f.feature").as("feature"),
        graft.models.Hbos.binOf(col("__f.v"), col("__f.lo"),
          col("__f.hi"), bins).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col(series), col("window.start").as("window_start"),
        col("feature"), col("bin"), col("cnt"))
  }

  /** Collocation-mining streaming face: time-windowed gram-count
    * increments — (window_start, kind ∈ u|b, w1, w2, cnt), the same
    * increment-union shape as [[windowedBinCounts]]. Both gram kinds
    * emit from ONE array expression and count through ONE windowed
    * aggregation ([[graft.llm.TextAnalysis.collocGrams]], shared with
    * the batch face so the counts are identical by construction);
    * counts merge by ADDITION, so the batch finisher
    * [[graft.llm.TextAnalysis.collocationsFromCounts]] accepts the
    * raw union of sink rows — per-window and whole-stream PMI reads
    * are both one finisher call (StreamingSpec pins whole-stream ≡
    * the batch `collocations`). State per open window is bounded by
    * the window's gram vocabulary. */
  def windowedCollocCounts(df: DataFrame, ts: String, text: String,
                           windowDuration: String,
                           watermark: String = "1 hour"): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.select(col(ts),
        explode(graft.llm.TextAnalysis.collocGrams(col(text)))
          .as("__e"))
      .groupBy(window(col(ts), windowDuration),
        col("__e.kind").as("kind"), col("__e.w1").as("w1"),
        col("__e.w2").as("w2"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("kind"),
        col("w1"), col("w2"), col("cnt"))
  }

  /** L94 streaming: time-windowed HyperLogLog sketch increments —
    * (group, window_start, bucket, mj), the same windowed-sketch
    * shape as [[windowedBinCounts]]/[[windowedCmsCounts]]. State per
    * open (group, window) is ≤ m bucket maxima; downstream,
    * `Hll.estimateFromBuckets` accepts the UNION of sink increments
    * directly (duplicate (group, bucket) rows merge by MAX — the HLL
    * merge law), so per-window AND whole-stream distinct reads are
    * both one finisher call. StreamingSpec pins stream-built ≡ batch
    * estimates per window and over the union. */
  def windowedHllMaxes(df: DataFrame, group: String, ts: String,
                       value: String, windowDuration: String,
                       m: Int = 16,
                       watermark: String = "1 hour"): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    val (bucket, rho) = graft.llm.Hll.bucketAndRho(col(value), m)
    src.filter(col(value).isNotNull)
      .groupBy(col(group).as("group"),
        window(col(ts), windowDuration), bucket.as("bucket"))
      .agg(max(rho).as("mj"))
      .select(col("group"), col("window.start").as("window_start"),
        col("bucket"), col("mj"))
  }

  /** L67 streaming: time-windowed Count-Min sketch increments —
    * (window_start, row, bucket, cnt), the same windowed-sketch shape
    * as [[windowedBinCounts]]. State per open window is d·w counters;
    * downstream, [[graft.llm.Cms.estimate]] accepts the UNION of sink
    * increments directly (it merges duplicate (row, bucket) rows by
    * addition — the sketch's merge law), so per-window AND
    * whole-stream heavy-hitter reads are both one finisher call.
    * StreamingSpec pins stream-built ≡ batch estimates. */
  def windowedCmsCounts(df: DataFrame, ts: String, value: String,
                        windowDuration: String, depth: Int, width: Int,
                        watermark: String = "1 hour"): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.filter(col(value).isNotNull)
      .select(col(ts), posexplode(array((0 until depth).map(r =>
        graft.llm.Cms.bucketExpr(col(value), r, width)): _*))
        .as(Seq("row", "bucket")))
      .groupBy(window(col(ts), windowDuration), col("row"),
        col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("row"),
        col("bucket"), col("cnt"))
  }

  /** Drift-monitor streaming face: time-windowed hashed-unigram
    * vocabulary counts — (stratum, window_start, bucket, cnt)
    * increments, the same windowed-sketch shape as
    * [[windowedBinCounts]]/[[windowedCmsCounts]]. State per open
    * window is bounded by strata×buckets counters; downstream,
    * [[graft.llm.TextAnalysis.vocabDriftKlFromCounts]] accepts the
    * UNION of sink increments directly (duplicate (stratum, bucket)
    * rows merge by addition — the count relation's merge law), so
    * per-window AND whole-stream drift reads are both one finisher
    * call. StreamingSpec pins stream-built ≡ batch KL per window. */
  def windowedVocabCounts(df: DataFrame, stratum: String, ts: String,
                          text: String, windowDuration: String,
                          buckets: Int,
                          watermark: String = "1 hour"): DataFrame = {
    require(buckets >= 2, s"buckets=$buckets must be >= 2")
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.select(col(stratum), col(ts),
        explode(split(col(text), " ")).as("__g"))
      .withColumn("bucket",
        pmod(graft.llm.TextAnalysis.rollingHash(col("__g")),
          lit(buckets.toLong)))
      .groupBy(col(stratum), window(col(ts), windowDuration),
        col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col(stratum), col("window.start").as("window_start"),
        col("bucket"), col("cnt"))
  }

  /** L72 streaming: time-windowed numeric-drift count increments —
    * (stratum, window_start, bin, cnt) on the fixed [lo, hi) grid,
    * the same increment-union shape as [[windowedBinCounts]] /
    * [[windowedVocabCounts]]. State per open window is strata × bins
    * counters; merge = addition, so
    * `Drift.binnedDriftFromCounts` accepts the UNION of sink
    * increments directly — per-window AND whole-stream PSI/binned-KS
    * reads are both one finisher call. StreamingSpec pins stream ≡
    * batch for both readings. */
  def windowedDriftCounts(df: DataFrame, stratum: String, ts: String,
                          value: String, windowDuration: String,
                          lo: Double, hi: Double, bins: Int,
                          watermark: String = "1 hour"): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.filter(col(value).isNotNull && col(stratum).isNotNull)
      .select(col(stratum).cast("string").as("stratum"), col(ts),
        graft.core.Quantiles.binExpr(col(value).cast("double"),
          lo, hi, bins).as("bin"))
      .groupBy(col("stratum"), window(col(ts), windowDuration),
        col("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("stratum"), col("window.start").as("window_start"),
        col("bin"), col("cnt"))
  }

  /** L88 streaming: M4 downsampling over tumbling event-time windows —
    * (series, window_start, n, v_first, v_last, v_min, v_max), the
    * epoch-aligned streaming convention of the batch bucketing (the
    * window IS the bucket). first/last ride `min_by/max_by(value, ts)`
    * under the per-series unique-timestamp contract, so late rows
    * within the watermark revise the window to exactly the batch
    * answer. Works identically on batch frames. */
  def windowedM4(df: DataFrame, series: String, ts: String,
                 value: String, windowDuration: String,
                 watermark: String = "1 hour"): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.filter(col(value).isNotNull)
      .groupBy(col(series), window(col(ts), windowDuration))
      .agg(count(lit(1)).as("n"),
        min_by(col(value), col(ts)).as("v_first"),
        max_by(col(value), col(ts)).as("v_last"),
        min(col(value)).as("v_min"), max(col(value)).as("v_max"))
      .select(col(series), col("window.start").as("window_start"),
        col("n"), col("v_first"), col("v_last"), col("v_min"),
        col("v_max"))
  }

  /** W1 streaming analogue: sliding time-window mean/std per series with
    * a watermark for state cleanup. */
  def rollingStats(df: DataFrame, series: String, ts: String, value: String,
                   windowDuration: String, slideDuration: String,
                   watermark: String = "1 hour"): DataFrame = {
    val src = if (df.isStreaming) df.withWatermark(ts, watermark) else df
    src.groupBy(col(series), window(col(ts), windowDuration, slideDuration))
      .agg(avg(col(value)).as("roll_mean"),
        stddev_samp(col(value)).as("roll_std"),
        count(lit(1)).as("n"))
      .select(col(series), col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("roll_mean"), col("roll_std"), col("n"))
  }

  // ---- M2 streaming: Kalman local level with explicit state ----------

  case class Point(series_id: String, ts: Timestamp, value: Double)

  /** A micro-batch of one series in [[Grouped.pointOrder]], the order the
    * batch kernels fit in: full-precision `ts` (`getTime` would drop the
    * microseconds, so two points 1 µs apart could fold backwards), then
    * `value`. */
  private def inOrder(it: Iterator[Point]): Seq[Point] =
    it.toSeq.sortBy(p => (p.ts, p.value))(Grouped.pointOrder)

  case class KalmanState(level: Double, p: Double, initialized: Boolean)
  case class KalmanOut(series_id: String, ts: Timestamp, value: Double,
                       pred_mean: Double, pred_std: Double, resid: Double)

  /** Stateful one-step-ahead Kalman filter: state = (level, variance)
    * carried across micro-batches; q/h are fixed (fit offline via
    * KalmanLocalLevel.fit — the batch/stream split of SURVEY M2). */
  def statefulKalman(points: Dataset[Point], q: Double, h: Double)
      : Dataset[KalmanOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[KalmanState, KalmanOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point], state: GroupState[KalmanState]) =>
          var s = state.getOption.getOrElse(KalmanState(0.0, 1e7, false))
          val out = inOrder(it).map { pt =>
            val (pm, pv, ns) =
              if (!s.initialized)
                (pt.value, s.p + q + h,
                  KalmanState(pt.value, 1e7, initialized = true))
              else {
                val pPred = s.p + q
                val f = pPred + h
                val k = pPred / f
                (s.level, f,
                  KalmanState(s.level + k * (pt.value - s.level),
                    (1 - k) * pPred, initialized = true))
              }
            s = ns
            KalmanOut(sid, pt.ts, pt.value, pm, math.sqrt(pv),
              pt.value - pm)
          }
          state.update(s)
          out.iterator
      }
  }

  // ---- M3 streaming: BSTS one-step filter with explicit state ---------

  case class BstsState(a: Array[Double], p: Array[Double])
  case class BstsOut(series_id: String, ts: Timestamp, value: Double,
                     bsts_mean: Double, bsts_std: Double, resid: Double)

  /** Stateful BSTS: the full (a, P) state-space posterior is the carried
    * state (d + d² doubles — e.g. 72 for the default daily config), so
    * one-step-ahead filtered predictions stream per micro-batch.
    * Variances are fixed (fit offline via the batch MLE — the same
    * batch/stream split as statefulKalman). Components may mix trig and
    * dummy seasonals ([[graft.models.Bsts.Seasonal]]); the tuple overload
    * keeps the original all-trig surface. */
  def statefulBsts(points: Dataset[Point],
                   components: Seq[graft.models.Bsts.Seasonal],
                   qLevel: Double, qSlope: Double, qSeas: Seq[Double],
                   h: Double, p0: Double): Dataset[BstsOut] = {
    import points.sparkSession.implicits._
    val model = new graft.models.Bsts.Model(components, qLevel, qSlope,
      qSeas, h)
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[BstsState, BstsOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point], state: GroupState[BstsState]) =>
          val pts = inOrder(it)
          if (pts.isEmpty) Iterator.empty
          else {
            val s = state.getOption.getOrElse {
              val (a0, pm0) = model.initState(pts.head.value, p0)
              BstsState(a0, pm0)
            }
            val a = s.a.clone(); val p = s.p.clone()
            val ys = pts.map(_.value).toArray
            val means = new Array[Double](ys.length)
            val vars = new Array[Double](ys.length)
            model.filter(ys, a, p, means, vars)
            state.update(BstsState(a, p))
            pts.iterator.zipWithIndex.map { case (pt, i) =>
              BstsOut(sid, pt.ts, pt.value, means(i), math.sqrt(vars(i)),
                pt.value - means(i))
            }
          }
      }
  }

  /** Tuple-spec convenience: (period, harmonics) pairs = all-trig. */
  def statefulBsts(points: Dataset[Point],
                   seasonal: Seq[(Double, Int)] = Seq((48.0, 3)),
                   qLevel: Double, qSlope: Double, qSeas: Seq[Double],
                   h: Double, p0: Double = 1e7)(
                   implicit dummy: DummyImplicit): Dataset[BstsOut] =
    statefulBsts(points,
      seasonal.map { case (p, hm) => graft.models.Bsts.Trig(p, hm) },
      qLevel, qSlope, qSeas, h, p0)

  // ---- M6 streaming: BOCPD with bounded run-length state --------------

  case class BocpdState(r: Array[Double], mu: Array[Double],
                        kappa: Array[Double], alpha: Array[Double],
                        beta: Array[Double])
  case class BocpdOut(series_id: String, ts: Timestamp, value: Double,
                      cp_prob: Double, map_run_length: Int)

  /** Stateful BOCPD: the run-length posterior + NIG suffstats are the
    * carried state (bounded by truncation — the reason the batch
    * recursion truncates tails at all). Values must arrive normalized
    * (stream-side normalization needs a prior pass or running stats). */
  def statefulBocpd(points: Dataset[Point], hazard: Double = 1.0 / 100)
      : Dataset[BocpdOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[BocpdState, BocpdOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point], state: GroupState[BocpdState]) =>
          var s = state.getOption.getOrElse(
            BocpdState(Array(1.0), Array(0.0), Array(1.0), Array(1.0),
              Array(1.0)))
          val out = inOrder(it).map { pt =>
            val (ns, cp, mapRun) = graft.models.Bocpd.step(
              s.r, s.mu, s.kappa, s.alpha, s.beta, pt.value, hazard)
            s = BocpdState(ns._1, ns._2, ns._3, ns._4, ns._5)
            BocpdOut(sid, pt.ts, pt.value, cp, mapRun)
          }
          state.update(s)
          out.iterator
      }
  }

  // buffered warm-up timestamps carry FULL Timestamp precision —
  // millis-only buffering (getTime) would truncate Spark's
  // microsecond timestamps on the replayed warm-up rows
  case class HwStreamState(buf: Seq[Double], bufTs: Seq[Timestamp],
                           l: Double, b: Double, s: Seq[Double],
                           t: Long, ready: Boolean)
  case class HwStreamOut(series_id: String, ts: Timestamp, value: Double,
                         hw_pred: Double, hw_resid: Double)

  /** Stateful additive Holt–Winters: mirrors
    * [[graft.models.HoltWinters.forecast]] exactly — the first 2m
    * points are BUFFERED (the batch initializer needs two seasons),
    * then initialization fires and their forecasts emit retroactively
    * in one micro-batch; from then on state is (l, b, s[m], t) and
    * each arrival costs O(1). Same append-only in-order contract as
    * the other stateful detectors; StreamingSpec pins bit-parity with
    * the batch recursion across micro-batch splits. */
  def statefulHoltWinters(points: Dataset[Point], period: Int,
                          alpha: Double = 0.2, beta: Double = 0.1,
                          gamma: Double = 0.3): Dataset[HwStreamOut] = {
    require(period >= 2, s"period=$period must be >= 2")
    import points.sparkSession.implicits._
    val m = period
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[HwStreamState, HwStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point],
         state: GroupState[HwStreamState]) =>
          var st = state.getOption.getOrElse(
            HwStreamState(Vector.empty, Vector.empty, 0.0, 0.0,
              Vector.empty, 0L, ready = false))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[HwStreamOut]
          def stepOne(ts: Timestamp, v: Double): Unit = {
            val si = (st.t % m).toInt
            val sArr = st.s.toArray
            val pred = st.l + st.b + sArr(si)
            val lNew = alpha * (v - sArr(si)) + (1 - alpha) * (st.l + st.b)
            val bNew = beta * (lNew - st.l) + (1 - beta) * st.b
            sArr(si) = gamma * (v - lNew) + (1 - gamma) * sArr(si)
            st = st.copy(l = lNew, b = bNew, s = sArr.toVector,
              t = st.t + 1)
            out += HwStreamOut(sid, ts, v, pred, v - pred)
          }
          inOrder(it)
            .foreach { pt =>
            if (st.ready) stepOne(pt.ts, pt.value)
            else {
              st = st.copy(buf = st.buf :+ pt.value,
                bufTs = st.bufTs :+ pt.ts)
              if (st.buf.length == 2 * m) {
                val y = st.buf.toArray
                val mean1 = y.slice(0, m).sum / m
                val mean2 = y.slice(m, 2 * m).sum / m
                st = st.copy(l = mean1, b = (mean2 - mean1) / m,
                  s = Array.tabulate(m)(i => y(i) - mean1).toVector,
                  t = 0L, ready = true)
                y.zip(st.bufTs).foreach { case (v, tsb) =>
                  stepOne(tsb, v)
                }
                st = st.copy(buf = Vector.empty, bufTs = Vector.empty)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class CrostonStreamState(t: Long, lastI: Long, k: Long,
                                z: Double, p: Double)
  case class CrostonStreamOut(series_id: String, ts: Timestamp,
                              value: Double, n_demands: Long,
                              z_hat: Double, p_hat: Double,
                              croston_forecast: Double)

  /** Stateful Croston — L95's streaming twin, mirroring
    * [[graft.models.Croston.croston]] exactly: every arrival advances
    * the per-series ordinal; a demand arrival (`demandIf`) computes
    * the inter-demand interval from the ordinal gap and steps BOTH SES
    * recursions (z₁ = d₁, p₁ = q₁; z_k = α·d_k + (1−α)·z_{k−1}, same
    * for p on the intervals, with α and 1−α as two separate literals
    * exactly as the batch fold writes them), emitting the running
    * forecast ẑ/p̂. State is O(1) per series — (ordinal, last-demand
    * ordinal, k, z, p); no warm-up buffer, since Croston has no
    * initialization window (z₁/p₁ come from the first demand itself).
    * The LAST emission per series carries the batch operator's exact
    * (n_demands, z_hat, p_hat, croston_forecast) row; StreamingSpec
    * pins bit-parity across micro-batch splits, including splits
    * inside a zero run (state carries the open interval) and between
    * consecutive demands. Same append-only in-order contract as the
    * other stateful detectors. */
  def statefulCroston(points: Dataset[Point], demandIf: Double => Boolean,
                      alpha: Double = 0.25): Dataset[CrostonStreamOut] = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha not in (0,1)")
    import points.sparkSession.implicits._
    val b = 1.0 - alpha // written once, driver-side — mirrors the batch lit
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[CrostonStreamState, CrostonStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point],
         state: GroupState[CrostonStreamState]) =>
          var st = state.getOption.getOrElse(
            CrostonStreamState(0L, 0L, 0L, 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[CrostonStreamOut]
          inOrder(it)
            .foreach { pt =>
              val i = st.t + 1
              st = st.copy(t = i)
              if (demandIf(pt.value)) {
                val d = pt.value
                val q = (i - st.lastI).toDouble
                val z = if (st.k == 0L) d else alpha * d + b * st.z
                val p = if (st.k == 0L) q else alpha * q + b * st.p
                st = CrostonStreamState(i, i, st.k + 1, z, p)
                out += CrostonStreamOut(sid, pt.ts, pt.value, st.k,
                  z, p, z / p)
              }
            }
          state.update(st)
          out.iterator
      }
  }

  // ---- L51 streaming: SPC charts with a frozen Phase-I baseline ----

  case class SpcStreamState(buf: Seq[Double], bufTs: Seq[Timestamp],
                            mu: Double, sd: Double, a: Double, b: Double,
                            decay: Double, ready: Boolean)
  case class EwmaStreamOut(series_id: String, ts: Timestamp,
                           value: Double, ewma: Double, limit: Double,
                           is_anomaly: Int)
  case class CusumStreamOut(series_id: String, ts: Timestamp,
                            value: Double, cusum_hi: Double,
                            cusum_lo: Double, is_anomaly: Int)

  /** Stateful EWMA control chart: the first `warmup` points per series
    * are buffered as the Phase-I baseline (μ̂/σ̂ via the same in-order
    * Welford pass as the batch face), then replayed through the
    * Roberts recursion and the chart runs with O(1) state per series.
    * Bit-parity with `Spc.ewmaChart(..., baselineN = warmup)` —
    * StreamingSpec pins it across micro-batch splits, including a
    * split mid-warmup. State fields: a = z (the EWMA), decay =
    * (1−λ)^(2t) carried multiplicatively exactly as in batch. */
  def statefulEwma(points: Dataset[Point], warmup: Int,
                   lambda: Double = 0.2, l: Double = 3.0)
      : Dataset[EwmaStreamOut] = {
    require(warmup >= 2, s"warmup=$warmup must be >= 2")
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[SpcStreamState, EwmaStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point],
         state: GroupState[SpcStreamState]) =>
          var st = state.getOption.getOrElse(SpcStreamState(
            Vector.empty, Vector.empty, 0.0, 0.0, 0.0, 0.0, 1.0,
            ready = false))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[EwmaStreamOut]
          val base = () => st.sd * math.sqrt(lambda / (2.0 - lambda))
          def stepOne(ts: Timestamp, v: Double): Unit = {
            val z = lambda * v + (1.0 - lambda) * st.a
            // same association as the batch face's `decay *= (1-λ)²`
            // (RHS first) — the other grouping differs by an ulp
            val decay = st.decay * ((1.0 - lambda) * (1.0 - lambda))
            val limit = l * base() * math.sqrt(1.0 - decay)
            st = st.copy(a = z, decay = decay)
            out += EwmaStreamOut(sid, ts, v, z, limit,
              if (math.abs(z - st.mu) > limit) 1 else 0)
          }
          inOrder(it)
            .foreach { pt =>
              if (st.ready) stepOne(pt.ts, pt.value)
              else {
                st = st.copy(buf = st.buf :+ pt.value,
                  bufTs = st.bufTs :+ pt.ts)
                if (st.buf.length == warmup) {
                  val (mu, sd) = graft.models.Spc.meanStd(st.buf.toArray)
                  st = st.copy(mu = mu, sd = sd, a = mu, decay = 1.0,
                    ready = true)
                  st.buf.zip(st.bufTs).foreach { case (v, tsb) =>
                    stepOne(tsb, v)
                  }
                  st = st.copy(buf = Vector.empty, bufTs = Vector.empty)
                }
              }
            }
          state.update(st)
          out.iterator
      }
  }

  // ---- L61 streaming: ordered-step funnel with per-user state ----

  case class FunnelEvent(user_id: String, ts: Timestamp,
                         event_type: String)
  case class FunnelState(matched: Seq[Timestamp], deadline: Long)
  case class FunnelOut(user_id: String, level: Int, step_ts: Timestamp)

  /** Stateful funnel: per-user O(steps) state, one output row per
    * LEVEL ADVANCE (level, matched step timestamp). Under in-order
    * arrival (the watermark contract every stateful op here assumes)
    * this equals the batch `Behavior.funnel` sequential-min
    * semantics: the anchor is the first `steps.head` event, each
    * later step matches its first occurrence strictly after the
    * previous step and within `windowMillis` of the anchor —
    * StreamingSpec pins the parity across micro-batch splits.
    * Deadline precision is milliseconds (Timestamp.getTime); the
    * batch face's INTERVAL arithmetic is microsecond — identical on
    * any ms-aligned stream. */
  def statefulFunnel(events: Dataset[FunnelEvent], steps: Seq[String],
                     windowMillis: Long): Dataset[FunnelOut] = {
    require(steps.nonEmpty && windowMillis > 0,
      "need steps and a positive window")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: String, it: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Vector.empty, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          it.toSeq.sortBy(_.ts)(Grouped.tsOrder)
            .foreach { e =>
              if (st.matched.isEmpty) {
                if (e.event_type == steps.head) {
                  st = FunnelState(Vector(e.ts),
                    e.ts.getTime + windowMillis)
                  out += FunnelOut(uid, 1, e.ts)
                }
              } else if (st.matched.size < steps.size &&
                  e.event_type == steps(st.matched.size) &&
                  e.ts.after(st.matched.last) &&
                  e.ts.getTime <= st.deadline) {
                st = st.copy(matched = st.matched :+ e.ts)
                out += FunnelOut(uid, st.matched.size, e.ts)
              }
            }
          state.update(st)
          out.iterator
      }
  }

  // ---- sessionization streaming face ----

  case class SessionEvent(user_id: String, ts: Timestamp)
  case class SessionAssign(user_id: String, ts: Timestamp,
                           session_seq: Long)
  case class SessState(lastMicros: Long, seq: Long)

  /** Streaming face of `Sessions.sessionize`: per key the state is
    * TWO numbers (last event-time micros + current session ordinal);
    * each event gets its 1-based `session_seq` with the batch face's
    * exact integer-micros gap test (`gap > gapSeconds·1e6` opens a
    * new session; ties and equal-gap events stay in-session). Within
    * a micro-batch events process in ts order. Parity contract
    * (StreamingSpec): stream ≡ batch for IN-ORDER arrival across any
    * micro-batch split — an event older than its key's last processed
    * event would join a session retroactively in batch; Append mode
    * cannot revise, so out-of-order events get the CURRENT session
    * (documented, same asymmetry family as statefulAsof's late-right
    * case). */
  def statefulSessions(events: Dataset[SessionEvent],
                       gapSeconds: Long): Dataset[SessionAssign] = {
    require(gapSeconds >= 1, s"gapSeconds=$gapSeconds must be >= 1")
    import events.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: String, it: Iterator[SessionEvent],
         state: GroupState[SessState]) =>
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
          def micros(t: Timestamp): Long =
            t.getTime * 1000L + (t.getNanos % 1000000) / 1000
          val out = scala.collection.mutable.ArrayBuffer
            .empty[SessionAssign]
          it.toSeq.sortBy(_.ts)(Grouped.tsOrder)
            .foreach { e =>
              val m = micros(e.ts)
              if (st.seq == 0L || m - st.lastMicros > gapMicros)
                st = SessState(m, st.seq + 1)
              else
                st = SessState(math.max(st.lastMicros, m), st.seq)
              out += SessionAssign(uid, e.ts, st.seq)
            }
          state.update(st)
          out.iterator
      }
  }

  /** Stateful tabular CUSUM, same Phase-I warmup contract as
    * [[statefulEwma]]; bit-parity with
    * `Spc.cusum(..., baselineN = warmup)`. State fields: a = S⁺,
    * b = S⁻. */
  def statefulCusum(points: Dataset[Point], warmup: Int,
                    k: Double = 0.5, h: Double = 5.0)
      : Dataset[CusumStreamOut] = {
    require(warmup >= 2, s"warmup=$warmup must be >= 2")
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[SpcStreamState, CusumStreamOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point],
         state: GroupState[SpcStreamState]) =>
          var st = state.getOption.getOrElse(SpcStreamState(
            Vector.empty, Vector.empty, 0.0, 0.0, 0.0, 0.0, 1.0,
            ready = false))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[CusumStreamOut]
          def stepOne(ts: Timestamp, v: Double): Unit = {
            val z = (v - st.mu) / st.sd
            val sp = math.max(0.0, st.a + z - k)
            val sn = math.max(0.0, st.b - z - k)
            st = st.copy(a = sp, b = sn)
            out += CusumStreamOut(sid, ts, v, sp, sn,
              if (sp > h || sn > h) 1 else 0)
          }
          inOrder(it)
            .foreach { pt =>
              if (st.ready) stepOne(pt.ts, pt.value)
              else {
                st = st.copy(buf = st.buf :+ pt.value,
                  bufTs = st.bufTs :+ pt.ts)
                if (st.buf.length == warmup) {
                  val (mu, sd) = graft.models.Spc.meanStd(st.buf.toArray)
                  st = st.copy(mu = mu, sd = sd, a = 0.0, b = 0.0,
                    ready = true)
                  st.buf.zip(st.bufTs).foreach { case (v, tsb) =>
                    stepOne(tsb, v)
                  }
                  st = st.copy(buf = Vector.empty, bufTs = Vector.empty)
                }
              }
            }
          state.update(st)
          out.iterator
      }
  }

  case class DeltaOut(series_id: String, ts: Timestamp, value: Double,
                      delta: Double)
  case class DeltaState(last: Double, has: Boolean)

  /** Stateful per-series Δ — `value − previous value`, 0.0 at the
    * series head: the upstream lag for [[windowedHbosCounts]]'s Δ
    * feature (a windowed aggregate cannot see the previous row; a
    * keyed one-value state can). Bit-parity with the batch
    * `x − lag(x)` convention shared by Hbos/Lof/IsolationForest;
    * within a batch rows process in ts order, and the state carries
    * the last value across micro-batch splits. */
  def statefulDelta(points: Dataset[Point]): Dataset[DeltaOut] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState[DeltaState, DeltaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sid: String, it: Iterator[Point],
         state: GroupState[DeltaState]) =>
          var st = state.getOption.getOrElse(DeltaState(0.0, false))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[DeltaOut]
          inOrder(it)
            .foreach { p =>
              val d = if (st.has) p.value - st.last else 0.0
              out += DeltaOut(sid, p.ts, p.value, d)
              st = DeltaState(p.value, has = true)
            }
          state.update(st)
          out.iterator
      }
  }

  // ---- L84 streaming: stateful as-of enrichment ----

  case class AsofEvent(key: String, ts: Timestamp, side: Int,
                       value: Double)
  case class AsofStreamOut(key: String, ts: Timestamp,
                           asof_ts: Option[Timestamp],
                           asof_value: Option[Double])
  case class AsofBufState(ts: Seq[Long], v: Seq[Double],
                          pend: Seq[Long])

  /** L84 streaming face: stream-stream as-of enrichment. Input is the
    * UNION of both sides tagged `side` (0 = right/reference,
    * 1 = left/probe); per key the state is a BOUNDED ordered history
    * of the newest `maxKeep` right rows, so a LATE-LEFT probe — a left
    * row arriving a micro-batch (or several) after newer reference
    * rows — still matches the right row that was current AT ITS EVENT
    * TIME: the LEAKAGE guarantee (never matching a right row from the
    * probe's event-time future) is unconditional.
    *
    * LATE-RIGHT rows — a reference row arriving AFTER a probe it
    * should have matched was processed — are covered by
    * `bufferLate = true`, the stream-stream interval-join discipline:
    * probes are HELD in state until the event-time WATERMARK passes
    * their event time (requires `withWatermark` on the input union;
    * the watermark delay is the right side's lateness bound), so any
    * right row the watermark still admits lands in the history before
    * the probe resolves. Flushes happen on data batches and, for keys
    * receiving no new rows, via an event-time timeout set to the
    * earliest pending probe. Batch execution has no watermark, so the
    * same code degrades to end-of-invocation resolution — exact batch
    * as-of semantics. With `bufferLate = false` (default) probes emit
    * in the batch that carries them (lowest latency) and late-right
    * parity is NOT covered — the pre-round-14 contract.
    *
    * Within a batch rows process in (ts, side) order — the batch
    * face's inclusive-equality convention. StreamingSpec pins
    * stream ≡ `AsofJoin.asofJoin` across micro-batch splits for the
    * late-LEFT case, and for the late-RIGHT case under
    * `bufferLate = true` with the matching right row arriving a batch
    * after its probe. `stateTtl` (processing-time key eviction for
    * churning key spaces) is mutually exclusive with `bufferLate` —
    * one timeout clock per operator; a TTL eviction drops any pending
    * probes with the history. */
  def statefulAsof(events: Dataset[AsofEvent],
                   maxKeep: Int = 1024,
                   stateTtl: Option[String] = None,
                   bufferLate: Boolean = false
                  ): Dataset[AsofStreamOut] = {
    require(maxKeep >= 1, s"maxKeep=$maxKeep must be >= 1")
    require(!(bufferLate && stateTtl.isDefined),
      "bufferLate uses the event-time timeout clock; stateTtl's " +
        "processing-time timeout cannot be combined with it")
    import events.sparkSession.implicits._
    // stateTtl bounds state in KEY CARDINALITY the way maxKeep bounds
    // it per key: keys idle longer than the TTL drop their history
    // (the sibling windowed faces get this from their watermark; a
    // keyed-state op must opt in explicitly or grow forever on
    // churning key spaces)
    val timeoutConf =
      if (bufferLate) GroupStateTimeout.EventTimeTimeout()
      else if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsofBufState, AsofStreamOut](
        OutputMode.Append(), timeoutConf) {
        (k: String, it: Iterator[AsofEvent],
         state: GroupState[AsofBufState]) =>
          if (state.hasTimedOut && !bufferLate) {
            state.remove()
            Iterator.empty
          } else {
          var buf = state.getOption
            .getOrElse(AsofBufState(Nil, Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[AsofStreamOut]
          def fromMicros(m: Long): Timestamp = {
            val t = new Timestamp(m / 1000L)
            t.setNanos(((m % 1000000L) * 1000L).toInt)
            t
          }
          // epoch micros: getTime already carries the millis, so only
          // the sub-millisecond part of getNanos is added
          def micros(t: Timestamp): Long =
            t.getTime * 1000L + (t.getNanos % 1000000) / 1000
          def insertRight(tsM: Long, v: Double): Unit = {
            // ordered insert (late rows land mid-buffer), newest kept
            val i = buf.ts.lastIndexWhere(_ <= tsM) + 1
            val nt = (buf.ts.take(i) :+ tsM) ++ buf.ts.drop(i)
            val nv = (buf.v.take(i) :+ v) ++ buf.v.drop(i)
            val from = math.max(0, nt.length - maxKeep)
            buf = buf.copy(ts = nt.drop(from), v = nv.drop(from))
          }
          def lookup(tsM: Long): (Option[Timestamp], Option[Double]) = {
            val i = buf.ts.lastIndexWhere(_ <= tsM)
            if (i < 0) (None, None)
            else (Some(fromMicros(buf.ts(i))), Some(buf.v(i)))
          }
          it.toSeq
            .sortBy(e => (e.ts, e.side))(
              Ordering.Tuple2(Grouped.tsOrder, Ordering.Int))
            .foreach { e =>
              val tsM = micros(e.ts)
              if (e.side == 0) insertRight(tsM, e.value)
              else buf = buf.copy(pend = buf.pend :+ tsM)
            }
          // watermark micros: present only in a watermarked streaming
          // query; batch execution and unwatermarked streams resolve
          // every pending probe at end of invocation (batch sees the
          // whole input here, so that IS exact as-of semantics)
          val wmM =
            if (!bufferLate) Long.MaxValue
            else
              try {
                val wm = state.getCurrentWatermarkMs()
                if (wm <= 0L) Long.MinValue else wm * 1000L
              } catch {
                case _: UnsupportedOperationException => Long.MaxValue
              }
          val (flush, keep) = buf.pend.partition(_ <= wmM)
          flush.sorted.foreach { tsM =>
            val (mt, mv) = lookup(tsM)
            out += AsofStreamOut(k, fromMicros(tsM), mt, mv)
          }
          buf = buf.copy(pend = keep)
          state.update(buf)
          stateTtl.foreach(t => state.setTimeoutDuration(t))
          // wake this key when the watermark passes its earliest
          // pending probe, so held probes flush even if the key never
          // receives another row (ceil to ms: the timeout must be
          // strictly later than the current watermark)
          if (bufferLate && wmM != Long.MaxValue && keep.nonEmpty)
            state.setTimeoutTimestamp((keep.min + 999L) / 1000L)
          out.iterator
          }
      }
  }
}
