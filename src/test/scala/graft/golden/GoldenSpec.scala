package graft.golden

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.events.Events
import graft.metrics.Metrics
import graft.models.Bocpd

/** Golden-artifact parity: replay the engine's metric/model operators on
  * the reference's OWN persisted outputs (results tree: predictions.csv,
  * cp_probs.csv, metrics.json) and demand the reference's numbers.
  *
  * These run only when the reference checkout is present; the inputs are
  * public artifacts studied for behavior (no code is derived from them).
  */
class GoldenSpec extends SparkSpec {

  private val refRoot = "/root/reference/results"
  private def available: Boolean = new java.io.File(refRoot).isDirectory

  // sbt still says "All tests passed" when every case cancels, so count
  // the cancels and name the missing artifacts in one line of the output
  private val canceled = new java.util.concurrent.atomic.AtomicInteger

  override def withFixture(test: NoArgTest): org.scalatest.Outcome = {
    val outcome = super.withFixture(test)
    if (outcome.isCanceled) canceled.incrementAndGet()
    outcome
  }

  override def afterAll(): Unit = {
    if (canceled.get > 0)
      println(s"GoldenSpec: ${canceled.get} of ${testNames.size} tests " +
        s"CANCELED, reference artifacts missing at $refRoot: fidelity to " +
        "the reference's saved outputs is NOT checked by this run")
    super.afterAll()
  }

  private def loadPredictions(dir: String, testOnly: Boolean): DataFrame = {
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("detected", col("detected").cast("int"))
      .withColumn("series_id", lit("s"))
    if (testOnly && df.columns.contains("split"))
      df.filter(col("split") === "Test")
    else df
  }

  private def goldenEventLevel(dir: String): Map[String, Double] = {
    val json = ujsonLite(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/metrics.json")))
    json("event_level").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toDouble }
  }

  /** minimal JSON parser for the flat metrics files (numbers + nesting) */
  private def ujsonLite(s: String): Map[String, Any] = {
    // metrics.json is trusted-shape: use Spark's own parser via a Dataset
    import spark.implicits._
    val df = spark.read.option("multiLine", "true")
      .json(Seq(s).toDS())
    val row = df.collect().head
    def toMap(r: org.apache.spark.sql.Row,
              schema: org.apache.spark.sql.types.StructType): Map[String, Any] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> (f.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            toMap(r.getStruct(i), st)
          case _ => r.get(i)
        })
      }.toMap
    toMap(row, df.schema)
  }

  private val cases = Seq(
    ("bsts nyc_taxi", s"$refRoot/bsts/realKnownCause__nyc_taxi.csv", true),
    ("bsts twitter (0 true events)",
      s"$refRoot/bsts/realTweets__Twitter_volume_AMZN.csv", true),
    ("bsts machine_temp (0 tp)",
      s"$refRoot/bsts/realKnownCause__machine_temperature_system_failure.csv",
      true),
    ("enhanced_bsts nyc_taxi (f1=1.0)",
      s"$refRoot/enhanced_bsts/realKnownCause__nyc_taxi.csv", false),
    ("ensemble nyc_taxi",
      s"$refRoot/ensemble/realKnownCause__nyc_taxi.csv", false))

  test("event-level metrics reproduce every reference metrics.json exactly") {
    assume(available, "reference artifacts not present")
    cases.foreach { case (name, dir, testOnly) =>
      val df = loadPredictions(dir, testOnly)
      val pred = Events.eventize(df, Seq("series_id"), "ts", "detected", 3)
      val truth = Events.eventize(df, Seq("series_id"), "ts", "is_anomaly", 3)
      val m = Events.eventLevelMetrics(pred, truth, Seq("series_id"))
        .collect().head
      val gold = goldenEventLevel(dir)
      def chk(col: String, key: String): Unit = {
        val got: Double = m.get(m.fieldIndex(col)) match {
          case l: Long => l.toDouble
          case d: Double => d
          case x => x.toString.toDouble
        }
        assert(math.abs(got - gold(key)) < 1e-9,
          s"$name $key: got $got want ${gold(key)}")
      }
      chk("tp", "tp"); chk("fp", "fp"); chk("fn", "fn")
      chk("n_pred_events", "n_pred_events")
      chk("n_true_events", "n_true_events")
      chk("precision", "precision"); chk("recall", "recall")
      chk("f1", "f1")
    }
  }

  test("business metrics reproduce the bsts nyc_taxi golden") {
    assume(available, "reference artifacts not present")
    val dir = s"$refRoot/bsts/realKnownCause__nyc_taxi.csv"
    val df = loadPredictions(dir, testOnly = true)
    val pred = Events.eventize(df, Seq("series_id"), "ts", "detected", 3)
    val truth = Events.eventize(df, Seq("series_id"), "ts", "is_anomaly", 3)
    val b = Metrics.business(df, Seq("series_id"), "ts", pred, truth)
      .collect().head
    val gold = ujsonLite(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/metrics.json")))("business")
      .asInstanceOf[Map[String, Any]]
    assert(b.getAs[Long]("fp_count") === 9L)
    assert(math.abs(b.getAs[Double]("duration_days") -
      gold("duration_days").toString.toDouble) < 1e-9)
    assert(math.abs(b.getAs[Double]("fp_per_day") -
      gold("fp_per_day").toString.toDouble) < 1e-9)
    assert(math.abs(b.getAs[Double]("median_latency_minutes") -
      gold("median_latency_minutes").toString.toDouble) < 1e-9)
  }

  test("enhanced-BSTS detector tail reproduces best_k=4.0 / F1=1.0 from the reference forecast") {
    assume(available, "reference artifacts not present")
    // Layer 1 of the enhanced-BSTS golden: everything DOWNSTREAM of the
    // model — rolling sigma, k sweep (3..12 step 1, no rate guard),
    // persistence 2, gap-3 eventize, event metrics — replayed on the
    // reference's own bsts_mean. This isolates the model-fit layer:
    // the reference's F1=1.00 artifact comes from an unconverged
    // statsmodels fit whose dynamic forecast diverges (their predictions
    // flag 5108/5160 test points as ONE event); given that mean, our
    // detector tail must land on exactly the same best_k and metrics.
    val dir = s"$refRoot/enhanced_bsts/realKnownCause__nyc_taxi.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("bsts_mean", col("bsts_mean").cast("double"))
      .withColumn("series_id", lit("s"))
      .withColumn("resid", col("value") - col("bsts_mean"))
      .withColumn("split", lit("Test"))
    val cfg = graft.bench.Pipelines.Config(
      rollingWindow = 48, minPeriods = 5, persistence = 2, gap = 3,
      ks = (0 until 10).map(i => 3.0 + i), maxRate = 1.1)
    val (_, metrics) = graft.bench.Pipelines.detectAndScore(
      df, "series_id", "ts", cfg, tuneSplit = "Test")
    val m = metrics.collect().head
    val gold = goldenEventLevel(dir)
    assert(m.getAs[Double]("best_k") === 4.0)
    def num(c: String): Double = m.get(m.fieldIndex(c)) match {
      case l: Long => l.toDouble; case d: Double => d
      case x => x.toString.toDouble
    }
    for ((c, k) <- Seq("tp" -> "tp", "fp" -> "fp", "fn" -> "fn",
        "n_pred_events" -> "n_pred_events",
        "n_true_events" -> "n_true_events", "precision" -> "precision",
        "recall" -> "recall", "f1" -> "f1"))
      assert(math.abs(num(c) - gold(k)) < 1e-9,
        s"$c: got ${num(c)} want ${gold(k)}")
  }

  test("dummy-seasonal BSTS detector tail reproduces the notebook golden exactly") {
    assume(available, "reference artifacts not present")
    // notebooks/02 cell 4: daily-only BSTS with the stochastic DUMMY
    // seasonal (statsmodels seasonal=48), dynamic forecast over the test
    // half, rolling-sigma sweep k ∈ 3..12 step 1 (no rate guard),
    // persistence 2, gap-3 events. Layer 1 replays everything downstream
    // of the model on the notebook's own pred_mean.
    //
    // Golden provenance caveat: the artifact's metrics.json
    // (n_pred_events=3, F1 0.4999…) predates the reference's current
    // event-merge rule — running the reference's OWN src/evaluate.py on
    // its OWN stored detected/is_anomaly columns today yields tp=1 fp=1
    // n_pred_events=2 F1 0.6666666659555555 (the 4-zero gap between two
    // runs merges under `s - prev_end <= gap + 1`). The engine must match
    // the current code, so those are the pinned numbers; the pointwise
    // block of metrics.json (35/4831/0) is still consistent and pinned
    // from the artifact itself.
    val dir = "/root/reference/notebooks/results/bsts/realKnownCause__nyc_taxi.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("pred_mean", col("pred_mean").cast("double"))
      .withColumn("series_id", lit("s"))
      .withColumn("resid", col("value") - col("pred_mean"))
      .withColumn("split", lit("Test"))
    val cfg = graft.bench.Pipelines.Config(
      rollingWindow = 48, minPeriods = 5, persistence = 2, gap = 3,
      ks = (0 until 10).map(i => 3.0 + i), maxRate = 1.1)
    val (_, metrics) = graft.bench.Pipelines.detectAndScore(
      df, "series_id", "ts", cfg, tuneSplit = "Test")
    val m = metrics.collect().head
    assert(m.getAs[Double]("best_k") === 5.0)
    def num(c: String): Double = m.get(m.fieldIndex(c)) match {
      case l: Long => l.toDouble; case d: Double => d
      case x => x.toString.toDouble
    }
    // flags parity with the artifact: the pointwise confusion is exactly
    // the metrics.json pointwise block
    assert(num("pt_tp") === 35.0 && num("pt_fp") === 4831.0 &&
      num("pt_fn") === 0.0,
      s"pointwise ${num("pt_tp")}/${num("pt_fp")}/${num("pt_fn")}")
    // event-level parity with the reference's current evaluate.py on the
    // same flags
    for ((c, want) <- Seq("tp" -> 1.0, "fp" -> 1.0, "fn" -> 0.0,
        "n_pred_events" -> 2.0, "n_true_events" -> 5.0,
        "precision" -> 0.49999999975, "recall" -> 0.9999999998,
        "f1" -> 0.6666666659555555))
      assert(math.abs(num(c) - want) < 1e-9,
        s"$c: got ${num(c)} want $want")
  }

  test("dummy-seasonal BSTS full pipeline (MLE fit) runs end-to-end on NYC-Taxi") {
    assume(available, "reference artifacts not present")
    // Layer 2: the whole daily-only pipeline including our coordinate-MLE
    // dummy-seasonal fit (Bsts.Dummy(48), d=49 states) on the full
    // 10,320-point series. The REFERENCE behavior here is a drifting
    // dynamic forecast: a daily-only dummy seasonal cannot carry NYC
    // Taxi's weekly structure, so statsmodels' own run saturates
    // (pointwise fp=4831/5160, 94% of test points flagged) and the event
    // layer still recovers recall 1.0 because eventize collapses the
    // saturated region. Our MLE reproduces that qualitative regime —
    // unlike the trig enhanced fit, which stays healthy. Pinned: 5 true
    // events, a sweep winner inside the grid, recall 1.0 (fn=0) with at
    // least one pred-side tp, and the saturation itself (>50% flag rate,
    // matching the reference's 94%).
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val cfg = graft.bench.Pipelines.Config(
      labelWindowRows = 3, trainFrac = 0.5, valFrac = 0.0,
      rollingWindow = 48, minPeriods = 5, persistence = 2, gap = 3,
      ks = (0 until 10).map(i => 3.0 + i), maxRate = 1.1)
    val (pred, metrics) = graft.bench.Pipelines.runEnhancedBsts(
      full, labels, "series_id", "ts", "value", cfg,
      seasonal = Seq(graft.models.Bsts.Dummy(48)))
    val m = metrics.collect().head
    assert(m.getAs[Long]("n_true_events") === 5L)
    val k = m.getAs[Double]("best_k")
    assert(k >= 3.0 && k <= 12.0, s"best_k $k outside sweep grid")
    assert(m.getAs[Long]("fn") === 0L, "a true event was missed")
    assert(m.getAs[Long]("tp") >= 1L, "no true event detected")
    val flags = pred.agg(
      sum("detected").cast("double") / count(lit(1))).collect().head.getDouble(0)
    info(f"dummy-BSTS flag rate $flags%.3f (reference artifact: 0.943)")
    // Why 0.99 and not the artifact's 0.943 — adjudicated in round 8
    // (see graft.models.BstsFitProbe, Test/runMain): the flag rate is
    // INSENSITIVE to the MLE optimum. Coordinate rounds 2/3/4 and a
    // 108-point basin grid reach optima with h spanning 144.8 → 9e-4
    // (LML -42796.7 → -42742.4, a 0.13% ridge) and every one of them
    // produces the identical 0.9895 rate, best_k=4, tp=1, fn=0 through
    // the real detection tail. The residual 0.05 delta vs statsmodels
    // is the drift phase of two different optimizers' forecasts inside
    // the SAME saturated regime (the reference's own run flags 94%) —
    // not a worse likelihood, and not closable by initialization (no
    // optimum in the searched space moves the rate at all). The
    // detector tail itself is bit-exact on the reference's forecast
    // (layer-1 test above).
    assert(flags > 0.95 && flags <= 1.0,
      s"flag rate $flags left the pinned saturated regime [0.95, 1.0]")
  }

  test("enhanced-BSTS full pipeline (MLE fit) runs end-to-end on NYC-Taxi") {
    assume(available, "reference artifacts not present")
    // Layer 2: the WHOLE pipeline including our MLE-fitted multi-seasonal
    // BSTS on the full 10,320-point series (values reconstructed from the
    // BOCPD artifact, labels from the window-3 run centers). statsmodels'
    // exact optimizer trajectory is not replayable (their fit did not
    // converge — see layer 1); our coordinate MLE reaches a better
    // likelihood whose forecast does NOT collapse, so the degenerate
    // flag-everything solution (and its F1=1.00) does not arise. The
    // contract here: the model is healthy (sparse flags, rate far below
    // the reference's 99%), the sweep lands inside the grid, and at
    // least one of the five true events is detected.
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    // window-3 label centers (run centers of the enhanced predictions'
    // is_anomaly column, indices 5942/7183/8526/8834/10080 of the full
    // series)
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val cfg = graft.bench.Pipelines.Config(
      labelWindowRows = 3, trainFrac = 0.5, valFrac = 0.0,
      rollingWindow = 48, minPeriods = 5, persistence = 2, gap = 3,
      ks = (0 until 10).map(i => 3.0 + i), maxRate = 1.1)
    val (pred, metrics) = graft.bench.Pipelines.runEnhancedBsts(
      full, labels, "series_id", "ts", "value", cfg)
    val m = metrics.collect().head
    assert(m.getAs[Long]("n_true_events") === 5L)
    val k = m.getAs[Double]("best_k")
    assert(k >= 3.0 && k <= 12.0, s"best_k $k outside sweep grid")
    val flags = pred.agg(
      sum("detected").cast("double") / count(lit(1))).collect().head.getDouble(0)
    assert(flags < 0.10, s"flag rate $flags — forecast collapsed like the unconverged reference fit")
    assert(m.getAs[Long]("tp") >= 1L, "no true event detected")
  }

  test("Kalman full pipeline (MLE fit) reproduces the NYC-Taxi metrics golden exactly") {
    assume(available, "reference artifacts not present")
    // E2 lifecycle on real NAB data, INCLUDING the model fit: local-level
    // MLE on the train half, flat out-of-sample forecast, MAD sigma from
    // train residuals, k=3.0, persistence 2, gap-0 events — the
    // notebooks/results/kalman pipeline. Unlike enhanced-BSTS, the
    // local-level MLE is well-behaved, so our coordinate golden-section
    // fit lands on the same optimum as statsmodels and the FLAGS match
    // the reference bit-for-bit (verified: 2462/2462 identical flags →
    // identical pointwise 29/2433/6 and event 5/195/0 confusion).
    import graft.core.SeriesOps
    import graft.models.KalmanLocalLevel
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val marked = SeriesOps.markLabelWindows(full, labels, "series_id", "ts",
      "label_ts", 3)
    val kal = KalmanLocalLevel.run(marked, "series_id", "ts", "value", 0.5)
      .withColumnRenamed("series_id", "__sid")
    val withLabels = kal.join(
      marked.select(col("ts").as("__mts"), col("is_anomaly")),
      kal("ts") === col("__mts")).drop("__mts")
      .withColumnRenamed("__sid", "series_id")
    val mad = SeriesOps.madSigma(
      withLabels.filter(col("split") === "Train"), "series_id", "resid",
      "mad_sigma")
    val test = withLabels.filter(col("split") === "Test")
      .join(broadcast(mad), "series_id")
      .withColumn("flag",
        when(abs(col("resid")) / col("mad_sigma") > 3.0, 1).otherwise(0))
    val persisted = Events.persistFilter(test, Seq("series_id"), "ts",
      "flag", 2, "detected")
    val pred = Events.eventize(persisted, Seq("series_id"), "ts",
      "detected", 0)
    val truth = Events.eventize(persisted, Seq("series_id"), "ts",
      "is_anomaly", 0)
    val em = Events.eventLevelMetrics(pred, truth, Seq("series_id"))
      .collect().head
    val pm = Metrics.pointwise(persisted, Seq("series_id"), "is_anomaly",
      "detected").collect().head
    val dir = "/root/reference/notebooks/results/kalman/realKnownCause__nyc_taxi.csv"
    val all = ujsonLite(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/metrics.json")))
    val goldE = all("event_level").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toDouble }
    val goldP = all("pointwise").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toDouble }
    def num(r: org.apache.spark.sql.Row, c: String): Double =
      r.get(r.fieldIndex(c)) match {
        case l: Long => l.toDouble; case d: Double => d
        case x => x.toString.toDouble
      }
    for (k <- Seq("tp", "fp", "fn", "n_pred_events", "n_true_events",
        "precision", "recall", "f1"))
      assert(math.abs(num(em, k) - goldE(k)) < 1e-9,
        s"event $k: got ${num(em, k)} want ${goldE(k)}")
    for (k <- Seq("tp", "fp", "fn", "precision", "recall", "f1"))
      assert(math.abs(num(pm, k) - goldP(k)) < 1e-9,
        s"pointwise $k: got ${num(pm, k)} want ${goldP(k)}")
  }

  test("AR-on-STL-residuals pipeline approaches the LSTM NYC-Taxi golden") {
    assume(available, "reference artifacts not present")
    // The notebook's LSTM pipeline (02 cell 8): STL on the full
    // series, forecast the residual, score the second-order residual
    // with the abs-z rolling detector, sweep k ∈ 3..12 step 1 on Test
    // with NO rate guard, persist 2, gap 3. Golden: best_k=3.0, event
    // F1 0.444 (tp=2 fp=2 fn=3). An MLlib ARX is a documented
    // substitution for the LSTM (SURVEY §2.9 M5) — point forecasts
    // differ, so this is tolerance-based: the pipeline must find a
    // sweep winner whose event F1 is at least half the LSTM's, with
    // all five true events present.
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val cfg = graft.bench.Pipelines.Config(labelWindowRows = 3,
      ks = (0 until 10).map(i => 3.0 + i), maxRate = 1.1)
    val (_, metrics) = graft.bench.Pipelines.runAutoRegressor(
      full, labels, "series_id", "ts", "value", cfg, seqLen = 48,
      onStlResiduals = true, regressor = "ridge")
    val m = metrics.collect().head
    info(s"AR-on-STL: best_k=${m.getAs[Double]("best_k")} " +
      s"f1=${m.getAs[Double]("f1")} tp=${m.getAs[Long]("tp")} " +
      s"fp=${m.getAs[Long]("fp")} fn=${m.getAs[Long]("fn")}")
    assert(m.getAs[Long]("n_true_events") === 5L)
    assert(m.getAs[Double]("f1") >= 0.222,
      s"event F1 ${m.getAs[Double]("f1")} below half the LSTM golden 0.444")
  }

  test("GP pipeline approaches the NYC-Taxi golden (rolling-sigma detector)") {
    assume(available, "reference artifacts not present")
    // run_gp.py: last-1000-point subsample, composite-kernel GP, index
    // forecast over the test half, rolling_sigma_threshold sweep (2..10
    // step 0.5, rate guard 0.10, persist 2, gap 3). Golden (results/gp):
    // best_k=3.5, event F1 0.333 (tp=1 fp=0 fn=4). Our GP selects
    // hyperparameters by LML grid rather than sklearn's L-BFGS restarts —
    // yet with the correct mean-centered detector tail the full pipeline
    // lands on the SAME sweep winner and the SAME event confusion as the
    // reference (measured: best_k=3.5, tp=1 fp=0 fn=4, F1 0.3333333329),
    // so this pins equality, with a documented fallback floor only on F1.
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val cfg = graft.bench.Pipelines.Config(labelWindowRows = 3, period = 48)
    val (_, metrics) = graft.bench.Pipelines.runGp(
      full, labels, "series_id", "ts", "value", cfg)
    val m = metrics.collect().head
    info(s"GP: best_k=${m.getAs[Double]("best_k")} f1=${m.getAs[Double]("f1")} " +
      s"tp=${m.getAs[Long]("tp")} fp=${m.getAs[Long]("fp")} fn=${m.getAs[Long]("fn")}")
    assert(m.getAs[Long]("n_true_events") === 5L)
    assert(m.getAs[Double]("best_k") === 3.5)
    assert(m.getAs[Long]("tp") === 1L)
    assert(m.getAs[Long]("fp") === 0L)
    assert(m.getAs[Long]("fn") === 4L)
    assert(m.getAs[Double]("f1") >= 0.2,
      s"event F1 ${m.getAs[Double]("f1")} below the documented floor vs golden 0.333")
  }

  test("hybrid ensemble sweep reproduces the notebook golden exactly") {
    assume(available, "reference artifacts not present")
    // notebooks/03: hybrid_score = 0.5|z_bsts| + 0.5|z_lstm| (verified
    // against the stored hybrid_score column), threshold sweep over
    // linspace(2,10,20) with NO rate guard, persistence 2, gap-3 events.
    // Golden: best_threshold 5.368421..., event F1 0.5714285709
    // (tp=2 fp=3 fn=0, 5 pred events). Replaying from the reference's
    // own per-member z columns pins our sweep/persist/eventize/metrics
    // chain bit-for-bit on a THIRD distinct artifact.
    val dir = "/root/reference/notebooks/results/hybrid/realKnownCause__nyc_taxi.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("score",
        (abs(col("z_bsts").cast("double")) +
          abs(col("z_lstm").cast("double"))) / 2)
      .withColumn("series_id", lit("s"))
    val ks = (0 until 20).map(i => 2.0 + 8.0 * i / 19.0)
    val truth = Events.eventize(df, Seq("series_id"), "ts", "is_anomaly", 3)
    val best = Metrics.sweep(
      df.select(col("series_id"), col("ts"), col("score")),
      Seq("series_id"), "ts", "score", ks, 2, 3, truth, maxRate = 1.1)
      .collect().head
    assert(math.abs(best.getAs[Double]("best_k") - 5.368421052631579) < 1e-9)
    val flagged = df.withColumn("flag",
      graft.core.SeriesOps.thresholdFlag(col("score"),
        lit(best.getAs[Double]("best_k"))))
    val persisted = Events.persistFilter(flagged, Seq("series_id"), "ts",
      "flag", 2, "detected")
    val m = Events.eventLevelMetrics(
      Events.eventize(persisted, Seq("series_id"), "ts", "detected", 3),
      truth, Seq("series_id")).collect().head
    val gold = goldenEventLevel(dir)
    def num(c: String): Double = m.get(m.fieldIndex(c)) match {
      case l: Long => l.toDouble; case d: Double => d
      case x => x.toString.toDouble
    }
    for (k <- Seq("tp", "fp", "fn", "n_pred_events", "n_true_events",
        "precision", "recall", "f1"))
      assert(math.abs(num(k) - gold(k)) < 1e-9,
        s"$k: got ${num(k)} want ${gold(k)}")
  }

  test("STL pipeline approaches the notebook NYC-Taxi golden") {
    assume(available, "reference artifacts not present")
    // notebook STL baseline: robust STL on the full series, rolling-z
    // sweep on the test half. Golden: best_k=4.0, event F1 0.0488
    // (tp=1 fp=35 fn=4 — a weak detector by design). Our loess STL is
    // not statsmodels bit-for-bit; measured: the sweep lands on the SAME
    // best_k=4.0 with the same single true-event hit but only 4 false
    // events instead of 35 (F1 0.20) — cleaner residuals, so the golden
    // is a floor here, not a target band.
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val cfg = graft.bench.Pipelines.Config(labelWindowRows = 3, period = 48)
    val (_, metrics) = graft.bench.Pipelines.runStl(
      full, labels, "series_id", "ts", "value", cfg, exact = true)
    val m = metrics.collect().head
    info(s"STL: best_k=${m.getAs[Double]("best_k")} f1=${m.getAs[Double]("f1")} " +
      s"tp=${m.getAs[Long]("tp")} fp=${m.getAs[Long]("fp")} fn=${m.getAs[Long]("fn")}")
    assert(m.getAs[Long]("n_true_events") === 5L)
    assert(m.getAs[Long]("tp") >= 1L, "no true event detected")
    assert(m.getAs[Double]("best_k") === 4.0)
    val f1 = m.getAs[Double]("f1")
    assert(f1 >= 0.0488 * 0.5,
      s"event F1 $f1 below half the golden 0.0488")
  }

  test("exact STL matches the stored statsmodels decomposition per-point") {
    assume(available, "reference artifacts not present")
    // The netlib-port decomposition against the notebook's own stored
    // statsmodels STL(period=48, robust=True) output on NYC-Taxi: every
    // trend/seasonal value within 1e-6 absolute on a ~20,000-amplitude
    // series (measured max delta 2e-8 — float64 round-off, see
    // StlCalibProbe). This is the round-8 upgrade of the STL golden
    // from tolerance to exact (SURVEY §7.4(3) delta closed).
    val dir = "/root/reference/notebooks/results/stl/realKnownCause__nyc_taxi.csv"
    val ref = spark.read.option("header", "true").csv(s"$dir/stl_results.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("ref_trend", col("trend").cast("double"))
      .withColumn("ref_seasonal", col("seasonal").cast("double"))
      .withColumn("series_id", lit("s"))
    val ours = graft.models.StlExact.decompose(
      ref.select("series_id", "ts", "value"), "series_id", "ts", "value", 48)
    val d = ours.join(ref.select("ts", "ref_trend", "ref_seasonal"), "ts")
      .agg(max(abs(col("trend") - col("ref_trend"))).as("dt"),
        max(abs(col("seasonal") - col("ref_seasonal"))).as("ds"),
        count(lit(1)).as("n"))
      .collect().head
    assert(d.getAs[Long]("n") === 10320L)
    assert(d.getAs[Double]("dt") < 1e-6,
      s"trend delta ${d.getAs[Double]("dt")} vs statsmodels")
    assert(d.getAs[Double]("ds") < 1e-6,
      s"seasonal delta ${d.getAs[Double]("ds")} vs statsmodels")
  }

  test("run_bsts detector tail (rolling_sigma_threshold) reproduces all three results/bsts artifacts") {
    assume(available, "reference artifacts not present")
    // src/run_bsts.py's detector differs from the notebooks': it is
    // utils.py:40-73 `rolling_sigma_threshold` — score
    // |resid − rolling μ| / (rolling σ + 1e-6), median-centered residuals
    // over the whole forecast region (run_bsts.py:55-57), the rolling
    // window applied to each split's slice SEPARATELY (restarting at the
    // val/test boundary), sweep k ∈ 2..10 step 0.5 on Validation with the
    // 0.10 rate guard, persistence 2, gap-3 events. Replaying the
    // detectAndScore "rolling_centered" mode on each artifact's own
    // bsts_mean reproduces the stored `detected` flags bit-for-bit
    // (verified offline against the reference's own code: 0 flag diffs on
    // all three datasets) — pinned here via best_k and the full test-side
    // event confusion recomputed by the CURRENT evaluate.py.
    val cases = Seq(
      ("nyc", "realKnownCause__nyc_taxi.csv",
        2.5, Seq(1L, 9L, 2L, 10L, 3L)),
      ("twitter", "realTweets__Twitter_volume_AMZN.csv",
        2.0, Seq(0L, 42L, 0L, 42L, 0L)),
      ("machine_temp",
        "realKnownCause__machine_temperature_system_failure.csv",
        2.5, Seq(0L, 33L, 1L, 33L, 1L)))
    for ((tag, name, wantK, wantCounts) <- cases) {
      val dir = s"$refRoot/bsts/$name"
      val raw = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
        .withColumn("ts", to_timestamp(col("timestamp")))
        .withColumn("value", col("value").cast("double"))
        .withColumn("is_anomaly", col("is_anomaly").cast("int"))
        .withColumn("bsts_mean", col("bsts_mean").cast("double"))
        .withColumn("series_id", lit("s"))
        .withColumn("resid", col("value") - col("bsts_mean"))
      val med = raw.agg(median(col("resid"))).collect().head.getDouble(0)
      val df = raw.withColumn("resid", col("resid") - lit(med))
      val (_, metrics) = graft.bench.Pipelines.detectAndScore(
        df, "series_id", "ts", graft.bench.Pipelines.Config(),
        tuneSplit = "Validation", sigmaSource = "rolling_centered")
      val m = metrics.collect().head
      assert(m.getAs[Double]("best_k") === wantK, s"$tag best_k")
      val got = Seq("tp", "fp", "fn", "n_pred_events", "n_true_events")
        .map(c => m.get(m.fieldIndex(c)) match {
          case l: Long => l; case i: Int => i.toLong
          case x => x.toString.toDouble.toLong
        })
      assert(got === wantCounts, s"$tag confusion: got $got want $wantCounts")
      // business block parity (A7 on the same flags): fp/day and latency
      // must match each artifact's stored metrics.json
      val biz = ujsonLite(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/metrics.json")))("business")
        .asInstanceOf[Map[String, Any]]
      def bnum(k: String): Double = biz(k).toString.toDouble
      assert(m.getAs[Long]("fp_count") === bnum("fp_count").toLong, s"$tag fp_count")
      assert(math.abs(m.getAs[Double]("duration_days") -
        bnum("duration_days")) < 1e-9, s"$tag duration_days")
      assert(math.abs(m.getAs[Double]("fp_per_day") -
        bnum("fp_per_day")) < 1e-9, s"$tag fp_per_day")
      val goldLat = bnum("median_latency_minutes")
      val gotLat = m.get(m.fieldIndex("median_latency_minutes"))
      if (goldLat.isNaN) // no detected true event → reference stores NaN
        assert(gotLat == null, s"$tag latency: got $gotLat want null")
      else
        assert(math.abs(gotLat.toString.toDouble - goldLat) < 1e-9,
          s"$tag latency: got $gotLat want $goldLat")
    }
  }

  test("conjunction-vote ensemble reproduces the stored ensemble artifact") {
    assume(available, "reference artifacts not present")
    // results/ensemble's detected column is the CONJUNCTION of its two
    // member flag columns (verified: detected ≡ flags_bsts AND flags_gp
    // on all 5160 rows; no current reference script emits this artifact —
    // it is an earlier vote-combination mode). Hybrid.voteFlags with
    // minVotes = all must reproduce it row-for-row, and the event chain
    // on the voted flags must match the artifact's metrics.json.
    val dir = s"$refRoot/ensemble/realKnownCause__nyc_taxi.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("flags_bsts", col("flags_bsts").cast("int"))
      .withColumn("flags_gp", col("flags_gp").cast("int"))
      .withColumn("detected", col("detected").cast("int"))
      .withColumn("series_id", lit("s"))
    val voted = graft.ensemble.Hybrid.voteFlags(df,
      Seq("flags_bsts", "flags_gp"), minVotes = 2, out = "__voted")
    assert(voted.filter(col("__voted") =!= col("detected")).count() === 0L,
      "voteFlags(AND) must reproduce the stored detected column")
    val pred = Events.eventize(voted, Seq("series_id"), "ts", "__voted", 3)
    val truth = Events.eventize(voted, Seq("series_id"), "ts", "is_anomaly", 3)
    val m = Events.eventLevelMetrics(pred, truth, Seq("series_id"))
      .collect().head
    val gold = goldenEventLevel(dir)
    def num(c: String): Double = m.get(m.fieldIndex(c)) match {
      case l: Long => l.toDouble; case d: Double => d
      case x => x.toString.toDouble
    }
    for (k <- Seq("tp", "fp", "fn", "n_pred_events", "n_true_events",
        "precision", "recall", "f1"))
      assert(math.abs(num(k) - gold(k)) < 1e-9,
        s"$k: got ${num(k)} want ${gold(k)}")
  }

  test("notebook GP pred_std detector tail reproduces its artifact exactly") {
    assume(available, "reference artifacts not present")
    // notebooks/02 cell 10: the GP variant thresholds against the GP's
    // own per-step predictive std — |y − mean| > k·std, persistence 2,
    // sweep 2..10 step 0.5 with NO rate guard, and gap-1 events (the one
    // pipeline using gap=1). detectAndScore's pred_std mode on the
    // artifact's own (pred_mean, pred_std) reproduces the stored flags
    // bit-for-bit (verified offline, eps-form included) and the
    // metrics.json numbers: best_k=5.0, tp=2 fp=1 fn=3, F1 0.4999999994.
    // With this, all three sigmaSource modes are artifact-pinned.
    val dir = "/root/reference/notebooks/results/gp/realKnownCause__nyc_taxi.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("pred_mean", col("pred_mean").cast("double"))
      .withColumn("pred_std", col("pred_std").cast("double"))
      .withColumn("series_id", lit("s"))
      .withColumn("resid", col("value") - col("pred_mean"))
      .withColumn("split", lit("Test"))
    val cfg = graft.bench.Pipelines.Config(gap = 1, maxRate = 1.1)
    val (_, metrics) = graft.bench.Pipelines.detectAndScore(
      df, "series_id", "ts", cfg, tuneSplit = "Test",
      sigmaSource = "pred_std")
    val m = metrics.collect().head
    assert(m.getAs[Double]("best_k") === 5.0)
    val gold = goldenEventLevel(dir)
    def num(c: String): Double = m.get(m.fieldIndex(c)) match {
      case l: Long => l.toDouble; case d: Double => d
      case x => x.toString.toDouble
    }
    for (k <- Seq("tp", "fp", "fn", "n_pred_events", "n_true_events",
        "precision", "recall", "f1"))
      assert(math.abs(num(k) - gold(k)) < 1e-9,
        s"$k: got ${num(k)} want ${gold(k)}")
  }

  test("run_gp detector tail reproduces the machine-temp artifact exactly") {
    assume(available, "reference artifacts not present")
    // run_gp.py: 2-way split, residuals = test region vs the GP
    // forecast, rolling_sigma_threshold (NO median centering), sweep
    // 2..10 step 0.5 ON the test region with the 0.10 rate guard,
    // persistence 2, gap 3. The machine-temp artifact's stored flags
    // reproduce bit-for-bit (verified offline: 0 diffs), and its
    // metrics.json agrees with the current evaluate.py: best_k=2.0,
    // tp=1 fp=168 fn=1 over 169 pred / 2 true events, F1 0.0116959064.
    val dir = s"$refRoot/gp/realKnownCause__machine_temperature_system_failure.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/predictions.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("is_anomaly", col("is_anomaly").cast("int"))
      .withColumn("pred_mean", col("pred_mean").cast("double"))
      .withColumn("series_id", lit("s"))
      .withColumn("resid", col("value") - col("pred_mean"))
      .withColumn("split", lit("Test"))
    val (_, metrics) = graft.bench.Pipelines.detectAndScore(
      df, "series_id", "ts", graft.bench.Pipelines.Config(),
      tuneSplit = "Test", sigmaSource = "rolling_centered")
    val m = metrics.collect().head
    assert(m.getAs[Double]("best_k") === 2.0)
    val gold = goldenEventLevel(dir)
    def num(c: String): Double = m.get(m.fieldIndex(c)) match {
      case l: Long => l.toDouble; case d: Double => d
      case x => x.toString.toDouble
    }
    for (k <- Seq("tp", "fp", "fn", "n_pred_events", "n_true_events",
        "precision", "recall", "f1"))
      assert(math.abs(num(k) - gold(k)) < 1e-9,
        s"$k: got ${num(k)} want ${gold(k)}")
    // business parity: fp/day 4.264, latency -70 min per the artifact
    val biz = ujsonLite(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/metrics.json")))("business")
      .asInstanceOf[Map[String, Any]]
    assert(math.abs(m.getAs[Double]("fp_per_day") -
      biz("fp_per_day").toString.toDouble) < 1e-9)
    assert(math.abs(m.getAs[Double]("median_latency_minutes") -
      biz("median_latency_minutes").toString.toDouble) < 1e-9)
  }

  test("E1 final-benchmark leaderboard on real NYC-Taxi vs the README table") {
    assume(available, "reference artifacts not present")
    // run_final_benchmark.py composes the four README models per dataset
    // (GP, LSTM, Hybrid ensemble, enhanced BSTS) and aggregates one
    // leaderboard (README.md:14-19, NYC Taxi column: BSTS-enh 1.00,
    // Hybrid 0.33, GP 0.33, LSTM 0.25). Each component model already has
    // its own golden; this pins the E1 COMPOSITION — four pipelines, one
    // ordered leaderboard — on the real series. Tolerances per documented
    // substitutions: the LSTM is an MLlib ARX (SURVEY §2.9 M5), and the
    // README's enhanced-BSTS 1.00 comes from an unconverged statsmodels
    // fit whose collapsed forecast flags 99% of points (see the
    // enhanced-BSTS layer-1 golden); our converged MLE scores like a real
    // detector instead of inheriting the degenerate F1.
    val cpDir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val full = spark.read.option("header", "true").csv(s"$cpDir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("series_id", lit("s"))
      .select("series_id", "ts", "value")
    val ordered = full.orderBy("ts").select("ts").collect().map(_.getTimestamp(0))
    val labelTs = Seq(5942, 7183, 8526, 8834, 10080).map(ordered(_))
    import spark.implicits._
    val labels = labelTs.map(t => ("s", t)).toDF("series_id", "label_ts")
    val cfg = graft.bench.Pipelines.Config(labelWindowRows = 3, period = 48)
    val lb = graft.bench.Pipelines.runFinalBenchmark(
      full, labels, "series_id", "ts", "value", cfg,
      models = Seq("gp", "ar", "hybrid3", "enhanced_bsts")).collect()
    lb.foreach(r => info(s"${r.getAs[String]("Model")} " +
      f"F1=${r.getAs[Double]("Event_F1")}%.4f " +
      f"P=${r.getAs[Double]("Precision")}%.4f " +
      f"R=${r.getAs[Double]("Recall")}%.4f"))
    assert(lb.length === 4, s"expected 4 leaderboard rows, got ${lb.length}")
    // leaderboard contract: ordered by event F1 descending
    val f1s = lb.map(_.getAs[Double]("Event_F1"))
    assert(f1s.sliding(2).forall(p => p(0) >= p(1) - 1e-12),
      s"leaderboard not F1-ordered: ${f1s.mkString(", ")}")
    val byModel = lb.map(r =>
      r.getAs[String]("Model") -> r.getAs[Double]("Event_F1")).toMap
    // per-model floors: half the reference's NYC-Taxi figure for the
    // directly comparable models (GP 0.33, LSTM→AR 0.25, Hybrid 0.33)
    assert(byModel("GP") >= 0.165, s"GP ${byModel("GP")}")
    assert(byModel("AR") >= 0.125, s"AR ${byModel("AR")}")
    assert(byModel("HYBRID3") >= 0.165, s"HYBRID3 ${byModel("HYBRID3")}")
    // enhanced BSTS: a real (non-degenerate) score — present and nonzero
    assert(byModel("ENHANCED_BSTS") > 0.0,
      s"ENHANCED_BSTS ${byModel("ENHANCED_BSTS")}")
  }

  test("BOCPD cp_prob matches the reference golden over the full series") {
    assume(available, "reference artifacts not present")
    val dir = s"$refRoot/bocpd/realKnownCause__nyc_taxi.csv"
    val df = spark.read.option("header", "true").csv(s"$dir/cp_probs.csv")
      .withColumn("ts", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast("double"))
      .withColumn("gold", col("cp_prob").cast("double"))
      .withColumn("series_id", lit("s"))
    val mine = Bocpd.run(df, "series_id", "ts", "value")
      .select(col("ts"), col("cp_prob"))
    val joined = df.select(col("ts"), col("gold"))
      .join(mine, "ts")
    val worst = joined
      .agg(max(abs(col("gold") - col("cp_prob")))).collect().head.getDouble(0)
    assert(joined.count() === 10320)
    assert(worst < 1e-6, s"max |golden - mine| = $worst")
  }
}
