package graft.models

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Sanity tests for the model operators on synthetic series with known
  * structure (golden parity with the reference's stochastic fits is
  * tolerance-based per SURVEY §7.4(6); these pin direction + shape). */
class ModelsSpec extends SparkSpec {

  private val rng = new scala.util.Random(42)

  test("Kalman local level tracks a random walk and widens in test") {
    var level = 10.0
    val ys = (0 until 200).map { _ =>
      level += rng.nextGaussian() * 0.5
      level + rng.nextGaussian() * 0.2
    }
    val out = KalmanLocalLevel.run(valueSeries(ys), "series_id", "ts",
      "value", 0.5).orderBy("ts").collect()
    assert(out.length === 200)
    val train = out.filter(_.getAs[String]("split") == "Train")
    val mae = train.drop(10).map(r =>
      math.abs(r.getAs[Double]("resid"))).sum / (train.length - 10)
    assert(mae < 1.5, s"one-step MAE too big: $mae")
    // dynamic forecast variance grows monotonically in test
    val testStd = out.filter(_.getAs[String]("split") == "Test")
      .map(_.getAs[Double]("pred_std"))
    assert(testStd.sliding(2).forall(p => p(1) >= p(0) - 1e-9))
  }

  test("Kalman orders a series at microsecond precision") {
    import spark.implicits._
    val ys = (0 until 40).map(i => math.sin(i / 3.0) + i * 0.1)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def at(i: Int, unitMicros: Long) = {
      val us = i * unitMicros
      val t = new java.sql.Timestamp(t0 + us / 1000000 * 1000)
      t.setNanos((us % 1000000 * 1000).toInt)
      t
    }
    def preds(unitMicros: Long, rows: Seq[Int]) =
      KalmanLocalLevel.run(
        rows.map(i => ("s", at(i, unitMicros), ys(i)))
          .toDF("series_id", "ts", "value"),
        "series_id", "ts", "value", 0.5)
        .orderBy("ts").collect().map(_.getAs[Double]("pred_mean")).toSeq
    // 1 µs apart, fed newest first: every point shares one millisecond
    val micro = preds(1L, ys.indices.reverse)
    val seconds = preds(1000000L, ys.indices)
    assert(micro.length == ys.length)
    assert(micro == seconds)
  }

  test("Kalman MLE recovers noise-dominated vs signal-dominated regimes") {
    // pure noise around constant: q should be tiny vs h
    val flat = (0 until 300).map(_ => 5.0 + rng.nextGaussian()).toArray
    val (q, h) = KalmanLocalLevel.fit(flat)
    assert(q < h, s"expected q<h for white noise, got q=$q h=$h")
  }

  test("BOCPD map run length resets at a mean shift; cp_prob ~ hazard") {
    val ys = (0 until 120).map(i =>
      (if (i < 60) 0.0 else 8.0) + rng.nextGaussian() * 0.5)
    val out = Bocpd.run(valueSeries(ys), "series_id", "ts", "value")
      .orderBy("ts").collect()
    assert(out.length === 120)
    val mapRun = out.map(_.getAs[Int]("map_run_length"))
    // run length grows 1,2,3,... then RESETS to ~1 right after the shift
    assert(mapRun(59) >= 55)
    assert(mapRun(61) <= 3, s"map run after shift: ${mapRun(61)}")
    assert(mapRun(70) <= 12)
    // reference-parity property: cp_prob ≈ H for a constant hazard
    val cp = out.map(_.getAs[Double]("cp_prob"))
    assert(cp.drop(3).forall(p => math.abs(p - 0.01) < 1e-3))
  }

  test("BOCPD detect() is deterministic and bounded in [0,1]") {
    val xs = Array.fill(100)(rng.nextGaussian())
    val (a, _) = Bocpd.detect(xs); val (b, _) = Bocpd.detect(xs)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(p => p >= 0 && p <= 1))
  }

  test("GP fits a noisy sine and predicts the test region") {
    val ys = (0 until 240).map(i =>
      math.sin(2 * math.Pi * i / 24.0) * 3 + rng.nextGaussian() * 0.2)
    val out = GpRegressor.run(valueSeries(ys), "series_id", "ts", "value",
      trainFrac = 0.8, subsample = 200, period = 24)
      .filter(col("split") === "Test").orderBy("ts").collect()
    assert(out.length === 48)
    val mae = out.map(r => math.abs(
      r.getAs[Double]("value") - r.getAs[Double]("pred_mean"))).sum / 48
    assert(mae < 1.0, s"GP test MAE $mae")
    assert(out.forall(_.getAs[Double]("pred_std") > 0))
  }

  test("GP ML-II fit lands OFF the grid and improves the exact LML") {
    // kernel echo: the fitted hyperparameters must be Nelder-Mead output,
    // not a grid corner, and never score below the grid winner's LML
    val ys = (0 until 160).map(i =>
      math.sin(2 * math.Pi * i / 24.0) * 3 + 0.1 * i % 2).toArray
    val xs = ys.indices.map(_.toDouble).toArray
    def mk(l: Double, w: Double) = GpRegressor.Kernel(1.0, l, 0.5, 1.0,
      24.0, 0.0, 1.0, 0.0, w)
    val grid = for (l <- Seq(20.0, 50.0, 100.0); w <- Seq(0.01, 0.1, 0.5))
      yield mk(l, w)
    val gridBest = GpRegressor.selectKernel(xs, ys, grid)
    val fitted = GpRegressor.fitKernel(xs, ys, grid, 24.0, 0.0)
    val gridLengths = Set(20.0, 50.0, 100.0)
    assert(!gridLengths.contains(fitted.lRbf) || fitted.white != gridBest.white,
      s"fitted kernel $fitted is exactly a grid corner — optimizer inert")
    val lmlGrid = GpRegressor.logMarginal(xs, ys, gridBest)
    val lmlFit = GpRegressor.logMarginal(xs, ys, fitted)
    assert(lmlFit >= lmlGrid - 1e-9,
      s"ML-II fit $lmlFit regressed below grid winner $lmlGrid")
    assert(lmlFit > lmlGrid + 1e-3,
      s"ML-II fit $lmlFit did not improve on the grid $lmlGrid")
  }

  test("BSTS forecasts trend + seasonal structure") {
    val ys = (0 until 300).map(i =>
      0.05 * i + 4 * math.sin(2 * math.Pi * i / 24.0)
        + rng.nextGaussian() * 0.3)
    val out = Bsts.run(valueSeries(ys), "series_id", "ts", "value",
      period = 24, harmonics = 3, trainFrac = 0.8)
      .filter(col("split") === "Test").orderBy("ts").collect()
    assert(out.length === 60)
    val mae = out.map(r => math.abs(
      r.getAs[Double]("value") - r.getAs[Double]("bsts_mean"))).sum / 60
    val std = {
      val v = ys.drop(240); val m = v.sum / v.length
      math.sqrt(v.map(x => (x - m) * (x - m)).sum / v.length)
    }
    assert(mae < std, s"BSTS forecast MAE $mae not better than naive $std")
    // CI contains most actuals
    val cover = out.count(r => r.getAs[Double]("value") >=
      r.getAs[Double]("bsts_lower") && r.getAs[Double]("value") <=
      r.getAs[Double]("bsts_upper"))
    assert(cover >= 48, s"CI coverage $cover/60")
  }

  test("BSTS dummy seasonal tracks an arbitrary periodic pattern") {
    // a period-12 pattern with energy far beyond 1-2 harmonics: the
    // dummy-variable seasonal (statsmodels `seasonal=12`) must carry it
    // through a dynamic forecast, trend included
    val pat = Array(5.0, -2.0, 0.5, 3.0, -4.0, 1.0, -1.5, 2.0, -3.0, -0.5,
      1.5, -2.0) // sums to 0 over the period
    val ys = (0 until 360).map(i =>
      0.02 * i + pat(i % 12) + rng.nextGaussian() * 0.1)
    val out = Bsts.run(valueSeries(ys), "series_id", "ts", "value",
      Seq(Bsts.Dummy(12)), trainFrac = 0.8, mle = true)
      .filter(col("split") === "Test").orderBy("ts").collect()
    assert(out.length === 72)
    val mae = out.map(r => math.abs(
      r.getAs[Double]("value") - r.getAs[Double]("bsts_mean"))).sum / 72
    val std = {
      val v = ys.drop(288); val m = v.sum / v.length
      math.sqrt(v.map(x => (x - m) * (x - m)).sum / v.length)
    }
    assert(mae < std * 0.5,
      s"dummy-seasonal forecast MAE $mae vs naive $std")
  }

  test("AutoRegressor beats the naive predictor on AR(1) data") {
    var x = 0.0
    val ys = (0 until 400).map { _ =>
      x = 0.9 * x + rng.nextGaussian(); x
    }
    val out = AutoRegressor.run(valueSeries(ys), "series_id", "ts", "value",
      seqLen = 8, trainFrac = 0.5)
      .filter(col("split") === "Test")
      .select("value", "resid").collect()
    val residVar = out.map(r => math.pow(r.getDouble(1), 2)).sum / out.length
    val vals = out.map(_.getDouble(0))
    val vm = vals.sum / vals.length
    val valVar = vals.map(v => (v - vm) * (v - vm)).sum / vals.length
    assert(residVar < valVar * 0.5,
      s"AR resid var $residVar vs value var $valVar")
  }

  test("ridge AR fit is bit-identical under different partitioning") {
    // the per-series normal equations accumulate in timestamp order
    // inside one mapGroups task, so the fit (and thus the fixture
    // oracle) must not depend on shuffle layout — red if anyone brings
    // back a distributed solver whose float reduction order floats
    var x = 1.0
    val ys = (0 until 300).map { _ => x = 0.8 * x + rng.nextGaussian(); x }
    def fp(parts: String): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try AutoRegressor.run(valueSeries(ys), "series_id", "ts", "value",
          seqLen = 6, trainFrac = 0.5)
        .select("ts", "pred_mean", "resid").orderBy("ts")
        .collect().map(_.toString).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", "2")
    }
    assert(fp("3") === fp("17"))
  }

  test("GBT autoregressor captures a nonlinear AR map the ridge cannot") {
    // quadratic map y_t = 1 - 1.4*y_{t-1}^2 (+ small noise): chaotic,
    // near-zero linear autocorrelation, so a linear ARX learns almost
    // nothing while trees recover the parabola
    var a = 0.5
    val ys = (0 until 600).map { _ =>
      val y = 1.0 - 1.4 * a * a + rng.nextGaussian() * 0.05
      a = math.max(math.min(y, 1.5), -1.5); y
    }
    def testVar(regressor: String): Double = {
      val out = AutoRegressor.run(valueSeries(ys), "series_id", "ts",
        "value", seqLen = 4, trainFrac = 0.5, regressor = regressor)
        .filter(col("split") === "Test")
        .select("resid").collect()
      out.map(r => math.pow(r.getDouble(0), 2)).sum / out.length
    }
    val gbt = testVar("gbt"); val ridge = testVar("ridge")
    assert(gbt < ridge * 0.8,
      s"GBT resid var $gbt not better than ridge $ridge on nonlinear AR")
  }

  test("stl_lite decomposition reconstructs and extracts the seasonal") {
    val ys = (0 until 240).map(i =>
      10.0 + 5 * math.sin(2 * math.Pi * i / 24.0))
    val out = StlLite.decompose(valueSeries(ys), "series_id", "ts", "value",
      24).orderBy("ts").collect()
    // value = trend + seasonal + resid by construction
    out.foreach { r =>
      val v = r.getAs[Double]("value")
      val sum = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("resid")
      assert(math.abs(v - sum) < 1e-9)
    }
    // mid-series resid ~ 0 for a pure seasonal signal
    val mid = out.slice(50, 190)
    val mae = mid.map(r => math.abs(r.getAs[Double]("resid"))).sum / mid.length
    assert(mae < 0.5, s"stl_lite resid MAE $mae")
  }
}
