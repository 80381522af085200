package graft.bench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** End-to-end pipeline runs on synthetic series with injected,
  * labeled anomalies — the full source → label → split → model →
  * sweep → metrics chain (E1-E3). */
class PipelinesSpec extends SparkSpec {

  /** Two series with seasonal structure and an injected anomaly burst in
    * each test region. A FRESH seeded RNG per call: a suite-shared
    * stream would make fixture data depend on test execution order. */
  private def fixture = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = for {
      sid <- Seq("a", "b")
      i <- 0 until 400
    } yield {
      val base = 50 + 10 * math.sin(2 * math.Pi * i / 24.0) +
        rng.nextGaussian()
      val v = if (i >= 300 && i < 305) base + 60 else base
      (sid, java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i / 96}%02d ${(i / 4) % 24}%02d:${(i % 4) * 15}%02d:00"),
        v)
    }
    val series = rows.toDF("series_id", "ts", "value")
    val labels = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-04 03:00:00")),
      ("b", java.sql.Timestamp.valueOf("2024-01-04 03:00:00")))
      .toDF("series_id", "label_ts")
    (series, labels)
  }

  test("Kalman pipeline detects the injected burst end-to-end") {
    // level + noise fixture (the local-level model's regime): a seasonal
    // series would leave sigma~seasonal-swing residuals where a trailing
    // rolling sigma absorbs the burst — faithful to the reference, but
    // not what this model is for
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = for { sid <- Seq("a", "b"); i <- 0 until 400 } yield {
      val base = 50 + rng.nextGaussian()
      val v = if (i >= 300 && i < 305) base + 20 else base
      (sid, java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i / 96}%02d ${(i / 4) % 24}%02d:${(i % 4) * 15}%02d:00"),
        v)
    }
    val series = rows.toDF("series_id", "ts", "value")
    val labels = Seq(
      ("a", java.sql.Timestamp.valueOf("2024-01-04 03:00:00")),
      ("b", java.sql.Timestamp.valueOf("2024-01-04 03:00:00")))
      .toDF("series_id", "label_ts")
    val (pred, metrics) = Pipelines.runKalman(series, labels, "series_id",
      "ts", "value", Pipelines.Config(period = 24, rollingWindow = 24))
    val m = metrics.collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      assert(r.getAs[Double]("recall") > 0.9,
        s"series ${r.getAs[String]("series_id")}: recall " +
          s"${r.getAs[Double]("recall")}")
    }
    // predictions carry the annotated columns the reference persists
    assert(Seq("score", "detected", "is_anomaly", "split")
      .forall(pred.columns.contains))
  }

  test("STL pipeline produces a winning k under the rate guard") {
    val (series, labels) = fixture
    val (_, metrics) = Pipelines.runStl(series, labels, "series_id", "ts",
      "value", Pipelines.Config(period = 24, rollingWindow = 24))
    metrics.collect().foreach { r =>
      val k = r.getAs[Double]("best_k")
      assert(k >= 2.0 && k <= 10.0)
      assert(r.getAs[Double]("rate") <= 0.10)
    }
  }

  test("three-member hybrid ensemble detects the injected burst") {
    val (series, labels) = fixture
    val (pred, metrics) = Pipelines.runHybridEnsemble(series, labels,
      "series_id", "ts", "value",
      Pipelines.Config(period = 24, rollingWindow = 24), seqLen = 12)
    val m = metrics.collect()
    assert(m.length === 2)
    m.foreach { r =>
      assert(r.getAs[Double]("recall") > 0.9,
        s"series ${r.getAs[String]("series_id")}: recall " +
          s"${r.getAs[Double]("recall")}")
      assert(!r.isNullAt(r.fieldIndex("best_k")))
    }
    assert(Seq("score_stl", "score_gp", "score_ar", "combined_score",
      "detected").forall(pred.columns.contains))
  }

  test("rate-guard wipeout falls back to the reference's k=3.0") {
    import spark.implicits._
    // a frame whose score flags >10% of rows at EVERY k in the grid:
    // the sweep rejects all candidates, so the apply step must fall back
    // to k=3.0 (the run scripts' initial best_k) rather than dropping
    // the series from the predictions
    val rows = (0 until 100).map { i =>
      ("s", java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 60}%02d:${i % 60}%02d:00"),
        if (i % 3 == 0) 100.0 else 0.0, // 33% extreme at any k <= 10
        i % 7 == 0)
    }.toDF("series_id", "ts", "resid", "lab")
      .withColumn("is_anomaly", when(col("lab"), 1).otherwise(0))
      .withColumn("split", lit("Test"))
      .withColumn("pred_std", lit(1.0))
    val cfg = Pipelines.Config(persistence = 1, maxRate = 0.10)
    val (pred, metrics) = Pipelines.detectAndScore(
      rows, "series_id", "ts", cfg, tuneSplit = "Test",
      sigmaSource = "pred_std")
    val m = metrics.collect().head
    assert(m.get(m.fieldIndex("best_k")) == null, "no candidate may win")
    // fallback applied: flags exist (score 100/1.0 > 3.0 on extremes)
    val flagged = pred.agg(sum("detected")).collect().head.getLong(0)
    assert(flagged > 0L, "k=3.0 fallback must still flag the test rows")
    assert(pred.count() === 100L, "series must not be dropped")
  }

  test("final benchmark builds a leaderboard over models x series") {
    val (series, labels) = fixture
    val lb = Pipelines.runFinalBenchmark(series, labels, "series_id", "ts",
      "value", Pipelines.Config(period = 24, rollingWindow = 24),
      models = Seq("stl", "kalman"))
    val rows = lb.collect()
    assert(rows.length === 4) // 2 models x 2 series
    assert(rows.map(_.getAs[String]("Model")).distinct.sorted.toSeq ===
      Seq("KALMAN", "STL"))
    // ordered by F1 desc
    val f1s = rows.map(_.getAs[Double]("Event_F1"))
    f1s.sliding(2).foreach { case Array(x, y) => assert(x >= y - 1e-12) }
    assert(f1s.max > 0.5, s"best F1 ${f1s.max}")
  }

  /** A pipeline given a time column named `timestamp` must give the
    * metrics it gives with `ts`: the per-series models emit a fixed `ts`
    * column, and the pipelines join it to the caller's time column. */
  private def sameMetricsUnderTimestamp(
      run: (DataFrame, DataFrame, String) => (DataFrame, DataFrame)): Unit = {
    val (series, labels) = fixture
    def rows(m: DataFrame): (Seq[String], Seq[Row]) = {
      val cols = m.columns.toSeq.sorted
      (cols, m.select(cols.map(col): _*).orderBy("series_id").collect().toSeq)
    }
    val byTs = rows(run(series, labels, "ts")._2)
    val byTimestamp = rows(run(series.withColumnRenamed("ts", "timestamp"),
      labels, "timestamp")._2)
    assert(byTs._2.nonEmpty)
    assert(byTimestamp === byTs)
  }

  private val cfg24 = Pipelines.Config(period = 24, rollingWindow = 24)

  test("runKalman takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runKalman(s, l, "series_id", ts, "value", cfg24))
  }

  test("runStl takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runStl(s, l, "series_id", ts, "value", cfg24))
  }

  test("runStl exact takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runStl(s, l, "series_id", ts, "value", cfg24, exact = true))
  }

  test("runAutoRegressor takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runAutoRegressor(s, l, "series_id", ts, "value", cfg24,
        seqLen = 12))
  }

  test("runBsts takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runBsts(s, l, "series_id", ts, "value", cfg24))
  }

  test("runEnhancedBsts takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runEnhancedBsts(s, l, "series_id", ts, "value", cfg24,
        seasonal = Seq(graft.models.Bsts.Dummy(24))))
  }

  test("runGp takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runGp(s, l, "series_id", ts, "value", cfg24))
  }

  test("runHybrid takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runHybrid(s, l, "series_id", ts, "value", cfg24))
  }

  test("runHybridEnsemble takes any time-column name") {
    sameMetricsUnderTimestamp((s, l, ts) =>
      Pipelines.runHybridEnsemble(s, l, "series_id", ts, "value", cfg24,
        seqLen = 12))
  }
}
