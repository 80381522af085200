package graft.core

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** J2 searchsorted boundaries, W1 min_periods/NaN/backfill, P3 split
  * fractions, A4 MAD, ddof conventions. */
class SeriesOpsSpec extends SparkSpec {

  private def marks(n: Int, labelOffsetsSec: Seq[Int], w: Int): Seq[Int] = {
    import spark.implicits._
    val series = valueSeries((1 to n).map(_.toDouble))
    val labels = labelOffsetsSec.map { s =>
      ("s", java.sql.Timestamp.valueOf(
        f"2024-01-01 ${s / 3600}%02d:${(s / 60) % 60}%02d:${s % 60}%02d"))
    }.toDF("series_id", "label_ts")
    SeriesOps.markLabelWindows(series, labels, "series_id", "ts", "label_ts", w)
      .orderBy("ts").select("is_anomaly").collect().map(_.getInt(0)).toSeq
  }

  test("label exactly on a row anchors that row (searchsorted left)") {
    // 10 rows at second 0..9; label at second 4 → anchor rn=5, ±1 → rows 4-6
    assert(marks(10, Seq(4), 1) === Seq(0, 0, 0, 1, 1, 1, 0, 0, 0, 0))
  }

  test("off-grid label anchors the NEXT row (load_nab.py:57)") {
    // rows at second 0..9 step 1? need a gap: use 10 rows, label between
    // row5(sec 4) and row6(sec 5) is impossible on 1s grid — emulate with
    // w=0: label at sec 4 marks only row 5; ADVICE regression: anchor
    // must be the right neighbor, not nearest.
    assert(marks(10, Seq(4), 0) === Seq(0, 0, 0, 0, 1, 0, 0, 0, 0, 0))
  }

  test("label past series end marks the trailing W rows") {
    // anchor = n+1 = 11; ±2 → rows 9..10 (clamped)
    assert(marks(10, Seq(100), 2) === Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 1))
  }

  test("label before series start marks the leading W+1 rows") {
    // anchor = 1 (first ts >= label); ±2 → rows 1..3
    val m = {
      import spark.implicits._
      val series = valueSeries((1 to 10).map(_.toDouble))
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      val labels = Seq(("s", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("series_id", "label_ts")
      SeriesOps.markLabelWindows(series, labels, "series_id", "ts",
        "label_ts", 2)
        .orderBy("ts").select("is_anomaly").collect().map(_.getInt(0)).toSeq
    }
    assert(m === Seq(1, 1, 1, 0, 0, 0, 0, 0, 0, 0))
  }

  test("overlapping label windows mark each row exactly once") {
    val out = marks(10, Seq(3, 4, 5), 2)
    assert(out === Seq(0, 1, 1, 1, 1, 1, 1, 1, 0, 0))
    // row count preserved (no duplication from the interval join)
    assert(out.length === 10)
  }

  test("rolling stats honor min_periods and backfill, std floored by eps") {
    val df = SeriesOps.withRollingStats(
      valueSeries(Seq(1, 2, 3, 4, 5, 6).map(_.toDouble)),
      "series_id", "ts", "value", 3, 2, "m", "sd")
      .orderBy("ts").select("m", "sd").collect()
    // row1: cnt=1 < 2 → backfilled from row2
    val m = df.map(_.getDouble(0)); val sd = df.map(_.getDouble(1))
    assert(math.abs(m(0) - 1.5) < 1e-12) // bfill of row2 mean (1+2)/2
    assert(math.abs(m(2) - 2.0) < 1e-12) // (1+2+3)/3
    // sample std of (1,2) = 0.7071..., plus eps
    assert(math.abs(sd(0) - (math.sqrt(0.5) + 1e-6)) < 1e-9)
    assert(math.abs(sd(1) - (math.sqrt(0.5) + 1e-6)) < 1e-9)
  }

  test("min_periods=1 single-row std NaN is backfilled like pandas") {
    val df = SeriesOps.withRollingStats(
      valueSeries(Seq(5.0, 7.0, 9.0)), "series_id", "ts", "value",
      3, 1, "m", "sd")
      .orderBy("ts").select("sd").collect().map(_.getDouble(0))
    // first frame has 1 obs → sample std NaN → must backfill from row 2
    assert(!df(0).isNaN)
    assert(math.abs(df(0) - (math.sqrt(2.0) + 1e-6)) < 1e-9)
  }

  test("split fractions match iloc semantics") {
    val out = SeriesOps.withSplit(valueSeries((1 to 10).map(_.toDouble)),
      "series_id", "ts", 0.5, 0.25)
      .orderBy("ts").select("split").collect().map(_.getString(0)).toSeq
    assert(out === Seq.fill(5)("Train") ++ Seq.fill(2)("Validation")
      ++ Seq.fill(3)("Test"))
  }

  test("MAD sigma matches 1.4826 * median(|x - median|)") {
    // values 1..9 with outlier 100: median=5, |x-5| medians...
    val vals = Seq(1, 2, 3, 4, 5, 6, 7, 8, 100).map(_.toDouble)
    val mad = SeriesOps.madSigma(valueSeries(vals), "series_id", "value")
      .collect().head.getAs[Double]("mad_sigma")
    // median=5; |x-5| = 4,3,2,1,0,1,2,3,95 → median = 2
    assert(math.abs(mad - 1.4826 * 2) < 1e-12)
  }

  test("standardScale pop vs samp ddof convention") {
    val vals = Seq(2.0, 4.0, 6.0)
    val pop = SeriesOps.standardScale(valueSeries(vals), "series_id",
      "ts", "value", "zs", popStd = true).orderBy("ts")
      .select("zs").collect().map(_.getDouble(0))
    // pop std of (2,4,6) = sqrt(8/3); z of 6 = 2/sqrt(8/3)
    assert(math.abs(pop(2) - 2.0 / (math.sqrt(8.0 / 3) + 1e-9)) < 1e-12)
    val samp = SeriesOps.standardScale(valueSeries(vals), "series_id",
      "ts", "value", "zs", popStd = false).orderBy("ts")
      .select("zs").collect().map(_.getDouble(0))
    assert(math.abs(samp(2) - 2.0 / (2.0 + 1e-9)) < 1e-12)
  }

  test("saltedAgg equals the direct aggregate on a skewed key") {
    import org.apache.spark.sql.functions._
    // one hot series: 500 rows for "s" — salting spreads the partials
    val vals = (1 to 500).map(_.toDouble)
    val df = valueSeries(vals)
    val direct = df.groupBy("series_id")
      .agg(sum("value").as("s"), count(lit(1)).as("n")).collect().head
    val salted = SeriesOps.saltedAgg(df, Seq("series_id"), "ts", 8,
      partial = Seq("s" -> sum(col("value")), "n" -> count(lit(1))),
      merge = Seq("s" -> sum(col("s")), "n" -> sum(col("n"))))
      .collect().head
    assert(salted.getAs[Double]("s") === direct.getAs[Double]("s"))
    assert(salted.getAs[Long]("n") === direct.getAs[Long]("n"))
  }

  test("lastN keeps the trailing n rows") {
    val out = SeriesOps.lastN(valueSeries((1 to 10).map(_.toDouble)),
      "series_id", "ts", 3).select("value").collect()
      .map(_.getDouble(0)).sorted.toSeq
    assert(out === Seq(8.0, 9.0, 10.0))
  }

  // --- W9 acf: cardinality contract + SQL null semantics ---------------

  private def acfRows(vals: Seq[java.lang.Double], lags: Seq[Int]) = {
    import spark.implicits._
    val df = vals.zipWithIndex.map { case (v, i) =>
      ("s", java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"),
        Option(v).map(_.doubleValue))
    }.toDF("series_id", "ts", "value")
    SeriesOps.acf(df, "series_id", "ts", "value", lags)
      .orderBy("lag").collect()
      .map(r => (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq
  }

  test("acf emits a (series, lag) row iff a non-null lagged value exists") {
    // 5 rows: lag 4 has exactly 1 lagged row, lag 5 has none → lag 5
    // absent, lags 1..4 present (matching `WHERE l_k IS NOT NULL`)
    val out = acfRows(Seq[java.lang.Double](1.0, 3.0, 2.0, 5.0, 4.0), 1 to 6)
    assert(out.map(_._1) === Seq(1, 2, 3, 4))
  }

  test("acf is null (not NaN) for a 1-pair lag and for zero variance") {
    // lag 4 → single overlapping pair: corr undefined → SQL NULL
    val one = acfRows(Seq[java.lang.Double](1.0, 3.0, 2.0, 5.0, 4.0), Seq(4))
    assert(one === Seq((4, None)))
    // constant series → zero variance at every lag → SQL NULL
    val const = acfRows(Seq[java.lang.Double](7.0, 7.0, 7.0, 7.0), Seq(1, 2))
    assert(const === Seq((1, None), (2, None)))
  }

  test("acf emit condition is exact under leading nulls") {
    // values: null, null, 1, 2 → first non-null at ordinal 3, n=4:
    // lag 1 emitted (3 <= 4-1), lag 2 absent (3 > 4-2) — exactly the
    // rows `WHERE l_k IS NOT NULL` keeps after lagging the null head
    val out = acfRows(Seq[java.lang.Double](null, null, 1.0, 2.0), Seq(1, 2))
    assert(out.map(_._1) === Seq(1))
  }

  test("acf value matches the direct per-lag corr") {
    import spark.implicits._
    val vals = Seq(1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.0, 6.0)
    val out = acfRows(vals.map(java.lang.Double.valueOf), Seq(2)).head
    val expected = vals.drop(2).zip(vals.dropRight(2))
      .toDF("x", "y").agg(corr(col("x"), col("y"))).head.getDouble(0)
    assert(math.abs(out._2.get - expected) < 1e-12)
  }

  test("leadLag recovers a planted shift with corr ~ 1") {
    import spark.implicits._
    var seed = 77L
    def next(): Double = {
      seed = (seed * 48271L) % 2147483647L; (seed % 1000) / 10.0
    }
    val base = Array.fill(120)(next())
    val rows =
      base.zipWithIndex.map { case (v, t) =>
        ("ref", new java.sql.Timestamp(1700000000000L + t * 60000L), v)
      } ++
      // "lagged" carries ref's values delayed by 3 ORDINAL positions
      // (rn is per-series, so the delay must live in the values):
      // ref at rn aligns with lagged at rn+3 -> best_lag = +3
      (0 until 120).map { t =>
        val v = if (t >= 3) base(t - 3) else next()
        ("lagged",
          new java.sql.Timestamp(1700000000000L + t * 60000L), v)
      }
    val out = SeriesOps.leadLag(rows.toSeq.toDF("sid", "ts", "v"),
        "sid", "ts", "v", Seq("ref"), maxLag = 5)
      .collect().map(r => r.getString(1) ->
        (r.getInt(2), r.getDouble(3))).toMap
    assert(out("ref") === ((0, 1.0)))
    assert(out("lagged")._1 === 3, s"lag: ${out("lagged")}")
    assert(out("lagged")._2 > 0.999)
  }

  test("sax discretizes PAA frame means against the normal breakpoints") {
    import spark.implicits._
    val vals = Seq(1.0, 3.0, 2.0, 8.0, 9.0, 7.0, 4.0, 5.0, 6.0, 2.0)
    val rows = vals.zipWithIndex.map { case (v, t) =>
      ("s", new java.sql.Timestamp(1700000000000L + t * 60000L), v)
    }
    val got = SeriesOps.sax(rows.toDF("sid", "ts", "v"), "sid", "ts",
        "v", frameLen = 2, alphabet = 4)
      .orderBy("frame").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getString(3)))
    // driver-side mirror of the documented formulas
    val mu = vals.sum / vals.size
    val sd = math.sqrt(vals.map(v => (v - mu) * (v - mu)).sum /
      (vals.size - 1))
    val bp = 0.6744897501960817
    val exp = vals.grouped(2).zipWithIndex.map { case (fr, i) =>
      val paa = (fr.sum / fr.size - mu) / (sd + 1e-12)
      val sym = if (paa < -bp) "a" else if (paa < 0) "b"
        else if (paa < bp) "c" else "d"
      (i.toLong, paa, sym)
    }.toSeq
    assert(got.length === exp.length)
    got.zip(exp).foreach { case ((gf, gp, gs), (ef, ep, es)) =>
      assert(gf === ef)
      assert(math.abs(gp - ep) < 1e-12)
      assert(gs === es)
    }
    // all four letters are reachable on this spread-out series
    assert(got.map(_._3).toSet.size >= 3)
    // ragged tail: 10 points / frameLen 3 -> last frame has 1 point
    assert(SeriesOps.sax(rows.toDF("sid", "ts", "v"), "sid", "ts", "v",
      frameLen = 3, alphabet = 4).count() === 4L)
  }

  test("tukeyFences: exact order-statistic quartiles and the 1.5 IQR rule") {
    import spark.implicits._
    // n=8 sorted cents 100..800: q1 rank ceil(8/4)=2 -> 200,
    // q3 rank ceil(24/4)=6 -> 600; IQR=400 -> fences [-400, 1200]
    val vals = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0)
    val df = vals.map(("s", _)).toDF("sid", "v")
    val r = SeriesOps.tukeyFences(df, "sid", "v").collect().head
    assert(r.getAs[Long]("n") === 8L)
    assert(r.getAs[Long]("q1_c") === 200L)
    assert(r.getAs[Long]("q3_c") === 600L)
    assert(r.getAs[Long]("n_out") === 0L)
    // planted far outlier is counted; fences move with the quartiles
    val r2 = SeriesOps.tukeyFences(
      (vals :+ 500.0).map(("s", _)).toDF("sid", "v"), "sid", "v")
      .collect().head
    // n=9: q1 rank 3 -> 300, q3 rank ceil(30/4)=7 -> 700, IQR 400,
    // hi fence 7+6 = 1300 cents = 13.0 -> 500.0 is way out
    assert(r2.getAs[Long]("q1_c") === 300L)
    assert(r2.getAs[Long]("q3_c") === 700L)
    assert(r2.getAs[Long]("n_out") === 1L)
    // degenerate: identical values -> IQR 0, no outliers
    val r3 = SeriesOps.tukeyFences(
      Seq.fill(10)(("s", 4.2)).toDF("sid", "v"), "sid", "v")
      .collect().head
    assert(r3.getAs[Long]("n_out") === 0L)
    // per-series isolation + repartition invariance
    val multi = (vals.map(("a", _)) ++ Seq(("b", 1.0), ("b", 99.0),
      ("b", 1.1), ("b", 0.9), ("b", 1.05))).toDF("sid", "v")
    val one = SeriesOps.tukeyFences(multi, "sid", "v").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_out")).toMap
    assert(one("a") === 0L && one("b") === 1L)
    val two = SeriesOps.tukeyFences(multi.repartition(5), "sid", "v")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_out")).toMap
    assert(one === two)
  }

  test("m4Downsample keeps first/last/min/max per integer time bucket") {
    import spark.implicits._
    def t(sec: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // 8 points over [0, 70s], 2 buckets -> split at 35.5s (integer
    // arithmetic: (us-lo)*2 DIV (hi-lo+1))
    val rows = Seq((0, 5.0), (10, 1.0), (20, 9.0), (30, 4.0),
      (40, 7.0), (50, 0.5), (60, 8.0), (70, 6.0))
      .map { case (sec, v) => ("s", t(sec), v) }
      .toDF("sid", "ts", "v")
    val out = SeriesOps.m4Downsample(rows, "sid", "ts", "v", 2)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("v_first"),
          r.getAs[Double]("v_last"), r.getAs[Double]("v_min"),
          r.getAs[Double]("v_max")))).toMap
    assert(out(0L) === ((4L, 5.0, 4.0, 1.0, 9.0)))
    assert(out(1L) === ((4L, 7.0, 6.0, 0.5, 8.0)))
    // single-point series: bucket 0, all four stats are the point
    val solo = SeriesOps.m4Downsample(
      Seq(("x", t(3), 2.5)).toDF("sid", "ts", "v"), "sid", "ts", "v", 16)
      .collect().head
    assert(solo.getAs[Long]("bucket") === 0L)
    assert(solo.getAs[Double]("v_first") === 2.5)
    assert(solo.getAs[Double]("v_max") === 2.5)
    // the rendering contract: per-bucket min/max envelope covers every
    // raw point (the M4 error-free property, checked bucket-wise)
    val rnd = new scala.util.Random(5)
    val big = (0 until 500).map(i => ("s", t(i), rnd.nextDouble() * 50))
      .toDF("sid", "ts", "v")
    val m4 = SeriesOps.m4Downsample(big, "sid", "ts", "v", 25)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Double]("v_min"), r.getAs[Double]("v_max")))).toMap
    val raw = big.collect().map(r =>
      (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("v")))
    val lo = raw.map(_._1.getTime).min; val hi = raw.map(_._1.getTime).max
    raw.foreach { case (tsv, v) =>
      val b = ((tsv.getTime - lo) * 1000L * 25) /
        ((hi - lo) * 1000L + 1)
      assert(v >= m4(b)._1 && v <= m4(b)._2, s"point $v outside $b")
    }
    assert(m4.keySet === (0L until 25L).toSet)
  }

  test("gridResample densifies to the hour-anchored span, forward " +
      "fills inclusively, and leaves pre-first-observation grid null") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // series a: obs at 00:30, 02:00 (exactly ON a grid instant), 02:45
    // series b: single obs — grid collapses to one instant
    // null key row: filtered (drops)
    val df = Seq(
      (Option("a"), ts("2024-01-01 00:30:00"), 1.0),
      (Option("a"), ts("2024-01-01 02:00:00"), 2.0),
      (Option("a"), ts("2024-01-01 02:45:00"), 3.0),
      (Option("b"), ts("2024-01-01 05:10:00"), 7.0),
      (Option.empty[String], ts("2024-01-01 00:00:00"), 99.0)
    ).toDF("sid", "ts", "v")
    val got = SeriesOps.gridResample(df, "sid", "ts", "v")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).toString,
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(got === Set(
      // 00:00 precedes the first observation → null (no fabrication)
      ("a", "2024-01-01 00:00:00.0", None),
      ("a", "2024-01-01 01:00:00.0", Some(1.0)),
      // observation AT the grid instant is included (inclusive tie)
      ("a", "2024-01-01 02:00:00.0", Some(2.0)),
      ("b", "2024-01-01 05:00:00.0", None)))
  }

  test("gridResample fill is ASOF-faithful: a null-VALUED observation " +
      "is carried (not skipped back to the previous non-null)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // obs at 00:10 = 5.0, obs at 01:20 = NULL: the 02:00 grid row must
    // read the LATEST observation (null), never resurrect the 5.0 —
    // exactly what the DuckDB ASOF oracle returns
    val df = Seq(
      ("a", ts("2024-01-01 00:10:00"), Option(5.0)),
      ("a", ts("2024-01-01 01:20:00"), Option.empty[Double]),
      ("a", ts("2024-01-01 02:30:00"), Option(9.0))
    ).toDF("sid", "ts", "v")
    val got = SeriesOps.gridResample(df, "sid", "ts", "v")
      .collect().map(r => (r.getTimestamp(1).toString,
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(got === Set(
      ("2024-01-01 00:00:00.0", None),
      ("2024-01-01 01:00:00.0", Some(5.0)),
      ("2024-01-01 02:00:00.0", None)))
  }

  test("gridResample derives the grid anchor from the step unit and " +
      "rejects unknown units") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      ("a", ts("2024-01-03 07:30:00"), 1.0),
      ("a", ts("2024-01-05 23:50:00"), 2.0)
    ).toDF("sid", "ts", "v")
    // DAY step → day-anchored grid (midnight), not hour-of-first-obs
    val days = SeriesOps.gridResample(df, "sid", "ts", "v", step = "1 DAY")
      .collect().map(_.getTimestamp(1).toString).toSet
    assert(days === Set("2024-01-03 00:00:00.0", "2024-01-04 00:00:00.0",
      "2024-01-05 00:00:00.0"))
    // sub-hour step anchors at the hour → quarter marks, not :30-offset
    val q = SeriesOps.gridResample(df, "sid", "ts", "v",
        step = "15 MINUTES")
      .orderBy("grid_ts")
      .collect().map(_.getTimestamp(1).toString)
    assert(q.take(3).toSeq === Seq("2024-01-03 07:00:00.0",
      "2024-01-03 07:15:00.0", "2024-01-03 07:30:00.0"))
    // tail of the final PARTIAL hour: max=23:50 keeps the aligned
    // 23:15/23:30/23:45 marks (an end truncated to the hour drops them)
    assert(q.takeRight(4).toSeq === Seq("2024-01-05 23:00:00.0",
      "2024-01-05 23:15:00.0", "2024-01-05 23:30:00.0",
      "2024-01-05 23:45:00.0"))
    val e = intercept[IllegalArgumentException] {
      SeriesOps.gridResample(df, "sid", "ts", "v", step = "1 MONTH")
    }
    assert(e.getMessage.contains("MINUTE/HOUR/DAY/WEEK"))
  }
}
