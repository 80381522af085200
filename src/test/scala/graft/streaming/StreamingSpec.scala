package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Structured Streaming variants: session-window eventize and the
  * stateful Kalman/BOCPD operators, driven through MemoryStream. */
class StreamingSpec extends SparkSpec {

  import StreamingDetect._

  private def pt(sec: Int, v: Double) =
    Point("s", Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d"), v)

  test("sessionEvents collapses flagged points within the gap (streaming)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Int)]
    val flagged = input.toDF().toDF("series_id", "ts", "flag")
    val events = sessionEvents(flagged, "series_id", "ts", "flag",
      gapDuration = "5 seconds")
    val q = events.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      // two flagged bursts 20s apart → two sessions
      input.addData(
        ("s", Timestamp.valueOf("2024-01-01 00:00:01"), 1),
        ("s", Timestamp.valueOf("2024-01-01 00:00:03"), 1),
        ("s", Timestamp.valueOf("2024-01-01 00:00:10"), 0),
        ("s", Timestamp.valueOf("2024-01-01 00:00:25"), 1))
      q.processAllAvailable()
      val rows = spark.sql("select * from sess order by start_ts").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Long]("n_points") === 2)
      assert(rows(1).getAs[Long]("n_points") === 1)
    } finally q.stop()
  }

  test("rollingStats windows aggregate per series with a watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, Timestamp, Double)]
    val df = input.toDF().toDF("series_id", "ts", "value")
    val stats = StreamingDetect.rollingStats(df, "series_id", "ts",
      "value", "10 seconds", "10 seconds")
    val q = stats.writeStream.format("memory").queryName("roll")
      .outputMode("complete").start()
    try {
      input.addData(
        ("s", Timestamp.valueOf("2024-01-01 00:00:01"), 2.0),
        ("s", Timestamp.valueOf("2024-01-01 00:00:05"), 4.0),
        ("s", Timestamp.valueOf("2024-01-01 00:00:12"), 9.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from roll order by window_start")
        .collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Double]("roll_mean") === 3.0)
      assert(rows(0).getAs[Long]("n") === 2)
      assert(rows(1).getAs[Double]("roll_mean") === 9.0)
    } finally q.stop()
  }

  test("rollingStats stream equals batch W1 on a regular grid (48 rows = 24h)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // SURVEY §2.10's documented translation: the reference's ROW-count
    // frames and streaming TIME windows coincide on a regular grid. On a
    // 30-min grid, the trailing 48-row frame at row T is exactly the
    // epoch-aligned 24h window ENDING at T+30min (window spans
    // [T-23.5h, T+30min), i.e. the 48 grid points up to and incl. T).
    val n = 120
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until n).map { i =>
      ("s", new Timestamp(base + i * 30L * 60 * 1000),
        math.sin(i / 10.0) * 5 + i * 0.01)
    }
    // batch: W1 trailing rolling stats, minPeriods=1 (stdOut carries the
    // +1e-6 eps floor and the single-row NaN backfill)
    val batch = graft.core.SeriesOps.withRollingStats(
      rows.toDF("series_id", "ts", "value"), "series_id", "ts", "value",
      window = 48, minPeriods = 1, "b_mean", "b_std")
      .select(col("ts"), col("b_mean"), col("b_std"))
    // stream: 24h window sliding 30min through MemoryStream
    val input = MemoryStream[(String, Timestamp, Double)]
    val stats = StreamingDetect.rollingStats(
      input.toDF().toDF("series_id", "ts", "value"), "series_id", "ts",
      "value", "24 hours", "30 minutes")
    val q = stats.writeStream.format("memory").queryName("roll_parity")
      .outputMode("complete").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
      val stream = spark.sql(
        """select window_end - INTERVAL 30 MINUTES as ts,
          |  roll_mean, roll_std, n from roll_parity""".stripMargin)
      val joined = batch.join(stream, "ts").orderBy("ts").collect()
      assert(joined.length === n)
      joined.foreach { r =>
        assert(math.abs(r.getAs[Double]("b_mean") -
          r.getAs[Double]("roll_mean")) < 1e-9, s"mean mismatch at $r")
        if (r.getAs[Long]("n") >= 2)
          // batch b_std = sample std + 1e-6 eps floor
          assert(math.abs(r.getAs[Double]("b_std") - 1e-6 -
            r.getAs[Double]("roll_std")) < 1e-9, s"std mismatch at $r")
      }
    } finally q.stop()
  }

  test("statefulKalman carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Point]
    val out = statefulKalman(input.toDS(), q = 0.1, h = 1.0)
    val q = out.writeStream.format("memory").queryName("kal")
      .outputMode("append").start()
    try {
      input.addData(pt(0, 5.0), pt(1, 5.2))
      q.processAllAvailable()
      input.addData(pt(2, 5.1), pt(3, 9.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from kal order by ts").collect()
      assert(rows.length === 4)
      // first point: prediction seeded at the value itself
      assert(rows(0).getAs[Double]("pred_mean") === 5.0)
      // level tracked across the batch boundary: pred for row 3 uses
      // state updated by rows 1-2, so it sits near 5.1, far from 9
      val p3 = rows(3).getAs[Double]("pred_mean")
      assert(p3 > 4.5 && p3 < 5.5, s"pred after boundary: $p3")
      assert(math.abs(rows(3).getAs[Double]("resid") - (9.0 - p3)) < 1e-9)
    } finally q.stop()
  }

  test("statefulKalman orders a micro-batch at microsecond precision") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00.000001")
    val input = MemoryStream[Point]
    val out = statefulKalman(input.toDS(), q = 0.1, h = 1.0)
    val q = out.writeStream.format("memory").queryName("kal_us")
      .outputMode("append").start()
    try {
      // one micro-batch, the later point first: both share a
      // millisecond, so only the full timestamp puts t0 first
      input.addData(Point("s", t1, 2.0), Point("s", t0, 1.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from kal_us order by ts").collect()
      assert(rows.map(_.getAs[Timestamp]("ts")).toSeq == Seq(t0, t1))
      // initialized on t0: its prediction is its own value, and the
      // level t1 is predicted from is still 1.0
      assert(rows.map(_.getAs[Double]("pred_mean")).toSeq == Seq(1.0, 1.0))
    } finally q.stop()
  }

  test("statefulBsts filter is invariant to micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val xs = (0 until 96).map(i =>
      10.0 + 0.05 * i + 3 * math.sin(2 * math.Pi * i / 24.0)
        + rng.nextGaussian() * 0.2)
    def run(name: String, splits: Seq[Seq[(Double, Int)]]): Array[(Double, Double)] = {
      val input = MemoryStream[Point]
      val out = statefulBsts(input.toDS(), Seq((24.0, 2)),
        qLevel = 0.01, qSlope = 1e-4, qSeas = Seq(1e-3), h = 0.5)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        splits.foreach { batch =>
          input.addData(batch.map { case (v, i) => pt(i, v) }: _*)
          q.processAllAvailable()
        }
        spark.sql(s"select * from $name order by ts").collect()
          .map(r => (r.getAs[Double]("bsts_mean"), r.getAs[Double]("bsts_std")))
      } finally q.stop()
    }
    val indexed = xs.zipWithIndex
    val oneShot = run("bsts_one", Seq(indexed))
    val split = run("bsts_split",
      Seq(indexed.take(30), indexed.slice(30, 70), indexed.drop(70)))
    assert(oneShot.length === 96 && split.length === 96)
    oneShot.zip(split).foreach { case ((m1, s1), (m2, s2)) =>
      assert(math.abs(m1 - m2) < 1e-9, s"mean $m1 vs $m2")
      assert(math.abs(s1 - s2) < 1e-9, s"std $s1 vs $s2")
    }
    // the filter tracks the seasonal signal: late one-step errors are
    // far below the seasonal swing
    val lateMae = oneShot.drop(48).zip(xs.drop(48))
      .map { case ((m, _), v) => math.abs(v - m) }.sum / 48
    assert(lateMae < 1.0, s"late one-step MAE $lateMae")
  }

  test("statefulBsts dummy-seasonal component is split-invariant and tracks the pattern") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pat = Array(3.0, -1.0, 0.5, 2.0, -2.5, 1.0, -1.0, -2.0) // sums to 0
    val rng = new scala.util.Random(11)
    val xs = (0 until 96).map(i =>
      10.0 + pat(i % 8) + rng.nextGaussian() * 0.1)
    def run(name: String, splits: Seq[Seq[(Double, Int)]]): Array[Double] = {
      val input = MemoryStream[Point]
      val out = statefulBsts(input.toDS(),
        Seq(graft.models.Bsts.Dummy(8)),
        qLevel = 0.01, qSlope = 1e-5, qSeas = Seq(1e-3), h = 0.1, p0 = 1e7)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        splits.foreach { batch =>
          input.addData(batch.map { case (v, i) => pt(i, v) }: _*)
          q.processAllAvailable()
        }
        spark.sql(s"select * from $name order by ts").collect()
          .map(_.getAs[Double]("bsts_mean"))
      } finally q.stop()
    }
    val indexed = xs.zipWithIndex
    val oneShot = run("bstsd_one", Seq(indexed))
    val split = run("bstsd_split",
      Seq(indexed.take(17), indexed.slice(17, 60), indexed.drop(60)))
    assert(oneShot.length === 96 && split.length === 96)
    oneShot.zip(split).foreach { case (m1, m2) =>
      assert(math.abs(m1 - m2) < 1e-9, s"mean $m1 vs $m2") }
    val lateMae = oneShot.drop(48).zip(xs.drop(48))
      .map { case (m, v) => math.abs(v - m) }.sum / 48
    assert(lateMae < 0.6, s"late one-step MAE $lateMae vs pattern swing ~2.5")
  }

  test("statefulBocpd matches the batch recursion across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val xs = (0 until 40).map(i =>
      (if (i < 20) 0.0 else 5.0) + rng.nextGaussian() * 0.3)
    val input = MemoryStream[Point]
    val out = statefulBocpd(input.toDS())
    val q = out.writeStream.format("memory").queryName("bo")
      .outputMode("append").start()
    try {
      input.addData(xs.take(15).zipWithIndex.map { case (v, i) => pt(i, v) }: _*)
      q.processAllAvailable()
      input.addData(xs.drop(15).zipWithIndex.map { case (v, i) => pt(i + 15, v) }: _*)
      q.processAllAvailable()
      val streamed = spark.sql("select * from bo order by ts").collect()
        .map(r => (r.getAs[Double]("cp_prob"), r.getAs[Int]("map_run_length")))
      // batch fold over the same raw values (already "normalized" here)
      var st = (Array(1.0), Array(0.0), Array(1.0), Array(1.0), Array(1.0))
      val expected = xs.map { x =>
        val (ns, cp, am) = graft.models.Bocpd.step(st._1, st._2, st._3,
          st._4, st._5, x)
        st = ns
        (cp, am)
      }
      assert(streamed.length === 40)
      streamed.zip(expected).foreach { case ((sc, sm), (ec, em)) =>
        assert(math.abs(sc - ec) < 1e-12)
        assert(sm === em)
      }
      // run-length MAP resets just after the shift at i=20
      assert(streamed(21)._2 <= 3)
    } finally q.stop()
  }

  // ---- streaming dedup: batch ≡ stream keep/drop parity ----------------

  private val corpus = Seq(
    // (id, text) — 1&3 exact clones, 2&5 clones, 4&6 unique
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs today"),
    (3L, "the quick brown fox jumps over the lazy dog"),
    (4L, "sphinx of black quartz judge my vow tonight"),
    (5L, "pack my box with five dozen liquor jugs today"),
    (6L, "how vexingly quick daft zebras jump around"))

  private def docAt(i: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d")

  test("rowMinhash is value-identical to the batch groupBy signatures") {
    import spark.implicits._
    val df = corpus.toDF("doc_id", "text")
    val batch = graft.llm.Dedup.minhashSignatures(df, "doc_id", "text",
      shingleN = 3, numHashes = 16).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    val rowForm = df.select(col("doc_id"),
        StreamingDedup.rowMinhash(col("text"), 3, 16).as("sig"))
      .collect()
      .map(r => r.getLong(0) ->
        (0 until 16).map(r.getStruct(1).getLong).toSeq).toMap
    assert(rowForm === batch)
  }

  test("streaming minhash dedup keeps exactly the batch keep-set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val kept = StreamingDedup.minhashDedup(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "text",
      shingleN = 3, numHashes = 16)
    val q = kept.writeStream.format("memory").queryName("mdedup")
      .outputMode("append").start()
    try {
      // split mid-clone-pair across micro-batches: 3 (clone of 1) and
      // 5 (clone of 2) arrive in the SECOND batch — state must carry over
      input.addData(corpus.take(2).zipWithIndex.map { case ((i, t), k) =>
        (i, docAt(k), t) }: _*)
      q.processAllAvailable()
      input.addData(corpus.drop(2).zipWithIndex.map { case ((i, t), k) =>
        (i, docAt(k + 2), t) }: _*)
      q.processAllAvailable()
      val streamKept = spark.sql("select doc_id from mdedup").collect()
        .map(_.getLong(0)).toSet
      // batch equivalent: first/min id per signature group
      val batchKept = graft.llm.Dedup.exact(
        corpus.toDF("doc_id", "text").select(col("doc_id"),
          StreamingDedup.rowMinhash(col("text"), 3, 16).as("sig")),
        "doc_id", Seq("sig")).collect().map(_.getAs[Long]("keep_id")).toSet
      assert(streamKept === batchKept)
      assert(streamKept === Set(1L, 2L, 4L, 6L))
    } finally q.stop()
  }

  test("stream-static near-dup candidates equal batch minhashCandidates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // clones (est 1.0) plus a one-word edit of doc 1 (est < 1.0) and a
    // sub-shingle doc that must emit nothing
    val slice = corpus ++ Seq(
      (7L, "the quick brown fox jumps over the lazy cat"),
      (8L, "too short"))
    val df = slice.toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))
    val batch = graft.llm.Dedup.minhashCandidates(df, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 8, minEst = 0.5)
      .collect().map(key).toSet
    assert(batch.exists(_._3 < 1000000L),
      "test slice must contain a sub-1.0 candidate pair")
    // static side: the persisted signature table over the same slice;
    // stream side: the docs arriving across two micro-batches
    val sigs = graft.llm.Dedup.minhashSignatures(df, "doc_id", "text",
      shingleN = 3, numHashes = 16)
    val input = MemoryStream[(Long, Timestamp, String)]
    val cand = StreamingDedup.nearDupCandidates(
      input.toDF().toDF("doc_id", "ts", "text"), sigs, "doc_id", "ts",
      "text", shingleN = 3, numHashes = 16, bands = 8, minEst = 0.5)
    val q = cand.writeStream.format("memory").queryName("ndcand")
      .outputMode("append").start()
    try {
      input.addData(slice.take(3).zipWithIndex.map { case ((i, t), k) =>
        (i, docAt(k), t) }: _*)
      q.processAllAvailable()
      input.addData(slice.drop(3).zipWithIndex.map { case ((i, t), k) =>
        (i, docAt(k + 3), t) }: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select id_a, id_b, est_jaccard from ndcand")
        .collect().map(key).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("windowed histogram sketch: stream-built counts finish to the batch quantiles") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rng = new scala.util.Random(3)
    // two series, three tumbling hours, values in [0, 10)
    val rows = (0 until 240).map { i =>
      (if (i % 2 == 0) "a" else "b",
        new Timestamp(base + i * 45L * 1000), rng.nextDouble() * 10.0)
    }
    // batch reference: per (series, hour) quantiles via the one-shot op
    val batchDf = rows.toDF("series_id", "ts", "value")
      .withColumn("g", concat(col("series_id"), lit("|"),
        date_trunc("hour", col("ts")).cast("string")))
    val batch = graft.core.Quantiles.histogramQuantiles(batchDf, "g",
        "value", 0.0, 10.0, 100, Seq(0.5, 0.99))
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("q")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("qbin"),
          r.getAs[Double]("est"))).toMap
    // stream: sketch increments per (series, 1h window, bin), split
    // across two micro-batches mid-window; finisher runs on the sink
    val input = MemoryStream[(String, Timestamp, Double)]
    val counts = StreamingDetect.windowedBinCounts(
      input.toDF().toDF("series_id", "ts", "value"), "series_id", "ts",
      "value", "1 hour", 0.0, 10.0, 100)
    val q = counts.writeStream.format("memory").queryName("histsink")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(100))
      q.processAllAvailable()
      input.addData(rows.drop(100))
      q.processAllAvailable()
      val sunk = spark.sql(
          """select concat(series_id, '|', cast(window_start as string))
            |  as group, bin, cnt from histsink""".stripMargin)
      val streamed = graft.core.Quantiles.quantilesFromCounts(sunk,
          0.0, 10.0, 100, Seq(0.5, 0.99))
        .collect()
        .map(r => (r.getAs[String]("group"), r.getAs[Double]("q")) ->
          (r.getAs[Long]("n"), r.getAs[Long]("qbin"),
            r.getAs[Double]("est"))).toMap
      assert(streamed.nonEmpty && streamed === batch)
    } finally q.stop()
  }

  test("windowed vocab-drift increments finish to the batch KL, per window and whole-stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // three sources with distinct token mixes, two tumbling hours
    val rows = (0 until 120).map { i =>
      val src = s"src${i % 3}"
      val text = Seq.tabulate(12)(j =>
        s"w${(i * 7 + j * (i % 3 + 2)) % 31}_${i % 3}").mkString(" ")
      (src, new Timestamp(base + i * 60L * 1000), text)
    }
    val B = 64
    def klMap(df: org.apache.spark.sql.DataFrame) =
      graft.llm.TextAnalysis.vocabDriftKl(df, "text", "source", B)
        .collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("kl_vs_rest")))
        .toMap
    val batchDf = rows.toDF("source", "ts", "text")
    val batchWhole = klMap(batchDf)
    val batchByHour = Seq(0, 1).map { h =>
      h -> klMap(batchDf.filter(
        hour(col("ts")) === h && col("ts") >= lit(new Timestamp(base))))
    }.toMap
    val input = MemoryStream[(String, Timestamp, String)]
    val counts = StreamingDetect.windowedVocabCounts(
      input.toDF().toDF("source", "ts", "text"), "source", "ts",
      "text", "1 hour", B)
    val q = counts.writeStream.format("memory").queryName("driftsink")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(70))
      q.processAllAvailable()
      input.addData(rows.drop(70))
      q.processAllAvailable()
      assert(spark.sql(
        "select count(distinct window_start) from driftsink")
        .head.getLong(0) == 2, "test must span two windows")
      // whole-stream read: finisher over the raw UNION of increments
      val sunk = spark.sql("select source, bucket, cnt from driftsink")
      val streamedWhole = graft.llm.TextAnalysis
        .vocabDriftKlFromCounts(sunk, "source", B)
        .collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("kl_vs_rest")))
        .toMap
      assert(streamedWhole === batchWhole)
      // per-window reads
      for (h <- Seq(0, 1)) {
        val win = spark.sql(
          s"""select source, bucket, cnt from driftsink
             |where hour(window_start) = $h""".stripMargin)
        val streamed = graft.llm.TextAnalysis
          .vocabDriftKlFromCounts(win, "source", B)
          .collect()
          .map(r => r.getAs[String]("source") ->
            (r.getAs[Long]("n_tokens"), r.getAs[Double]("kl_vs_rest")))
          .toMap
        assert(streamed === batchByHour(h), s"window $h diverged")
      }
    } finally q.stop()
  }

  test("windowed numeric-drift increments finish to the batch PSI/KS, per window and whole-stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // three strata with different value mixes, two tumbling hours
    val rows = (0 until 180).map { i =>
      val s = s"s${i % 3}"
      val v = ((i * 13) % 41).toDouble + (i % 3) * 8.0
      (s, new Timestamp(base + i * 40L * 1000), v)
    }
    val bins = 16; val lo = 0.0; val hi = 60.0
    def driftMap(df: org.apache.spark.sql.DataFrame) =
      graft.metrics.Drift.binnedDrift(df, "stratum", "value",
          bins, lo, hi)
        .collect()
        .map(r => r.getAs[String]("stratum") ->
          (r.getAs[Long]("n_points"), r.getAs[Double]("psi_vs_rest"),
            r.getAs[Double]("ks_binned")))
        .toMap
    val batchDf = rows.toDF("stratum", "ts", "value")
    val batchWhole = driftMap(batchDf)
    val batchByHour = Seq(0, 1).map { h =>
      h -> driftMap(batchDf.filter(hour(col("ts")) === h))
    }.toMap
    val input = MemoryStream[(String, Timestamp, Double)]
    val counts = StreamingDetect.windowedDriftCounts(
      input.toDF().toDF("stratum", "ts", "value"), "stratum", "ts",
      "value", "1 hour", lo, hi, bins)
    val q = counts.writeStream.format("memory").queryName("ndriftsink")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(95))
      q.processAllAvailable()
      input.addData(rows.drop(95))
      q.processAllAvailable()
      assert(spark.sql(
        "select count(distinct window_start) from ndriftsink")
        .head.getLong(0) == 2, "test must span two windows")
      def fin(df: org.apache.spark.sql.DataFrame) =
        graft.metrics.Drift.binnedDriftFromCounts(df, bins)
          .collect()
          .map(r => r.getAs[String]("stratum") ->
            (r.getAs[Long]("n_points"), r.getAs[Double]("psi_vs_rest"),
              r.getAs[Double]("ks_binned")))
          .toMap
      val whole = fin(spark.sql(
        "select stratum, bin, cnt from ndriftsink"))
      assert(whole === batchWhole)
      for (h <- Seq(0, 1)) {
        val win = fin(spark.sql(
          s"""select stratum, bin, cnt from ndriftsink
             |where hour(window_start) = $h""".stripMargin))
        assert(win === batchByHour(h), s"window $h diverged")
      }
    } finally q.stop()
  }

  test("windowed M4 stream equals the batch epoch-window reduction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rng = new scala.util.Random(9)
    val rows = (0 until 240).map { i =>
      (if (i % 2 == 0) "a" else "b",
        new Timestamp(base + i * 37L * 1000), rng.nextDouble() * 40)
    }
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getAs[Timestamp]("window_start").getTime)
    def m4map(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => key(r) -> ((r.getAs[Long]("n"),
        r.getAs[Double]("v_first"), r.getAs[Double]("v_last"),
        r.getAs[Double]("v_min"), r.getAs[Double]("v_max")))).toMap
    val batch = m4map(StreamingDetect.windowedM4(
      rows.toDF("series_id", "ts", "value"), "series_id", "ts",
      "value", "30 minutes"))
    val input = MemoryStream[(String, Timestamp, Double)]
    val out = StreamingDetect.windowedM4(
      input.toDF().toDF("series_id", "ts", "value"), "series_id",
      "ts", "value", "30 minutes")
    val q = out.writeStream.format("memory").queryName("m4sink")
      .outputMode("complete").start()
    try {
      // split mid-window: the second batch revises open windows
      input.addData(rows.take(130))
      q.processAllAvailable()
      input.addData(rows.drop(130))
      q.processAllAvailable()
      val streamed = m4map(spark.table("m4sink"))
      assert(streamed === batch)
      assert(streamed.size > 2, "test must span multiple windows")
    } finally q.stop()
  }

  test("stateful as-of enrichment matches the batch join across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(sec: Int) = Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // two keys; rights (side 0) and lefts (side 1) interleaved; the
    // split is chosen so one left arrives a BATCH AFTER a newer right
    // already updated the state (the bounded history must serve the
    // older match), and one left precedes any right
    val events = Seq(
      AsofEvent("a", t(5), 0, 1.0),
      AsofEvent("a", t(10), 1, 0.0),  // -> r@5
      AsofEvent("a", t(20), 0, 2.0),
      AsofEvent("b", t(3), 1, 0.0),   // -> none
      // ---- split here ----
      AsofEvent("a", t(30), 0, 3.0),  // newer right arrives FIRST
      AsofEvent("a", t(25), 1, 0.0),  // late left -> r@20, NOT r@30
      AsofEvent("a", t(30), 1, 0.0),  // equal ts -> r@30 (inclusive)
      AsofEvent("b", t(8), 0, 9.0),
      AsofEvent("b", t(9), 1, 0.0))   // -> r@8
    // batch reference via the relational as-of join
    val l = events.filter(_.side == 1)
      .map(e => (e.key, e.ts)).toDF("k", "lts")
    val r = events.filter(_.side == 0)
      .map(e => (e.key, e.ts, e.value)).toDF("k", "rts", "v")
    val batch = graft.core.AsofJoin.asofJoin(l, r, Seq("k"), "lts",
        "rts", Seq("v"))
      .collect()
      .map(row => (row.getAs[String]("k"),
        row.getAs[Timestamp]("lts").getTime) ->
        ((Option(row.getAs[Timestamp]("asof_ts")).map(_.getTime),
          Option(row.getAs[java.lang.Double]("asof_v"))
            .map(_.toDouble))))
      .toMap
    val input = MemoryStream[AsofEvent]
    val out = statefulAsof(input.toDS(), maxKeep = 16)
    val q = out.writeStream.format("memory").queryName("asofsink")
      .outputMode("append").start()
    try {
      input.addData(events.take(4))
      q.processAllAvailable()
      input.addData(events.drop(4))
      q.processAllAvailable()
      val streamed = spark.table("asofsink").as[AsofStreamOut]
        .collect()
        .map(o => (o.key, o.ts.getTime) ->
          ((o.asof_ts.map(_.getTime), o.asof_value)))
        .toMap
      assert(streamed === batch)
      assert(streamed.size === 5)
    } finally q.stop()
  }

  test("chunkText is streaming-safe: append stream equals batch " +
      "(map-only embed-prep runs on readStream unchanged)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val texts = (1 to 40).map(i =>
      (i.toLong, (1 to (i * 3) % 23 + 1).map(j => s"w$j").mkString(" ")))
    def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    val batch = cmap(graft.llm.Chunking.chunkText(
      texts.toDF("doc_id", "text"), "doc_id", "text", 8, 2))
    val input = MemoryStream[(Long, String)]
    val out = graft.llm.Chunking.chunkText(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", 8, 2)
    val q = out.writeStream.format("memory").queryName("chunksink")
      .outputMode("append").start()
    try {
      input.addData(texts.take(17))
      q.processAllAvailable()
      input.addData(texts.drop(17))
      q.processAllAvailable()
      assert(cmap(spark.table("chunksink")) === batch)
    } finally q.stop()
  }

  test("soundex blocking key is streaming-safe: append stream equals " +
      "batch (the ER blocking stage runs on readStream unchanged)") {
    // the pair CONFIRM step is a batch join; what streams is the
    // blocking-key assignment — a pure scan-stage expression, so an
    // arriving record's block is known immediately (the shape a
    // streaming ER pipeline needs: key now, match against the keyed
    // store downstream)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val names = Seq("Smith", "Smyth", "Robert", "Rupert", "o'Brien",
      "Tymczak", "Lee", "123", "Honeyman", "Pfister")
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }
    def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val batch = cmap(names.toDF("rec", "name")
      .select(col("rec"), graft.llm.Phonetic.soundex(col("name"))))
    val input = MemoryStream[(Long, String)]
    val out = input.toDF().toDF("rec", "name")
      .select(col("rec"), graft.llm.Phonetic.soundex(col("name")))
    val q = out.writeStream.format("memory").queryName("sdxsink")
      .outputMode("append").start()
    try {
      input.addData(names.take(4))
      q.processAllAvailable()
      input.addData(names.drop(4))
      q.processAllAvailable()
      assert(cmap(spark.table("sdxsink")) === batch)
    } finally q.stop()
  }

  test("windowedCollocCounts increments + finisher equal the batch " +
      "PMI collocations over the whole stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val phrases = Seq("new york wins", "the new york subway",
      "a cat sat", "new york again and again", "the end of the end")
    val rows = (0 until 120).map { i =>
      (new Timestamp(base + i * 120L * 1000), phrases(i % phrases.size))
    }
    def pmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val batch = pmap(graft.llm.TextAnalysis.collocations(
      rows.map(_._2).toDF("text"), "text", minCount = 5, k = 8))
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamingDetect.windowedCollocCounts(
      input.toDF().toDF("ts", "text"), "ts", "text", "1 hour")
    val q = counts.writeStream.format("memory").queryName("collocsink")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(50))
      q.processAllAvailable()
      input.addData(rows.drop(50))
      q.processAllAvailable()
      val sunk = spark.table("collocsink")
      assert(sunk.select("window_start").distinct().count() > 2,
        "test must span multiple windows")
      val finished = pmap(graft.llm.TextAnalysis.collocationsFromCounts(
        sunk, minCount = 5, k = 8))
      assert(finished === batch)
      assert(batch.contains(("new", "york")), "fixture sanity")
    } finally q.stop()
  }

  test("statefulDelta matches the batch lag convention across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 60).map { i =>
      Point(s"s${i % 2}", new Timestamp(base + i * 60L * 1000),
        math.sin(i * 0.7) * 10 + (i % 5))
    }
    val batch = rows.groupBy(_.series_id).flatMap { case (_, ps) =>
      val s = ps.sortBy(_.ts.getTime)
      s.zipWithIndex.map { case (p, i) =>
        (p.series_id, p.ts.getTime) ->
          (if (i == 0) 0.0 else p.value - s(i - 1).value)
      }
    }.toMap
    val input = MemoryStream[Point]
    val q = StreamingDetect.statefulDelta(input.toDS())
      .writeStream.format("memory").queryName("deltasink")
      .outputMode("append").start()
    try {
      input.addData(rows.take(23)) // mid-series split: the lag value
      q.processAllAvailable()      // must carry across the batch edge
      input.addData(rows.drop(23))
      q.processAllAvailable()
      val streamed = spark.table("deltasink")
        .as[StreamingDetect.DeltaOut].collect()
        .map(o => (o.series_id, o.ts.getTime) -> o.delta).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("windowedHbosCounts increments + hbosFromCounts finisher equal " +
      "the batch HBOS scorer bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // one series, 200 points over 6+ hours; deltas computed with the
    // batch convention in the fixture (the statefulDelta test covers
    // producing them in-stream). Single series so the FIXED global
    // edges can equal the per-series derived edges of the batch
    // scorer — the bit-equality precondition hbosFromCounts documents.
    val pts = (0 until 200).map { i =>
      ("g1", new Timestamp(base + i * 120L * 1000),
        math.sin(i * 0.37) * 25 + (i % 7) * 3.0)
    }
    val withDelta = pts.zipWithIndex.map { case ((sid, ts, v), i) =>
      (sid, ts, v, if (i == 0) 0.0 else v - pts(i - 1)._3)
    }
    val (xlo, xhi) = (withDelta.map(_._3).min, withDelta.map(_._3).max)
    val (ylo, yhi) = (withDelta.map(_._4).min, withDelta.map(_._4).max)
    val rowsDf = pts.toDF("series_id", "ts", "value")
    val batchScores = graft.models.Hbos.hbos(
      rowsDf, "series_id", "ts", "value", bins = 8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    val input = MemoryStream[(String, Timestamp, Double, Double)]
    val counts = StreamingDetect.windowedHbosCounts(
      input.toDF().toDF("series_id", "ts", "value", "delta"),
      "series_id", "ts", "value", "delta", "1 hour",
      xlo, xhi, ylo, yhi, bins = 8)
    val q = counts.writeStream.format("memory").queryName("hbossink")
      .outputMode("complete").start()
    try {
      input.addData(withDelta.take(100))
      q.processAllAvailable()
      input.addData(withDelta.drop(100))
      q.processAllAvailable()
      val sunk = spark.table("hbossink")
      assert(sunk.select("window_start").distinct().count() > 2,
        "test must span multiple windows")
      // per-window parity: stream increments equal the batch windowed
      // recompute of the same counts
      val batchCounts = StreamingDetect.windowedHbosCounts(
        withDelta.toDF("series_id", "ts", "value", "delta"),
        "series_id", "ts", "value", "delta", "1 hour",
        xlo, xhi, ylo, yhi, bins = 8)
      def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getString(2), r.getLong(3)) -> r.getLong(4)).toMap
      assert(cmap(sunk) === cmap(batchCounts))
      // whole-stream parity: finisher over the raw increment union
      // reproduces the batch scorer exactly (edges = true ranges)
      val finished = graft.models.Hbos.hbosFromCounts(
        rowsDf, "series_id", "ts", "value", sunk,
        xlo, xhi, ylo, yhi, bins = 8)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3))
        .toMap
      assert(finished === batchScores)
    } finally q.stop()
  }

  test("statefulAsof bufferLate: late-RIGHT rows match already-seen " +
      "probes (stream equals batch across the adversarial split)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def t(sec: Int) = Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // the adversarial order: BOTH keys' matching right rows arrive a
    // batch AFTER the probe they must match. With a 20s watermark
    // delay the probes are held in state until the watermark passes
    // their event time, so the late rights land in the history first.
    val batch1 = Seq(
      AsofEvent("a", t(5), 0, 1.0),
      AsofEvent("a", t(10), 1, 0.0),  // -> r@5
      AsofEvent("b", t(9), 1, 0.0),   // -> r@8 (arrives NEXT batch)
      AsofEvent("a", t(25), 1, 0.0))  // -> r@20 (arrives NEXT batch)
    val batch2 = Seq(
      AsofEvent("a", t(20), 0, 2.0),  // late right for a@25
      AsofEvent("b", t(8), 0, 9.0))   // late right for b@9
    val batch3 = Seq(                 // advances the watermark past
      AsofEvent("a", t(60), 0, 3.0),  // every pending probe, so the
      AsofEvent("b", t(60), 0, 7.0))  // event-time timeouts flush them
    val events = batch1 ++ batch2 ++ batch3
    val l = events.filter(_.side == 1)
      .map(e => (e.key, e.ts)).toDF("k", "lts")
    val r = events.filter(_.side == 0)
      .map(e => (e.key, e.ts, e.value)).toDF("k", "rts", "v")
    val batch = graft.core.AsofJoin.asofJoin(l, r, Seq("k"), "lts",
        "rts", Seq("v"))
      .collect()
      .map(row => (row.getAs[String]("k"),
        row.getAs[Timestamp]("lts").getTime) ->
        ((Option(row.getAs[Timestamp]("asof_ts")).map(_.getTime),
          Option(row.getAs[java.lang.Double]("asof_v"))
            .map(_.toDouble))))
      .toMap
    val input = MemoryStream[AsofEvent]
    val out = statefulAsof(
      input.toDS().withWatermark("ts", "20 seconds"),
      maxKeep = 16, bufferLate = true)
    val q = out.writeStream.format("memory").queryName("asoflate")
      .outputMode("append").start()
    try {
      input.addData(batch1)
      q.processAllAvailable()
      input.addData(batch2)
      q.processAllAvailable()
      input.addData(batch3)
      q.processAllAvailable()
      val streamed = spark.table("asoflate").as[AsofStreamOut]
        .collect()
        .map(o => (o.key, o.ts.getTime) ->
          ((o.asof_ts.map(_.getTime), o.asof_value)))
        .toMap
      assert(streamed === batch)
      assert(streamed.size === 3)
      // the late-right matches specifically: the probes emitted the
      // right rows that arrived a batch after them
      assert(streamed(("a", t(25).getTime)) ===
        ((Some(t(20).getTime), Some(2.0))))
      assert(streamed(("b", t(9).getTime)) ===
        ((Some(t(8).getTime), Some(9.0))))
    } finally q.stop()
  }

  test("statefulAsof bufferLate on BATCH execution degrades to exact " +
      "as-of semantics (no watermark -> end-of-invocation resolve)") {
    import spark.implicits._
    def t(sec: Int) = Timestamp.valueOf(
      f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    // rights listed AFTER the probes they must match: batch execution
    // sees the whole key group in one invocation, so arrival order
    // inside the Dataset must not matter
    val events = Seq(
      AsofEvent("a", t(10), 1, 0.0), // -> r@5
      AsofEvent("a", t(25), 1, 0.0), // -> r@20
      AsofEvent("a", t(5), 0, 1.0),
      AsofEvent("a", t(20), 0, 2.0),
      AsofEvent("b", t(9), 1, 0.0),  // -> none
      AsofEvent("b", t(30), 0, 9.0))
    val got = statefulAsof(events.toDS(), maxKeep = 16,
        bufferLate = true)
      .collect()
      .map(o => (o.key, o.ts.getTime) ->
        ((o.asof_ts.map(_.getTime), o.asof_value)))
      .toMap
    assert(got.size === 3)
    assert(got(("a", t(10).getTime)) === ((Some(t(5).getTime), Some(1.0))))
    assert(got(("a", t(25).getTime)) === ((Some(t(20).getTime), Some(2.0))))
    assert(got(("b", t(9).getTime)) === ((None, None)))
  }

  test("interval join: native watermarked stream-stream join equals " +
      "batch across micro-batch splits (exclusive lower, inclusive " +
      "upper, late-arriving match within the watermark)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val vIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val joined = graft.core.IntervalJoin.intervalJoin(
      vIn.toDF().toDF("user_id", "view_id", "view_ts"),
      cIn.toDF().toDF("user_id", "click_id", "click_ts"),
      Seq("user_id"), "view_ts", "click_ts", "0 SECONDS", "30 MINUTES",
      watermark = Some("2 hours"))
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    val views = Seq((1L, 101L, ts("00:00")), (2L, 102L, ts("00:05")),
      (1L, 103L, ts("00:50")))
    val clicks = Seq(
      (1L, 201L, ts("00:00")), // gap 0: EXCLUDED by the exclusive lower
      (1L, 202L, ts("00:10")), // matches v101
      (2L, 203L, ts("00:40")), // +35m past v102: outside the window
      (1L, 204L, ts("00:30")), // exactly +30m: KEPT by inclusive upper
      (1L, 205L, ts("01:05")), // matches v103, arrives two batches late
      (3L, 206L, ts("00:10"))) // keyless: no view for user 3
    try {
      vIn.addData(views(0), views(1)); cIn.addData(clicks(0))
      q.processAllAvailable()
      cIn.addData(clicks(1), clicks(2))
      q.processAllAvailable()
      vIn.addData(views(2)); cIn.addData(clicks(3))
      q.processAllAvailable()
      cIn.addData(clicks(4), clicks(5))
      q.processAllAvailable()
      val got = spark.sql("select view_id, click_id from ij").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((101L, 202L), (101L, 204L), (103L, 205L)))
      // batch execution of the SAME call on the SAME rows
      val batch = graft.core.IntervalJoin.intervalJoin(
          views.toDF("user_id", "view_id", "view_ts"),
          clicks.toDF("user_id", "click_id", "click_ts"),
          Seq("user_id"), "view_ts", "click_ts",
          "0 SECONDS", "30 MINUTES")
        .select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === got, "stream must equal batch")
    } finally q.stop()
  }

  test("interval join composes multiple equi keys (batch): the " +
      "internal right-side rename disambiguates a self-joined lineage") {
    import spark.implicits._
    def ts(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    // same (tenant, user) pair required on BOTH keys; u1 appears under
    // two tenants — single-key joins would cross-match them
    val l = Seq(("t1", 1L, 11L, ts("00:00")), ("t2", 1L, 12L, ts("00:00")))
      .toDF("tenant", "user_id", "view_id", "view_ts")
    val r = Seq(("t1", 1L, 21L, ts("00:10")), ("t2", 1L, 22L, ts("00:20")))
      .toDF("tenant", "user_id", "click_id", "click_ts")
    val got = graft.core.IntervalJoin.intervalJoin(l, r,
        Seq("tenant", "user_id"), "view_ts", "click_ts",
        "0 SECONDS", "30 MINUTES")
      .select("view_id", "click_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((11L, 21L), (12L, 22L)),
      "each view must match only its own tenant's click")
    // shared NON-key names fail fast (only keys are renamed on the
    // right — a shared payload/timestamp name would emit ambiguous
    // duplicate columns downstream)
    val e = intercept[IllegalArgumentException] {
      graft.core.IntervalJoin.intervalJoin(l, r
          .withColumnRenamed("click_ts", "view_ts"),
        Seq("tenant", "user_id"), "view_ts", "view_ts",
        "0 SECONDS", "30 MINUTES")
    }
    assert(e.getMessage.contains("disjoint") &&
      e.getMessage.contains("view_ts"))
  }

  test("LEFT OUTER interval join: an un-clicked view emits ONCE with " +
      "null right fields after the watermark passes its window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    val vIn = MemoryStream[(Long, Long, Timestamp)]
    val cIn = MemoryStream[(Long, Long, Timestamp)]
    val joined = graft.core.IntervalJoin.intervalJoin(
      vIn.toDF().toDF("user_id", "view_id", "view_ts"),
      cIn.toDF().toDF("user_id", "click_id", "click_ts"),
      Seq("user_id"), "view_ts", "click_ts", "0 SECONDS", "30 MINUTES",
      watermark = Some("10 minutes"), joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ijl")
      .outputMode("append").start()
    val views = Seq((1L, 101L, ts("00:00")), (2L, 102L, ts("00:00")),
      (3L, 103L, ts("02:00")), (4L, 104L, ts("02:30")))
    val clicks = Seq((1L, 201L, ts("00:10")), (3L, 204L, ts("02:10")),
      (4L, 205L, ts("02:35")))
    try {
      // batch 1: v101 matches; v102 never will
      vIn.addData(views(0), views(1)); cIn.addData(clicks(0))
      q.processAllAvailable()
      // batch 2 advances BOTH sides' event time (the global watermark
      // is the MIN across watermarked inputs — advancing only one side
      // would pin it and the null row would never emit)
      vIn.addData(views(2)); cIn.addData(clicks(1))
      q.processAllAvailable()
      // batch 3 runs under batch 2's end-state watermark (01:50),
      // which is past v102's eviction point (00:30): the null emits
      vIn.addData(views(3)); cIn.addData(clicks(2))
      q.processAllAvailable()
      val got = spark.sql("select view_id, click_id from ijl").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(got === Set((101L, Some(201L)), (102L, None),
        (103L, Some(204L)), (104L, Some(205L))),
        "matched views once with their click, dropped view once null")
      // batch execution: same call, same rows, same outer semantics
      val batch = graft.core.IntervalJoin.intervalJoin(
          views.toDF("user_id", "view_id", "view_ts"),
          clicks.toDF("user_id", "click_id", "click_ts"),
          Seq("user_id"), "view_ts", "click_ts",
          "0 SECONDS", "30 MINUTES", joinType = "left_outer")
        .select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(batch === got, "stream must equal batch")
    } finally q.stop()
  }

  test("windowed CMS increments union-merge to the batch estimates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 200).map { i =>
      (new Timestamp(base + i * 60L * 1000), s"tok_${i % 23}_y")
    }
    val batchSk = graft.llm.Cms.sketch(rows.map(_._2).toDF("term"),
      "term", depth = 4, width = 64)
    val probe = (0 until 23).map(i => s"tok_${i}_y").toDF("term")
    def estMap(sk: org.apache.spark.sql.DataFrame) =
      graft.llm.Cms.estimate(sk, probe, "term", 4, 64)
        .collect()
        .map(r => r.getAs[String]("term") -> r.getAs[Long]("cms_est"))
        .toMap
    val batch = estMap(batchSk)
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamingDetect.windowedCmsCounts(
      input.toDF().toDF("ts", "term"), "ts", "term", "1 hour",
      depth = 4, width = 64)
    val q = counts.writeStream.format("memory").queryName("cmssink")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(90))
      q.processAllAvailable()
      input.addData(rows.drop(90))
      q.processAllAvailable()
      // the whole-stream read: estimate over the raw UNION of window
      // increments — merge law, no pre-aggregation by the caller
      val sunk = spark.sql("select row, bucket, cnt from cmssink")
      assert(spark.sql(
        "select count(distinct window_start) from cmssink")
        .head.getLong(0) > 1, "test must span multiple windows")
      assert(estMap(sunk) === batch)
    } finally q.stop()
  }

  test("windowedHllMaxes: stream increments give batch-identical " +
      "estimates per window and over the union") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 240 events over 4 hours, two groups, repeating key vocab so
    // distinct << rows; keys padded (the short-token convention)
    val rows = (0 until 240).map { i =>
      (if (i % 2 == 0) "g1" else "g2",
        new Timestamp(base + i * 60L * 1000),
        f"key-${i % 37}%05d-pad")
    }
    def estimates(buckets: org.apache.spark.sql.DataFrame) =
      graft.llm.Hll.estimateFromBuckets(buckets, m = 16)
        .collect()
        .map(r => r.getAs[String]("group") ->
          ((r.getAs[Long]("v_zero"), r.getAs[Double]("s_sum"),
            r.getAs[Double]("est_distinct")))).toMap
    val batch = estimates(graft.llm.Hll.bucketMaxes(
      rows.toDF("g", "ts", "k"), "g", "k"))
    val input = MemoryStream[(String, Timestamp, String)]
    val maxes = StreamingDetect.windowedHllMaxes(
      input.toDF().toDF("g", "ts", "k"), "g", "ts", "k", "1 hour")
    val q = maxes.writeStream.format("memory").queryName("hllsink")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(100): _*)
      q.processAllAvailable()
      input.addData(rows.drop(100): _*)
      q.processAllAvailable()
      assert(spark.sql(
        "select count(distinct window_start) from hllsink")
        .head.getLong(0) > 1, "test must span multiple windows")
      // whole-stream read: the raw UNION of increments through the
      // finisher (merge = per-bucket MAX)
      val union = spark.sql("select group, bucket, mj from hllsink")
      assert(estimates(union) === batch)
      // per-window read ≡ batch sketch of that window's rows
      val w0end = base + 3600L * 1000
      val w0 = spark.sql(
        s"select group, bucket, mj from hllsink where window_start = " +
          s"timestamp'2024-01-01 00:00:00'")
      val w0batch = estimates(graft.llm.Hll.bucketMaxes(
        rows.filter(_._2.getTime < w0end).toDF("g", "ts", "k"),
        "g", "k"))
      assert(estimates(w0) === w0batch)
    } finally q.stop()
  }

  test("NB quality scoring runs unchanged on a stream (stateless scan-stage)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val train = Seq(
      (0L, "cur", "prose article reference careful measured writing"),
      (1L, "cur", "article prose cited detailed careful"),
      (2L, "raw", "buy cheap click spam deal now"),
      (3L, "raw", "spam click buy deal")).toDF("doc_id", "source", "text")
    val model = graft.llm.NbQuality.collectModel(
      graft.llm.NbQuality.train(train, "text",
        col("source") === "cur", 256))
    val incoming = Seq((10L, "careful cited prose"),
      (11L, "cheap spam deal"), (12L, "article deal"))
    val batch = graft.llm.NbQuality.scoreMapOnly(
        incoming.toDF("doc_id", "text"), "doc_id", "text", model, 256)
      .orderBy("doc_id").collect().toSeq
    val input = MemoryStream[(Long, String)]
    val scored = graft.llm.NbQuality.scoreMapOnly(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", model, 256)
    val q = scored.writeStream.format("memory").queryName("nbq")
      .outputMode("append").start()
    try {
      input.addData(incoming.take(2): _*)
      q.processAllAvailable()
      input.addData(incoming.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select doc_id, n_tokens, nb_llr_mean, is_quality from nbq")
        .orderBy("doc_id").collect().toSeq
      assert(streamed == batch)
      val flags = streamed.map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Int]("is_quality")).toMap
      assert(flags(10L) == 1 && flags(11L) == 0)
    } finally q.stop()
  }

  test("streaming BM25 over a persisted index equals batch Bm25.topK") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docsDf = corpus.toDF("doc_id", "text")
    // self-retrieval queries plus a partial-overlap novel query and a
    // no-hit query (must emit nothing, like the batch inner join)
    val queries = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (10L, "quick zebras judge the dog"),
      (11L, "zzz yyy xxx"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6),
        r.getLong(3))
    val batch = graft.llm.Bm25.topK(docsDf,
        queries.toDF("doc_id", "text"), "doc_id", "doc_id", "text",
        k = 3)
      .select(col("query_id"), col("doc_id"), col("bm25"), col("rank"))
      .collect().map(key).toSet
    assert(batch.nonEmpty && !batch.exists(_._1 == 11L))
    val index = StreamingRetrieval.buildBm25Index(docsDf, "doc_id",
      "text")
    val input = MemoryStream[(Long, String)]
    val ranked = StreamingRetrieval.bm25TopK(
      input.toDF().toDF("query_id", "text"), index, "query_id", "text",
      k = 3)
    val q = ranked.toDF().writeStream.format("memory")
      .queryName("sbm25").outputMode("append").start()
    try {
      input.addData(queries.take(2): _*)
      q.processAllAvailable()
      input.addData(queries.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select query_id, doc_id, bm25, rank from sbm25")
        .collect().map(key).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("bm25TopK dedups a repeated query_id across rows in one batch") {
    import spark.implicits._
    val docsDf = corpus.toDF("doc_id", "text")
    val index = StreamingRetrieval.buildBm25Index(docsDf, "doc_id",
      "text")
    val once = Seq((1L, "the quick brown fox jumps over the lazy dog"))
    // same query_id twice (overlapping term sets) must score exactly
    // like the single row: the batch face dedups (query_id, term)
    // globally, so shared terms must not double-count
    val twice = once ++ Seq((1L, "quick fox dog"))
    val a = StreamingRetrieval.bm25TopK(
        once.toDF("query_id", "text"), index, "query_id", "text", k = 3)
      .collect().toSet
    val b = StreamingRetrieval.bm25TopK(
        twice.toDF("query_id", "text"), index, "query_id", "text", k = 3)
      .collect().toSet
    assert(a == b, "duplicate query rows must not double-count terms")
  }

  test("compaction loop: incremental candidates + periodic sweep converge to batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the full documented loop: ingest increments → stream-static
    // nearDupCandidates against the persisted signature table → periodic
    // compaction (intra-increment candidate sweep + signature-table
    // refresh) → resolveComponents. The incremental keep-set must land
    // exactly on the one-shot batch pipeline's.
    val slice = corpus ++ Seq(
      (7L, "the quick brown fox jumps over the lazy cat"), // edit of 1
      (8L, "pack my box with five dozen liquor jugs now")) // edit of 2
    // increments chosen so pairs appear in BOTH ways the loop covers
    // them: (1,3) sits inside increment 1 (only the sweep can see it);
    // (2,5), (1,7), (2,8) straddle increments (only the stream join
    // can see them before the final sweep)
    val incs = Seq(Seq(0, 1, 2), Seq(3, 4, 6), Seq(5, 7))
      .map(_.map(slice))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))
    val ingested = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val pairs = scala.collection.mutable.Set[(Long, Long, Long)]()
    // signature table starts empty; each cycle's compaction refreshes it
    var sigTable = graft.llm.Dedup.minhashSignatures(
      slice.toDF("doc_id", "text").limit(0), "doc_id", "text", 3, 16)
    incs.zipWithIndex.foreach { case (inc, k) =>
      // --- stream phase: increment probes the CURRENT signature table
      val input = MemoryStream[(Long, Timestamp, String)]
      val cand = StreamingDedup.nearDupCandidates(
        input.toDF().toDF("doc_id", "ts", "text"), sigTable, "doc_id",
        "ts", "text", shingleN = 3, numHashes = 16, bands = 8,
        minEst = 0.5)
      val q = cand.writeStream.format("memory").queryName(s"loop$k")
        .outputMode("append").start()
      try {
        input.addData(inc.zipWithIndex.map { case ((i, t), j) =>
          (i, docAt(k * 10 + j), t) }: _*)
        q.processAllAvailable()
        pairs ++= spark.sql(s"select id_a, id_b, est_jaccard from loop$k")
          .collect().map(key)
      } finally q.stop()
      // --- compaction sweep: candidates WITHIN the increment (neither
      // side was in the table yet), then refresh the signature table
      ingested ++= inc
      pairs ++= graft.llm.Dedup.minhashCandidates(
          inc.toDF("doc_id", "text"), "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 8, minEst = 0.5)
        .collect().map(key)
      sigTable = graft.llm.Dedup.minhashSignatures(
        ingested.toSeq.toDF("doc_id", "text"), "doc_id", "text", 3, 16)
        .localCheckpoint(true) // persisted-table stand-in
    }
    // --- one-shot batch reference over the same corpus
    val full = slice.toDF("doc_id", "text")
    val batchPairs = graft.llm.Dedup.minhashCandidates(full, "doc_id",
        "text", shingleN = 3, numHashes = 16, bands = 8, minEst = 0.5)
      .collect().map(key).toSet
    assert(pairs.toSet === batchPairs)
    // the slice must exercise both tiers: exact clones and sub-1.0 edits
    assert(batchPairs.exists(_._3 === 1000000L))
    assert(batchPairs.exists(_._3 < 1000000L))
    // --- resolve: incremental keep-set ≡ batch keep-set
    def keepSet(ps: Set[(Long, Long, Long)]) = {
      val pdf = ps.toSeq.map(p => (p._1, p._2)).toDF("id_a", "id_b")
      graft.llm.Dedup.resolveComponents(full, pdf, "doc_id")
        .filter(col("is_kept")).collect()
        .map(_.getAs[Long]("doc_id")).toSet
    }
    val incremental = keepSet(pairs.toSet)
    assert(incremental === keepSet(batchPairs))
    // clone/edit clusters {1,3,7} and {2,5,8} each keep their min id
    assert(incremental === Set(1L, 2L, 4L, 6L))
  }

  test("minhash dedup keeps every doc shorter than shingleN words") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 7-9 are all sub-shingle (< 3 words) — they share the all-null
    // signature; an unguarded key would keep only the first of them
    val withShort = corpus ++ Seq((7L, "hi"), (8L, "ok bye"), (9L, "hi"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val kept = StreamingDedup.minhashDedup(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "text",
      shingleN = 3, numHashes = 16)
    val q = kept.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData(withShort.zipWithIndex.map { case ((i, t), k) =>
        (i, docAt(k), t) }: _*)
      q.processAllAvailable()
      val streamKept = spark.sql("select doc_id from sdedup").collect()
        .map(_.getLong(0)).toSet
      assert(streamKept === Set(1L, 2L, 4L, 6L, 7L, 8L, 9L))
      // batch face agrees
      val batchKept = StreamingDedup.minhashDedup(
        withShort.zipWithIndex.map { case ((i, t), k) => (i, docAt(k), t) }
          .toDF("doc_id", "ts", "text"), "ts", "text",
        shingleN = 3, numHashes = 16)
        .collect().map(_.getLong(0)).toSet
      assert(batchKept === streamKept)
    } finally q.stop()
  }

  test("streaming exact dedup drops re-arrivals within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val kept = StreamingDedup.exactDedup(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", Seq("text"))
    val q = kept.writeStream.format("memory").queryName("ededup")
      .outputMode("append").start()
    try {
      input.addData((1L, docAt(1), "aaa"), (2L, docAt(2), "bbb"))
      q.processAllAvailable()
      input.addData((3L, docAt(3), "aaa"), (4L, docAt(4), "ccc"))
      q.processAllAvailable()
      val ids = spark.sql("select doc_id from ededup").collect()
        .map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming span dedup: known + stream-kept keys == batch distinct spans") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sA = (1 to 4).map(i => s"a$i").mkString(" ")
    val sB = (1 to 4).map(i => s"b$i").mkString(" ")
    val sC = (1 to 4).map(i => s"c$i").mkString(" ")
    val sD = (1 to 4).map(i => s"d$i").mkString(" ")
    // span table from the last batch sweep: the compacted corpus holds A, B
    val known = Seq(sA, sB).toDF("span_text")
      .select(md5(col("span_text")).as("span_key"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val kept = StreamingDedup.spanDedupStream(
      input.toDF().toDF("doc_id", "ts", "text"), known,
      "doc_id", "ts", "text", span = 4)
    val q = kept.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // doc 1: A is known (drop), C is new (keep)
      input.addData((1L, docAt(1), s"$sA $sC"))
      q.processAllAvailable()
      // doc 2: C repeats WITHIN the stream across micro-batches (state
      // must carry over -> drop), D is new (keep)
      input.addData((2L, docAt(2), s"$sC $sD"))
      q.processAllAvailable()
      val rows = spark.sql(
        "select doc_id, span_idx, span_text from sdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows === Set((1L, 1L, sC), (2L, 1L, sD)))
      // SET parity with the batch tier: distinct span keys of
      // (compacted corpus U increments) == known keys U emitted keys.
      // Every doc here is exactly two 4-word spans, so the corpus's
      // distinct span set is {A, B, C, D} by construction.
      val spanKeys = Seq(sA, sB, sC, sD).toDF("t")
        .select(md5(col("t")).as("k")).collect().map(_.getString(0)).toSet
      val knownKeys = known.collect().map(_.getString(0)).toSet
      val emitted = spark.sql("select span_text from sdedup").collect()
        .map(_.getString(0)).toSet
      val emittedKeys = emitted.map(t => Seq(t).toDF("t")
        .select(md5(col("t"))).head.getString(0))
      assert(knownKeys ++ emittedKeys === spanKeys)
    } finally q.stop()
  }

  test("statefulHoltWinters equals the batch recursion across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val m = 4
    val vals = Array.tabulate(40)(t =>
      10.0 + 0.5 * t + Seq(3.0, -1.0, -4.0, 2.0)(t % m) +
        ((t * 7919) % 13) * 0.1)
    val batch = graft.models.HoltWinters.forecast(
        vals.zipWithIndex.map { case (v, t) => ("s", pt(t, v).ts, v) }
          .toSeq.toDF("sid", "ts", "v"), "sid", "ts", "v", m)
      .collect()
      .map(r => (r.getTimestamp(1).getTime, r.getAs[Double]("hw_pred"),
        r.getAs[Double]("hw_resid"))).toSet
    val input = MemoryStream[Point]
    val out = statefulHoltWinters(input.toDS(), m)
    val q = out.writeStream.format("memory").queryName("hwstream")
      .outputMode("append").start()
    try {
      val pts = vals.zipWithIndex.map { case (v, t) => pt(t, v) }
      // split mid-warmup (before 2m) and mid-stream
      input.addData(pts.take(5): _*)
      q.processAllAvailable()
      input.addData(pts.slice(5, 20): _*)
      q.processAllAvailable()
      input.addData(pts.drop(20): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from hwstream").collect()
        .map(r => (r.getTimestamp(1).getTime, r.getAs[Double]("hw_pred"),
          r.getAs[Double]("hw_resid"))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("statefulCroston equals the batch decomposition across " +
      "micro-batch splits (mid-zero-run and between demands)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // intermittent series: long zero runs with sparse demand spikes
    val vals = Array.tabulate(60)(t =>
      if ((t * 7919) % 11 < 3) 5.0 + ((t * 104729) % 7) else 0.0)
    assert(vals.count(_ > 0.0) >= 10, "fixture must be intermittent")
    val batch = graft.models.Croston.croston(
        vals.zipWithIndex.map { case (v, t) => ("s", pt(t, v).ts, v) }
          .toSeq.toDF("sid", "ts", "v"), "sid", "ts", "v",
        demandIf = col("v") > 0.0, alpha = 0.25)
      .collect().map(r => (r.getAs[Long]("n_demands"),
        r.getAs[Double]("z_hat"), r.getAs[Double]("p_hat"),
        r.getAs[Double]("croston_forecast"))).head
    val input = MemoryStream[Point]
    val out = statefulCroston(input.toDS(), _ > 0.0, alpha = 0.25)
    val q = out.writeStream.format("memory").queryName("crostonstream")
      .outputMode("append").start()
    try {
      val pts = vals.zipWithIndex.map { case (v, t) => pt(t, v) }
      // split 1 lands inside a zero run (open interval crosses the
      // batch boundary); split 2 lands right after a demand
      val cut2 = vals.indices.filter(vals(_) > 0.0)(5) + 1
      input.addData(pts.take(7): _*)
      q.processAllAvailable()
      input.addData(pts.slice(7, cut2): _*)
      q.processAllAvailable()
      input.addData(pts.drop(cut2): _*)
      q.processAllAvailable()
      val rows = spark.sql("select * from crostonstream").collect()
      // one emission per demand point, k = 1..n with no gaps
      val ks = rows.map(_.getAs[Long]("n_demands")).sorted.toSeq
      assert(ks == (1L to ks.length).toSeq, s"demand ordinals: $ks")
      val last = rows.maxBy(_.getAs[Long]("n_demands"))
      assert((last.getAs[Long]("n_demands"), last.getAs[Double]("z_hat"),
        last.getAs[Double]("p_hat"),
        last.getAs[Double]("croston_forecast")) === batch)
    } finally q.stop()
  }

  test("stateless hygiene tier (pii redact + c4 clean) runs unchanged on a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "mail a@b.co now.\nshort.\nthis good line stays fine!"),
      (2L, "call 555-123-4567 today ok.\nlorem ipsum filler here."),
      (3L, "no lines survive here\nat all"))
    val batch = {
      val d = TextAnalysis.c4LineFilter(
        docs.toDF("doc_id", "text"), "text")
      TextAnalysis.piiStats(d, "clean_text")
        .withColumn("redacted", TextAnalysis.redactPii(col("clean_text")))
        .select("doc_id", "n_kept", "pii_total", "redacted")
        .collect().map(_.toSeq).toSet
    }
    val input = MemoryStream[(Long, String)]
    val streamed = {
      val d = TextAnalysis.c4LineFilter(
        input.toDS().toDF("doc_id", "text"), "text")
      TextAnalysis.piiStats(d, "clean_text")
        .withColumn("redacted", TextAnalysis.redactPii(col("clean_text")))
        .select("doc_id", "n_kept", "pii_total", "redacted")
    }
    val q = streamed.writeStream.format("memory").queryName("hygiene")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from hygiene").collect()
        .map(_.toSeq).toSet
      assert(got === batch)
      // doc 3 must have been dropped by the min-kept-lines rule in BOTH
      assert(!got.exists(_.head == 3L))
    } finally q.stop()
  }

  test("packStream equals batch packSequences across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingPack._
    // 40 docs over 3 shards, ragged token counts, budget small enough
    // that every shard crosses several sequence boundaries
    val docs = (0L until 40L).map(i =>
      PackDoc(i, (i % 3).toInt, (i % 7) + 1))
    val batch = graft.llm.Sampling.packSequences(
        docs.map(d => (d.doc_id, d.shard, d.tokens))
          .toDF("doc_id", "sh", "tokens"),
        "doc_id", col("tokens"), 16, col("sh"))
      .select("doc_id", "shard", "seq_id", "seq_offset").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val input = MemoryStream[PackDoc]
    val out = packStream(input.toDS(), budget = 16)
    val q = out.writeStream.format("memory").queryName("spack")
      .outputMode("append").start()
    try {
      // id order per shard across batches — the append-only contract
      input.addData(docs.filter(_.doc_id < 13): _*)
      q.processAllAvailable()
      input.addData(docs.filter(d => d.doc_id >= 13 && d.doc_id < 26): _*)
      q.processAllAvailable()
      input.addData(docs.filter(_.doc_id >= 26): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from spack").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === batch)
      // the parity is only meaningful if state actually carried: late
      // docs must land deep into later sequences
      assert(got.exists { case (id, _, seq, _) => id >= 26 && seq >= 2 })
    } finally q.stop()
  }

  test("statefulEwma equals the frozen-baseline batch chart across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val warmup = 10
    // drifting series with a mid-stream level shift past the baseline
    val vals = Array.tabulate(40)(t =>
      (if (t % 2 == 0) 1.0 else -1.0) + (if (t >= 25) 2.5 else 0.0) +
        ((t * 7919) % 7) * 0.05)
    val batch = graft.models.Spc.ewmaChart(
        vals.zipWithIndex.map { case (v, t) => ("s", pt(t, v).ts, v) }
          .toSeq.toDF("sid", "ts", "v"), "sid", "ts", "v",
        baselineN = warmup)
      .collect()
      .map(r => (r.getTimestamp(1).getTime, r.getAs[Double]("ewma"),
        r.getAs[Double]("limit"), r.getAs[Int]("is_anomaly"))).toSet
    val input = MemoryStream[Point]
    val out = statefulEwma(input.toDS(), warmup)
    val q = out.writeStream.format("memory").queryName("ewmastream")
      .outputMode("append").start()
    try {
      val pts = vals.zipWithIndex.map { case (v, t) => pt(t, v) }
      input.addData(pts.take(4): _*) // split mid-warmup
      q.processAllAvailable()
      input.addData(pts.slice(4, 22): _*)
      q.processAllAvailable()
      input.addData(pts.drop(22): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from ewmastream").collect()
        .map(r => (r.getTimestamp(1).getTime, r.getAs[Double]("ewma"),
          r.getAs[Double]("limit"), r.getAs[Int]("is_anomaly"))).toSet
      assert(got === batch)
      // the shift must actually flag (parity on an all-zeros flag
      // column would prove nothing about the chart)
      assert(got.count(_._4 == 1) > 5)
    } finally q.stop()
  }

  test("statefulCusum equals the frozen-baseline batch chart across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val warmup = 12
    val vals = Array.tabulate(40)(t =>
      (if (t % 2 == 0) 0.8 else -0.8) + (if (t >= 20) 1.6 else 0.0))
    val batch = graft.models.Spc.cusum(
        vals.zipWithIndex.map { case (v, t) => ("s", pt(t, v).ts, v) }
          .toSeq.toDF("sid", "ts", "v"), "sid", "ts", "v",
        k = 0.5, h = 3.0, baselineN = warmup)
      .collect()
      .map(r => (r.getTimestamp(1).getTime, r.getAs[Double]("cusum_hi"),
        r.getAs[Double]("cusum_lo"), r.getAs[Int]("is_anomaly"))).toSet
    val input = MemoryStream[Point]
    val out = statefulCusum(input.toDS(), warmup, k = 0.5, h = 3.0)
    val q = out.writeStream.format("memory").queryName("cusumstream")
      .outputMode("append").start()
    try {
      val pts = vals.zipWithIndex.map { case (v, t) => pt(t, v) }
      input.addData(pts.take(7): _*) // split mid-warmup
      q.processAllAvailable()
      input.addData(pts.slice(7, 25): _*)
      q.processAllAvailable()
      input.addData(pts.drop(25): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from cusumstream").collect()
        .map(r => (r.getTimestamp(1).getTime, r.getAs[Double]("cusum_hi"),
          r.getAs[Double]("cusum_lo"), r.getAs[Int]("is_anomaly"))).toSet
      assert(got === batch)
      assert(got.count(_._4 == 1) > 5, "the planted shift must alarm")
    } finally q.stop()
  }

  test("statefulFunnel reaches the batch funnel's levels across splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    // u1 converts fully; u2 clicks late (outside 1h window); u3 has a
    // click arriving in a LATER micro-batch than its view; u4 never views
    def fe(u: String, sec: Int, t: String) = FunnelEvent(u,
      Timestamp.valueOf(f"2024-01-01 ${sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d"), t)
    val evs = Seq(
      fe("u1", 10, "view"), fe("u1", 100, "click"),
      fe("u1", 500, "purchase"),
      fe("u2", 20, "view"), fe("u2", 4000, "click"),
      fe("u3", 30, "view"), fe("u3", 2000, "click"),
      fe("u4", 40, "click"), fe("u4", 50, "purchase"))
    val batch = graft.events.Behavior.funnel(
        evs.map(e => (e.user_id, e.ts, e.event_type))
          .toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", steps, "1 HOURS")
      .collect().map(r => r.getAs[String]("user_id") ->
        r.getAs[Int]("level")).toMap
    val input = MemoryStream[FunnelEvent]
    val out = statefulFunnel(input.toDS(), steps, 3600L * 1000)
    val q = out.writeStream.format("memory").queryName("funnelstream")
      .outputMode("append").start()
    try {
      // split so u3's click lands a batch after its view
      input.addData(evs.take(5): _*)
      q.processAllAvailable()
      input.addData(evs.drop(5): _*)
      q.processAllAvailable()
      val levels = spark.sql("select * from funnelstream").collect()
        .groupBy(_.getAs[String]("user_id"))
        .view.mapValues(_.map(_.getAs[Int]("level")).max).toMap
      assert(levels("u1") == 3 && batch("u1") == 3)
      assert(levels("u2") == 1 && batch("u2") == 1)
      assert(levels("u3") == 2 && batch("u3") == 2,
        "state must carry the anchor across micro-batches")
      assert(!levels.contains("u4") && batch("u4") == 0)
    } finally q.stop()
  }

  test("statefulSessions assigns batch-identical session ordinals " +
      "across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def se(u: String, sec: Int) = SessionEvent(u,
      Timestamp.valueOf(
        f"2024-01-01 ${sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d"))
    // u1: sessions split by a 200s silence (gap 60s); the split lands
    // MID-SESSION across micro-batches; u2 interleaves
    val evs = Seq(
      se("u1", 0), se("u1", 30), se("u1", 55),
      se("u2", 10),
      se("u1", 300), se("u1", 330),   // second session
      se("u2", 400),                  // u2 second session
      se("u1", 700))                  // third session
    val batch = graft.events.Sessions.sessionize(
        evs.map(e => (e.user_id, e.ts)).toDF("user_id", "ts"),
        "user_id", "ts", gapSeconds = 60L)
      .collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[Timestamp]("ts"))
        -> r.getAs[Long]("session_seq")).toMap
    val input = MemoryStream[SessionEvent]
    val out = statefulSessions(input.toDS(), gapSeconds = 60L)
    val q = out.writeStream.format("memory").queryName("sessstream")
      .outputMode("append").start()
    try {
      // split mid-first-session AND mid-second-session
      input.addData(evs.take(2): _*)
      q.processAllAvailable()
      input.addData(evs.slice(2, 6): _*)
      q.processAllAvailable()
      input.addData(evs.drop(6): _*)
      q.processAllAvailable()
      val got = spark.sql("select * from sessstream").collect()
        .map(r => (r.getAs[String]("user_id"), r.getAs[Timestamp]("ts"))
          -> r.getAs[Long]("session_seq")).toMap
      assert(got === batch,
        "stream session ordinals must equal the batch face for " +
          "in-order arrival at any micro-batch split")
    } finally q.stop()
  }
}
