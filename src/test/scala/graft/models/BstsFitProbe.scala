package graft.models

/** Diagnostic main (not a test): compares the dummy-seasonal BSTS
  * coordinate-MLE optimum on the NYC-Taxi train half against
  * harder-searched alternatives, printing the log-likelihood each
  * reaches. Used to adjudicate the GoldenSpec flag-rate delta vs the
  * reference artifact (0.990 vs 0.943): if no alternative basin beats
  * the shipped fit's likelihood, the delta is statsmodels landing on a
  * different (not better) optimum.
  *
  *   sbt "Test/runMain graft.models.BstsFitProbe"
  */
object BstsFitProbe {

  def main(args: Array[String]): Unit = {
    val src = scala.io.Source.fromFile(
      "/root/reference/results/bocpd/realKnownCause__nyc_taxi.csv/cp_probs.csv")
    val values = try {
      src.getLines().drop(1).map(_.split(",")(1).toDouble).toArray
    } finally src.close()
    val train = values.take(values.length / 2)
    println(s"n=${values.length} train=${train.length}")
    val seas = Seq(Bsts.Dummy(48))
    val m0 = train.sum / train.length
    val v0 = math.max(train.map(x => (x - m0) * (x - m0)).sum / train.length, 1e-8)

    def ll(h: Double, qL: Double, qS: Double, qSe: Double): Double = {
      val model = new Bsts.Model(seas, qL, qS, Seq(qSe), h)
      val (a, pm) = model.initState(train(0), v0 * 1e3)
      model.filter(train, a, pm)
    }

    // the shipped fit (rounds=2, goldenIters=12)
    val t0 = System.nanoTime()
    val (qL, qS, qSe, h) = Bsts.fit(train, seas)
    println(f"shipped: ll=${ll(h, qL, qS, qSe.head)}%.4f  h=$h%.4g qL=$qL%.4g qS=$qS%.4g qSeas=${qSe.head}%.4g  (${(System.nanoTime()-t0)/1e9}%.1f s)")

    // more coordinate rounds
    for (r <- Seq(3, 4)) {
      val t = System.nanoTime()
      val (a1, a2, a3, a4) = Bsts.fit(train, seas, rounds = r)
      println(f"rounds=$r: ll=${ll(a4, a1, a2, a3.head)}%.4f  h=$a4%.4g qL=$a1%.4g qS=$a2%.4g qSeas=${a3.head}%.4g  (${(System.nanoTime()-t)/1e9}%.1f s)")
    }
    // more golden iterations
    val t2 = System.nanoTime()
    val (b1, b2, b3, b4) = Bsts.fit(train, seas, rounds = 3, goldenIters = 24)
    println(f"rounds=3,it=24: ll=${ll(b4, b1, b2, b3.head)}%.4f  h=$b4%.4g qL=$b1%.4g qS=$b2%.4g qSeas=${b3.head}%.4g  (${(System.nanoTime()-t2)/1e9}%.1f s)")

    // coarse basin scan: vary each start an order of magnitude around the
    // shipped heuristics and report the best grid point's ll (no polish)
    var best = Double.NegativeInfinity
    var bestP = ""
    for (hf <- Seq(0.05, 0.5, 1.0); lf <- Seq(1e-3, 1e-2, 1e-1);
         sf <- Seq(1e-5, 1e-4, 1e-3); ef <- Seq(1e-4, 1e-3, 1e-2, 1e-1)) {
      val v = ll(v0 * hf, v0 * lf, v0 * sf, v0 * ef)
      if (v > best) { best = v; bestP = s"hf=$hf lf=$lf sf=$sf ef=$ef" }
    }
    println(f"grid best (unpolished): ll=$best%.4f at $bestP")

    // flag rate each optimum produces through the REAL detection tail
    // (the GoldenSpec full-pipeline cfg; reference artifact flags 0.943)
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val src2 = scala.io.Source.fromFile(
      "/root/reference/results/bocpd/realKnownCause__nyc_taxi.csv/cp_probs.csv")
    val tsStrs = try {
      src2.getLines().drop(1).map(_.split(",")(0)).toArray
    } finally src2.close()
    val labelIdx = Set(5942, 7183, 8526, 8834, 10080)
    val isAnom = Array.tabulate(values.length)(i =>
      if (labelIdx.exists(c => math.abs(c - i) <= 3)) 1 else 0)
    val trainEnd = values.length / 2
    val cfg = graft.bench.Pipelines.Config(
      labelWindowRows = 3, trainFrac = 0.5, valFrac = 0.0,
      rollingWindow = 48, minPeriods = 5, persistence = 2, gap = 3,
      ks = (0 until 10).map(i => 3.0 + i), maxRate = 1.1)
    def flagRate(qL: Double, qS: Double, qSe: Double, h: Double): Unit = {
      val model = new Bsts.Model(seas, qL, qS, Seq(qSe), h)
      val (a, pm) = model.initState(values(0), v0 * 1e3)
      val oneMean = new Array[Double](trainEnd)
      model.filter(train, a, pm, oneMean, null)
      val (fm, _) = model.forecast(a, pm, values.length - trainEnd)
      val rows = (0 until values.length).map { i =>
        val mean = if (i < trainEnd) oneMean(i) else fm(i - trainEnd)
        ("s", java.sql.Timestamp.valueOf(tsStrs(i)), values(i), isAnom(i),
          values(i) - mean, if (i < trainEnd) "Train" else "Test")
      }
      val df = rows.toDF("series_id", "ts", "value", "is_anomaly",
        "resid", "split")
      val (pred, metrics) = graft.bench.Pipelines.detectAndScore(
        df, "series_id", "ts", cfg, tuneSplit = "Test")
      val fr = pred.agg(sum("detected").cast("double") / count(lit(1)))
        .collect().head.getDouble(0)
      val m = metrics.collect().head
      println(f"flagRate h=$h%.4g qL=$qL%.4g: rate=$fr%.4f best_k=${m.getAs[Double]("best_k")} tp=${m.getAs[Long]("tp")} fn=${m.getAs[Long]("fn")}")
    }
    println("-- detection tail per optimum --")
    flagRate(qL, qS, qSe.head, h)
    locally { val (a1, a2, a3, a4) = Bsts.fit(train, seas, rounds = 3)
      flagRate(a1, a2, a3.head, a4) }
    locally { val (a1, a2, a3, a4) = Bsts.fit(train, seas, rounds = 4)
      flagRate(a1, a2, a3.head, a4) }
    spark.stop()
  }
}
