package graft.bench

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The E1 main's leaderboard must be able to rank models: on its seeded
  * injected-anomaly fleet, stl and kalman both find events. */
class BenchmarkRunnerSpec extends SparkSpec {

  test("the E1 leaderboard gives stl and kalman a positive event F1") {
    val out = java.nio.file.Files.createTempDirectory("e1").toString
    val lb = BenchmarkRunner.run(spark, out, Seq("stl", "kalman")).collect()
    assert(lb.length === 8, "2 models x 4 series")
    def f1(m: String) = lb.filter(_.getAs[String]("Model") == m)
      .map(_.getAs[Double]("Event_F1")).toSeq
    // stl finds events on every series; the local-level Kalman model
    // mostly tracks the daily swing, but it must find some
    assert(f1("STL").length === 4 && f1("STL").forall(_ > 0.0),
      s"STL Event_F1 ${f1("STL")}")
    assert(f1("KALMAN").length === 4 && f1("KALMAN").max > 0.0,
      s"KALMAN Event_F1 ${f1("KALMAN")}")
  }

  test("the fleet labels one center per injected anomaly, four per series") {
    val (series, labels) = Fleet(spark)
    assert(series.count() === 4L * 672)
    val perSeries = labels.groupBy("series_id").count().collect()
      .map(_.getLong(1))
    assert(perSeries.toSeq === Seq(4L, 4L, 4L, 4L))
    assert(labels.join(series, col("label_ts") === col("ts") &&
      labels("series_id") === series("series_id")).count() === 16L)
  }
}
