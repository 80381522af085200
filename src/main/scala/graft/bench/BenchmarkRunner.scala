package graft.bench

import org.apache.spark.sql.functions._

import graft.io.NabIo
import graft.metrics.Metrics

/** E1: the runnable final benchmark (run_final_benchmark.py) — executes
  * every model pipeline over the events series table, persists the
  * results tree (`<out>/<model>/events/{predictions,metrics}`), then
  * builds the leaderboard CSV `<out>/metrics_summary` from the tree it
  * just wrote (aggregate_metrics.py), so each pipeline runs once.
  *
  * Usage: runMain graft.bench.BenchmarkRunner <sfDir> <outDir> [models]
  * Env: SPARK_GRAFT_CPUS (default all cores).
  */
object BenchmarkRunner {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_results"
    val models = if (args.length > 2) args(2).split(",").toSeq
                 else Seq("stl", "kalman")
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("WARN")
    // dual-generation events read (ns-as-long or native µs) — shared
    // with the query surface
    val series = graft.SparkEntry.readEvents(spark, sfDir)
    // labels: each series' maximum-value point (deterministic, one per
    // series, ties broken by earliest ts), one second off-grid
    val wmax = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("value").desc, col("ts").asc)
    val labels = series
      .withColumn("__r", row_number().over(wmax))
      .filter(col("__r") === 1)
      .select(col("user_id"),
        (col("ts") + expr("INTERVAL 1 SECOND")).as("label_ts"))
    val cfg = Pipelines.Config(period = 24, rollingWindow = 24)

    models.foreach { m =>
      val (pred, metrics) = m match {
        case "stl" => Pipelines.runStl(series, labels, "user_id", "ts",
          "value", cfg)
        case "stl_exact" => Pipelines.runStl(series, labels, "user_id",
          "ts", "value", cfg, exact = true)
        case "kalman" => Pipelines.runKalman(series, labels, "user_id",
          "ts", "value", cfg)
        case "ar" => Pipelines.runAutoRegressor(series, labels, "user_id",
          "ts", "value", cfg, seqLen = 12)
        case "bsts" => Pipelines.runBsts(series, labels, "user_id", "ts",
          "value", cfg)
        case "gp" => Pipelines.runGp(series, labels, "user_id", "ts",
          "value", cfg)
        case "hybrid" => Pipelines.runHybrid(series, labels, "user_id",
          "ts", "value", cfg)
      }
      Pipelines.persist(s"$outDir/$m/events", pred, metrics)
      println(s"[benchmark] $m done")
    }
    val lb = Metrics.leaderboard(Seq(NabIo.readMetricsTree(spark, outDir)
      .filter(col("Model").isin(models.map(_.toUpperCase): _*))
      .select(col("Model"), col("user_id").cast("string").as("Dataset"),
        col("f1").as("Event_F1"), col("precision").as("Precision"),
        col("recall").as("Recall"), col("fp_per_day").as("FP_per_Day"),
        col("median_latency_minutes").as("Latency_Min"))))
    lb.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/metrics_summary")
    lb.show(20, false)
    spark.stop()
  }
}
