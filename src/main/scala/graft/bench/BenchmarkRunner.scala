package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.NabIo
import graft.metrics.Metrics

/** E1: the runnable final benchmark (run_final_benchmark.py) — executes
  * every model pipeline over the seeded injected-anomaly [[Fleet]],
  * persists the results tree (`<out>/<model>/fleet/{predictions,metrics}`),
  * then builds the leaderboard CSV `<out>/metrics_summary` from the tree
  * it just wrote (aggregate_metrics.py), so each pipeline runs once.
  *
  * Usage: runMain graft.bench.BenchmarkRunner [outDir] [models]
  * Env: SPARK_GRAFT_CPUS (default all cores).
  */
object BenchmarkRunner {

  /** Runs `models` on the fleet, writes the tree under `outDir` and
    * returns the leaderboard. */
  def run(spark: SparkSession, outDir: String,
          models: Seq[String]): DataFrame = {
    val (series, labels) = Fleet(spark)
    val key = "series_id"
    models.foreach { m =>
      val (pred, metrics) = Pipelines.runModel(m, series, labels, key, "ts",
        "value", Pipelines.Config())
      Pipelines.persist(s"$outDir/$m/fleet", pred, metrics, key)
      println(s"[benchmark] $m done")
    }
    Metrics.leaderboard(Seq(Pipelines.leaderboardRows(
      NabIo.readMetricsTree(spark, outDir)
        .filter(col("Model").isin(models.map(_.toUpperCase): _*)),
      col("Model"), key)))
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/graft_results"
    val models = if (args.length > 1) args(1).split(",").toSeq
                 else Seq("stl", "kalman")
    val spark = graft.core.Session()
    spark.sparkContext.setLogLevel("WARN")
    val lb = run(spark, outDir, models)
    lb.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/metrics_summary")
    lb.show(20, false)
    spark.stop()
  }
}
