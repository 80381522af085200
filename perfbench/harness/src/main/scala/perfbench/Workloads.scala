package perfbench

import java.io.File

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.bench.Pipelines
import graft.core.SeriesOps
import graft.io.NabIo
import graft.metrics.Metrics
import graft.models.{KalmanLocalLevel, StlLite}

/** One workload: a pass is a fixed list of operations; `pass` returns
  * how many of them failed. What a pass writes goes under `outDir`. */
trait Workload {
  def operations: Int
  def pass(spark: SparkSession, span: Span, outDir: String): Int
}

/** Wraps each call into a layer; the traced run records it. `body`
  * returns the seconds it spent building a query (0 where it builds none). */
trait Span {
  def apply(layer: String)(body: => Double): Unit
}

object Span {
  val untraced: Span = new Span {
    def apply(layer: String)(body: => Double): Unit = body
  }
  def traced(t: Tracer): Span = new Span {
    def apply(layer: String)(body: => Double): Unit = t.span(layer)(body)
  }
}

/** Queries of `SparkEntry.queries`, each built and then materialized
  * through the `noop` sink. The first pass (the untimed warm-up) writes
  * parquet under `outDir` instead, for the checks. */
final class QueryWorkload(dataDir: String, members: Seq[(String, String)])
    extends Workload {
  def operations: Int = members.size

  private var checked = false

  def pass(spark: SparkSession, span: Span, outDir: String): Int = {
    val keepOutputs = !checked
    checked = true
    members.foreach { case (query, layer) =>
      span(layer) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(query)(spark, dataDir)
        val build = (System.nanoTime() - t0) / 1e9
        if (keepOutputs) df.write.mode("overwrite").parquet(s"$outDir/$query")
        else df.write.format("noop").mode("overwrite").save()
        build
      }
    }
    0
  }
}

/** The paper's E1 run over a fleet in NAB layout, cut to what one
  * benchmark pass can hold: read, prepare, the stl and kalman model fits,
  * the detector tail, the sinks, and the leaderboard built from the results
  * tree just written.
  *
  * The pipelines are composed from the same public calls as
  * `Pipelines.runStl` and `runKalman`, so each fit and the tail
  * (`detectAndScore`) are separate spans. The tail runs once, on both
  * fits' residuals keyed by `<model>|<series>`: it groups by that key
  * alone, so each key gets what a per-model call would give it, and the
  * pass pays for one tail instead of two. Every layer's output is
  * materialized (the `Pipelines` barrier) before the next span begins. */
final class FleetWorkload(fleetDir: String) extends Workload {
  private val key = "series_id"
  private val ts = "ts"
  private val value = "value"
  private val cfg = Pipelines.Config()
  private val models = Seq("stl", "kalman")

  // read, prepare, two fits, detector tail, sinks, results-tree scan
  def operations: Int = 7

  private def barrier(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private val files: Seq[(String, String)] =
    new File(fleetDir, "data").listFiles().filter(_.getName.endsWith(".csv"))
      .map(f => ("fleet/" + f.getName, f.getPath)).sortBy(_._1).toSeq

  private var passNo = 0

  /** `prep` joined with a fit's per-row output, as `runKalman` joins it. */
  private def joinFit(prep: DataFrame, fit: DataFrame, cols: Column*): DataFrame = {
    val f = fit.withColumnRenamed("series_id", "__sid")
    prep.join(f.select(col("__sid") +: col(ts) +: cols: _*),
      prep(key).cast("string") === col("__sid") && prep(ts) === f(ts))
      .drop("__sid").drop(f(ts))
  }

  def pass(spark: SparkSession, span: Span, outDir: String): Int = {
    passNo += 1
    val root = s"$outDir/results-$passNo"
    var series, labels, prep, pred, metrics: DataFrame = null
    val fitted = scala.collection.mutable.Map.empty[String, DataFrame]
    span("io.read") {
      series = barrier(files.map { case (id, path) =>
        NabIo.readSeriesCsv(spark, path, id)
      }.reduce(_.unionByName(_))
        // every pipeline but runStl needs the time column to be `ts`
        .withColumnRenamed("timestamp", ts))
      labels = barrier(NabIo.readLabelsJson(spark,
        s"$fleetDir/labels/combined_labels.json"))
      0.0
    }
    span("core.prepare") {
      val marked = SeriesOps.markLabelWindows(series, labels, key, ts,
        "label_ts", cfg.labelWindowRows)
      prep = barrier(SeriesOps.withSplit(marked, key, ts, cfg.trainFrac,
        cfg.valFrac))
      0.0
    }
    span("models.stl") {
      fitted("stl") = barrier(StlLite.decompose(prep, key, ts, value, cfg.period))
      0.0
    }
    span("models.kalman") {
      fitted("kalman") = barrier(joinFit(prep,
        KalmanLocalLevel.run(prep, key, ts, value, cfg.trainFrac),
        col("pred_mean"), col("pred_std"), col("resid")))
      0.0
    }
    span("pipelines.detect") {
      val cols = (prep.columns :+ "resid").map(col).toSeq
      val keyed = models.map { m =>
        fitted(m).select(cols: _*)
          .withColumn(key, concat(lit(m + "|"), col(key).cast("string")))
      }.reduce(_.unionByName(_))
      val (p, m) = Pipelines.detectAndScore(barrier(keyed), key, ts, cfg)
      pred = barrier(p)
      metrics = barrier(m)
      0.0
    }
    span("io.write") {
      models.foreach { m =>
        def of(df: DataFrame): DataFrame =
          df.filter(col(key).startsWith(m + "|"))
            .withColumn(key, substring_index(col(key), "|", -1))
        Pipelines.persist(s"$root/$m/fleet", of(pred), of(metrics), key)
      }
      0.0
    }
    var failed = 0
    span("metrics.leaderboard") {
      try {
        val tree = NabIo.readMetricsTree(spark, root)
        Metrics.leaderboard(Seq(tree.select(col("Model"),
            col(key).as("Dataset"), col("f1").as("Event_F1"),
            col("precision").as("Precision"), col("recall").as("Recall"))))
          .write.mode("overwrite").json(s"$root/leaderboard")
      } catch {
        // the scan globs `<root>/*/*/metrics.json*`, but `persist` writes
        // `<run>/metrics/part-*.json`: it finds nothing on the tree the
        // engine wrote itself (counted, not hidden)
        case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          failed += 1
      }
      0.0
    }
    failed
  }
}
