package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

import graft.bench.Pipelines
import graft.io.NabIo

/** Reproducers for the engine faults the benchmark works around:
  *   perfbench.Faults <scratchDir>
  * Prints one line per fault: REPRODUCED or NOT REPRODUCED. */
object Faults {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    def report(fault: String, reproduced: Boolean, detail: String): Unit =
      println(s"${if (reproduced) "REPRODUCED" else "NOT REPRODUCED"}: $fault: $detail")

    // a two-series fleet in NAB layout, 96 half-hour points each
    Files.createDirectories(Paths.get(dir, "data"))
    for (s <- 0 until 2) {
      val rows = (0 until 96).map { i =>
        f"2014-01-${1 + i / 48}%02d ${i % 48 / 2}%02d:${i % 2 * 30}%02d:00,${math.sin(i / 7.6) * 10 + (if (i == 70) 40 else 0)}%.4f"
      }
      Files.write(Paths.get(dir, "data", s"s$s.csv"),
        ("timestamp,value" +: rows).mkString("\n").getBytes("UTF-8"))
    }
    Files.write(Paths.get(dir, "labels.json"),
      """{"fleet/s0.csv": ["2014-01-02 11:00:00"], "fleet/s1.csv": ["2014-01-02 11:00:00"]}"""
        .getBytes("UTF-8"))
    def read(files: Int) = (0 until files).map { s =>
      NabIo.readSeriesCsv(spark, s"$dir/data/s$s.csv", s"fleet/s$s.csv")
    }.reduce(_.unionByName(_))
    val labels = NabIo.readLabelsJson(spark, s"$dir/labels.json")
    val cfg = Pipelines.Config(rollingWindow = 12, period = 24)

    // 1. the results-tree scan misses the tree Pipelines.persist writes
    val series = read(2).withColumnRenamed("timestamp", "ts")
    val (pred, metrics) = Pipelines.runStl(series, labels, "series_id", "ts",
      "value", cfg)
    Pipelines.persist(s"$dir/results/stl/fleet", pred, metrics, "series_id")
    try {
      NabIo.readMetricsTree(spark, s"$dir/results").collect()
      report("metrics-tree scan", false, "scan found the persisted metrics")
    } catch {
      case e: AnalysisException =>
        report("metrics-tree scan", e.getCondition == "PATH_NOT_FOUND",
          s"${e.getCondition} on the tree persist wrote (<run>/metrics/part-*.json)")
    }

    // 2. every pipeline but runStl needs the time column to be `ts`
    val raw = read(2)
    val stlOk = scala.util.Try(Pipelines.runStl(raw, labels, "series_id",
      "timestamp", "value", cfg)._2.collect()).isSuccess
    for ((name, run) <- Seq[(String, () => Any)](
        "runKalman" -> (() => Pipelines.runKalman(raw, labels, "series_id",
          "timestamp", "value", cfg)._2.collect()),
        "runAutoRegressor" -> (() => Pipelines.runAutoRegressor(raw, labels,
          "series_id", "timestamp", "value", cfg, seqLen = 12)._2.collect()),
        "runHybrid" -> (() => Pipelines.runHybrid(raw, labels, "series_id",
          "timestamp", "value", cfg)._2.collect()))) {
      scala.util.Try(run()) match {
        case scala.util.Failure(e: AnalysisException) =>
          report(s"$name with a `timestamp` column",
            e.getCondition.startsWith("UNRESOLVED_COLUMN"),
            s"${e.getCondition} (runStl with the same input succeeds: $stlOk)")
        case other => report(s"$name with a `timestamp` column", false, other.toString.take(200))
      }
    }

    // 3. readSeriesCsv sorts every file globally: jobs grow with files
    def jobsToRead(files: Int): Long = {
      sc.setJobGroup(s"read$files", "read")
      read(files).localCheckpoint(eager = true)
      sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(s"read$files").length.toLong
    }
    val j1 = jobsToRead(1)
    val j2 = jobsToRead(2)
    report("readSeriesCsv sorts per file", j2 > j1,
      s"$j1 jobs to read 1 file, $j2 jobs to read 2 (Sort per file: " +
        read(1).queryExecution.executedPlan.toString.contains("Sort") + ")")
    spark.stop()
  }
}
