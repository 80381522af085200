package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1/S2 sources and S3/S4/S5 sinks (SURVEY.md §2.1).
  *
  * Reader semantics from `src/load_nab.py`:
  *  - S1: headered CSV with `timestamp,value`; if the header row lacks
  *    those names, fall back to the first two columns positionally and
  *    rename them (`load_nab.py:26-31`); cast timestamp, sort ascending.
  *  - S2: `combined_labels.json` is one JSON object mapping
  *    series key -> list of timestamp strings; exploded to rows, with the
  *    `data/` key-prefix normalization of `kalman_model.py:159`.
  */
object NabIo {

  /** S1: NAB series CSV scan with positional-header fallback. */
  def readSeriesCsv(spark: SparkSession, path: String,
                    seriesId: String = ""): DataFrame = {
    val raw = spark.read.option("header", "true").csv(path)
    val cols = raw.columns
    val projected =
      if (cols.contains("timestamp") && cols.contains("value"))
        raw.select(col("timestamp"), col("value"))
      else {
        require(cols.length >= 2,
          s"series CSV needs >=2 columns, got ${cols.length}")
        // headerless file: the header row was data; re-read without header
        val noHeader = spark.read.option("header", "false").csv(path)
        noHeader.select(col(noHeader.columns(0)).as("timestamp"),
          col(noHeader.columns(1)).as("value"))
      }
    projected
      .withColumn("timestamp", to_timestamp(col("timestamp")))
      .withColumn("value", col("value").cast(DoubleType))
      .withColumn("series_id", lit(seriesId))
      .orderBy("timestamp")
  }

  /** S2: labels JSON — `{series_key: [ts, ...]}` → (series_id, label_ts)
    * rows. Key normalization strips an optional `data/` prefix so both
    * `labels.get(key)` and `labels.get("data/"+key)` resolve (J1 fallback,
    * kalman_model.py:159). */
  def readLabelsJson(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val keyCols = raw.schema.fieldNames.toIndexedSeq
    val stacked = raw.select(keyCols.map(k =>
      struct(lit(k).as("series_id"), col(s"`$k`").as("tss")).as(k)): _*)
    // NAB keys contain dots — every reference must be backtick-quoted
    val arr = stacked.select(array(keyCols.map(k => col(s"`$k`")): _*).as("a"))
      .select(explode(col("a")).as("e"))
      .select(col("e.series_id"), explode(col("e.tss")).as("label_ts"))
    arr
      .withColumn("series_id",
        regexp_replace(col("series_id"), "^data/", ""))
      .withColumn("label_ts", to_timestamp(col("label_ts")))
  }

  /** S3: predictions sink. The scale path: parquet partitioned by the
    * series key, so a 1000-executor run writes one file tree per series
    * with no single-task exchange, and downstream per-series reads prune
    * partitions. */
  def writePredictions(df: DataFrame, dir: String,
                       partitionCol: String = "series_id"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(dir)

  /** S3 (compat): headered single-file CSV like the reference's per-run
    * `predictions.csv` (`run_gp.py:130-134`). The coalesce(1) is the
    * POINT of this sink (one human-readable file, reference parity) —
    * it is for per-run artifacts only; use [[writePredictions]] for
    * anything sized like a dataset. */
  def writePredictionsCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)

  /** S4: metrics JSON sink — one nested record per run
    * (`kalman_model.py:239-240`). Null fields are written as `null`,
    * like the reference's `json.dump`, so a column that is null on
    * every row still comes back from [[readMetricsTree]]. */
  def writeMetricsJson(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("ignoreNullFields", "false")
      .json(dir)

  /** S5: metrics-tree scan over `<resultsRoot>/<model>/<dataset>/`, in
    * either layout: the reference's `metrics.json` file or the
    * `metrics/part-*.json` directory [[writeMetricsJson]] writes. Model
    * (upper-cased) and Dataset are the two path segments directly under
    * `resultsRoot`, like `aggregate_metrics.py:13-23`. */
  def readMetricsTree(spark: SparkSession, resultsRoot: String): DataFrame = {
    val root = new Path(resultsRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq("metrics.json*", "metrics/part-*.json*").flatMap { leaf =>
      Option(fs.globStatus(new Path(root, s"*/*/$leaf"))).toSeq.flatten
    }.map(_.getPath.toString)
    if (files.isEmpty) throw new java.io.FileNotFoundException(
      s"no metrics.json or metrics/part-*.json under $resultsRoot/*/*")
    // a file's path is the root's segments, then <model>/<dataset>/...
    val depth = fs.makeQualified(root).toUri.getPath.split("/").count(_.nonEmpty)
    val segs = split(regexp_replace(input_file_name(),
      "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", ""), "/")
    spark.read.json(files: _*)
      .withColumn("Model", upper(element_at(segs, depth + 2)))
      .withColumn("Dataset", element_at(segs, depth + 3))
  }
}
