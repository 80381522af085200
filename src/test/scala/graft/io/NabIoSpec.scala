package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** S1/S2 reader semantics: header fallback, timestamp cast + sort,
  * labels-JSON explode with data/ prefix normalization, S5 tree scan. */
class NabIoSpec extends SparkSpec {

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("nabio").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, name)
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  test("headered CSV reads, casts and sorts") {
    val p = tmpFile("s.csv",
      """timestamp,value
        |2014-07-01 00:30:00,20.0
        |2014-07-01 00:00:00,10.0
        |""".stripMargin)
    val df = NabIo.readSeriesCsv(spark, p, "nyc")
    val rows = df.collect()
    assert(df.schema("timestamp").dataType.typeName === "timestamp")
    assert(df.schema("value").dataType.typeName === "double")
    assert(rows.map(_.getAs[Double]("value")).toSeq === Seq(10.0, 20.0))
    assert(rows.head.getAs[String]("series_id") === "nyc")
  }

  test("headerless CSV falls back to first two columns positionally") {
    val p = tmpFile("h.csv",
      """2014-07-01 00:00:00,1.5,junk
        |2014-07-01 00:05:00,2.5,junk
        |""".stripMargin)
    val df = NabIo.readSeriesCsv(spark, p)
    assert(df.columns.take(2).toSeq === Seq("timestamp", "value"))
    assert(df.count() === 2)
    assert(df.agg(sum("value")).collect().head.getDouble(0) === 4.0)
  }

  test("labels JSON explodes to rows with data/ prefix stripped") {
    val p = tmpFile("labels.json",
      """{"data/realKnownCause/a.csv": ["2014-07-01 00:00:00",
        | "2014-07-02 00:00:00"],
        | "realTweets/b.csv": ["2015-01-01 12:00:00"]}""".stripMargin)
    val df = NabIo.readLabelsJson(spark, p)
    val rows = df.orderBy("series_id", "label_ts").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[String]("series_id")).distinct.toSeq ===
      Seq("realKnownCause/a.csv", "realTweets/b.csv"))
    assert(df.schema("label_ts").dataType.typeName === "timestamp")
  }

  test("partitioned predictions sink writes one parquet tree per series") {
    import spark.implicits._
    val df = Seq(("a", 1, 0.5), ("a", 2, 0.7), ("b", 1, 0.9))
      .toDF("series_id", "rn", "score")
    val dir = Files.createTempDirectory("preds").toFile.getAbsolutePath
    NabIo.writePredictions(df, dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("series_id=")).map(_.getName).sorted
    assert(parts.toSeq === Seq("series_id=a", "series_id=b"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    // partition pruning: a per-series read must touch one partition only
    val plan = back.filter(col("series_id") === "a")
      .queryExecution.executedPlan.toString
    assert(back.filter(col("series_id") === "a").count() === 2)
    assert(!plan.toLowerCase.contains("coalesce"))
  }

  test("metrics JSON sink round-trips a nested metrics record") {
    import spark.implicits._
    val m = Seq(("s", 0.5, 2L, 1L)).toDF("series_id", "f1", "tp", "fp")
      .select(col("series_id"),
        struct(col("f1"), col("tp"), col("fp")).as("event_level"))
    val dir = Files.createTempDirectory("metrics").toFile.getAbsolutePath
    NabIo.writeMetricsJson(m, dir)
    val back = spark.read.json(dir)
    val r = back.collect().head
    assert(r.getAs[String]("series_id") === "s")
    val ev = r.getStruct(r.fieldIndex("event_level"))
    assert(ev.getAs[Double]("f1") === 0.5)
    assert(ev.getAs[Long]("tp") === 2L)
  }

  test("metrics tree scan derives Model/Dataset from the path") {
    val root = Files.createTempDirectory("results").toFile
    val d = new java.io.File(root, "kalman/nyc_taxi.csv")
    d.mkdirs()
    Files.writeString(new java.io.File(d, "metrics.json").toPath,
      """{"event_level": {"f1": 0.5}}""")
    val df = NabIo.readMetricsTree(spark, root.getAbsolutePath)
    val r = df.collect().head
    assert(r.getAs[String]("Model") === "KALMAN")
    assert(r.getAs[String]("Dataset") === "nyc_taxi.csv")
  }

  test("metrics tree scan reads the tree Pipelines.persist writes") {
    import spark.implicits._
    val root = Files.createTempDirectory("results").toFile.getAbsolutePath
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    for (model <- Seq("stl", "kalman")) {
      val pred = Seq(("a", ts, 1), ("b", ts, 0))
        .toDF("series_id", "ts", "detected")
      val metrics = Seq(("a", 0.5, Option.empty[Double]),
          ("b", 1.0, Option.empty[Double]))
        .toDF("series_id", "f1", "median_latency_minutes")
      graft.bench.Pipelines.persist(s"$root/$model/fleet", pred, metrics,
        "series_id")
    }
    val rows = NabIo.readMetricsTree(spark, root)
      .select("Model", "Dataset", "series_id", "f1", "median_latency_minutes")
      .orderBy("Model", "series_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.isNullAt(4)))
    assert(rows.toSeq === Seq(
      ("KALMAN", "fleet", "a", 0.5, true), ("KALMAN", "fleet", "b", 1.0, true),
      ("STL", "fleet", "a", 0.5, true), ("STL", "fleet", "b", 1.0, true)))
  }
}
