package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Build a single-series frame from a 0/1 flag vector: one row per
    * minute, series "s". Columns: series_id, ts, flag. */
  def flagSeries(flags: Seq[Int]): DataFrame = {
    import spark.implicits._
    flags.zipWithIndex.map { case (f, i) =>
      ("s", java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), f)
    }.toDF("series_id", "ts", "flag")
  }

  /** (value) series on a minute grid. */
  def valueSeries(values: Seq[Double]): DataFrame = {
    import spark.implicits._
    values.zipWithIndex.map { case (v, i) =>
      ("s", java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02d"), v)
    }.toDF("series_id", "ts", "value")
  }
}

object SparkSpec {
  /** The bench session shape on two cores: every spec runs under the
    * same confs as Bench, Verify and QueryProfile. */
  lazy val session: SparkSession = {
    val s = graft.core.Session(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
