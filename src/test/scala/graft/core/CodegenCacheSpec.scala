package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import graft.SparkSpec
import graft.bench.Pipelines

/** Pins the codegen cache of [[EngineTuning]]: a plan the engine runs
  * again reuses its compiled classes. With Spark's stock 100 entries the
  * detector tail alone evicts its own classes before a re-run, and with
  * the stage id in each class name a stage AQE renumbers is a new class,
  * so the second run below recompiled hundreds of classes.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Four series of residuals with an injected burst in Test and a
    * labeled window in Validation: the input shape of the detector tail. */
  private def residuals = {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    (for { sid <- Seq("a", "b", "c", "d"); i <- 0 until 200 } yield {
      val burst = i >= 170 && i < 174
      (sid, java.sql.Timestamp.valueOf(
        f"2024-01-0${1 + i / 96}%d ${(i / 4) % 24}%02d:${(i % 4) * 15}%02d:00"),
        rng.nextGaussian() + (if (burst) 9.0 else 0.0),
        if (i < 100) "Train" else if (i < 150) "Validation" else "Test",
        if (burst || (i >= 120 && i < 123)) 1 else 0)
    }).toDF("series_id", "ts", "resid", "split", "is_anomaly")
  }

  test("the session's codegen cache holds 1024 classes, named without stage ids") {
    val conf = spark.sessionState.conf
    assert(conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) == 1024)
    assert(!conf.wholeStageUseIdInClassName)
  }

  test("a second detectAndScore run compiles no class") {
    val cfg = Pipelines.Config(period = 24, rollingWindow = 24)
    def run(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (pred, metrics) = Pipelines.detectAndScore(
        residuals, "series_id", "ts", cfg)
      pred.write.format("noop").mode("overwrite").save()
      metrics.collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // the first run may already hit classes an earlier suite compiled
    val first = run()
    val second = run()
    assert(second == 0, s"the second run compiled $second classes " +
      s"(the first $first)")
  }
}
