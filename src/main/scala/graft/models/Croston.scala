package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Folds

/** Croston's method (Croston, Oper. Res. Q. 1972) — THE intermittent-
  * demand forecaster (spare parts, rare events, sparse purchase
  * series), where plain exponential smoothing is biased by the zero
  * runs: decompose the series into non-zero demand SIZES d_k and
  * inter-demand INTERVALS q_k (in periods), run simple exponential
  * smoothing on each,
  *
  *   z_k = α·d_k + (1−α)·z_{k−1},  z_1 = d_1
  *   p_k = α·q_k + (1−α)·p_{k−1},  p_1 = q_1   (q_1 = first ordinal)
  *
  * and forecast demand-per-period as ẑ/p̂.
  *
  * Relational formulation: ONE per-series ordered window builds the
  * ordinal, a filter keeps demand points, a lag window yields the
  * intervals, and the two SES recursions run as ONE per-series
  * ordered fold with a 3-field struct accumulator (z, p, k) — the
  * sequential recursion is inherently ordered, so the fold is the
  * house float convention (and the oracle mirrors it lambda for
  * lambda). Per-series state is the demand subsequence — bounded by
  * the monitoring-window contract like every model-tier operator.
  * α is written as TWO literals (α and 1−α) so neither engine
  * computes the complement.
  *
  * Output: one row per series — (series, n_demands, z_hat, p_hat,
  * croston_forecast); series with zero demand points are dropped
  * (no forecast is defined).
  */
object Croston {

  def croston(df: DataFrame, series: String, ts: String, value: String,
              demandIf: Column, alpha: Double = 0.25): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha=$alpha not in (0,1)")
    val a = lit(alpha)
    val b = lit(1.0 - alpha) // written once, driver-side
    val w = Window.partitionBy("__sk").orderBy("__o")
    val pts = df.select(col(series).cast("string").as("__sk"),
        col(ts).as("__o"), col(value).cast("double").as("__v"),
        demandIf.as("__isd"))
      .filter(col("__sk").isNotNull && col("__v").isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
    val dw = Window.partitionBy("__sk").orderBy("__i")
    val demands = pts.filter(col("__isd"))
      .withColumn("__q",
        (col("__i") - coalesce(lag("__i", 1).over(dw), lit(0L)))
          .cast("double"))
      .select(col("__sk"), col("__i"), col("__v").as("__d"), col("__q"))
    demands.groupBy("__sk")
      .agg(count(lit(1)).as("n_demands"),
        aggregate(
          Folds.inOrder(col("__i"),
            struct(col("__d").as("d"), col("__q").as("q"))),
          struct(lit(0.0).as("z"), lit(0.0).as("p"), lit(0L).as("k")),
          (acc, e) => struct(
            when(acc.getField("k") === 0, e.getField("d"))
              .otherwise(a * e.getField("d") + b * acc.getField("z"))
              .as("z"),
            when(acc.getField("k") === 0, e.getField("q"))
              .otherwise(a * e.getField("q") + b * acc.getField("p"))
              .as("p"),
            (acc.getField("k") + 1).as("k"))).as("__st"))
      .select(col("__sk").as(series), col("n_demands"),
        col("__st.z").as("z_hat"), col("__st.p").as("p_hat"),
        (col("__st.z") / col("__st.p")).as("croston_forecast"))
  }
}
