package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dynamic Time Warping with a Sakoe–Chiba band (Sakoe & Chiba, IEEE
  * TASSP 1978; the UCR-suite z-normalized formulation) — the standard
  * elastic distance for "which reference shape does this series
  * match": alignment-tolerant where Euclidean is rigid.
  *
  * The distributed face follows the module's ANN shape: a SMALL
  * template set is collected and broadcast, every corpus series
  * computes its banded DTW to each template inside its own
  * `mapGroups` task — O(n·band) time, O(band) memory, parallel
  * across series. All-pairs DTW across a 100 TB corpus is
  * deliberately NOT offered (quadratic in series count); template
  * scoring and nearest-template classification are the published
  * scalable uses.
  */
object Dtw {

  /** Banded DTW on raw arrays (square local cost, √ at the end —
    * the UCR convention). `band` widens automatically to cover the
    * length difference, so unequal lengths stay feasible. */
  def dtwDistance(a: Array[Double], b: Array[Double],
                  band: Int): Double = {
    require(a.nonEmpty && b.nonEmpty, "empty series")
    require(band >= 0, s"band=$band")
    val n = a.length
    val m = b.length
    val w = math.max(band, math.abs(n - m))
    var prev = Array.fill(m + 1)(Double.PositiveInfinity)
    var cur = Array.fill(m + 1)(Double.PositiveInfinity)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, Double.PositiveInfinity)
      val lo = math.max(1, i - w)
      val hi = math.min(m, i + w)
      var j = lo
      while (j <= hi) {
        val d = (a(i - 1) - b(j - 1)) * (a(i - 1) - b(j - 1))
        val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        cur(j) = d + best
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.sqrt(prev(m))
  }

  private def znorm(y: Array[Double]): Array[Double] = {
    val mu = y.sum / y.length
    val sd = math.sqrt(y.map(v => (v - mu) * (v - mu)).sum / y.length)
    if (sd < 1e-12) y.map(_ - mu) else y.map(v => (v - mu) / sd)
  }

  case class DtwOut(sk: String, template_id: String, dtw: Double)

  /** Banded z-normalized DTW of every corpus series against every
    * template series. `templates` selects the template keys; their
    * arrays are collected (bounded — the broadcast-small side) and
    * shipped to each series' task. */
  def dtwToTemplates(df: DataFrame, series: String, ts: String,
                     value: String, templateKeys: Seq[String],
                     band: Int): DataFrame = {
    require(templateKeys.nonEmpty, "no template keys")
    val spark = df.sparkSession
    import spark.implicits._
    val tmplArrays: Map[String, Array[Double]] = graft.core.Grouped.series(
        df.filter(col(series).cast("string").isin(templateKeys: _*)),
        series, ts, value)((sk, _, y) => Iterator(sk -> znorm(y)))
      .collect().toMap
    require(tmplArrays.nonEmpty, "template keys matched no series")
    val bc = spark.sparkContext.broadcast(tmplArrays)
    graft.core.Grouped.series(df, series, ts, value) { (sk, _, y0) =>
      val y = znorm(y0)
      bc.value.toSeq.sortBy(_._1).iterator.map { case (tid, t) =>
        DtwOut(sk, tid, dtwDistance(y, t, band))
      }
    }.toDF("sk", "template_id", "dtw")
      .withColumnRenamed("sk", series)
  }
}
