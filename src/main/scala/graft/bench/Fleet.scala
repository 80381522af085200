package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The E1 main's fixed, seeded fleet in NAB shape: `(series_id, ts,
  * value)` on a 30-minute grid, level + daily and weekly sines + unit
  * noise, and `(series_id, label_ts)` at the center of each injected
  * anomaly. Each of a series' four equal slots (two per Train/Test half)
  * holds one anomaly in the middle half of the slot: a spike (3 rows
  * up), dip (3 down), shift (8 up) or burst (6 of alternating sign), 8
  * to 12 noise sigmas tall — the multi-row shape the persistence filter
  * keeps, unlike a one-point maximum. perfbench's fleet has the same
  * recipe.
  */
object Fleet {

  private val series = 4
  private val points = 672 // 14 days
  private val period = 48  // daily, Pipelines.Config().period
  private val kinds = Seq("spike" -> 3, "dip" -> 3, "shift" -> 8, "burst" -> 6)
  private val start = java.sql.Timestamp.valueOf("2014-01-01 00:00:00").getTime

  def apply(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val rng = new scala.util.Random(1)
    def u(lo: Double, hi: Double) = lo + (hi - lo) * rng.nextDouble()
    def stamp(i: Int) = new java.sql.Timestamp(start + i * 30L * 60 * 1000)
    val slot = points / kinds.size
    val fleet = (0 until series).map { s =>
      val id = f"fleet/s$s%02d.csv"
      val (level, amp, phase, weekly) =
        (u(20, 80), u(5, 15), u(0, 2 * math.Pi), u(0, 3))
      val v = Array.tabulate(points) { t =>
        level + amp * math.sin(2 * math.Pi * t / period + phase) +
          weekly * math.sin(2 * math.Pi * t / (7 * period)) +
          rng.nextGaussian()
      }
      val labels = kinds.indices.map { a =>
        val (kind, w) = kinds((s + a) % kinds.size)
        val lo = a * slot + slot / 4
        val at = lo + rng.nextInt(slot / 2 - w)
        val mag = u(8, 12)
        (0 until w).foreach { j =>
          v(at + j) += (kind match {
            case "dip" => -mag
            case "burst" => if (j % 2 == 0) mag else -mag
            case _ => mag
          })
        }
        (id, stamp(at + w / 2))
      }
      (v.indices.map(i => (id, stamp(i), v(i))), labels)
    }
    (fleet.flatMap(_._1).toDF("series_id", "ts", "value"),
      fleet.flatMap(_._2).toDF("series_id", "label_ts"))
  }
}
